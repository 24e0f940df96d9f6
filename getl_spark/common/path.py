"""Path-like storage interface (parity with the reference's ``S3Path``,
``getl/common/s3path.py:8-122``), generalized: one class for ``s3://``
/ ``s3a://`` URIs (boto3, imported lazily) and plain local paths, so
pipelines and tests use the same API everywhere.

Driver-side metadata/IO only — bulk data always moves through Spark.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
from typing import Iterator, Optional, Tuple


class StoragePath:
    def __init__(self, path: str):
        self.raw = str(path).rstrip("/") if str(path) != "/" else "/"
        self.is_s3 = self.raw.startswith(("s3://", "s3a://"))

    # ------------------------------------------------------------ dunder
    def __truediv__(self, other: Optional[str]) -> "StoragePath":
        if not other:
            return StoragePath(self.raw)
        return StoragePath(f"{self.raw}/{str(other).lstrip('/')}")

    def __str__(self) -> str:
        return self.raw

    def __repr__(self) -> str:
        return f"<StoragePath ({self.raw})>"

    def __eq__(self, other) -> bool:
        return isinstance(other, StoragePath) and self.raw == other.raw

    def __hash__(self) -> int:
        return hash(self.raw)

    # ---------------------------------------------------------------- io
    def _bucket_key(self) -> Tuple[str, str]:
        no_scheme = self.raw.split("://", 1)[1]
        bucket, _, key = no_scheme.partition("/")
        return bucket, key

    def read_bytes(self) -> bytes:
        if self.is_s3:
            import boto3

            bucket, key = self._bucket_key()
            return boto3.client("s3").get_object(Bucket=bucket, Key=key)["Body"].read()
        with open(self.raw, "rb") as fh:
            return fh.read()

    def read_text(self, encoding: str = "utf-8") -> str:
        return self.read_bytes().decode(encoding)

    def write_bytes(self, data: bytes) -> None:
        if self.is_s3:
            import boto3

            bucket, key = self._bucket_key()
            boto3.client("s3").put_object(Bucket=bucket, Key=key, Body=data)
            return
        os.makedirs(os.path.dirname(self.raw) or ".", exist_ok=True)
        with open(self.raw, "wb") as fh:
            fh.write(data)

    def write_text(self, text: str, encoding: str = "utf-8") -> None:
        self.write_bytes(text.encode(encoding))

    def exists(self) -> bool:
        if self.is_s3:
            import boto3
            from botocore.exceptions import ClientError

            bucket, key = self._bucket_key()
            try:
                boto3.client("s3").head_object(Bucket=bucket, Key=key)
                return True
            except ClientError:
                return False
        return os.path.exists(self.raw)

    def glob(self, suffix: str = "") -> Iterator["StoragePath"]:
        """Every file under this prefix ending in ``suffix``."""
        if self.is_s3:
            import boto3

            bucket, prefix = self._bucket_key()
            paginator = boto3.client("s3").get_paginator("list_objects_v2")
            for page in paginator.paginate(Bucket=bucket, Prefix=prefix):
                for obj in page.get("Contents", []):
                    if obj["Key"].endswith(suffix):
                        yield StoragePath(f"s3://{bucket}/{obj['Key']}")
            return
        for p in sorted(_glob.glob(os.path.join(self.raw, "**"), recursive=True)):
            if os.path.isfile(p) and p.endswith(suffix):
                yield StoragePath(p)

    def copy(self, target: "StoragePath") -> None:
        if self.is_s3 or target.is_s3:
            import boto3

            s3 = boto3.client("s3")
            sb, sk = self._bucket_key() if self.is_s3 else (None, None)
            tb, tk = target._bucket_key() if target.is_s3 else (None, None)
            if self.is_s3 and target.is_s3:
                s3.copy({"Bucket": sb, "Key": sk}, tb, tk)
            elif self.is_s3:
                target.write_bytes(self.read_bytes())
            else:
                s3.upload_file(self.raw, tb, tk)
            return
        os.makedirs(os.path.dirname(target.raw) or ".", exist_ok=True)
        shutil.copy2(self.raw, target.raw)

    def delete(self) -> None:
        if self.is_s3:
            import boto3

            bucket, key = self._bucket_key()
            boto3.client("s3").delete_object(Bucket=bucket, Key=key)
            return
        if os.path.isdir(self.raw):
            shutil.rmtree(self.raw, ignore_errors=True)
        elif os.path.exists(self.raw):
            os.remove(self.raw)

    def delete_recursive(self) -> None:
        if self.is_s3:
            for child in list(self.glob("")):
                child.delete()
            return
        self.delete()
