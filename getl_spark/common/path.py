"""Path-like storage interface (parity with the reference's ``S3Path``,
``getl/common/s3path.py:8-122``), generalized: one class for ``s3://``
/ ``s3a://`` URIs (boto3, imported lazily) and plain local paths, so
pipelines and tests use the same API everywhere. It is the engine's
only storage access: the ``common.utils`` helpers, the registries'
listings and the YAML / schema / custom-code readers all go through it.

A path that is listed or deleted recursively is a DIRECTORY: on S3 only
the keys under ``<path>/`` belong to it, never a sibling that merely
shares the prefix (``in_old/``, ``index.json`` beside ``in``).

Driver-side metadata/IO only — bulk data always moves through Spark.
"""

from __future__ import annotations

import glob as _glob
import os
import shutil
from typing import Iterator, List, Optional

# a file whose own name starts with one of these is not listed:
# Spark/Hadoop markers (``_SUCCESS``), checksums and dot-files (``.crc``)
_HIDDEN = ("_", ".")


def _s3():
    import boto3  # optional dependency, only for real S3 use

    return boto3.client("s3")


class StoragePath:
    def __init__(self, path: str):
        self.raw = str(path).rstrip("/") if str(path) != "/" else "/"
        self.is_s3 = self.raw.startswith(("s3://", "s3a://"))
        if self.is_s3:
            self.scheme, _, rest = self.raw.partition("://")
            self.bucket, _, self.key = rest.partition("/")

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
    def read_bytes(self) -> bytes:
        if self.is_s3:
            return _s3().get_object(Bucket=self.bucket, Key=self.key)["Body"].read()
        with open(self.raw, "rb") as fh:
            return fh.read()

    def read_text(self, encoding: str = "utf-8") -> str:
        return self.read_bytes().decode(encoding)

    def write_bytes(self, data: bytes) -> None:
        if self.is_s3:
            _s3().put_object(Bucket=self.bucket, Key=self.key, Body=data)
            return
        os.makedirs(os.path.dirname(self.raw) or ".", exist_ok=True)
        with open(self.raw, "wb") as fh:
            fh.write(data)

    def write_text(self, text: str, encoding: str = "utf-8") -> None:
        self.write_bytes(text.encode(encoding))

    def exists(self) -> bool:
        if self.is_s3:
            from botocore.exceptions import ClientError

            try:
                _s3().head_object(Bucket=self.bucket, Key=self.key)
                return True
            except ClientError:
                return False
        return os.path.exists(self.raw)

    # ----------------------------------------------------------- listing
    def _s3_pages(self, **list_args) -> Iterator[dict]:
        """``list_objects_v2`` pages of the keys under ``<path>/``."""
        prefix = f"{self.key}/" if self.key else ""
        return _s3().get_paginator("list_objects_v2").paginate(
            Bucket=self.bucket, Prefix=prefix, **list_args
        )

    def _s3_keys(self) -> Iterator[str]:
        """Every object key under ``<path>/``, hidden names included."""
        for page in self._s3_pages():
            for obj in page.get("Contents", []):
                yield obj["Key"]

    def listdir(self) -> List[str]:
        """Names directly in this directory (files and subdirectories,
        hidden names included), like ``os.listdir``; empty when absent."""
        if self.is_s3:
            start = len(self.key) + 1 if self.key else 0
            names = []
            for page in self._s3_pages(Delimiter="/"):
                names += [o["Key"][start:] for o in page.get("Contents", [])]
                names += [
                    p["Prefix"][start:].rstrip("/")
                    for p in page.get("CommonPrefixes", [])
                ]
            return [n for n in names if n]
        return os.listdir(self.raw) if os.path.isdir(self.raw) else []

    def glob(self, suffix: str = "") -> Iterator["StoragePath"]:
        """Every file under this directory ending in ``suffix``, at any
        depth, in this path's scheme. Names starting ``_`` or ``.``
        are skipped on both schemes (the rule is on the file's own
        name). Local results are sorted; S3 returns key order."""
        if self.is_s3:
            root = f"{self.scheme}://{self.bucket}/"
            files = (
                StoragePath(root + k) for k in self._s3_keys() if not k.endswith("/")
            )
        else:
            files = (
                StoragePath(p)
                for p in sorted(_glob.glob(os.path.join(self.raw, "**"), recursive=True))
                if os.path.isfile(p)
            )
        for f in files:
            name = f.raw.rsplit("/", 1)[-1]
            if f.raw.endswith(suffix) and not name.startswith(_HIDDEN):
                yield f

    # ------------------------------------------------------ copy / delete
    def copy(self, target: "StoragePath") -> None:
        """Copy one file; every direction streams (server-side copy,
        download, upload, ``copy2``) and a missing source raises."""
        if self.is_s3 and target.is_s3:
            _s3().copy({"Bucket": self.bucket, "Key": self.key}, target.bucket, target.key)
        elif target.is_s3:
            _s3().upload_file(self.raw, target.bucket, target.key)
        else:
            os.makedirs(os.path.dirname(target.raw) or ".", exist_ok=True)
            if self.is_s3:
                _s3().download_file(self.bucket, self.key, target.raw)
            else:
                shutil.copy2(self.raw, target.raw)

    def delete(self) -> None:
        if self.is_s3:
            _s3().delete_object(Bucket=self.bucket, Key=self.key)
            return
        if os.path.isdir(self.raw):
            shutil.rmtree(self.raw, ignore_errors=True)
        elif os.path.exists(self.raw):
            os.remove(self.raw)

    def delete_recursive(self) -> None:
        """Delete this path and every object under ``<path>/``, hidden
        ones included; nothing beside it."""
        if not self.is_s3:
            self.delete()
            return
        s3 = _s3()
        for key in list(self._s3_keys()) + ([self.key] if self.key else []):
            s3.delete_object(Bucket=self.bucket, Key=key)
