"""Helper utilities with parity to ``getl/common/utils.py:25-117``.

``json_to_spark_schema`` converts Spark's portable JSON schema format
(the output of ``StructType.jsonValue()``) into a ``StructType``;
``copy_keys`` / ``copy_and_cleanup`` / ``delete_files`` / ``list_files``
are storage-maintenance helpers, generalized from S3-only (reference
``getl/common/s3path.py``) to any local path as well; each is a thin
call onto ``StoragePath``.
"""

from __future__ import annotations

from typing import List, Tuple

from pyspark.sql.types import StructType

from getl_spark.common.path import StoragePath


def json_to_spark_schema(json_schema: dict) -> StructType:
    """Return a StructType from a Spark-JSON schema dict.

    Raises KeyError with a readable message on missing required keys
    (reference behavior, ``getl/common/utils.py:25-52``).
    """
    try:
        return StructType.fromJson(json_schema)
    except KeyError as key_error:
        raise KeyError(
            f"Missing key: {key_error}. Valid format: "
            "https://spark.apache.org/docs/latest/api/python/reference/pyspark.sql/api/"
            "pyspark.sql.types.StructType.html"
        ) from key_error
    except TypeError as type_error:
        raise TypeError(
            f"Invalid json was provided: {type_error}"
        ) from type_error


def delete_files(paths: List[str]) -> None:
    """Delete every file in ``paths`` (s3:// or local)."""
    for path in paths:
        StoragePath(path).delete()


def copy_keys(transactions: List[Tuple[str, str]]) -> None:
    """Copy (source, target) path pairs; fails fast on missing source.

    Each side's scheme is branched independently, so all four
    combinations work: s3→s3 (server-side copy), s3→local (download),
    local→s3 (upload), local→local (copy2).
    """
    for source, target in transactions:
        StoragePath(source).copy(StoragePath(target))


def copy_and_cleanup(transactions: List[Tuple[str, str]]) -> None:
    """Copy then delete the sources (move semantics, reference
    ``getl/common/utils.py:96-117``)."""
    copy_keys(transactions)
    delete_files([source for source, _ in transactions])


def list_files(base_path: str, suffix: str = "") -> List[str]:
    """List the files under a directory, local or s3://, filtered by
    suffix (``StoragePath.glob``: ``_``/``.`` names skipped, scheme kept).

    This is the listing layer behind the file registries (reference
    lists S3 only, ``getl/common/s3path.py:80-106``).
    Driver-side metadata operation by design — at 100 TB the listing is
    bounded by file count, and the date-prefix registry narrows it
    before we ever get here.
    """
    return [str(p) for p in StoragePath(base_path).glob(suffix)]
