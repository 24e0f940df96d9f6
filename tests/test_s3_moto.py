"""S3 branches of StoragePath / utils executed against moto's mock S3.

Mirrors the reference's moto strategy (reference ``tests/conftest.py:76-80``
and ``tests/getl/fileregistry/test_s3_full_scan.py:42-193``): every
boto3 code path — listing, read/write, all four copy directions,
delete — runs against a real (mocked) S3 API, not stubs. The Spark side
of the registries is covered by the local-FS tests; the listing layer
exercised here is exactly what ``fileregistry::s3_full_scan`` /
``s3_date_prefix_scan`` call on an ``s3://`` BasePath.
"""

import os

import pytest

try:
    from moto import mock_aws
except ImportError:  # pragma: no cover - moto always present in CI image
    pytest.skip("moto not installed", allow_module_level=True)

from getl_spark.common.path import StoragePath
from getl_spark.common.utils import (
    copy_and_cleanup,
    copy_keys,
    delete_files,
    list_files,
)

BUCKET = "test-bucket"


@pytest.fixture()
def s3_bucket():
    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    os.environ.setdefault("AWS_DEFAULT_REGION", "us-east-1")
    with mock_aws():
        import boto3

        boto3.client("s3").create_bucket(Bucket=BUCKET)
        yield BUCKET


def test_storage_path_write_read_exists_delete(s3_bucket):
    p = StoragePath(f"s3://{BUCKET}/folder/file.txt")
    assert not p.exists()
    p.write_text("hello s3")
    assert p.exists()
    assert p.read_text() == "hello s3"
    p.delete()
    assert not p.exists()


def test_storage_path_glob_lists_prefix(s3_bucket):
    base = StoragePath(f"s3://{BUCKET}/data")
    (base / "a.json").write_text("{}")
    (base / "sub/b.json").write_text("{}")
    (base / "sub/c.csv").write_text("x")
    found = sorted(str(p) for p in base.glob(".json"))
    assert found == [
        f"s3://{BUCKET}/data/a.json",
        f"s3://{BUCKET}/data/sub/b.json",
    ]


def test_storage_path_copy_all_directions(s3_bucket, tmp_path):
    local_src = tmp_path / "src.txt"
    local_src.write_text("payload")

    s3_a = StoragePath(f"s3://{BUCKET}/a.txt")
    s3_b = StoragePath(f"s3://{BUCKET}/b.txt")
    local_dst = StoragePath(str(tmp_path / "nested" / "dst.txt"))

    StoragePath(str(local_src)).copy(s3_a)  # local -> s3
    assert s3_a.read_text() == "payload"
    s3_a.copy(s3_b)  # s3 -> s3
    assert s3_b.read_text() == "payload"
    s3_b.copy(local_dst)  # s3 -> local
    assert local_dst.read_text() == "payload"


def test_list_files_s3_is_full_scan_listing_layer(s3_bucket):
    """list_files on s3:// is the exact listing behind
    fileregistry::s3_full_scan (registry/full_scan.py:20)."""
    for key in ["in/2020/f1.json", "in/2020/f2.json", "in/2020/skip.csv"]:
        StoragePath(f"s3://{BUCKET}/{key}").write_text("{}")
    found = list_files(f"s3://{BUCKET}/in", suffix=".json")
    assert found == [
        f"s3://{BUCKET}/in/2020/f1.json",
        f"s3://{BUCKET}/in/2020/f2.json",
    ]


def test_copy_keys_mixed_schemes(s3_bucket, tmp_path):
    src = tmp_path / "up.txt"
    src.write_text("up")
    StoragePath(f"s3://{BUCKET}/down.txt").write_text("down")

    copy_keys(
        [
            (str(src), f"s3://{BUCKET}/raw/up.txt"),  # local -> s3
            (f"s3://{BUCKET}/down.txt", str(tmp_path / "d" / "down.txt")),  # s3 -> local
            (f"s3://{BUCKET}/down.txt", f"s3://{BUCKET}/copy/down.txt"),  # s3 -> s3
        ]
    )
    assert StoragePath(f"s3://{BUCKET}/raw/up.txt").read_text() == "up"
    assert (tmp_path / "d" / "down.txt").read_text() == "down"
    assert StoragePath(f"s3://{BUCKET}/copy/down.txt").read_text() == "down"


def test_copy_and_cleanup_moves_s3_objects(s3_bucket):
    StoragePath(f"s3://{BUCKET}/stage/f.json").write_text("{}")
    copy_and_cleanup([(f"s3://{BUCKET}/stage/f.json", f"s3://{BUCKET}/final/f.json")])
    assert StoragePath(f"s3://{BUCKET}/final/f.json").exists()
    assert not StoragePath(f"s3://{BUCKET}/stage/f.json").exists()


def test_delete_files_s3(s3_bucket):
    keys = [f"s3://{BUCKET}/del/{i}.txt" for i in range(3)]
    for k in keys:
        StoragePath(k).write_text("x")
    delete_files(keys)
    assert all(not StoragePath(k).exists() for k in keys)


def _put(*keys):
    for key in keys:
        StoragePath(f"s3://{BUCKET}/{key}").write_text("{}")


def _keys():
    import boto3

    pages = boto3.client("s3").get_paginator("list_objects_v2").paginate(Bucket=BUCKET)
    return sorted(o["Key"] for page in pages for o in page.get("Contents", []))


def test_listing_is_the_directory_not_the_key_prefix(s3_bucket):
    """``in`` is a directory: ``in_old/`` and ``index.json`` share its
    key prefix but are neither listed nor deleted with it."""
    _put("in/a.json", "in/sub/b.json", "in_old/z.json", "index.json")
    expected = [f"s3://{BUCKET}/in/a.json", f"s3://{BUCKET}/in/sub/b.json"]
    assert list_files(f"s3://{BUCKET}/in", ".json") == expected
    assert [str(p) for p in StoragePath(f"s3://{BUCKET}/in/").glob(".json")] == expected
    StoragePath(f"s3://{BUCKET}/in").delete_recursive()
    assert _keys() == ["in_old/z.json", "index.json"]


def test_listing_skips_hidden_names_like_local(s3_bucket, tmp_path):
    names = ["a.json", "_SUCCESS", ".x.json", "sub/_tmp.json", "sub/b.json"]
    _put(*[f"in/{n}" for n in names])
    for n in names:
        StoragePath(str(tmp_path / n)).write_text("{}")
    s3_found = [p[len(f"s3://{BUCKET}/in/"):] for p in list_files(f"s3://{BUCKET}/in")]
    local_found = [p[len(str(tmp_path)) + 1:] for p in list_files(str(tmp_path))]
    glob_found = [
        str(p)[len(f"s3://{BUCKET}/in/"):] for p in StoragePath(f"s3://{BUCKET}/in").glob()
    ]
    assert s3_found == local_found == glob_found == ["a.json", "sub/b.json"]


def test_delete_recursive_removes_hidden_objects(s3_bucket):
    _put("t/part-0.parquet", "t/_SUCCESS", "t/.part-0.parquet.crc", "t/_delta_log/0.json")
    _put("t_old/_SUCCESS")
    StoragePath(f"s3://{BUCKET}/t").delete_recursive()
    assert _keys() == ["t_old/_SUCCESS"]


def test_s3a_input_lists_s3a_paths(s3_bucket):
    _put("in/a.json", "in/sub/b.json")
    assert list_files(f"s3a://{BUCKET}/in", ".json") == [
        f"s3a://{BUCKET}/in/a.json",
        f"s3a://{BUCKET}/in/sub/b.json",
    ]


def test_parquet_table_exists_on_s3(s3_bucket):
    """The parquet fallback sees an S3 table by a ``*.parquet`` or
    ``_SUCCESS`` entry directly in its directory; a sibling prefix's
    files do not make it exist."""
    from getl_spark.common.tables import ManagedTable

    table = ManagedTable(None, f"s3://{BUCKET}/t", fmt="parquet")
    _put("t_old/part-0.parquet", "t_old/_SUCCESS", "t.parquet")
    assert not table.exists()
    _put("t/part-0.parquet")
    assert table.exists()
    assert ManagedTable(None, f"s3://{BUCKET}/t/", fmt="parquet").exists()


def test_delta_diff_finds_snapshots_on_s3(s3_bucket):
    """Without delta-spark the row registry keeps key snapshots in
    ``snapshot/v<N>``; they are found on S3 as locally, and a sibling
    ``snapshot_old/`` holds none of them."""
    from getl_spark.registry.delta_diff import DeltaDiff

    registry = DeltaDiff.__new__(DeltaDiff)
    registry.snapshot_dir = f"s3://{BUCKET}/reg/snapshot"
    assert registry._latest_snapshot_version() == -1
    _put("reg/snapshot/v0/part-0.parquet", "reg/snapshot/v1/_SUCCESS")
    _put("reg/snapshot_old/v9/part-0.parquet")
    assert registry._latest_snapshot_version() == 1
