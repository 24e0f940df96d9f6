"""Sink-block tests: managed-table modes, merge-upsert contract, JSON."""

import pytest

from getl_spark import lift
from getl_spark.common.tables import ManagedTable


@pytest.fixture()
def writer_df(spark):
    """Mirrors reference tests/getl/blocks/write/test_write_entrypoint.py:11-22."""
    return spark.createDataFrame(
        [("path/to/file1", 1, 2020, 10), ("path/to/file2", 4, 2020, 10)],
        "file_path STRING, count INT, year INT, month INT",
    )


def _write(spark, df, path, mode, extra_props=""):
    df.createOrReplaceTempView("writer_input")
    return lift(
        spark,
        f"""
LiftJob:
  In:
    Type: custom::sql
    Properties: {{Statement: SELECT * FROM writer_input}}
  W:
    Type: write::batch_delta
    Input: In
    Properties:
      Path: {path}
      Mode: {mode}
{extra_props}
""",
    )


def test_append_and_overwrite(spark, writer_df, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, writer_df, path, "append")
    _write(spark, writer_df, path, "append")
    assert ManagedTable(spark, path).read().count() == 4
    _write(spark, writer_df, path, "overwrite")
    assert ManagedTable(spark, path).read().count() == 2


def test_clean_write(spark, writer_df, tmp_path):
    path = str(tmp_path / "t")
    _write(spark, writer_df, path, "append")
    _write(spark, writer_df, path, "clean_write")
    assert ManagedTable(spark, path).read().count() == 2


def test_upsert_create_then_merge(spark, writer_df, tmp_path):
    """Reference contract (test_write_entrypoint.py:158-182): upsert on a
    missing target creates it; the second batch updates matches and
    inserts the rest."""
    path = str(tmp_path / "t")
    merge = (
        "      Upsert:\n"
        "        MergeStatement: source.file_path = updates.file_path\n"
    )
    _write(spark, writer_df, path, "upsert", merge)
    assert ManagedTable(spark, path).read().count() == 2

    batch2 = spark.createDataFrame(
        [("path/to/file1", 5, 2020, 10), ("path/to/file6", 6, 2020, 10)],
        "file_path STRING, count INT, year INT, month INT",
    )
    _write(spark, batch2, path, "upsert", merge)
    result = ManagedTable(spark, path).read()
    assert result.count() == 3
    assert result.where("file_path = 'path/to/file1'").first()["count"] == 5


def test_partition_by_layout(spark, writer_df, tmp_path):
    path = str(tmp_path / "t")
    _write(
        spark,
        writer_df,
        path,
        "overwrite",
        "      PartitionBy:\n        Columns: [year, month]\n",
    )
    assert (tmp_path / "t" / "year=2020" / "month=10").exists()


def test_optimize_zorder_rewrites(spark, writer_df, tmp_path):
    path = str(tmp_path / "t")
    _write(
        spark,
        writer_df,
        path,
        "overwrite",
        "      Optimize:\n        Enabled: true\n        ZorderBy: file_path\n",
    )
    assert ManagedTable(spark, path).read().count() == 2


def test_optimize_actually_compacts_small_files(spark, tmp_path):
    """A fragmented table (many tiny files) must come out of optimize()
    with a size-derived file count — not the same fragmentation written
    back (the old behavior reused the input partition count)."""
    import glob

    path = str(tmp_path / "frag")
    spark.range(1000).repartition(16).write.parquet(path)
    assert len(glob.glob(f"{path}/part-*.parquet")) == 16
    table = ManagedTable(spark, path)
    assert table._compaction_file_count() == 1  # tiny table, 1 GiB target
    table.optimize()
    assert len(glob.glob(f"{path}/part-*.parquet")) == 1
    assert table.read().count() == 1000
    # zordered compaction also compacts
    spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(16).write.mode(
        "overwrite"
    ).parquet(path)
    table.optimize(zorder_by=["v"])
    assert len(glob.glob(f"{path}/part-*.parquet")) == 1
    assert table.read().count() == 1000


def test_optimize_restores_maxfilesize_conf(spark, tmp_path):
    """optimize(target_file_bytes=...) on a delta-format table must not
    leak the delta maxFileSize conf into the shared session — a later
    optimize() without the argument would silently inherit it."""
    conf_key = "spark.databricks.delta.optimize.maxFileSize"
    table = ManagedTable(spark, str(tmp_path / "d"), fmt="delta")
    # unset before: must be unset after
    assert spark.conf.get(conf_key, None) is None
    try:
        table.optimize(target_file_bytes=123456)
    except Exception:
        pass  # no delta runtime here; the conf contract still holds
    assert spark.conf.get(conf_key, None) is None
    # pre-existing value: must be restored, not clobbered
    spark.conf.set(conf_key, "999")
    try:
        table.optimize(target_file_bytes=123456)
    except Exception:
        pass
    assert spark.conf.get(conf_key, None) == "999"
    spark.conf.unset(conf_key)


def test_json_sink(spark, writer_df, tmp_path):
    writer_df.createOrReplaceTempView("writer_input")
    lift(
        spark,
        f"""
LiftJob:
  In:
    Type: custom::sql
    Properties: {{Statement: SELECT * FROM writer_input}}
  W:
    Type: write::batch_json
    Input: W_in_alias_not_needed
    Properties: {{Path: {tmp_path}/j, Mode: overwrite}}
""".replace("Input: W_in_alias_not_needed", "Input: In"),
    )
    assert spark.read.json(str(tmp_path / "j")).count() == 2


def test_hive_table_registration(spark, writer_df, tmp_path):
    path = str(tmp_path / "ht")
    _write(
        spark,
        writer_df,
        path,
        "overwrite",
        "      HiveTable:\n        DatabaseName: testdb\n        TableName: files\n",
    )
    assert spark.sql("SELECT count(*) n FROM testdb.files").first().n == 2
    spark.sql("DROP TABLE testdb.files")
    spark.sql("DROP DATABASE testdb")


def test_partitioned_write_prunes_on_read(spark, tmp_path):
    """Date-derived partition columns written via the engine must give
    partition-PRUNED scans for downstream readers — the layout/pruning
    contract that matters at 100 TB."""
    events = spark.createDataFrame(
        [(1, "2024-01-15 10:00:00", 5.0), (2, "2024-02-20 11:00:00", 6.0),
         (3, "2024-02-25 12:00:00", 7.0), (4, "2024-03-01 13:00:00", 8.0)],
        "event_id BIGINT, ts STRING, value DOUBLE",
    )
    events.createOrReplaceTempView("ev_src")
    from getl_spark import lift

    lift(
        spark,
        f"""
LiftJob:
  In:
    Type: custom::sql
    Properties: {{Statement: "SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM ev_src"}}
  Derive:
    Type: transform::generic
    Input: In
    Properties:
      Functions:
        - add_column.date.year: {{from_column: ts, to_column: year}}
        - add_column.date.month: {{from_column: ts, to_column: month}}
  W:
    Type: write::batch_parquet
    Input: Derive
    Properties:
      Path: {tmp_path}/ev
      Mode: overwrite
      PartitionBy:
        Columns: [year, month]
""",
    )
    read = spark.read.parquet(str(tmp_path / "ev")).where("month = '2'")
    plan = read._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(month" in plan
    assert read.count() == 2


def test_orc_source_sink_roundtrip_with_partitioning(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", 2020), (2, "b", 2020), (3, "c", 2021)],
        "id BIGINT, s STRING, year INT",
    )
    df.createOrReplaceTempView("orc_input")
    lift(
        spark,
        f"""
LiftJob:
  In:
    Type: custom::sql
    Properties: {{Statement: SELECT * FROM orc_input}}
  W:
    Type: write::batch_orc
    Input: In
    Properties:
      Path: {tmp_path}/orc
      Mode: overwrite
      PartitionBy:
        Columns: [year]
""",
    )
    assert (tmp_path / "orc" / "year=2020").exists()
    out = lift(
        spark,
        f"""
LiftJob:
  R:
    Type: load::batch_orc
    Properties: {{Path: {tmp_path}/orc}}
""",
    ).get("R")
    assert sorted((r.id, r.s, r.year) for r in out.collect()) == [
        (1, "a", 2020),
        (2, "b", 2020),
        (3, "c", 2021),
    ]


def test_optimize_string_zorder_fallback_range_clusters(spark, tmp_path):
    """Non-numeric zorder columns fall back to range partition + sort:
    each output file must cover a narrow slice of the sort key, not the
    whole range (round-robin scatter would defeat footer-stat pruning)."""
    import glob

    import pyarrow.parquet as pq

    path = str(tmp_path / "t")
    rows = [(i, chr(ord("a") + i % 26) + f"{i:04d}") for i in range(2600)]
    spark.createDataFrame(rows, "id BIGINT, name STRING").repartition(8).write.parquet(
        path
    )
    table = ManagedTable(spark, path)
    table.optimize(zorder_by=["name"], target_file_bytes=8 * 1024)
    files = sorted(glob.glob(f"{path}/part-*.parquet"))
    assert len(files) > 2
    ranges = []
    for f in files:
        md = pq.read_metadata(f)
        mins, maxs = [], []
        for rg in range(md.num_row_groups):
            col = md.row_group(rg).column(1)
            mins.append(col.statistics.min)
            maxs.append(col.statistics.max)
        ranges.append((min(mins), max(maxs)))
    ranges.sort()
    # files form nearly disjoint key ranges: each file's span must not
    # cover the whole alphabet
    whole = ord("z") - ord("a")
    for lo, hi in ranges:
        assert (ord(hi[0]) - ord(lo[0])) < whole * 0.6


def test_max_records_per_file_bounds_shards(spark, tmp_path):
    """MaxRecordsPerFile splits task output into bounded shards without
    a count() or repartition — the training-dataloader shard knob."""
    import glob

    path = str(tmp_path / "shards")
    spark.range(1000).coalesce(1).createOrReplaceTempView("shard_input")
    lift(
        spark,
        f"""
LiftJob:
  L:
    Type: custom::sql
    Properties: {{Statement: "SELECT * FROM shard_input"}}
  W:
    Type: write::batch_parquet
    Input: L
    Properties:
      Path: {path}
      MaxRecordsPerFile: 250
""",
    )
    files = glob.glob(f"{path}/part-*.parquet")
    assert len(files) == 4  # 1000 rows / 250 per shard from ONE task
    assert spark.read.parquet(path).count() == 1000


def test_rewrite_keeps_old_table_when_move_in_fails(spark, tmp_path, monkeypatch):
    """The fallback rewrite renames the old table aside before the new
    one moves in; a failed move-in puts it back, so the path never
    loses its table, and a successful one leaves no sibling behind."""
    import os

    from pyspark.sql import functions as F

    path = str(tmp_path / "t")
    table = ManagedTable(spark, path, fmt="parquet")
    table.write(spark.createDataFrame([(1,), (2,)], "id BIGINT"), mode="overwrite")
    table.update(F.col("id") == 2, {"id": F.lit(3).cast("bigint")})
    assert sorted(r.id for r in table.read().collect()) == [1, 3]
    assert os.listdir(tmp_path) == ["t"]

    real_replace = os.replace

    def failing_move_in(src, dst):
        if "__getl_tmp_" in str(src) and str(dst) == path:
            raise OSError("move-in failed")
        return real_replace(src, dst)

    monkeypatch.setattr(os, "replace", failing_move_in)
    with pytest.raises(OSError, match="move-in failed"):
        table.update(F.col("id") == 1, {"id": F.lit(4).cast("bigint")})
    monkeypatch.undo()
    assert sorted(r.id for r in table.read().collect()) == [1, 3]
    assert os.listdir(tmp_path) == ["t"]
