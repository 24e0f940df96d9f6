"""File-registry tests: incremental discovery, stamping, three-phase
relift, and the date-range generator (property-based)."""

import datetime as dt

import pytest
from hypothesis import given, settings, strategies as st

from getl_spark import lift
from getl_spark.common.tables import HAS_DELTA
from getl_spark.registry.date_prefix_scan import date_range


# ----------------------------------------------------- range generator
@given(
    start=st.datetimes(
        min_value=dt.datetime(2000, 1, 1), max_value=dt.datetime(2030, 1, 1)
    ),
    days=st.integers(min_value=0, max_value=400),
)
@settings(max_examples=50, deadline=None)
def test_date_range_daily_is_contiguous(start, days):
    stop = start + dt.timedelta(days=days)
    values = list(date_range(start, stop, "%Y/%m/%d"))
    assert len(values) == days + 1 or len(values) == days + 2  # truncation edge
    assert all(b - a == dt.timedelta(days=1) for a, b in zip(values, values[1:]))
    assert values[0] <= start and values[-1] <= stop


def test_date_range_monthly():
    values = list(
        date_range(dt.datetime(2022, 11, 15), dt.datetime(2023, 2, 1), "%Y/%m")
    )
    assert values == [
        dt.datetime(2022, 11, 1),
        dt.datetime(2022, 12, 1),
        dt.datetime(2023, 1, 1),
        dt.datetime(2023, 2, 1),
    ]


def test_date_range_hourly():
    values = list(
        date_range(
            dt.datetime(2022, 1, 1, 22, 30), dt.datetime(2022, 1, 2, 1, 0), "%Y/%m/%d/%H"
        )
    )
    assert len(values) == 4


# ------------------------------------------------------ full_scan lift
def _definition(src, reg, out):
    return f"""
FileRegistry:
  Reg:
    Type: fileregistry::s3_full_scan
    Properties:
      BasePath: {reg}
      UpdateAfter: Write
LiftJob:
  Load:
    Type: load::batch_parquet
    Properties:
      Path: {src}
      FileRegistry: Reg
  Write:
    Type: write::batch_parquet
    Input: Load
    Properties: {{Path: {out}, Mode: append}}
"""


def test_full_scan_three_phase(spark, tmp_path):
    src, reg, out = str(tmp_path / "src"), str(tmp_path / "reg"), str(tmp_path / "out")
    batch1 = spark.createDataFrame([(1, "a"), (2, "b")], "id BIGINT, v STRING")
    batch1.coalesce(1).write.mode("append").parquet(src)

    # phase 1: discovers and lifts both files' rows
    lift(spark, _definition(src, reg, out))
    assert spark.read.parquet(out).count() == 2

    # phase 2: no new files → NoDataToProcess short-circuits (no new rows)
    lift(spark, _definition(src, reg, out))
    assert spark.read.parquet(out).count() == 2

    # phase 3: a new file arrives → only its rows are lifted
    spark.createDataFrame([(3, "c")], "id BIGINT, v STRING").coalesce(1).write.mode(
        "append"
    ).parquet(src)
    lift(spark, _definition(src, reg, out))
    assert spark.read.parquet(out).count() == 3
    # registry fully stamped
    reg_df = spark.read.parquet(reg)
    assert reg_df.where("date_lifted IS NULL").count() == 0


def test_date_prefix_scan_lift(spark, tmp_path):
    src, reg, out = str(tmp_path / "src"), str(tmp_path / "reg"), str(tmp_path / "out")
    df = spark.createDataFrame([(1, "a")], "id BIGINT, v STRING")
    for prefix in ["2022/05/05", "2022/05/06", "2022/06/15"]:
        df.coalesce(1).write.mode("append").parquet(f"{src}/{prefix}")
    definition = f"""
FileRegistry:
  Reg:
    Type: fileregistry::s3_date_prefix_scan
    Properties:
      BasePath: {reg}
      UpdateAfter: Write
      DefaultStartDate: 2022-05-01
      PartitionFormat: "%Y/%m/%d"
LiftJob:
  Load:
    Type: load::batch_parquet
    Properties:
      Path: {src}
      FileRegistry: Reg
  Write:
    Type: write::batch_parquet
    Input: Load
    Properties: {{Path: {out}, Mode: append}}
"""
    # scanning stops at "now", far past 2022 — all three prefixes found
    lift(spark, definition)
    assert spark.read.parquet(out).count() == 3
    reg_df = spark.read.parquet(reg)
    assert reg_df.count() == 3
    assert reg_df.where("prefix_date IS NULL").count() == 0


def test_delta_diff_three_phase(spark, tmp_path):
    """Mirrors reference tests/integration/test_delta_file_registry.py:52-108
    (snapshot-fallback strategy without delta-spark)."""
    src, reg = str(tmp_path / "src"), str(tmp_path / "reg")
    spark.createDataFrame([(0, "Z")], "id BIGINT, name STRING").write.mode(
        "overwrite"
    ).parquet(src)

    definition = f"""
FileRegistry:
  Reg:
    Type: fileregistry::delta_diff
    Properties:
      BasePath: {reg}
      UpdateAfter: Loaded
      DefaultStartDate: '2020-01-01 00:00:00'
      JoinOnFields: [id]
LiftJob:
  Loaded:
    Type: load::batch_delta
    Properties:
      Path: {src}
      FileRegistry: Reg
"""
    # lift 1: baseline absent → everything is new
    log = lift(spark, definition)
    assert sorted(r.id for r in log.get("Loaded").collect()) == [0]

    # lift 2: overwrite with new rows → only unseen ids returned
    spark.createDataFrame(
        [(1, "A"), (2, "B")], "id BIGINT, name STRING"
    ).write.mode("overwrite").parquet(src)
    log = lift(spark, definition)
    assert sorted(r.id for r in log.get("Loaded").collect()) == [1, 2]

    # lift 3: partial overlap → only id 3 is new
    spark.createDataFrame(
        [(2, "B"), (3, "C")], "id BIGINT, name STRING"
    ).write.mode("overwrite").parquet(src)
    log = lift(spark, definition)
    assert sorted(r.id for r in log.get("Loaded").collect()) == [3]


def test_delta_diff_pins_snapshot_at_load(spark, tmp_path):
    """Rows committed to the source between load() and update() must
    NOT be marked processed — they reappear on the next lift
    (at-least-once). The reference gets this by pinning current_date
    once in load (getl/fileregistry/delta_diff.py); the snapshot
    fallback pins the key set via localCheckpoint at load() time."""
    from getl_spark.plans.context import BlockConfig
    from getl_spark.registry.delta_diff import DeltaDiff

    src, reg = str(tmp_path / "src"), str(tmp_path / "reg")
    spark.createDataFrame([(1,), (2,)], "id BIGINT").write.parquet(src)

    def registry():
        return DeltaDiff(
            BlockConfig(
                "Reg",
                spark,
                None,
                {
                    "BasePath": reg,
                    "JoinOnFields": ["id"],
                    "DefaultStartDate": "2020-01-01 00:00:00",
                },
            )
        )

    first = registry()
    loaded = first.load(src)
    assert sorted(r.id for r in loaded.collect()) == [1, 2]
    # a writer sneaks in AFTER load() but BEFORE update()
    spark.createDataFrame([(3,)], "id BIGINT").write.mode("append").parquet(src)
    first.update()

    # next run must surface id=3 — the old behavior snapshotted the
    # live source at update() time and lost it silently
    assert sorted(r.id for r in registry().load(src).collect()) == [3]


def test_two_registries_same_update_after_both_commit(spark, tmp_path):
    """Two file registries keyed on the same UpdateAfter block must both
    commit; committing only the first would make the second reprocess
    its files every run."""
    import os

    from getl_spark import lift

    src_a, src_b = str(tmp_path / "a"), str(tmp_path / "b")
    reg_a, reg_b = str(tmp_path / "rega"), str(tmp_path / "regb")
    for src in (src_a, src_b):
        spark.createDataFrame([(1, "x")], "id BIGINT, v STRING").write.parquet(src)

    definition = f"""
FileRegistry:
  RegA:
    Type: fileregistry::s3_full_scan
    Properties:
      BasePath: {reg_a}
      UpdateAfter: Union
  RegB:
    Type: fileregistry::s3_full_scan
    Properties:
      BasePath: {reg_b}
      UpdateAfter: Union
LiftJob:
  LoadA:
    Type: load::batch_parquet
    Properties:
      Path: {src_a}
      FileRegistry: RegA
  LoadB:
    Type: load::batch_parquet
    Properties:
      Path: {src_b}
      FileRegistry: RegB
  Union:
    Type: transform::generic
    Input: [LoadA, LoadB]
    Properties:
      Functions: [union]
"""
    lift(spark, definition)
    for reg in (reg_a, reg_b):
        assert os.path.isdir(reg), f"registry {reg} never committed"
        assert spark.read.parquet(reg).where("date_lifted IS NOT NULL").count() >= 1


def test_max_files_per_run_bounds_backlog(spark, tmp_path):
    """MaxFilesPerRun caps each run's batch (driver-collect bound at
    scale); deferred files keep date_lifted=NULL and drain on later
    runs — and update() must never stamp files it didn't return."""
    src, reg, out = str(tmp_path / "src"), str(tmp_path / "reg"), str(tmp_path / "out")
    for i in range(5):
        spark.createDataFrame([(i,)], "id BIGINT").coalesce(1).write.mode(
            "append"
        ).json(src)

    definition = f"""
FileRegistry:
  Reg:
    Type: fileregistry::s3_full_scan
    Properties:
      BasePath: {reg}
      UpdateAfter: Sink
      MaxFilesPerRun: 2
LiftJob:
  Loaded:
    Type: load::batch_json
    Properties:
      Path: {src}
      FileRegistry: Reg
      JsonSchema:
        type: struct
        fields:
          - {{name: id, type: long, nullable: true}}
  Sink:
    Type: write::batch_json
    Input: Loaded
    Properties:
      Path: {out}
      Mode: append
"""
    seen = 0
    for expected_batch in (2, 2, 1):
        log = lift(spark, definition)
        batch = log.get("Loaded").count()
        assert batch == expected_batch
        seen += batch
    assert seen == 5
    reg_df = spark.read.parquet(reg)
    assert reg_df.where("date_lifted IS NULL").count() == 0
    assert reg_df.count() == 5


def test_delta_diff_interleaved_writer_end_to_end(spark, tmp_path):
    """The full-lift version of the load()/update() race: a block that
    runs BEFORE UpdateAfter appends rows to the source mid-lift. Those
    rows must not be swallowed by the commit — the next lift returns
    them (at-least-once)."""
    from getl_spark import lift

    src, reg = str(tmp_path / "src"), str(tmp_path / "reg")
    spark.createDataFrame([(1,), (2,)], "id BIGINT").write.parquet(src)

    def sneak_writer(params):
        df = params["dataframes"]["Loaded"]
        df.sparkSession.createDataFrame([(3,)], "id BIGINT").write.mode(
            "append"
        ).parquet(src)
        return df

    definition = f"""
FileRegistry:
  Reg:
    Type: fileregistry::delta_diff
    Properties:
      BasePath: {reg}
      UpdateAfter: Sneak
      DefaultStartDate: '2020-01-01 00:00:00'
      JoinOnFields: [id]
LiftJob:
  Loaded:
    Type: load::batch_delta
    Properties:
      Path: {src}
      FileRegistry: Reg
  Sneak:
    Type: custom::python_codeblock
    Input: [Loaded]
    Properties:
      CustomFunction: ${{fn}}
"""
    log = lift(spark, definition, {"fn": sneak_writer})
    assert sorted(r.id for r in log.get("Loaded").collect()) == [1, 2]
    # run 2: the mid-lift row surfaces now (don't sneak again this run
    # by making the append idempotent — id 3 already present)
    log2 = lift(spark, definition, {"fn": lambda p: p["dataframes"]["Loaded"]})
    assert sorted(r.id for r in log2.get("Loaded").collect()) == [3]


def test_stale_batch_reset_between_loads(spark, tmp_path):
    """A MaxFilesPerRun batch from a prior load() on the same registry
    instance must not restrict a later update(): _unlifted_paths resets
    _current_batch up front, so after a second uncapped-ish load the
    update stamps exactly that load's pending set."""
    from getl_spark.plans.context import BlockConfig
    from getl_spark.registry.full_scan import FullScan as S3FullScan

    src, reg = str(tmp_path / "src"), str(tmp_path / "reg")
    for i in range(3):
        spark.createDataFrame([(i,)], "id BIGINT").coalesce(1).write.mode(
            "append"
        ).json(src)

    bconf = BlockConfig(
        "Reg", spark, None, {"BasePath": reg, "MaxFilesPerRun": 2}
    )
    registry = S3FullScan(bconf)
    first = registry.load(src, ".json")
    assert len(first) == 2  # capped batch pinned
    # second load on the SAME instance returns the same 2 (nothing
    # stamped yet) — and must repin, not reuse, the old batch object
    second = registry.load(src, ".json")
    assert sorted(second) == sorted(first)
    registry.update()
    # after commit, only the deferred file remains
    third = registry.load(src, ".json")
    assert len(third) == 1


def test_large_batch_stamps_via_join(spark, tmp_path, monkeypatch):
    """Past _ISIN_LIMIT the update goes through the join-based
    update_matching path; semantics identical to isin stamping."""
    from getl_spark.plans.context import BlockConfig
    from getl_spark.registry import base as registry_base
    from getl_spark.registry.full_scan import FullScan as S3FullScan

    monkeypatch.setattr(registry_base, "_ISIN_LIMIT", 1)
    src, reg = str(tmp_path / "src"), str(tmp_path / "reg")
    for i in range(4):
        spark.createDataFrame([(i,)], "id BIGINT").coalesce(1).write.mode(
            "append"
        ).json(src)

    bconf = BlockConfig(
        "Reg", spark, None, {"BasePath": reg, "MaxFilesPerRun": 3}
    )
    registry = S3FullScan(bconf)
    batch = registry.load(src, ".json")
    assert len(batch) == 3
    registry.update()
    remaining = registry.load(src, ".json")
    assert len(remaining) == 1
    assert not set(remaining) & set(batch)


def test_unbounded_backlog_logs_warning(spark, tmp_path, monkeypatch, caplog):
    """An uncapped pending set past the threshold announces itself and
    recommends MaxFilesPerRun before the driver drowns."""
    import logging

    from getl_spark.plans.context import BlockConfig
    from getl_spark.registry import base as registry_base
    from getl_spark.registry.full_scan import FullScan as S3FullScan

    monkeypatch.setattr(registry_base, "_BACKLOG_WARN_THRESHOLD", 2)
    src, reg = str(tmp_path / "src"), str(tmp_path / "reg")
    for i in range(3):
        spark.createDataFrame([(i,)], "id BIGINT").coalesce(1).write.mode(
            "append"
        ).json(src)

    registry = S3FullScan(BlockConfig("Reg", spark, None, {"BasePath": reg}))
    with caplog.at_level(logging.WARNING, logger="getl_spark.registry.base"):
        paths = registry.load(src, ".json")
    assert len(paths) == 3
    assert any("MaxFilesPerRun" in rec.message for rec in caplog.records)


# ------------------------------------- one control-table read per load
def _jobs_in(spark, fn):
    """``fn()`` and the number of Spark jobs it ran, counted from its
    own job group."""
    import uuid

    sc = spark.sparkContext
    group = f"registry-load-{uuid.uuid4().hex[:8]}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return result, len(sc.statusTracker().getJobIdsForGroup(group))


def _table_files(path):
    """name → (size, mtime) of every file in a table directory."""
    import os

    stats = {name: os.stat(os.path.join(path, name)) for name in os.listdir(path)}
    return {name: (st.st_size, st.st_mtime_ns) for name, st in stats.items()}


def _json_file(spark, src, i):
    spark.createDataFrame([(i,)], "id BIGINT").coalesce(1).write.mode(
        "append"
    ).json(src)


@pytest.mark.skipif(
    HAS_DELTA, reason="job counts are those of the parquet-fallback control table",
)
def test_full_scan_idle_load_is_one_job_and_writes_nothing(spark, tmp_path):
    """A load that lists no new file costs one collect and leaves the
    control table's files untouched; a load with new files appends
    them beside the existing part files and returns the pending rows
    plus the new files, sorted."""
    from getl_spark.plans.context import BlockConfig
    from getl_spark.registry.full_scan import FullScan

    src, reg = str(tmp_path / "src"), str(tmp_path / "reg")
    for i in range(3):
        _json_file(spark, src, i)
    registry = FullScan(BlockConfig("Reg", spark, None, {"BasePath": reg}))
    assert len(registry.load(src, ".json")) == 3
    registry.update()

    before = _table_files(reg)
    paths, jobs = _jobs_in(spark, lambda: registry.load(src, ".json"))
    assert paths == []
    assert jobs == 1
    assert _table_files(reg) == before

    # one new file left pending (no update), then one more lands
    _json_file(spark, src, 3)
    (pending,) = registry.load(src, ".json")
    kept = _table_files(reg)
    _json_file(spark, src, 4)
    paths, jobs = _jobs_in(spark, lambda: registry.load(src, ".json"))
    assert jobs <= 2  # the collect and the append
    after = _table_files(reg)
    parts = {n: st for n, st in kept.items() if n.endswith(".parquet")}
    assert {n: after[n] for n in parts} == parts
    assert len([n for n in after if n.endswith(".parquet")]) == len(parts) + 1
    assert pending in paths and len(paths) == 2 and paths == sorted(paths)
    rows = spark.read.parquet(reg)
    assert sorted(r.file_path for r in rows.where("date_lifted IS NULL").collect()) == paths
    assert rows.count() == 5


def test_failed_lift_leaves_its_files_pending(spark, tmp_path):
    """At-least-once: files a lift discovered are registered with
    date_lifted NULL before its data is read, so a lift that fails
    before UpdateAfter leaves them pending, and the next lift returns
    and stamps them."""
    src, reg, out = str(tmp_path / "src"), str(tmp_path / "reg"), str(tmp_path / "out")
    for i in range(2):
        _json_file(spark, src, i)

    class Boom(Exception):
        pass

    def fail(params):
        raise Boom("UpdateAfter block failed")

    definition = f"""
FileRegistry:
  Reg:
    Type: fileregistry::s3_full_scan
    Properties:
      BasePath: {reg}
      UpdateAfter: Commit
LiftJob:
  Loaded:
    Type: load::batch_json
    Properties:
      Path: {src}
      FileRegistry: Reg
      JsonSchema:
        type: struct
        fields:
          - {{name: id, type: long, nullable: true}}
  Commit:
    Type: custom::python_codeblock
    Input: [Loaded]
    Properties:
      CustomFunction: ${{fn}}
"""
    with pytest.raises(Boom):
        lift(spark, definition, {"fn": fail})
    rows = spark.read.parquet(reg).collect()
    assert len(rows) == 2
    assert all(r.date_lifted is None for r in rows)

    def write(params):
        df = params["dataframes"]["Loaded"]
        df.write.mode("append").parquet(out)
        return df

    lift(spark, definition, {"fn": write})
    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [0, 1]
    rows = spark.read.parquet(reg).collect()
    assert len(rows) == 2
    assert all(r.date_lifted is not None for r in rows)


def test_date_prefix_scan_late_file_in_last_prefix(spark, tmp_path):
    """The last lifted prefix is re-scanned: a file that lands there
    late is registered once and lifted, while the files already
    stamped there are not registered again."""
    import os

    src, reg, out = str(tmp_path / "src"), str(tmp_path / "reg"), str(tmp_path / "out")
    df = spark.createDataFrame([(1, "a")], "id BIGINT, v STRING")
    for prefix in ["2022/05/05", "2022/06/15"]:
        df.coalesce(1).write.mode("append").parquet(f"{src}/{prefix}")
    definition = f"""
FileRegistry:
  Reg:
    Type: fileregistry::s3_date_prefix_scan
    Properties:
      BasePath: {reg}
      UpdateAfter: Write
      DefaultStartDate: 2022-05-01
      PartitionFormat: "%Y/%m/%d"
LiftJob:
  Load:
    Type: load::batch_parquet
    Properties:
      Path: {src}
      FileRegistry: Reg
  Write:
    Type: write::batch_parquet
    Input: Load
    Properties: {{Path: {out}, Mode: append}}
"""
    lift(spark, definition)
    assert spark.read.parquet(out).count() == 2

    spark.createDataFrame([(2, "late")], "id BIGINT, v STRING").coalesce(1).write.mode(
        "append"
    ).parquet(f"{src}/2022/06/15")
    lift(spark, definition)
    lift(spark, definition)  # nothing new: no file is registered twice

    assert sorted(r.id for r in spark.read.parquet(out).collect()) == [1, 1, 2]
    files = [
        os.path.join(d, f)
        for d, _, names in os.walk(src)
        for f in names
        if f.endswith(".parquet")
    ]
    rows = spark.read.parquet(reg).collect()
    assert len(rows) == len(files) == 3
    assert sorted(r.file_path for r in rows) == sorted(files)
    assert all(r.date_lifted is not None for r in rows)
    late = [r for r in rows if r.prefix_date == dt.datetime(2022, 6, 15)]
    assert len(late) == 2


@pytest.mark.skipif(HAS_DELTA, reason="part files of the parquet-fallback control table")
def test_full_scan_control_table_stays_one_file(spark, tmp_path):
    """Each increment appends its new files to the control table and
    the stamp rewrite compacts the table again, so three increments of
    a small registry leave one part file, not one per lift."""
    import os

    src, reg, out = str(tmp_path / "src"), str(tmp_path / "reg"), str(tmp_path / "out")
    for i in range(3):
        spark.createDataFrame([(i, "v")], "id BIGINT, v STRING").coalesce(1).write.mode(
            "append"
        ).parquet(src)
        lift(spark, _definition(src, reg, out))
    assert spark.read.parquet(out).count() == 3
    assert len([f for f in os.listdir(reg) if f.endswith(".parquet")]) == 1
    rows = spark.read.parquet(reg).collect()
    assert len(rows) == 3 and all(r.date_lifted is not None for r in rows)
