"""Routing tests for the durability ladder in ``common.scale.pin``.

The ladder itself (reliable checkpoint > localCheckpoint-on-local >
replicated persist) can't be exercised against a real cluster here, so
these tests verify the ROUTING decisions with instance/class patches
plus a functional values-preserved check on the branch local mode
actually runs.
"""

from __future__ import annotations

import pytest

from getl_spark.common.scale import pin


def _cls(df):
    # pyspark 4 routes calls through the CONCRETE class
    # (pyspark.sql.classic.dataframe.DataFrame); patching the abstract
    # pyspark.sql.DataFrame would never intercept
    return type(df)


def test_pin_local_mode_uses_localcheckpoint(spark, monkeypatch):
    df = spark.range(10)
    calls = []
    real = _cls(df).localCheckpoint

    def spy(self, eager=True):
        calls.append(eager)
        return real(self, eager=eager)

    monkeypatch.setattr(_cls(df), "localCheckpoint", spy)
    out = pin(df)
    assert calls == [True]
    assert sorted(r.id for r in out.collect()) == list(range(10))
    # lineage truncated: the optimized plan is a materialized stub
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan

    calls.clear()
    pin(df, eager=False)
    assert calls == [False]


def test_pin_prefers_reliable_checkpoint_when_dir_set(spark, monkeypatch, tmp_path):
    df = spark.range(5)
    # pretend the session factory configured a shared checkpoint dir
    monkeypatch.setattr(
        spark.sparkContext, "getCheckpointDir", lambda: str(tmp_path)
    )
    calls = []
    monkeypatch.setattr(
        _cls(df),
        "checkpoint",
        lambda self, eager=True: calls.append(eager) or self,
    )
    out = pin(df)
    assert calls == [True]
    assert out.count() == 5


def test_pin_cluster_without_dir_uses_replicated_localcheckpoint(
    spark, monkeypatch
):
    from pyspark import SparkContext, StorageLevel

    df = spark.range(7)
    # pretend a non-local master (cluster) with no checkpoint dir —
    # master is a plain instance attribute on SparkContext
    monkeypatch.setattr(spark.sparkContext, "master", "yarn", raising=False)
    assert spark.sparkContext.getCheckpointDir() is None
    calls = []
    real = _cls(df).localCheckpoint

    def spy(self, eager=True, storageLevel=None):
        calls.append((eager, storageLevel))
        return real(self, eager=eager, storageLevel=storageLevel)

    monkeypatch.setattr(_cls(df), "localCheckpoint", spy)
    out = pin(df)
    assert calls == [(True, StorageLevel.MEMORY_AND_DISK_2)]
    assert out.count() == 7
    # lineage MUST be truncated on this rung too: a persist-style pin
    # keeps the full analyzed plan, and iterative callers then nest
    # plans exponentially (observed driver OOM) — see pin's docstring
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "LogicalRDD" in plan or "ExistingRDD" in plan
    assert isinstance(spark.sparkContext, SparkContext)


def test_stats_helpers_keys_ranks_and_key_joins(spark):
    """The shared stats helpers: ``keys_of`` accepts every group_by
    form; ``value_ranks`` midranks equal pandas' average ranks per
    group, with ties and a NULL group key; ``join_on_keys`` keeps the
    NULL-key group (a name-list join would drop it) and broadcasts the
    1-row table when there are no keys."""
    import pandas as pd
    from pyspark.sql import functions as F

    from getl_spark.common.scale import join_on_keys, keys_of, value_ranks

    assert keys_of(None) == []
    assert keys_of("g") == ["g"]
    assert keys_of(["g", "h"]) == ["g", "h"]
    assert keys_of(("g", "h")) == ["g", "h"]

    rows = [
        ("a", 1.0), ("a", 2.0), ("a", 2.0), ("a", 5.0),
        (None, 3.0), (None, 3.0), (None, 3.0), (None, 1.0),
        ("b", 7.0),
    ]
    df = spark.createDataFrame(rows, "g string, v double")
    counts = df.groupBy("g", "v").agg(F.count("*").cast("bigint").alias("n"))
    got = {
        (r["g"], r["v"]): r["__rank"]
        for r in value_ranks(counts, ["g"], "v", "n").collect()
    }
    pdf = pd.DataFrame(rows, columns=["g", "v"])
    pdf["r"] = pdf.groupby("g", dropna=False)["v"].rank(method="average")
    want = {
        (None if pd.isna(g) else g, v): r
        for g, v, r in pdf.drop_duplicates(["g", "v"]).itertuples(index=False)
    }
    assert got == want

    per_group = counts.groupBy("g").agg(F.sum("n").alias("tot"))
    joined = join_on_keys(df, per_group, ["g"])
    assert joined.columns == ["g", "v", "tot"]
    assert sorted(
        (r["g"] or "", r["v"], r["tot"]) for r in joined.collect()
    ) == sorted((g or "", v, {"a": 4, None: 4, "b": 1}[g]) for g, v in rows)

    total = join_on_keys(df, df.agg(F.count("*").alias("total")), [])
    assert "BroadcastNestedLoopJoin" in (
        total._jdf.queryExecution().executedPlan().toString()
    )
    assert {r["total"] for r in total.collect()} == {len(rows)}


def test_iterative_loops_survive_cluster_rung(spark, monkeypatch):
    """Regression for the replicated-persist rung this test killed:
    persist does not truncate lineage, so connected components nested
    each round's plan inside the next and the analyzer OOMed the
    driver on a 30-edge chain. The cluster rung must checkpoint-style
    truncate — these loops must complete on the 'yarn' routing with
    correct results."""
    from getl_spark.functions import graph

    monkeypatch.setattr(spark.sparkContext, "master", "yarn", raising=False)
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(30)] + [(100, 101), (101, 102)],
        "src BIGINT, dst BIGINT",
    )
    comp = {
        r.doc_id: r.component
        for r in graph.cluster_components(
            edges, src="src", dst="dst", driver_threshold=0
        ).collect()
    }
    assert all(comp[i] == 0 for i in range(31))
    assert comp[100] == comp[101] == comp[102] == 100

    ranks = graph.pagerank(edges, n_iter=4).collect()
    # ranks are rounded to 6 decimals by default: tolerance ∝ node count
    assert abs(sum(r.rank for r in ranks) - 1.0) < 5e-5

    core = graph.k_core(
        edges, k=2, src="src", dst="dst", driver_threshold=0
    ).collect()
    # a chain + a path have no 2-core
    assert core == []
    """get_spark(checkpoint_dir=...) (or the env var) must register the
    dir on the context so pin's first rung engages; on the shared
    local session we only verify registration, not routing (local
    pins stay local by design).

    NOTE: intentionally does NOT call get_spark here — setting a
    checkpoint dir on the shared session would flip every later pin in
    the suite to reliable checkpoints. The factory wiring is a
    two-line pass-through verified by inspection + the env default.
    """
    import inspect

    from getl_spark import session as S

    sig = inspect.signature(S.get_spark)
    assert "checkpoint_dir" in sig.parameters
    src = inspect.getsource(S.get_spark)
    assert "GETL_SPARK_CHECKPOINT_DIR" in src
    assert "setCheckpointDir" in src


def test_grouped_prefix_scan_still_partition_invariant(spark):
    """The prefix scan routed through pin keeps its invariance
    contract (1 vs 32 partitions, grouped running sum)."""
    from getl_spark.common.scale import grouped_prefix_sum

    rows = [("a", i, i % 5) for i in range(100)] + [
        ("b", i, (i * 7) % 11) for i in range(57)
    ]
    base = spark.createDataFrame(rows, "g STRING, i INT, v INT")
    outs = []
    for parts in (1, 32):
        out = grouped_prefix_sum(
            base.repartition(parts), "g", "i", "v", "run"
        )
        outs.append(
            sorted((r.g, r.i, r.run) for r in out.collect())
        )
    assert outs[0] == outs[1]
    # spot-check against a python scan
    import itertools

    want = []
    for g, grp in itertools.groupby(
        sorted(rows), key=lambda t: t[0]
    ):
        acc = 0
        for _, i, v in sorted(grp, key=lambda t: t[1]):
            acc += v
            want.append((g, i, acc))
    assert outs[0] == sorted(want)


def test_grouped_prefix_scan_single_full_exchange(spark):
    """r14 plan contract: the scan's only full-data exchange is the
    explicit repartition on the deterministic bucket id; the window
    plans DIRECTLY above it (HashPartitioning(pid) satisfies the
    window's ClusteredDistribution), with no second hash exchange of
    the data. The offsets side exchanges only partial aggregates."""
    import re

    from pyspark.sql import functions as F

    from getl_spark.common.scale import grouped_prefix_sum

    base = spark.range(0, 5000).select(
        (F.col("id") % 3).alias("g"),
        (F.col("id") % 101).cast("double").alias("o"),
        F.col("id").alias("tb"),
        F.lit(1).alias("one"),
    )
    out = grouped_prefix_sum(base, ["g"], ["o", "tb"], "one", "rk")
    plan = out._jdf.queryExecution().executedPlan().toString()
    # exactly one REPARTITION_BY_NUM exchange carries the full frame
    assert plan.count("REPARTITION_BY_NUM") == 1
    # the window must NOT have its own ENSURE_REQUIREMENTS hash
    # exchange over the bucket id + keys (the r13 shape); the only
    # ENSURE_REQUIREMENTS exchanges belong to the tiny offsets branch,
    # which sits under a BroadcastExchange
    main_side = plan.split("BroadcastExchange")[0]
    assert "ENSURE_REQUIREMENTS" not in main_side


def test_grouped_prefix_scan_null_and_nan_ordering(spark):
    """Bucket boundaries are struct literals compared with Spark's
    total order (NULL first, NaN last): rows carrying NULL keys, NULL
    order values and NaNs must land identically to the plain-window
    formulation."""
    from pyspark.sql import Window, functions as F

    from getl_spark.common.scale import grouped_prefix_sum

    rows = []
    for i in range(400):
        k = None if i % 5 == 0 else f"k{i % 3}"
        v = float("nan") if i % 11 == 0 else float(i % 37)
        rows.append((k, v, i, i % 7))
    base = spark.createDataFrame(rows, "k STRING, v DOUBLE, tb LONG, val INT")
    got = grouped_prefix_sum(base, ["k"], ["v", "tb"], "val", "cum")
    w = (
        Window.partitionBy("k")
        .orderBy(F.col("v").asc(), F.col("tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = base.select("*", F.sum("val").over(w).alias("cum"))

    def canon(df):
        return sorted(
            tuple((c is not None, repr(c)) for c in r) for r in df.collect()
        )

    assert canon(got) == canon(want)


def test_grouped_prefix_scan_sampler_yields_real_slices(spark):
    """r14 sampler rewrite (single-hash sub-bucket max_by behind a
    deterministic 1/S row pre-filter): on a few-thousand-row frame the
    boundary sample must still produce a MULTI-slice bucketing — if
    the pre-filter ever sampled empty on real inputs the scan would
    silently degenerate to one slice (correct but serial). Also
    re-checks value parity against the plain window on this exact
    path."""
    from pyspark.sql import Window, functions as F

    from getl_spark.common.scale import _sample_range_bounds, pin

    base = spark.range(0, 5000).select(
        (F.col("id") % 7).alias("g"),
        (F.col("id") * 2654435761 % 9973).alias("o"),
        F.col("id").alias("tb"),
        F.lit(2).alias("val"),
    )
    total, bounds = _sample_range_bounds(pin(base), ["g", "o", "tb"], 32)
    assert total > 0
    # 5000 rows / 16 pre-filter ~ 312 samples: plenty for real bounds
    assert len(bounds) >= 4

    from getl_spark.common.scale import grouped_prefix_sum

    got = grouped_prefix_sum(base, ["g"], ["o", "tb"], "val", "cum")
    w = (
        Window.partitionBy("g")
        .orderBy(F.col("o").asc(), F.col("tb").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    want = base.select("*", F.sum("val").over(w).alias("cum"))
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )
