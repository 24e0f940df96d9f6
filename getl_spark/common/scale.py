"""Scale helpers shared by compute-heavy operators."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def is_classic(df: DataFrame) -> bool:
    """True when ``df`` is a classic (JVM-backed) DataFrame with an
    ``.rdd`` / SparkContext surface; False under Spark Connect, whose
    proxies live in ``pyspark.sql.connect`` and raise on ``.rdd``."""
    return not type(df).__module__.startswith("pyspark.sql.connect")


def pin(df: DataFrame, eager: bool = True) -> DataFrame:
    """Materialize an intermediate the plan reads more than once, with
    a DURABILITY LADDER instead of a bare ``localCheckpoint()``.

    Why a pin at all: several operators (the distributed prefix scan,
    LSH banding, connected components, stored-index reconciliation)
    branch their plan over a subtree whose re-evaluation is either
    expensive or — worse — not bit-stable across evaluations
    (``repartitionByRange`` samples its bounds per-execution, so two
    evaluations of the same subtree can assign different partition
    ids). Those call sites MUST observe one materialized copy.

    Why not always ``localCheckpoint()``: it truncates lineage and
    stores the blocks ONLY on the executors that computed them. On a
    single machine (``local[*]``) that is free and safe; on a real
    cluster, losing one (routinely preempted) executor makes the
    checkpointed partitions unrecoverable and fails the whole job —
    exactly the environment this engine targets.

    The ladder, most durable first:

    1. **Reliable ``checkpoint()``** when the session has a checkpoint
       directory configured (``get_spark(checkpoint_dir=...)`` or
       ``sc.setCheckpointDir``). Blocks go to the shared filesystem
       (HDFS/S3); any executor can re-read them after a loss. This is
       what a 1000-executor deployment should run.
    2. **``localCheckpoint()``** in local mode — executor loss and
       driver loss are the same event there, so replication buys
       nothing and the copy to a checkpoint dir would be pure cost.
    3. **Replicated ``localCheckpoint(storageLevel=MEMORY_AND_DISK_2)``**
       on a cluster WITHOUT a checkpoint dir: each block lives on two
       executors, so a single preemption cannot lose it (losing BOTH
       replicas fails the job, the price of skipping rung 1 — which is
       why deployments should set a checkpoint dir). An earlier
       revision used ``persist(MEMORY_AND_DISK_2)`` here to keep
       lineage as a double-loss fallback; that was doubly wrong at
       scale: persisted plans stay registered in the cache manager for
       the session lifetime unless every caller unpersists, and —
       worse — persist does NOT truncate the analyzed plan, so
       iterative algorithms (components, pagerank, k-core) nest each
       round's plan inside the next and the analyzer walks an
       exponentially-growing tree (observed: driver OOM analyzing
       round ~6 of connected components on a 30-edge input).
       Checkpoint-style truncation is not optional for pins.

    ``eager=False`` defers materialization to first use (callers that
    pin a frame which a later branch might skip entirely).

    Lifetime: reliable checkpoint files belong to the checkpoint dir
    (cleaned per Spark's own policy); localCheckpoint blocks — both
    rungs 2 and 3 — are freed by the ContextCleaner once the frame is
    dereferenced, so loops that rebind per round release superseded
    rounds automatically.
    """
    if not is_classic(df):
        # Connect proxies expose localCheckpoint but no SparkContext
        # probe; reliable-checkpoint policy must be set server-side
        return df.localCheckpoint(eager=eager)
    sc = df.sparkSession.sparkContext
    if sc.getCheckpointDir() is not None:
        return df.checkpoint(eager=eager)
    if (sc.master or "").startswith("local"):
        return df.localCheckpoint(eager=eager)
    from pyspark import StorageLevel

    return df.localCheckpoint(
        eager=eager, storageLevel=StorageLevel.MEMORY_AND_DISK_2
    )


def parallelize(df: DataFrame) -> DataFrame:
    """Repartition compute-heavy inputs up to cluster parallelism.

    A small parquet file arrives as one partition; per-row heavy work
    (shingling, hashing, pandas batches) would then run on one core.
    Partition count must match compute cost, not input bytes — a
    few-MB shuffle buys full-cluster parallelism. No-op when the input
    is already wide (the 100 TB case, where file count ≫ cores).

    Under Spark Connect there is no partition-count probe (``df.rdd``
    does not exist) and no cheap DataFrame-API equivalent, so this is
    a documented no-op there — Connect callers with narrow inputs
    should pre-``repartition`` themselves.
    """
    if not is_classic(df):
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def grouped_prefix_sum(
    df: DataFrame,
    keys,
    order_cols,
    value_col,
    new_col,
    prepinned: bool = False,
):
    """``grouped_prefix_scan`` with the running aggregate fixed to
    ``sum`` — see there for the contract. Kept as the named entry
    point because a running sum is what nearly every caller means."""
    return grouped_prefix_scan(
        df, keys, order_cols, value_col, new_col, prepinned=prepinned
    )


def _sample_range_bounds(ck, cols, n_buckets):
    """One-pass deterministic range-boundary sample over ``cols``.

    Each row is hashed ONCE (``xxhash64`` over the key/order struct —
    deterministic, so task retries cannot resample, SPARK-38388 class)
    and assigned to one of K hash sub-buckets per input partition; a
    single ``max_by`` per ``(partition, sub-bucket)`` group keeps the
    max-hash row as that group's sample and ``count`` keeps the group's
    exact row weight. The driver then takes count-weighted equal-depth
    quantiles, exactly the job ``RangePartitioner`` does with its
    reservoir — but the boundaries become plan LITERALS here, which is
    what makes the bucket id a deterministic column instead of an
    opaque physical partition id. (An earlier r14 revision ran K=20
    separate ``max_by(rs, xxhash64(rs, salt))`` aggregates — 20 full
    struct hashes per row through 20 ObjectHashAggregate buffers, which
    cost ~4.5 µs/row and tripled every row-ranked caller; the
    single-hash sub-bucket form is the same estimator at one hash +
    one hash-agg update per row.)

    Returns ``(total_rows, boundaries)`` where boundaries is a sorted,
    deduped list of at most ``n_buckets - 1`` tuples.
    """
    import math

    K = 20
    S = 16  # deterministic 1-in-S row pre-sample ahead of the agg
    rs = F.struct(*[F.col(c) for c in cols])
    h = F.xxhash64(rs)
    # Equal-depth quantile POSITIONS are invariant under uniform row
    # sampling, so a deterministic 1/S hash pre-filter cuts the
    # aggregate's update work S× without moving the estimator; group
    # counts below are therefore sample weights, not exact row counts.
    # P(zero samples | n rows) = (1-1/S)^n — negligible beyond a few
    # hundred rows; smaller inputs that sample empty just degenerate
    # to the single-slice path, which is the right plan for them
    # anyway.
    sampled = (
        ck.select(*cols)
        .where(F.pmod(F.xxhash64(rs, F.lit(11)), F.lit(S)) == 0)
        .groupBy(
            F.spark_partition_id().alias("__p"),
            F.pmod(h, F.lit(K)).alias("__b"),
        )
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.max_by(rs, h).alias("__s"),
        )
        .collect()
    )
    # sampled-row tally: callers use it only for "anything there?"
    total = sum(r["__n"] for r in sampled)

    def skey(t):
        # Spark sort order per field: NULL first, NaN last, value between
        out = []
        for v in t:
            if v is None:
                out.append((0, 0))
            elif isinstance(v, float) and math.isnan(v):
                out.append((2, 0))
            else:
                out.append((1, v))
        return tuple(out)

    weighted = []
    for r in sampled:
        if not r["__n"] or r["__s"] is None:
            continue
        # one sample per (partition, sub-bucket) group, carrying the
        # group's EXACT row count as its weight
        weighted.append((tuple(r["__s"]), float(r["__n"])))
    weighted.sort(key=lambda x: skey(x[0]))
    bounds = []
    if weighted and n_buckets > 1 and total:
        step = total / float(n_buckets)
        acc, target = 0.0, step
        for s, w in weighted:
            acc += w
            while acc >= target and len(bounds) < n_buckets - 1:
                bounds.append(s)
                target += step
    deduped = []
    for b in bounds:
        if not deduped or skey(b) != skey(deduped[-1]):
            deduped.append(b)
    return total, deduped


def _bucket_expr(bounds, fields, rs):
    """Bucket id = |{boundary <= row}| as a balanced binary-search
    ``when`` tree: log2(len(bounds)) struct comparisons per row. Spark
    struct comparison is a total order with NULL-first / NaN-last per
    field, matching the sampler's sort key."""
    blits = [
        F.struct(
            *[
                F.lit(v).cast(f.dataType).alias(f.name)
                for v, f in zip(b, fields)
            ]
        )
        for b in bounds
    ]

    def rank(lo, hi):
        if lo == hi:
            return F.lit(lo)
        mid = (lo + hi) // 2
        return F.when(blits[mid] <= rs, rank(mid + 1, hi)).otherwise(
            rank(lo, mid)
        )

    return rank(0, len(bounds)).cast("int")


def grouped_prefix_scan(
    df: DataFrame,
    keys,
    order_cols,
    value_col,
    new_col,
    fn="sum",
    inclusive: bool = True,
    prepinned: bool = False,
):
    """Per-key running aggregate (``sum`` / ``min`` / ``max``) of
    ``value_col`` in ``order_cols`` order, WITHOUT collapsing
    parallelism to the number of keys.
    ``value_col``/``new_col`` may be parallel lists to scan several
    columns in ONE range exchange + offsets pass (e.g. the positive and
    negative counts of a PR curve); ``fn`` may then be a parallel list
    too (e.g. a running min of one column and max of another for a
    CUSUM), or a single name applied to all. ``inclusive=False``
    computes the EXCLUSIVE scan (aggregate over strictly-preceding
    rows; NULL — or, for sum, NULL-as-identity via the same
    coalesce — on each key's first row), which is what
    interval-merging ("does this row overlap anything before it?")
    needs.

    ``Window.partitionBy(keys)`` puts each key's entire history in one
    task — correct for high-cardinality keys (users, documents), a
    bottleneck when keys are FEW (sources in a mixture, a global
    cumsum with zero keys). This is the standard two-pass distributed
    prefix scan instead: range-partition on (keys..., order...) so
    partition boundaries respect each key's order, scan within each
    range slice, then fold in per-(key, slice) offsets — an offsets
    table of at most #slices × #keys rows, broadcast back. All three
    aggregates are associative, so results are boundary-invariant and
    the output equals the single-window formulation row for row.

    Tie contract: rows equal on (keys..., order...) all land in the
    same slice (the bucket id is a deterministic expression over the
    row's key/order values), and within a slice the window may emit
    any tie order — one of the valid tie orders a plain window could
    also pick. Callers needing a deterministic row-level cumsum should
    include a unique tiebreak in ``order_cols``, exactly as they
    would with a window.

    ``prepinned=True`` promises the input frame is already
    materialized (checkpoint/pinned), so the machinery samples and
    branches it directly instead of pinning its own copy — callers
    that pin for other consumers anyway should pass it.

    Plan shape (r14): the slice id is computed as a deterministic
    range-bucket expression from sampled literal boundaries, then the
    frame is shuffled ONCE with ``repartition(B, pid)``. Because that
    exchange's HashPartitioning(pid) satisfies the window's and the
    offsets aggregate's ClusteredDistribution(pid, keys...), neither
    needs its own exchange — the previous formulation (opaque
    ``repartitionByRange`` + ``spark_partition_id``) forced a second
    full-data hash exchange for the window, because the planner cannot
    know a physical partition id clusters with physical partitions.
    """
    keys = [keys] if isinstance(keys, str) else list(keys)
    order_cols = (
        [order_cols] if isinstance(order_cols, str) else list(order_cols)
    )
    value_cols = [value_col] if isinstance(value_col, str) else list(value_col)
    new_cols = [new_col] if isinstance(new_col, str) else list(new_col)
    if len(value_cols) != len(new_cols):
        raise ValueError(
            "grouped_prefix_scan: value_col and new_col must pair up "
            f"({len(value_cols)} vs {len(new_cols)})"
        )
    fns = [fn] * len(value_cols) if isinstance(fn, str) else list(fn)
    if len(fns) != len(value_cols):
        raise ValueError(
            "grouped_prefix_scan: fn list must pair up with value_col "
            f"({len(fns)} vs {len(value_cols)})"
        )
    aggs = {"sum": F.sum, "min": F.min, "max": F.max}
    bad = [f for f in fns if f not in aggs]
    if bad:
        raise ValueError(f"grouped_prefix_scan: unsupported fn {bad}")
    parts = keys + order_cols
    # pin() materializes the INPUT once; the boundary sampler, the
    # bucketed exchange, and the offsets aggregate all read that one
    # copy (the old formulation evaluated the upstream twice — once
    # for repartitionByRange's hidden bounds-sampling pass, once for
    # the shuffle itself). The slice id is a deterministic expression
    # over sampled boundary LITERALS, so branch consistency no longer
    # depends on the pin — it is purely a cost saving now. The pin is
    # LAZY: the sampler's collect below is the action that
    # materializes the checkpoint, so the machinery schedules one job
    # for pin+sample instead of two (r14; same fold as HITS' totals).
    ck = df if prepinned else pin(df, eager=False)
    spark = ck.sparkSession
    try:
        n_buckets = int(spark.conf.get("spark.sql.shuffle.partitions"))
    except Exception:  # pragma: no cover - e.g. non-integer override
        n_buckets = 200
    # Boundary literals live in the plan, so their count is capped
    # independently of shuffle.partitions (a 100k-partition cluster
    # conf must not inline 100k struct literals). Overridable per
    # session for deployments that want wider scan parallelism.
    try:
        max_buckets = int(
            spark.conf.get("spark.getl.prefixScan.maxBuckets", "4096")
        )
    except Exception:  # pragma: no cover
        max_buckets = 4096
    total, bounds = _sample_range_bounds(
        ck, parts, min(n_buckets, max_buckets)
    )
    fields = ck.select(*parts).schema.fields
    rs = F.struct(*[F.col(c) for c in parts])
    # one slice when every sampled tuple is equal or the input is
    # empty: the scan degenerates to a single ordered task and the
    # offsets fold is moot (identical to the old degenerate case where
    # RangePartitioner saw all-equal samples)
    pid_expr = _bucket_expr(bounds, fields, rs) if bounds else F.lit(0)
    ranged = ck.withColumn("__gps_pid", pid_expr)
    win_local = (
        Window.partitionBy("__gps_pid", *keys)
        .orderBy(*[F.col(c).asc() for c in order_cols])
        .rowsBetween(
            Window.unboundedPreceding,
            Window.currentRow if inclusive else -1,
        )
    )
    # the ONLY full-data exchange: HashPartitioning(__gps_pid)
    # satisfies the window's ClusteredDistribution(__gps_pid, keys...),
    # so the window plans directly above this shuffle — the previous
    # formulation needed a second full-data hash exchange here because
    # spark_partition_id is opaque to the planner
    local = ranged.repartition(n_buckets, "__gps_pid").select(
        "*",
        *[
            aggs[f](v).over(win_local).alias(f"__gps_local_{i}")
            for i, (v, f) in enumerate(zip(value_cols, fns))
        ],
    )
    if not bounds:
        # single slice: no preceding-slice offsets exist; the local
        # scan IS the answer (an all-NULL offset is the identity for
        # sum/min/max in _combine below)
        out = local.select(
            "*",
            *[
                F.col(f"__gps_local_{i}").alias(nc)
                for i, nc in enumerate(new_cols)
            ],
        )
        return out.drop(
            "__gps_pid",
            *[f"__gps_local_{i}" for i in range(len(value_cols))],
        )
    # offset = the aggregate over all PRECEDING slices of the key
    # (NULL for a key's first slice). Aggregates straight off the pin:
    # map-side partial aggregation reduces to <= n_slices x n_keys
    # rows before its (tiny) exchange.
    win_off = (
        Window.partitionBy(*keys)
        .orderBy(F.col("__gps_pid").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        ranged.groupBy("__gps_pid", *keys)
        .agg(
            *[
                aggs[f](v).alias(f"__gps_t_{i}")
                for i, (v, f) in enumerate(zip(value_cols, fns))
            ]
        )
        .select(
            "__gps_pid",
            *keys,
            *[
                aggs[f](f"__gps_t_{i}")
                .over(win_off)
                .alias(f"__gps_off_{i}")
                for i, f in enumerate(fns)
            ],
        )
    )
    # null-safe key equality: a NULL group key is a real group (the
    # window formulation treats it as one partition); a name-list join
    # would silently drop its rows here
    l = local.alias("__gps_l")
    o = offsets.alias("__gps_o")
    cond = F.col("__gps_l.__gps_pid") == F.col("__gps_o.__gps_pid")
    for k in keys:
        cond = cond & F.col(f"__gps_l.{k}").eqNullSafe(F.col(f"__gps_o.{k}"))
    joined = l.join(F.broadcast(o), cond).select(
        *[F.col(f"__gps_l.{c}") for c in local.columns],
        *[
            F.col(f"__gps_o.__gps_off_{i}")
            for i in range(len(value_cols))
        ],
    )
    def _combine(i: int, f: str):
        loc, off = F.col(f"__gps_local_{i}"), F.col(f"__gps_off_{i}")
        if f == "sum":
            # NULL folds as the identity on either side, but a row
            # with NOTHING aggregated (empty exclusive frame on the
            # first slice, or all-NULL values so far) stays NULL —
            # exactly the window formulation's sum-over-empty/null
            return F.when(
                loc.isNull() & off.isNull(), F.lit(None)
            ).otherwise(
                F.coalesce(loc, F.lit(0)) + F.coalesce(off, F.lit(0))
            )
        # least/greatest skip NULLs, folding the first slice correctly
        return F.least(loc, off) if f == "min" else F.greatest(loc, off)

    out = joined.select(
        "*",
        *[
            _combine(i, f).alias(nc)
            for i, (nc, f) in enumerate(zip(new_cols, fns))
        ],
    )
    return out.drop(
        "__gps_pid",
        *[f"__gps_local_{i}" for i in range(len(value_cols))],
        *[f"__gps_off_{i}" for i in range(len(value_cols))],
    )


def keys_of(group_by) -> list:
    """Group-key list of a ``group_by`` argument: None (no keys), one
    column name, or a list/tuple of names."""
    if group_by is None:
        return []
    return [group_by] if isinstance(group_by, str) else list(group_by)


def join_on_keys(rows: DataFrame, per_group: DataFrame, keys) -> DataFrame:
    """Attach a per-group table (one row per ``keys`` value) to
    ``rows`` on the group keys, NULL-safe: a NULL group key is a real
    group, which a name-list join would drop. ``per_group``'s key
    columns are renamed first so the join never has two same-named
    columns (both sides often share lineage), and dropped after it.
    With no keys ``per_group`` is one row, attached by broadcast."""
    if not keys:
        return rows.join(F.broadcast(per_group))
    renamed = per_group.select(
        *[
            F.col(c).alias(f"__jk_{c}") if c in keys else F.col(c)
            for c in per_group.columns
        ]
    )
    cond = F.lit(True)
    for k in keys:
        cond = cond & F.col(k).eqNullSafe(F.col(f"__jk_{k}"))
    return rows.join(renamed, cond).drop(*[f"__jk_{k}" for k in keys])


def value_ranks(
    counts: DataFrame, keys, value_col, n_col, prepinned: bool = False
) -> DataFrame:
    """Exact per-group midranks over a pre-aggregated
    ``(keys..., value_col, n_col)`` counts table (one row per distinct
    value and its row count). Adds ``__cum``, the rows at or below the
    value (the distributed prefix sum of ``n_col`` in value order),
    and ``__rank``, the average rank of the value's tied rows,
    ``cum − n + (n + 1)/2``. ``prepinned`` is passed to
    :func:`grouped_prefix_sum`."""
    cum = grouped_prefix_sum(
        counts, keys, [value_col], n_col, "__cum", prepinned=prepinned
    )
    return cum.withColumn(
        "__rank",
        (F.col("__cum") - F.col(n_col)).cast("double")
        + (F.col(n_col) + 1) / F.lit(2.0),
    )


def binary_label(y, message: str):
    """``y`` (a 0/1 label Column) with a guard that fails the query
    with ``message`` on any value outside {0, 1}. The guard rides the
    value itself, so it fires for every row that reaches the
    expression, before any aggregate can drop the row. Filter NULL
    labels out first: ``assert_true`` also fails on a NULL label."""
    guard = F.assert_true(y.isin(0, 1), F.lit(message))
    return y + F.coalesce(guard.cast("bigint"), F.lit(0))


def local_df(spark, rows, schema):
    """Small LOCAL DataFrame (meta tables, centroid/model frames,
    seed lists — tens to thousands of rows) built with ONE input
    partition instead of ``createDataFrame``'s default
    ``defaultParallelism`` slices.

    Why: classic ``spark.createDataFrame(list, schema)`` parallelizes
    the rows into ``defaultParallelism`` (e.g. 32) slices, each served
    by its own Python-worker partition. Any downstream single-task
    consumer — ``coalesce(1)`` before a meta write, a broadcast build,
    a ``first()`` — then pays the per-partition Python channel setup
    ~32× SERIALLY: measured 5-6 s steady-state for a 1-row
    ``meta.coalesce(1).write`` at local[32] vs 0.4 s through this
    helper (r13). One slice is the right shape for every local frame
    this engine builds (they are model/dimension-sized by contract);
    rows beyond ~10k get one extra slice per 10k so a large literal
    list still parallelizes.

    Falls back to plain ``createDataFrame`` under Spark Connect
    (no SparkContext there; Connect ships local data as a single
    Arrow relation already).
    """
    rows = list(rows)
    if not rows:
        return spark.createDataFrame([], schema)
    try:
        sc = spark.sparkContext
    except Exception:  # pragma: no cover - Spark Connect
        return spark.createDataFrame(rows, schema)
    return spark.createDataFrame(
        sc.parallelize(rows, 1 + len(rows) // 10000), schema
    )


def run_concurrent(*thunks):
    """Run independent driver-side write/action thunks as overlapping
    Spark jobs (guide-§2.6 pattern: actions are only sequential because
    driver code calls them sequentially; a small pool lets the next
    job's tasks back-fill executors freed by the current job's tail).

    Used by the index build/merge operators whose table writes are
    mutually independent (meta / fingerprints / signatures / bands,
    centroids / vectors). Exceptions propagate — the first failing
    thunk's error is re-raised after all complete, so a failed write
    can never be silently skipped. Returns the thunks' results in
    order.

    Thunks are wrapped with ``pyspark.inheritable_thread_target`` so
    the caller's SparkContext local properties (job group/description,
    scheduler pool, tags) propagate into the pool threads — without
    it, job-group cancellation and pool assignment silently miss the
    overlapped jobs (they are thread-local in the JVM).
    """
    from concurrent.futures import ThreadPoolExecutor

    if len(thunks) == 1:
        return [thunks[0]()]
    try:
        from pyspark import inheritable_thread_target

        thunks = [inheritable_thread_target(t) for t in thunks]
    except Exception:  # pragma: no cover - Connect builds want a session arg
        pass
    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        return [f.result() for f in futures]
