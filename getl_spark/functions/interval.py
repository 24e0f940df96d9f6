"""Bucketized interval (range) join.

"Which interval(s) contain this point" — sessionization, event-in-
maintenance-window tagging, IP-range lookups. Naive SQL is an
inequality join: Spark plans it as BroadcastNestedLoopJoin (or worse, a
cartesian product) whose cost is |points| × |intervals| — the classic
range-join blow-up at scale.

The scale path here is binning (the same strategy as Databricks' range
join optimization, public docs): intervals explode to the fixed-width
buckets they cover, points map to exactly one bucket, and the join
becomes an *equi-join* on (keys…, bucket) followed by an exact
containment filter. Each (point, interval) pair meets in precisely one
bucket — the point's — so no dedup is needed. Cost:
|intervals| × avg-interval-width/bucket_width explosion on the small
side, hash join on the rest; pick ``bucket_width`` near the median
interval length.

YAML-callable as ``interval.join`` (two-input ``transform::generic``)
or through any custom block.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, functions as F

from getl_spark.common.scale import grouped_prefix_scan, keys_of, pin

_CLOSED = {"both", "left", "right", "neither"}


def join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    start_col: str,
    end_col: str,
    bucket_width: Union[int, float],
    on: Optional[Union[str, Sequence[str]]] = None,
    closed: str = "both",
    suffix: str = "_iv",
    join_on: Optional[Union[str, Sequence[str]]] = None,
) -> DataFrame:
    """Inner-join each point row to every interval row containing it
    (``closed`` picks boundary inclusivity), optionally also matching
    key columns ``on``. Numeric point/start/end columns (cast
    timestamps to epoch first — keeps bucket arithmetic exact).

    Output: all point columns, then interval columns (``suffix`` added
    on name collisions).
    """
    if closed not in _CLOSED:
        raise ValueError(f"closed must be one of {sorted(_CLOSED)}")
    if bucket_width <= 0:
        raise ValueError("bucket_width must be positive")
    # YAML-safe alias (bare `on:` parses as boolean True in YAML 1.1)
    on = on if on is not None else join_on
    keys = [on] if isinstance(on, str) else list(on or [])

    bw = F.lit(bucket_width)
    pt = points.withColumn("__bucket", F.floor(F.col(point_col) / bw))
    # malformed start>end intervals can never match, but Spark's
    # sequence() would silently emit a DESCENDING bucket range for them
    # — drop them before the explode
    intervals = intervals.where(F.col(start_col) <= F.col(end_col))
    iv = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.floor(F.col(start_col) / bw), F.floor(F.col(end_col) / bw)
            )
        ),
    )

    lo = (
        F.col(f"__iv.{start_col}") <= F.col(f"__pt.{point_col}")
        if closed in ("both", "left")
        else F.col(f"__iv.{start_col}") < F.col(f"__pt.{point_col}")
    )
    hi = (
        F.col(f"__pt.{point_col}") <= F.col(f"__iv.{end_col}")
        if closed in ("both", "right")
        else F.col(f"__pt.{point_col}") < F.col(f"__iv.{end_col}")
    )
    cond = F.col("__pt.__bucket") == F.col("__iv.__bucket")
    for k in keys:
        cond = cond & (F.col(f"__pt.{k}") == F.col(f"__iv.{k}"))

    joined = pt.alias("__pt").join(iv.alias("__iv"), cond & lo & hi, "inner")

    point_cols = [c for c in points.columns]
    out = [F.col(f"__pt.{c}").alias(c) for c in point_cols]
    for c in intervals.columns:
        if c in keys:
            continue
        name = c + suffix if c in point_cols else c
        out.append(F.col(f"__iv.{c}").alias(name))
    return joined.select(*out)


def overlap_join(
    left: DataFrame,
    right: DataFrame,
    start_col: str,
    end_col: str,
    bucket_width: Union[int, float],
    right_start: Optional[str] = None,
    right_end: Optional[str] = None,
    on: Optional[Union[str, Sequence[str]]] = None,
    closed: str = "both",
    suffix: str = "_right",
    join_on: Optional[Union[str, Sequence[str]]] = None,
) -> DataFrame:
    """Interval × interval overlap join — every (left, right) pair
    whose ranges intersect (log spans × maintenance windows, genomic
    ranges, session × incident correlation). ``closed='both'`` counts
    touching endpoints as overlap; ``'neither'`` requires
    positive-measure overlap. Right-side columns default to the same
    names as the left's.

    Same binning strategy as ``join``, with the overlap twist: both
    sides explode to covered buckets, so an overlapping pair would
    meet in EVERY shared bucket — each pair is therefore emitted only
    in its canonical bucket (the bucket of the later start), which
    keeps exactly one copy with no distinct pass. Cost: width/bucket
    explosion on both sides, then a hash equi-join — never a
    BroadcastNestedLoopJoin.
    """
    if closed not in ("both", "neither"):
        raise ValueError("overlap_join: closed must be 'both' or 'neither'")
    if bucket_width <= 0:
        raise ValueError("overlap_join: bucket_width must be positive")
    on = on if on is not None else join_on
    keys = [on] if isinstance(on, str) else list(on or [])
    rs = right_start or start_col
    re_ = right_end or end_col

    bw = F.lit(bucket_width)

    def exploded(df, s, e):
        return df.where(F.col(s) <= F.col(e)).withColumn(
            "__bucket",
            F.explode(
                F.sequence(F.floor(F.col(s) / bw), F.floor(F.col(e) / bw))
            ),
        )

    l = exploded(left, start_col, end_col).alias("__l")
    r = exploded(right, rs, re_).alias("__r")

    cond = F.col("__l.__bucket") == F.col("__r.__bucket")
    for k in keys:
        cond = cond & (F.col(f"__l.{k}") == F.col(f"__r.{k}"))
    # canonical bucket: the later interval start's bucket — the first
    # bucket the pair shares, so the pair survives exactly once
    canonical = F.col("__l.__bucket") == F.greatest(
        F.floor(F.col(f"__l.{start_col}") / bw),
        F.floor(F.col(f"__r.{rs}") / bw),
    )
    if closed == "both":
        overlap = (F.col(f"__l.{start_col}") <= F.col(f"__r.{re_}")) & (
            F.col(f"__r.{rs}") <= F.col(f"__l.{end_col}")
        )
    else:
        overlap = (F.col(f"__l.{start_col}") < F.col(f"__r.{re_}")) & (
            F.col(f"__r.{rs}") < F.col(f"__l.{end_col}")
        )

    joined = l.join(r, cond & canonical & overlap, "inner")
    left_cols = list(left.columns)
    out = [F.col(f"__l.{c}").alias(c) for c in left_cols]
    for c in right.columns:
        if c in keys:
            continue
        name = c + suffix if c in left_cols else c
        out.append(F.col(f"__r.{c}").alias(name))
    return joined.select(*out)


def merge(
    df: DataFrame,
    start_col: str,
    end_col: str,
    group_by=None,
    min_gap: float = 0.0,
) -> DataFrame:
    """Merge overlapping (or near-touching) intervals into maximal
    islands per key — availability windows from raw uptime pings, user
    activity spans from event bursts, maintenance blackouts from
    per-system tickets. Two intervals belong to one island when the
    later one starts within ``min_gap`` of the running maximum end
    (0 = touch/overlap merges, a positive gap also bridges small
    holes). Output: one row per island ``(group..., island, start,
    end, n_intervals)`` with ``island`` numbered 1..k in time order.

    The textbook sequential sweep is a per-key scan — a
    ``Window.partitionBy(key)`` would collapse a few-key workload
    (one system, one global availability timeline) to #keys tasks.
    Instead this is two distributed prefix scans: an EXCLUSIVE
    running MAX of end (in start order) marks island breaks
    (``start > prev_max_end + min_gap``), and an inclusive running
    SUM of the break flags numbers the islands; a keyed aggregate
    folds each island. Exact, boundary-invariant, no sequential pass.
    Intervals with NULL endpoints are excluded; ``end < start`` rows
    are rejected loudly.
    """
    keys = keys_of(group_by)
    s = F.col(start_col).cast("double")
    e = F.col(end_col).cast("double")
    guard = F.assert_true(
        e >= s, F.lit("interval.merge: end must be >= start")
    )
    base = df.where(s.isNotNull() & e.isNotNull()).select(
        *keys,
        s.alias("__s"),
        (e + F.coalesce(guard.cast("double"), F.lit(0.0))).alias("__e"),
    )
    order = ["__s", "__e"]
    prev = grouped_prefix_scan(
        base, keys, order, "__e", "__prev_end", fn="max", inclusive=False
    )
    flagged = prev.select(
        *keys,
        "__s",
        "__e",
        F.when(
            F.col("__prev_end").isNull()
            | (F.col("__s") > F.col("__prev_end") + F.lit(float(min_gap))),
            1,
        )
        .otherwise(0)
        .alias("__brk"),
    )
    numbered = grouped_prefix_scan(
        flagged, keys, order, "__brk", "__island"
    )
    return (
        numbered.groupBy(*keys, F.col("__island").cast("bigint").alias("island"))
        .agg(
            F.min("__s").alias("start"),
            F.max("__e").alias("end"),
            F.count("*").cast("bigint").alias("n_intervals"),
        )
    )


def coverage(
    df: DataFrame,
    start_col: str,
    end_col: str,
    group_by=None,
    min_gap: float = 0.0,
    round_to: int = 6,
) -> DataFrame:
    """Total length actually covered by a set of intervals per key
    (double-counted overlaps collapsed) plus gap statistics — the
    one-row availability/SLA summary on top of ``merge``. Output:
    ``(group..., n_intervals, n_islands, covered, span, largest_gap)``
    where ``span`` is last end − first start and ``largest_gap`` the
    widest uncovered hole between islands (NULL when one island).
    """
    # pinned: the prefix scan's repartitionByRange samples its child
    # in an extra pass, so an unpinned islands frame re-runs the WHOLE
    # merge machinery (its own range exchange, pin and offsets join)
    # twice (r13); islands is merged-interval-sized, ≤ input rows
    islands = pin(merge(df, start_col, end_col, group_by, min_gap))
    keys = keys_of(group_by)
    prev_end = grouped_prefix_scan(
        islands, keys, ["island"], "end", "__prev_end",
        fn="max", inclusive=False, prepinned=True,
    )
    with_gap = prev_end.select(
        *keys,
        "island",
        "start",
        "end",
        "n_intervals",
        (F.col("start") - F.col("__prev_end")).alias("__gap"),
    )
    return with_gap.groupBy(*keys).agg(
        F.sum("n_intervals").cast("bigint").alias("n_intervals"),
        F.count("*").cast("bigint").alias("n_islands"),
        F.round(F.sum(F.col("end") - F.col("start")), round_to).alias(
            "covered"
        ),
        F.round(F.max("end") - F.min("start"), round_to).alias("span"),
        F.round(F.max("__gap"), round_to).alias("largest_gap"),
    )


def gaps(
    df: DataFrame,
    start_col: str,
    end_col: str,
    group_by=None,
    min_gap: float = 0.0,
    horizon_start: float | None = None,
    horizon_end: float | None = None,
    round_to: int = 6,
) -> DataFrame:
    """The complement of ``merge``: the HOLES in coverage, one row per
    uncovered stretch per key — monitoring blackouts between uptime
    pings, un-crawled date ranges in an ingest ledger, silence windows
    in a session stream. ``coverage`` answers "how much is missing?"
    in one row; this names every missing stretch so a backfill job
    can iterate over the output directly.

    Intervals are first consolidated into islands (``merge``
    semantics, including ``min_gap`` bridging — a bridged hole is not
    a gap); each pair of consecutive islands then emits
    ``(group..., start, end, duration)`` for the open stretch between
    them. With ``horizon_start``/``horizon_end`` set, the uncovered
    stretch before the first island and/or after the last one is also
    emitted — a feed whose coverage simply stops early is missing
    data, even though no pair of islands brackets the hole. Horizon
    bounds clip nothing: they only add the two edge gaps when the
    data does not reach them. Gaps are ordered by ``start`` within a
    group (derivable, not materialized — no extra numbering pass).

    Scale shape: ``merge``'s two prefix scans + one more EXCLUSIVE
    running-max scan over the ISLAND table (already ≤ islands rows,
    not input rows) for the previous-end column; the trailing-edge
    gap folds from a per-group 1-row aggregate. No windows over raw
    rows, no per-group buffering.
    """
    # pinned: same reason as coverage() — an unpinned islands frame
    # re-runs the whole merge machinery for the range-bounds sample
    islands = pin(merge(df, start_col, end_col, group_by, min_gap))
    keys = keys_of(group_by)
    prev_end = grouped_prefix_scan(
        islands, keys, ["island"], "end", "__prev_end",
        fn="max", inclusive=False, prepinned=True,
    )
    # internal gaps; with a horizon, the first island's NULL prev_end
    # becomes the horizon edge
    lead = (
        F.col("__prev_end")
        if horizon_start is None
        else F.coalesce(F.col("__prev_end"), F.lit(float(horizon_start)))
    )
    internal = prev_end.select(
        *keys,
        lead.alias("__gs"),
        F.col("start").alias("__ge"),
    ).where(F.col("__gs").isNotNull() & (F.col("__gs") < F.col("__ge")))
    out = internal
    if horizon_end is not None:
        trailing = (
            islands.groupBy(*keys)
            .agg(F.max("end").alias("__gs"))
            .select(*keys, "__gs", F.lit(float(horizon_end)).alias("__ge"))
            .where(F.col("__gs") < F.col("__ge"))
        )
        out = out.unionByName(trailing)
    return out.select(
        *keys,
        F.round("__gs", round_to).alias("start"),
        F.round("__ge", round_to).alias("end"),
        F.round(F.col("__ge") - F.col("__gs"), round_to).alias("duration"),
    )
