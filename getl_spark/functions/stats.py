"""Dataset profiling — the pre-flight scan before a big pipeline run.

YAML-callable as ``stats.<name>`` inside ``transform::generic``.
"""

from __future__ import annotations

import math
from typing import List, Optional

from pyspark.sql import DataFrame, Window, functions as F

from getl_spark.common.scale import (
    binary_label,
    grouped_prefix_scan,
    grouped_prefix_sum,
    join_on_keys,
    keys_of,
    local_df,
    parallelize,
    pin,
    value_ranks,
)


def profile(df: DataFrame, columns: Optional[List[str]] = None) -> DataFrame:
    """Per-column profile: ``(column, n_rows, n_null, n_distinct)``.

    Catching a null-riddled or constant column here costs one scan;
    catching it after a three-hour join cascade costs the cascade.

    Shape: columns are stacked into (name, value-as-string) rows — one
    ``explode``, row growth × n_columns — then one partial-aggregated
    shuffle on the column name (k distinct keys, so the reduce side is
    k rows regardless of input size). Exact distinct counts; for
    quick-look profiling of very wide/huge tables use
    ``sketch.distinct_sketch`` per column instead (mergeable, no
    row-multiplication).
    """
    cols = columns or df.columns
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"profile: columns not in DataFrame: {missing}")
    stacked = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"),
                        F.col(c).cast("string").alias("value"),
                    )
                    for c in cols
                ]
            )
        ).alias("s")
    ).select("s.*")
    return stacked.groupBy("column").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").isNull().cast("long")).alias("n_null"),
        F.count_distinct("value").alias("n_distinct"),
    )


def correlations(
    df: DataFrame,
    columns: List[str],
    method: str = "pearson",
) -> DataFrame:
    """Pairwise correlation matrix over numeric columns, computed in
    ONE aggregate pass: ``(col_a, col_b, corr)`` for every unordered
    pair, ``col_a < col_b``. The standard pre-training feature sanity
    check (finding redundant or leaking signals) without k² scans —
    ``F.corr`` aggregates are all map-side partial, so the reduce side
    is a single row regardless of input size.
    """
    if method != "pearson":
        raise ValueError("correlations: only pearson is implemented")
    if len(columns) < 2:
        raise ValueError("correlations: need at least two columns")
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"correlations: columns not in DataFrame: {missing}")
    pairs = [
        (a, b) for i, a in enumerate(columns) for b in columns[i + 1 :]
    ]
    row = df.agg(
        *[F.corr(a, b).alias(f"__c{i}") for i, (a, b) in enumerate(pairs)]
    )
    stacked = row.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("col_a"),
                        F.lit(b).alias("col_b"),
                        F.round(F.col(f"__c{i}"), 6).alias("corr"),
                    )
                    for i, (a, b) in enumerate(pairs)
                ]
            )
        ).alias("p")
    )
    return stacked.select("p.col_a", "p.col_b", "p.corr")


def histogram(
    df: DataFrame,
    column: str,
    bins: int = 10,
) -> DataFrame:
    """Equi-width histogram of a numeric column:
    ``(bucket, lo, hi, n)`` for ``bins`` buckets spanning [min, max]
    (max-valued rows land in the last bucket; NULLs excluded). One
    aggregate for the bounds (1-row broadcast) + one keyed count —
    profiling cost is two scans of one column regardless of table
    width.
    """
    if bins < 1:
        raise ValueError("histogram: bins must be >= 1")
    bounds = df.agg(
        F.min(F.col(column).cast("double")).alias("__lo"),
        F.max(F.col(column).cast("double")).alias("__hi"),
    )
    width = (F.col("__hi") - F.col("__lo")) / F.lit(float(bins))
    bucket = F.when(F.col("__hi") == F.col("__lo"), F.lit(0)).otherwise(
        F.least(
            F.floor((F.col(column).cast("double") - F.col("__lo")) / width).cast(
                "int"
            ),
            F.lit(bins - 1),
        )
    )
    return (
        df.where(F.col(column).isNotNull())
        .crossJoin(F.broadcast(bounds))
        .select(
            bucket.alias("bucket"),
            (F.col("__lo") + bucket * width).alias("lo"),
            (F.col("__lo") + (bucket + 1) * width).alias("hi"),
        )
        .groupBy("bucket", "lo", "hi")
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            F.round("lo", 6).alias("lo"),
            F.round("hi", 6).alias("hi"),
            F.col("n").cast("bigint").alias("n"),
        )
        .orderBy("bucket")
    )


def table_diff(
    left: DataFrame,
    right: DataFrame,
    keys: List[str],
    compare_cols: Optional[List[str]] = None,
) -> DataFrame:
    """Keyed reconciliation of two table versions — the migration /
    backfill validation primitive: for every key in either side,
    ``status`` ∈ ``added`` (right only), ``removed`` (left only),
    ``changed`` (both, some compared column differs), ``unchanged``.

    ``compare_cols`` defaults to the non-key columns present in BOTH
    schemas. Comparison is null-safe (NULL == NULL). One full outer
    equi-join on the keys — sort-merge at scale, broadcast when one
    side is small; aggregate the result for a summary, or filter
    ``status != 'unchanged'`` for the discrepancy list.

    YAML-callable inside ``transform::generic`` with
    ``Input: [Left, Right]`` as ``stats.table_diff``.
    """
    if not keys:
        raise ValueError("table_diff: need at least one key column")
    if compare_cols is None:
        compare_cols = [
            c for c in left.columns if c not in keys and c in right.columns
        ]
    # presence is detected via literal marker columns, NOT key
    # nullability — the join is eqNullSafe, so NULL keys are legal and
    # a NULL-keyed match must still read as present on both sides
    lhs = left.select(
        *[F.col(k).alias(f"__lk_{k}") for k in keys],
        *[F.col(c).alias(f"__l_{c}") for c in compare_cols],
        F.lit(True).alias("__in_l"),
    )
    rhs = right.select(
        *[F.col(k).alias(f"__rk_{k}") for k in keys],
        *[F.col(c).alias(f"__r_{c}") for c in compare_cols],
        F.lit(True).alias("__in_r"),
    )
    cond = None
    for k in keys:
        eq = F.col(f"__lk_{k}").eqNullSafe(F.col(f"__rk_{k}"))
        cond = eq if cond is None else cond & eq
    in_left = F.col("__in_l").isNotNull()
    in_right = F.col("__in_r").isNotNull()
    same = F.lit(True)
    for c in compare_cols:
        same = same & F.col(f"__l_{c}").eqNullSafe(F.col(f"__r_{c}"))
    status = (
        F.when(~in_right, F.lit("removed"))
        .when(~in_left, F.lit("added"))
        .when(same, F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        lhs.join(rhs, cond, "full_outer")
        .select(
            *[
                F.coalesce(F.col(f"__lk_{k}"), F.col(f"__rk_{k}")).alias(k)
                for k in keys
            ],
            status.alias("status"),
        )
    )


def ks_drift(
    left: DataFrame,
    right: DataFrame,
    column: str,
    bins: Optional[int] = None,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov drift statistic between the same
    numeric column in two table versions (yesterday's load vs today's,
    reference vs candidate pipeline): one row
    ``(ks_stat, n_left, n_right)`` where ``ks_stat`` = max |F_L - F_R|
    over the empirical CDFs. The distribution-drift gate for pipeline
    monitoring - alert when ks_stat exceeds a threshold.

    Plan: each side aggregates to per-value counts first (shuffle
    bytes proportional to DISTINCT values, not rows), the running CDFs
    are a DISTRIBUTED prefix sum — range-partition the distinct values
    so partition boundaries respect the global order, cumsum within
    each slice, add each slice's broadcast running offset — so no
    stage ever funnels the value set through one partition, and the
    totals attach as a broadcast 1-row aggregate. ``bins`` still
    quantizes continuous high-cardinality columns into equal-width
    buckets first (the KS stat then lower-bounds the exact one,
    resolution 1/bins — the standard binned-ECDF tradeoff) when even
    the distinct-value shuffle is worth capping. Tie-safe: the CDF is
    evaluated after all rows of each distinct value.
    """
    if round_to < 0:
        raise ValueError("ks_drift: round_to must be >= 0")
    if bins is not None and bins < 2:
        raise ValueError("ks_drift: bins must be >= 2")
    lv = left.where(F.col(column).isNotNull()).select(
        F.col(column).cast("double").alias("v")
    )
    rv = right.where(F.col(column).isNotNull()).select(
        F.col(column).cast("double").alias("v")
    )
    if bins is not None:
        both = lv.unionByName(rv)
        bounds = both.agg(
            F.min("v").alias("lo"), F.max("v").alias("hi")
        )
        width = (F.col("hi") - F.col("lo")) / F.lit(bins)
        # width-0 (constant column) → try_divide is NULL; coalesce to
        # bin 0 BEFORE the least() — least() skips NULLs, so a
        # coalesce outside it would be dead code and degenerate rows
        # would land in the TOP bin instead of the documented bin 0
        lv = lv.crossJoin(F.broadcast(bounds)).select(
            F.least(
                F.coalesce(
                    F.floor(
                        F.try_divide(F.col("v") - F.col("lo"), width)
                    ),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            ).alias("v")
        )
        rv = rv.crossJoin(F.broadcast(bounds)).select(
            F.least(
                F.coalesce(
                    F.floor(
                        F.try_divide(F.col("v") - F.col("lo"), width)
                    ),
                    F.lit(0),
                ),
                F.lit(bins - 1),
            ).alias("v")
        )
    l_counts = lv.groupBy("v").agg(F.count("*").alias("cl")).withColumn(
        "cr", F.lit(0).cast("bigint")
    )
    r_counts = rv.groupBy("v").agg(F.count("*").alias("cr")).withColumn(
        "cl", F.lit(0).cast("bigint")
    )
    merged = (
        l_counts.select("v", "cl", "cr")
        .unionByName(r_counts.select("v", "cl", "cr"))
        .groupBy("v")
        .agg(F.sum("cl").alias("cl"), F.sum("cr").alias("cr"))
    )
    # distributed prefix sum over the distinct values — the naive
    # Window.orderBy("v") funnels every distinct value through ONE
    # partition (WindowExec warns, and at 10⁹ distincts it's the
    # bottleneck). Standard two-pass shape instead: range-partition by
    # v so partition boundaries respect the global order, cumsum
    # WITHIN each range slice, then add each slice's running offset
    # (a partition-count-sized table, broadcast). Final rl/rr values
    # are boundary-invariant, so the result is identical to the
    # single-partition plan.
    # pin() materializes the exchange + pid tagging before the plan
    # branches into `local` and `offsets` — both must see identical
    # partition ids (see common/scale.py grouped_prefix_sum); the
    # pinned frame is the post-agg counts table, so it is small
    ranged = (
        merged.repartitionByRange(F.col("v"))
        .withColumn("pid", F.spark_partition_id())
        .transform(pin)
    )
    win_local = Window.partitionBy("pid").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    local = ranged.select(
        "pid",
        "v",
        F.sum("cl").over(win_local).alias("ll"),
        F.sum("cr").over(win_local).alias("lr"),
    )
    # per-slice totals → exclusive running offsets; #slices rows only,
    # so the ordered pass over THEM is trivially small
    win_off = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    offsets = (
        ranged.groupBy("pid")
        .agg(F.sum("cl").alias("tl"), F.sum("cr").alias("tr"))
        .select(
            "pid",
            (F.sum("tl").over(win_off) - F.col("tl")).alias("ol"),
            (F.sum("tr").over(win_off) - F.col("tr")).alias("or_"),
        )
    )
    cdf = local.join(F.broadcast(offsets), "pid").select(
        (F.col("ll") + F.col("ol")).alias("rl"),
        (F.col("lr") + F.col("or_")).alias("rr"),
    )
    totals = merged.agg(
        F.sum("cl").alias("nl"), F.sum("cr").alias("nr")
    )
    out = (
        cdf.crossJoin(F.broadcast(totals))
        .agg(
            F.round(
                F.max(
                    F.abs(
                        F.try_divide(F.col("rl"), F.col("nl"))
                        - F.try_divide(F.col("rr"), F.col("nr"))
                    )
                ),
                round_to,
            ).alias("ks_stat"),
            F.max("nl").alias("n_left"),
            F.max("nr").alias("n_right"),
        )
    )
    # fail LOUD if a side has no non-null values: the NULL that a 0/0
    # division would produce makes `ks_stat > threshold` silently False
    # — the exact situation a drift monitor exists to catch
    guard = F.assert_true(
        (F.col("n_left") > 0) & (F.col("n_right") > 0),
        F.lit("ks_drift: an input side has no non-null values"),
    )
    return out.select(
        F.when(guard.isNull(), F.col("ks_stat")).alias("ks_stat"),
        "n_left",
        "n_right",
    )


def psi(
    left: DataFrame,
    right: DataFrame,
    column: str,
    bins: int = 10,
    epsilon: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Population Stability Index between the same numeric column in
    two table versions — the industry-standard drift score alongside
    ``ks_drift``: equal-width bins over the combined range, then
    ``Σ (p_L − p_R)·ln(p_L/p_R)`` with ``epsilon``-smoothed bin shares
    (empty bins would make the log blow up). Rule of thumb: <0.1
    stable, 0.1–0.25 moderate shift, >0.25 investigate.

    One row ``(psi, n_left, n_right)``. Plan: a 1-row bounds broadcast,
    per-side keyed bin counts (shuffle ∝ bins), one ≤bins-row reduce —
    strictly cheaper than ``ks_drift`` and insensitive to distinct-value
    cardinality, at the cost of binning resolution.
    """
    if bins < 2:
        raise ValueError("psi: bins must be >= 2")
    lv = left.where(F.col(column).isNotNull()).select(
        F.col(column).cast("double").alias("v")
    )
    rv = right.where(F.col(column).isNotNull()).select(
        F.col(column).cast("double").alias("v")
    )
    bounds = lv.unionByName(rv).agg(
        F.min("v").alias("lo"), F.max("v").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(bins)
    # try_divide: an all-constant column has width 0, which under ANSI
    # would raise DIVIDE_BY_ZERO; the coalesce runs BEFORE the least()
    # (least skips NULLs — outside it the coalesce would be dead code)
    # so width-0 rows genuinely land in bin 0, scoring 0 when both
    # sides hold the same value
    bucket = F.least(
        F.coalesce(
            F.floor(
                F.try_divide(F.col("v") - F.col("lo"), width)
            ).cast("int"),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    lb = (
        lv.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("b"))
        .agg(F.count("*").alias("cl"))
    )
    rb = (
        rv.crossJoin(F.broadcast(bounds))
        .groupBy(bucket.alias("b"))
        .agg(F.count("*").alias("cr"))
    )
    merged = (
        lb.join(rb, "b", "full_outer")
        .select(
            F.coalesce("cl", F.lit(0)).alias("cl"),
            F.coalesce("cr", F.lit(0)).alias("cr"),
        )
    )
    totals = merged.agg(F.sum("cl").alias("nl"), F.sum("cr").alias("nr"))
    pl = F.try_divide(F.col("cl"), F.col("nl")) + F.lit(epsilon)
    pr = F.try_divide(F.col("cr"), F.col("nr")) + F.lit(epsilon)
    term = (
        merged.crossJoin(F.broadcast(totals))
        .select(
            (pl - pr).alias("diff"),
            F.log(pl / pr).alias("lr"),
            F.col("nl"),
            F.col("nr"),
        )
    )
    out = term.agg(
        F.round(F.sum(F.col("diff") * F.col("lr")), round_to).alias("psi"),
        F.max("nl").alias("n_left"),
        F.max("nr").alias("n_right"),
    )
    # same fail-loud contract as ks_drift: an empty side must raise,
    # not return a NULL a threshold check silently ignores
    guard = F.assert_true(
        (F.col("n_left") > 0) & (F.col("n_right") > 0),
        F.lit("psi: an input side has no non-null values"),
    )
    return out.select(
        F.when(guard.isNull(), F.col("psi")).alias("psi"),
        "n_left",
        "n_right",
    )


def group_psi(
    left: DataFrame,
    right: DataFrame,
    column: str,
    group_col: str,
    bins: int = 10,
    epsilon: float = 1e-6,
    round_to: int = 6,
) -> DataFrame:
    """Per-group Population Stability Index in ONE pass — the
    monitoring table for "which source/language/shard drifted":
    ``psi`` computed independently per ``group_col`` value with each
    group's own equal-width bins over its combined range. A global PSI
    averages drift away (one exploding source hides inside a stable
    corpus); per-group keeps the blast radius visible.

    Returns one row per group: ``(group_col, psi, n_left, n_right)``.
    Groups present on only ONE side get ``psi = NULL`` with their
    counts visible (a new or vanished source IS drift — surface it,
    don't average or crash the whole report); rows with a NULL group
    or NULL value are excluded, like the global op excludes NULL
    values.

    Plan shape at 100 TB: keyed partial-agg bounds (reduce side =
    #groups), per-side keyed (group, bin) counts (reduce side =
    #groups·bins), per-group folds — no windows, no driver actions,
    parallelism never collapses to the group count because every
    shuffle is a partial agg.
    """
    if bins < 2:
        raise ValueError("group_psi: bins must be >= 2")

    def side(df_, cname):
        return df_.where(
            F.col(column).isNotNull() & F.col(group_col).isNotNull()
        ).select(
            F.col(group_col).alias("g"), F.col(column).cast("double").alias("v")
        )

    lv, rv = side(left, "cl"), side(right, "cr")
    bounds = (
        lv.unionByName(rv)
        .groupBy("g")
        .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(bins)
    # degenerate single-value groups have width 0: try_divide yields
    # NULL (ANSI-safe — a plain division raises DIVIDE_BY_ZERO), and
    # the coalesce — INSIDE the least(), which skips NULLs — lands
    # every such row in bin 0, so the group scores exactly 0 when
    # both sides hold the same single value
    safe_bucket = F.least(
        F.coalesce(
            F.floor(
                F.try_divide(F.col("v") - F.col("lo"), width)
            ).cast("int"),
            F.lit(0),
        ),
        F.lit(bins - 1),
    )
    lb = (
        lv.join(bounds, "g")
        .groupBy("g", safe_bucket.alias("b"))
        .agg(F.count("*").alias("cl"))
    )
    rb = (
        rv.join(bounds, "g")
        .groupBy("g", safe_bucket.alias("b"))
        .agg(F.count("*").alias("cr"))
    )
    merged = lb.join(rb, ["g", "b"], "full_outer").select(
        "g",
        F.coalesce("cl", F.lit(0)).alias("cl"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    totals = merged.groupBy("g").agg(
        F.sum("cl").alias("nl"), F.sum("cr").alias("nr")
    )
    pl = F.try_divide(F.col("cl"), F.col("nl")) + F.lit(epsilon)
    pr = F.try_divide(F.col("cr"), F.col("nr")) + F.lit(epsilon)
    out = (
        merged.join(totals, "g")
        .groupBy("g")
        .agg(
            F.round(F.sum((pl - pr) * F.log(pl / pr)), round_to).alias("psi"),
            F.max("nl").cast("bigint").alias("n_left"),
            F.max("nr").cast("bigint").alias("n_right"),
        )
    )
    return out.select(
        F.col("g").alias(group_col),
        F.when(
            (F.col("n_left") > 0) & (F.col("n_right") > 0), F.col("psi")
        ).alias("psi"),
        "n_left",
        "n_right",
    )


def _normal_two_sided_p(z):
    """Two-sided normal p-value ``erfc(|z|/sqrt 2)`` as a column
    expression, via the Abramowitz-Stegun 7.1.26 erf approximation
    (|error| < 1.5e-7). The identical closed-form arithmetic runs in
    DuckDB oracles so results match bit-for-bit at rounded precision.
    NULL z propagates to NULL p.
    """
    x = F.abs(z) / F.lit(2.0) ** F.lit(0.5)
    tt = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * tt
        - F.lit(0.284496736) * tt ** F.lit(2)
        + F.lit(1.421413741) * tt ** F.lit(3)
        - F.lit(1.453152027) * tt ** F.lit(4)
        + F.lit(1.061405429) * tt ** F.lit(5)
    )
    return poly * F.exp(-(x * x))


def ab_compare(
    df: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
) -> DataFrame:
    """Two-sample experiment readout: mean difference between
    ``treatment`` and ``control`` groups with Welch's unpooled
    standard error, the z statistic, and its two-sided normal
    p-value — the standard large-sample A/B test (at corpus scale
    every group is far past where the t and normal distributions
    differ; for n < ~100 per arm use a proper t table offline).

    One partial-aggregated pass computes per-group (n, mean, variance)
    — map-side combine, 2-row reduce — and everything after is driver-
    free column arithmetic on the 1-row crossing. Fully
    SQL-expressible (exact DuckDB oracle). Fails loud when either arm
    is empty or has zero variance with n > 1 … a zero-variance arm
    usually means a constant metric column, which is a pipeline bug,
    not a result.

    Returns one row: ``(n_control, n_treatment, mean_control,
    mean_treatment, diff, rel_diff, stderr, z, p_value)``.
    """
    v = F.col(value_col).cast("double")
    cv = F.when(F.col(group_col) == control, v)
    tv = F.when(F.col(group_col) == treatment, v)
    # ONE conditional aggregate row — an empty arm still yields the
    # row (n=0), so the fail-loud guard below can actually fire
    both = df.agg(
        F.count(cv).alias("n_control"),
        F.avg(cv).alias("mean_control"),
        F.var_samp(cv).alias("var_c"),
        F.count(tv).alias("n_treatment"),
        F.avg(tv).alias("mean_treatment"),
        F.var_samp(tv).alias("var_t"),
    )
    se_defined = F.sqrt(
        F.col("var_t") / F.col("n_treatment") + F.col("var_c") / F.col("n_control")
    )
    guard = F.assert_true(
        (F.col("n_control") > 0)
        & (F.col("n_treatment") > 0)
        & se_defined.isNotNull()
        & (se_defined > 0),
        F.lit(
            "ab_compare: an arm is empty, has a single row (undefined "
            "variance), or both arms have zero variance — a constant "
            "metric is a pipeline bug, not a result"
        ),
    )
    diff = F.col("mean_treatment") - F.col("mean_control")
    stderr = F.sqrt(
        F.col("var_t") / F.col("n_treatment") + F.col("var_c") / F.col("n_control")
    )
    # divisions gated so ANSI divide-by-zero can't preempt the guard's
    # message (column evaluation order within a projection is
    # unspecified)
    z = F.when(stderr > 0, diff / stderr)
    # two-sided normal p-value erfc(|z|/sqrt 2) via the
    # Abramowitz-Stegun 7.1.26 erf approximation (|error| < 1.5e-7 —
    # well inside the 6-decimal rounding): no JVM erfc expression
    # exists, and the same closed-form arithmetic runs in DuckDB so
    # the oracle matches bit-for-bit at the rounded precision
    p = _normal_two_sided_p(z)
    return both.select(
        F.when(guard.isNull(), F.col("n_control")).alias("n_control"),
        "n_treatment",
        F.round("mean_control", 6).alias("mean_control"),
        F.round("mean_treatment", 6).alias("mean_treatment"),
        F.round(diff, 6).alias("diff"),
        F.round(
            F.when(F.col("mean_control") != 0, diff / F.col("mean_control")),
            6,
        ).alias("rel_diff"),
        F.round(stderr, 6).alias("stderr"),
        F.round(z, 6).alias("z"),
        F.round(p, 6).alias("p_value"),
    )


def ratio_metric(
    df: DataFrame,
    group_col: str,
    num_col: str,
    den_col: str,
    unit_col: str,
    control: str,
    treatment: str,
    round_to: int = 6,
) -> DataFrame:
    """Ratio-metric A/B comparison with DELTA-METHOD standard errors —
    the correct test for per-unit ratio metrics (CTR = clicks/views,
    revenue-per-session, tokens-per-document) when randomization is by
    ``unit_col`` (user, session, document) but the metric's numerator
    and denominator are event-level sums. Feeding event rows straight
    into :func:`ab_compare` understates the variance (events within a
    unit are correlated — the classic experimentation trap, Deng et
    al. 2018); the delta method on per-unit totals fixes it:

        r_g = Σnum / Σden = x̄/ȳ over units,
        Var(r_g) ≈ (var_x − 2·r·cov_xy + r²·var_y) / (n·ȳ²)

    with per-UNIT sample moments. Returns one row:
    ``(units_control, units_treatment, ratio_control, ratio_treatment,
    diff, rel_diff, stderr, z, p_value)`` — two-sided normal p
    (same A&S erf closed form as :func:`ab_compare`).

    Units contribute to the arm they appear in; a unit present in
    BOTH arms is a randomization violation this test does not detect
    — run :func:`srm` / an assignment audit upstream. Fails loud on
    an empty arm, a single-unit arm (undefined variance), or a zero
    denominator mean.

    Scale shape: ONE keyed shuffle builds per-(arm, unit) totals
    (map-side combine), then one conditional 1-row aggregate and pure
    column arithmetic — no driver math, fully SQL-expressible.
    """
    g = F.col(group_col)
    base = df.where(
        g.isin(control, treatment)
        & F.col(num_col).isNotNull()
        & F.col(den_col).isNotNull()
    )
    per_unit = base.groupBy(g.alias("__g"), F.col(unit_col).alias("__u")).agg(
        F.sum(F.col(num_col).cast("double")).alias("__x"),
        F.sum(F.col(den_col).cast("double")).alias("__y"),
    )
    def arm(name, col):  # conditional per-arm moment
        return F.when(F.col("__g") == name, F.col(col))
    agg = per_unit.agg(
        F.count(arm(control, "__x")).alias("n_c"),
        F.avg(arm(control, "__x")).alias("mx_c"),
        F.avg(arm(control, "__y")).alias("my_c"),
        F.var_samp(arm(control, "__x")).alias("vx_c"),
        F.var_samp(arm(control, "__y")).alias("vy_c"),
        F.covar_samp(arm(control, "__x"), arm(control, "__y")).alias("cxy_c"),
        F.count(arm(treatment, "__x")).alias("n_t"),
        F.avg(arm(treatment, "__x")).alias("mx_t"),
        F.avg(arm(treatment, "__y")).alias("my_t"),
        F.var_samp(arm(treatment, "__x")).alias("vx_t"),
        F.var_samp(arm(treatment, "__y")).alias("vy_t"),
        F.covar_samp(arm(treatment, "__x"), arm(treatment, "__y")).alias(
            "cxy_t"
        ),
    )
    guard = F.assert_true(
        (F.col("n_c") > 1) & (F.col("n_t") > 1)
        & (F.col("my_c") != 0) & (F.col("my_t") != 0),
        F.lit(
            "stats.ratio_metric: an arm is empty or single-unit "
            "(undefined variance), or a denominator mean is zero — "
            "check the arm names and the denominator column"
        ),
    )
    r_c = F.col("mx_c") / F.col("my_c")
    r_t = F.col("mx_t") / F.col("my_t")
    var_rc = (
        F.col("vx_c") - F.lit(2.0) * r_c * F.col("cxy_c")
        + r_c * r_c * F.col("vy_c")
    ) / (F.col("n_c") * F.col("my_c") * F.col("my_c"))
    var_rt = (
        F.col("vx_t") - F.lit(2.0) * r_t * F.col("cxy_t")
        + r_t * r_t * F.col("vy_t")
    ) / (F.col("n_t") * F.col("my_t") * F.col("my_t"))
    diff = r_t - r_c
    stderr = F.sqrt(F.greatest(var_rc + var_rt, F.lit(0.0)))
    z = F.when(stderr > 0, diff / stderr)
    p = _normal_two_sided_p(z)
    return agg.select(
        F.when(guard.isNull(), F.col("n_c")).cast("bigint").alias(
            "units_control"
        ),
        F.col("n_t").cast("bigint").alias("units_treatment"),
        F.round(r_c, round_to).alias("ratio_control"),
        F.round(r_t, round_to).alias("ratio_treatment"),
        F.round(diff, round_to).alias("diff"),
        F.round(F.when(r_c != 0, diff / r_c), round_to).alias("rel_diff"),
        F.round(stderr, round_to).alias("stderr"),
        F.round(z, round_to).alias("z"),
        F.round(p, round_to).alias("p_value"),
    )


def moments(
    df: DataFrame,
    value_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Distribution-shape summary per group: ``(group..., n, mean,
    variance, skewness, kurtosis)`` — the drift gate for SHAPE changes
    (a quality-score column whose mean holds but whose tail fattens;
    a length distribution going bimodal) that mean/variance monitors
    miss. ``variance`` is the sample variance; ``skewness`` and
    ``kurtosis`` are the population-moment forms ``m3/m2^1.5`` and
    ``m4/m2² − 3`` (excess; normal ≈ 0) — conventions documented
    because engines disagree on bias corrections, which is also why
    this does NOT call the built-in ``skewness``/``kurtosis``
    (Spark and DuckDB use different corrections; this closed form
    replays identically in both).

    Two passes by design: group means first (a group-count-sized
    broadcast), then centered power sums — the one-pass raw-sums
    identity (``Σx⁴`` etc.) cancels catastrophically for any column
    whose mean is far from 0, and at 100 TB you cannot eyeball a
    wrong kurtosis. NULL values are excluded; groups with n < 2 or
    zero variance emit NULL shape columns.
    """
    keys = keys_of(group_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull()).select(*keys, v.alias("__mo_v"))
    means = base.groupBy(*keys).agg(
        F.avg("__mo_v").alias("__mo_mu"),
        F.count("*").cast("bigint").alias("n"),
    )
    joined = join_on_keys(base, F.broadcast(means), keys)
    d = F.col("__mo_v") - F.col("__mo_mu")
    cm = joined.groupBy(*keys).agg(
        F.first("n").alias("n"),
        F.first("__mo_mu").alias("__mo_mu"),
        F.sum(d * d).alias("__mo_m2"),
        F.sum(d * d * d).alias("__mo_m3"),
        F.sum(d * d * d * d).alias("__mo_m4"),
    )
    n = F.col("n").cast("double")
    m2n = F.col("__mo_m2") / n
    var = F.when(n > 1, F.col("__mo_m2") / (n - 1))
    shape_ok = (n > 1) & (F.col("__mo_m2") > 0)
    skew = F.when(shape_ok, (F.col("__mo_m3") / n) / m2n ** F.lit(1.5))
    kurt = F.when(shape_ok, (F.col("__mo_m4") / n) / (m2n * m2n) - 3)
    return cm.select(
        *keys,
        "n",
        F.round("__mo_mu", round_to).alias("mean"),
        F.round(var, round_to).alias("variance"),
        F.round(skew, round_to).alias("skewness"),
        F.round(kurt, round_to).alias("kurtosis"),
    )


def srm(
    df: DataFrame,
    group_col: str,
    expected: dict,
    alpha: float = 0.001,
    round_to: int = 6,
    experiment_col=None,
) -> DataFrame:
    """Sample Ratio Mismatch check — the first validity gate on ANY
    experiment readout: a chi-square goodness-of-fit of the observed
    arm sizes against the intended allocation (``expected`` maps arm →
    ratio; ratios are normalized). A significant mismatch means the
    assignment, logging, or filtering pipeline is dropping one arm's
    rows non-randomly, and every downstream metric comparison is
    invalid — which is why the conventional threshold is a paranoid
    ``alpha = 0.001``, not 0.05 (Fabijan et al. 2019). Rows whose
    group value is not an ``expected`` key are ignored (other
    experiment arms, holdouts).

    Output is one row: ``(n, chi2, dof, p_value, srm_detected)`` —
    or one row PER EXPERIMENT when ``experiment_col`` is given (the
    batch health check over a platform's concurrent experiments:
    same single scan, grouped instead of global; the shared
    ``expected`` allocation applies to every experiment).
    The upper-tail p uses the Wilson-Hilferty cube-root normal
    approximation (exact closed form, < 1e-3 absolute error for
    dof ≥ 1 at the tail sizes that matter) on the shared A&S Φ — so
    the DuckDB oracle replays it bit-for-bit at rounded precision.

    Scale shape: ONE conditional-count aggregate (k arm counts finish
    map-side, keyed by experiment when grouped); everything after is
    arithmetic on the experiment-count-sized result.
    """
    if not expected or len(expected) < 2:
        raise ValueError("srm: expected needs at least two arms")
    if any(v <= 0 for v in expected.values()):
        raise ValueError("srm: expected ratios must be > 0")
    if not 0 < alpha < 1:
        raise ValueError(f"srm: alpha must be in (0,1), got {alpha}")
    total_w = float(sum(expected.values()))
    g = F.col(group_col).cast("string")
    cells = [
        F.sum(F.when(g == str(arm), 1).otherwise(0))
        .cast("bigint")
        .alias(f"__srm_{i}")
        for i, arm in enumerate(expected)
    ]
    keys = (
        []
        if experiment_col is None
        else [experiment_col]
        if isinstance(experiment_col, str)
        else list(experiment_col)
    )
    counts = df.groupBy(*keys).agg(*cells) if keys else df.agg(*cells)
    n = sum(F.col(f"__srm_{i}") for i in range(len(expected))).cast("double")
    chi2 = None
    for i, (arm, w) in enumerate(expected.items()):
        exp_i = n * F.lit(float(w) / total_w)
        term = (F.col(f"__srm_{i}") - exp_i) ** 2 / exp_i
        chi2 = term if chi2 is None else chi2 + term
    chi2 = F.when(n > 0, chi2)
    k = float(len(expected) - 1)
    # Wilson-Hilferty: (chi2/k)^(1/3) ~ Normal(1 - 2/(9k), 2/(9k))
    wh_z = (
        (chi2 / F.lit(k)) ** F.lit(1.0 / 3.0)
        - F.lit(1.0 - 2.0 / (9.0 * k))
    ) / F.lit((2.0 / (9.0 * k)) ** 0.5)
    p = 1 - _normal_cdf(wh_z)
    return counts.select(
        *keys,
        n.cast("bigint").alias("n"),
        F.round(chi2, round_to).alias("chi2"),
        F.lit(int(k)).alias("dof"),
        F.round(p, round_to).alias("p_value"),
        (p < F.lit(float(alpha))).alias("srm_detected"),
    )


def required_n(
    delta: float,
    sigma: float,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> int:
    """Per-arm sample size for a two-sample mean test to detect a
    difference of ``delta`` with the given significance and power —
    the planning companion to ``ab_compare``/``cuped`` (size the test
    BEFORE burning two weeks of traffic): ``n = 2σ²(z_α/2 + z_β)²/Δ²``
    rounded up. ``z_alpha`` and ``z_power`` are normal critical
    values passed directly (defaults 1.959964 / 0.841621 ≈ two-sided
    5% / 80% power) so no inverse CDF is needed — same convention as
    ``proportion_ci``. After a CUPED adjustment, pass the REDUCED σ
    (multiply by ``sqrt(1 - var_reduction)``) — that is where the
    "3-day test" comes from. Pure driver arithmetic, no data pass.
    """
    import math

    if delta <= 0:
        raise ValueError(f"required_n: delta must be > 0, got {delta}")
    if sigma <= 0:
        raise ValueError(f"required_n: sigma must be > 0, got {sigma}")
    return math.ceil(2.0 * sigma * sigma * (z_alpha + z_power) ** 2 / (delta * delta))


def mde(
    n: int,
    sigma: float,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> float:
    """Minimum detectable effect for ``n`` rows per arm — the inverse
    of ``required_n``: ``Δ = (z_α/2 + z_β)·σ·sqrt(2/n)``. Use it to
    answer "we only have this much traffic; what difference could
    this test even see?" before running it.
    """
    if n <= 0:
        raise ValueError(f"mde: n must be > 0, got {n}")
    if sigma <= 0:
        raise ValueError(f"mde: sigma must be > 0, got {sigma}")
    return (z_alpha + z_power) * sigma * (2.0 / n) ** 0.5


def required_n_prop(
    p_control: float,
    mde_abs: float,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
) -> int:
    """Per-arm sample size for a two-PROPORTION test (pass rates,
    conversion, safety-violation rates — the metrics most LLM evals
    actually ship): detect an absolute lift of ``mde_abs`` over a
    control rate ``p_control`` at the given significance and power.
    Uses the standard unpooled/pooled hybrid
    ``n = (z_α/2·√(2·p̄·q̄) + z_β·√(p₁q₁ + p₂q₂))² / Δ²`` with
    p̄ = (p₁+p₂)/2 — Fleiss' formula, what every power calculator
    implements. The binomial σ is a FUNCTION of the rate, which is
    why ``required_n`` (you supply σ) asks the wrong question for
    rates: σ changes with the very effect being sized. Pure driver
    arithmetic, no data pass.
    """
    import math

    p1 = float(p_control)
    p2 = p1 + float(mde_abs)
    if not 0 < p1 < 1:
        raise ValueError(
            f"required_n_prop: p_control must be in (0,1), got {p_control}"
        )
    if mde_abs == 0 or not 0 < p2 < 1:
        raise ValueError(
            "required_n_prop: p_control + mde_abs must land in (0,1) "
            f"and mde_abs != 0, got {p2}"
        )
    pbar = (p1 + p2) / 2.0
    num = (
        z_alpha * math.sqrt(2.0 * pbar * (1 - pbar))
        + z_power * math.sqrt(p1 * (1 - p1) + p2 * (1 - p2))
    ) ** 2
    return math.ceil(num / (mde_abs * mde_abs))


def mde_prop(
    n: int,
    p_control: float,
    z_alpha: float = 1.959964,
    z_power: float = 0.841621,
    tol: float = 1e-9,
) -> float:
    """Minimum detectable ABSOLUTE lift for a two-proportion test with
    ``n`` rows per arm at control rate ``p_control`` — the inverse of
    ``required_n_prop``, solved by bisection because the binomial σ
    moves with the effect (no closed form). Answers "with this many
    eval samples per arm, what pass-rate improvement could we even
    see?" BEFORE paying for the eval run. Monotone in Δ, so the
    bisection is exact to ``tol``; driver arithmetic only.
    """
    if n <= 0:
        raise ValueError(f"mde_prop: n must be > 0, got {n}")
    if not 0 < p_control < 1:
        raise ValueError(
            f"mde_prop: p_control must be in (0,1), got {p_control}"
        )
    lo, hi = 0.0, 1.0 - p_control - 1e-12
    if hi <= 0:
        raise ValueError("mde_prop: no room above p_control")

    def needed(delta):
        return required_n_prop(p_control, delta, z_alpha, z_power)

    # required n is decreasing in delta; find the smallest delta whose
    # required n fits in the budget
    if needed(hi) > n:
        raise ValueError(
            f"mde_prop: even the maximum lift {hi:.4f} needs more than "
            f"n={n} per arm"
        )
    while hi - lo > tol:
        mid = (lo + hi) / 2.0
        if mid <= 0 or needed(mid) > n:
            lo = mid
        else:
            hi = mid
    return hi


def cuped(
    df: DataFrame,
    group_col: str,
    value_col: str,
    covariate_col: str,
    control: str,
    treatment: str,
    round_to: int = 6,
) -> DataFrame:
    """CUPED-adjusted A/B comparison (Controlled-experiment Using
    Pre-Experiment Data, Deng et al. 2013): regress out a
    pre-experiment covariate (last month's metric, a baseline score)
    before testing, cutting metric variance by the covariate's
    squared correlation — the standard experimentation-platform trick
    that turns a 2-week test into a 3-day one at the same power.
    ``ŷ = y − θ(x − x̄)`` with the pooled OLS slope
    ``θ = cov(x,y)/var(x)``; the adjusted per-arm variance is
    ``var(y) − 2θ·cov + θ²·var(x)`` and the z-test runs on the
    adjusted difference with Welch SE.

    Output is one row: ``(n_control, n_treatment, theta, diff,
    stderr, z, p_value, var_reduction)`` — ``diff`` the adjusted
    treatment−control difference, ``var_reduction`` the fraction of
    summed per-arm variance the adjustment removed (≈ the covariate's
    r²; near 0 means the covariate was useless). Rows with a NULL
    metric OR covariate are excluded from everything (complete-case,
    so θ and the arm moments see the same rows).

    Scale shape: ONE partial-aggregated pass computes every moment —
    per-arm (n, mean, var, cov) plus pooled var(x)/cov via
    conditional aggregates — then closed-form arithmetic on the 1-row
    result. Fails loud (``assert_true``) when an arm is empty, the
    covariate is constant (θ undefined), or the adjusted SE is 0.
    """
    both_cols = (
        F.col(value_col).isNotNull() & F.col(covariate_col).isNotNull()
    )
    y = F.when(both_cols, F.col(value_col).cast("double"))
    x = F.when(both_cols, F.col(covariate_col).cast("double"))
    is_c = F.col(group_col) == control
    is_t = F.col(group_col) == treatment
    yc, xc = F.when(is_c, y), F.when(is_c, x)
    yt, xt = F.when(is_t, y), F.when(is_t, x)
    y_all = F.when(is_c | is_t, y)
    x_all = F.when(is_c | is_t, x)
    agg = df.agg(
        F.count(yc).cast("bigint").alias("n_control"),
        F.avg(yc).alias("my_c"),
        F.var_samp(yc).alias("vy_c"),
        F.avg(xc).alias("mx_c"),
        F.var_samp(xc).alias("vx_c"),
        F.covar_samp(xc, yc).alias("cov_c"),
        F.count(yt).cast("bigint").alias("n_treatment"),
        F.avg(yt).alias("my_t"),
        F.var_samp(yt).alias("vy_t"),
        F.avg(xt).alias("mx_t"),
        F.var_samp(xt).alias("vx_t"),
        F.covar_samp(xt, yt).alias("cov_t"),
        F.avg(x_all).alias("mx_all"),
        F.var_samp(x_all).alias("vx_all"),
        F.covar_samp(x_all, y_all).alias("cov_all"),
    )
    theta = F.when(F.col("vx_all") > 0, F.col("cov_all") / F.col("vx_all"))
    adj_c = F.col("my_c") - theta * (F.col("mx_c") - F.col("mx_all"))
    adj_t = F.col("my_t") - theta * (F.col("mx_t") - F.col("mx_all"))
    vadj_c = F.col("vy_c") - 2 * theta * F.col("cov_c") + theta * theta * F.col("vx_c")
    vadj_t = F.col("vy_t") - 2 * theta * F.col("cov_t") + theta * theta * F.col("vx_t")
    se = F.sqrt(vadj_t / F.col("n_treatment") + vadj_c / F.col("n_control"))
    guard = F.assert_true(
        (F.col("n_control") > 1)
        & (F.col("n_treatment") > 1)
        & (F.col("vx_all") > 0)
        & se.isNotNull()
        & (se > 0),
        F.lit(
            "cuped: an arm has < 2 complete-case rows, the covariate "
            "is constant (theta undefined), or the adjusted variance "
            "is 0"
        ),
    )
    diff = adj_t - adj_c
    z = F.when(se > 0, diff / se)
    vr = F.when(
        (F.col("vy_c") + F.col("vy_t")) > 0,
        1 - (vadj_c + vadj_t) / (F.col("vy_c") + F.col("vy_t")),
    )
    return agg.select(
        F.when(guard.isNull(), F.col("n_control")).alias("n_control"),
        "n_treatment",
        F.round(theta, round_to).alias("theta"),
        F.round(diff, round_to).alias("diff"),
        F.round(se, round_to).alias("stderr"),
        F.round(z, round_to).alias("z"),
        F.round(_normal_two_sided_p(z), round_to).alias("p_value"),
        F.round(vr, round_to).alias("var_reduction"),
    )


def _normal_cdf(z):
    """Φ(z) as a column expression via the same A&S erf polynomial as
    ``_normal_two_sided_p`` (so it replays identically in DuckDB):
    Φ(z) = 1 − p_two(z)/2 for z ≥ 0, p_two(z)/2 below. NULL z
    propagates."""
    p_two = _normal_two_sided_p(z)
    return F.when(z >= 0, 1 - p_two / 2).otherwise(p_two / 2)


def tost_equivalence(
    df: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
    margin: float,
    alpha: float = 0.05,
) -> DataFrame:
    """TOST equivalence test (two one-sided tests): the inverse of
    ``ab_compare`` — instead of asking "is treatment different?", it
    asks "is treatment provably WITHIN ±margin of control?", which is
    the question a pipeline swap actually poses (cheaper model, faster
    cleaning pass: show it is *not worse than margin*, absence of a
    significant difference proves nothing). Equivalence holds at level
    ``alpha`` when BOTH one-sided tests reject: ``p_lower`` tests
    H0: diff ≤ −margin, ``p_upper`` tests H0: diff ≥ +margin, and
    ``p_tost = max(p_lower, p_upper)``.

    Same single partial-aggregated pass and Welch unpooled standard
    error as ``ab_compare`` (large-sample normal; for tiny arms use a
    t table offline), same fail-loud empty-arm / zero-variance guard.
    Output is one row: ``(n_control, n_treatment, diff, stderr,
    p_lower, p_upper, p_tost, equivalent)``.
    """
    if margin <= 0:
        raise ValueError(f"tost_equivalence: margin must be > 0, got {margin}")
    if not 0 < alpha < 1:
        raise ValueError(
            f"tost_equivalence: alpha must be in (0,1), got {alpha}"
        )
    v = F.col(value_col).cast("double")
    cv = F.when(F.col(group_col) == control, v)
    tv = F.when(F.col(group_col) == treatment, v)
    both = df.agg(
        F.count(cv).alias("n_control"),
        F.avg(cv).alias("mean_control"),
        F.var_samp(cv).alias("var_c"),
        F.count(tv).alias("n_treatment"),
        F.avg(tv).alias("mean_treatment"),
        F.var_samp(tv).alias("var_t"),
    )
    se = F.sqrt(
        F.col("var_t") / F.col("n_treatment") + F.col("var_c") / F.col("n_control")
    )
    guard = F.assert_true(
        (F.col("n_control") > 0)
        & (F.col("n_treatment") > 0)
        & se.isNotNull()
        & (se > 0),
        F.lit(
            "tost_equivalence: an arm is empty, has a single row "
            "(undefined variance), or both arms have zero variance"
        ),
    )
    diff = F.col("mean_treatment") - F.col("mean_control")
    z_lo = F.when(se > 0, (diff + F.lit(float(margin))) / se)
    z_hi = F.when(se > 0, (diff - F.lit(float(margin))) / se)
    p_lower = 1 - _normal_cdf(z_lo)
    p_upper = _normal_cdf(z_hi)
    p_tost = F.greatest(p_lower, p_upper)
    return both.select(
        F.when(guard.isNull(), F.col("n_control")).alias("n_control"),
        "n_treatment",
        F.round(diff, 6).alias("diff"),
        F.round(se, 6).alias("stderr"),
        F.round(p_lower, 6).alias("p_lower"),
        F.round(p_upper, 6).alias("p_upper"),
        F.round(p_tost, 6).alias("p_tost"),
        (p_tost <= F.lit(float(alpha))).alias("equivalent"),
    )


def mutual_info(
    df: DataFrame,
    col_a: str,
    col_b: str,
    normalize: bool = False,
    round_to: int = 6,
) -> DataFrame:
    """Mutual information between two categorical columns, in nats:
    one row ``(mi, n)`` — or ``(mi, nmi, n)`` with ``normalize`` (NMI
    = MI / √(H_a·H_b) ∈ [0, 1]). The mixture-diagnostics readout: how
    much does knowing ``source`` tell you about ``lang`` (confounded
    corpus strata), or a feature about a label. Rows where either
    column is null are dropped (MI over the observed joint).

    Shape at 100 TB: ONE keyed partial-agg shuffle to joint counts
    (reduce side = |A|×|B| cells, dimension-sized), marginals are two
    tiny re-aggregations of the cell frame, totals ride a 1-row
    broadcast, and the MI sum is a 1-row reduce — the corpus is
    scanned once, nothing row-scale ever shuffles again. Deterministic
    to ``round_to`` decimals (exact integer counts; the float work is
    one log-sum whose summation-order noise sits ~1e-14 below the
    rounding).
    """
    if round_to < 0:
        raise ValueError("mutual_info: round_to must be >= 0")
    joint = (
        df.where(F.col(col_a).isNotNull() & F.col(col_b).isNotNull())
        .groupBy(F.col(col_a).alias("a"), F.col(col_b).alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    ca = joint.groupBy("a").agg(F.sum("c").alias("ca"))
    cb = joint.groupBy("b").agg(F.sum("c").alias("cb"))
    totals = joint.agg(F.sum("c").alias("n"))
    cells = (
        joint.join(ca, "a")
        .join(cb, "b")
        .crossJoin(F.broadcast(totals))
    )
    # counts go through DOUBLE before any product: c·n and ca·cb are
    # count-squared magnitudes that overflow int64 on 10¹⁰-row inputs
    cd, nd = F.col("c").cast("double"), F.col("n").cast("double")
    cad, cbd = F.col("ca").cast("double"), F.col("cb").cast("double")
    p = cd / nd
    term = p * F.log((cd * nd) / (cad * cbd))
    if not normalize:
        return cells.agg(
            F.round(F.coalesce(F.sum(term), F.lit(0.0)), round_to).alias("mi"),
            F.first("n").alias("n"),
        )
    # entropies from the marginals of the SAME cell frame (so empty
    # input degrades consistently); NMI of a constant column is 0/0 →
    # reported as 0.0
    pa = F.col("ca").cast("double") / F.col("n").cast("double")
    pb = F.col("cb").cast("double") / F.col("n").cast("double")
    ha_term = -pa * F.log(pa)
    hb_term = -pb * F.log(pb)
    ha = (
        ca.crossJoin(F.broadcast(totals))
        .agg(F.coalesce(F.sum(ha_term), F.lit(0.0)).alias("ha"))
    )
    hb = (
        cb.crossJoin(F.broadcast(totals))
        .agg(F.coalesce(F.sum(hb_term), F.lit(0.0)).alias("hb"))
    )
    mi_row = cells.agg(
        F.coalesce(F.sum(term), F.lit(0.0)).alias("mi_raw"),
        F.first("n").alias("n"),
    )
    return (
        mi_row.crossJoin(F.broadcast(ha))
        .crossJoin(F.broadcast(hb))
        .select(
            F.round("mi_raw", round_to).alias("mi"),
            F.round(
                F.when(
                    (F.col("ha") > 0) & (F.col("hb") > 0),
                    F.col("mi_raw") / F.sqrt(F.col("ha") * F.col("hb")),
                ).otherwise(F.lit(0.0)),
                round_to,
            ).alias("nmi"),
            F.col("n"),
        )
    )


def ece(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Expected calibration error of a probabilistic classifier
    (e.g. ``quality.score`` output vs held-out labels): scores are
    binned into ``bins`` equal-width confidence buckets and
    ECE = Σ_b (n_b/N)·|accuracy_b − confidence_b| — the standard
    reliability-diagram summary. Returns one row
    ``(ece, max_gap, n)`` where ``max_gap`` is the worst single
    bucket's |accuracy − confidence| (the maximum calibration error).

    A well-calibrated classifier has ECE near 0; a high ECE means the
    scores cannot be thresholded at face value — recalibrate before
    using them as corpus-keep probabilities. One partial-aggregated
    shuffle whose reduce side is ``bins`` rows, then a 1-row fold —
    scan-scale at any corpus size.

    Scores must lie in [0, 1] (asserted loudly on EVERY non-null
    score, including rows whose label is null — a logit sneaking in
    where a probability belongs is the classic silent bug); labels
    are coerced with ``cast(double)`` so boolean/int/double all work,
    and null-label rows are excluded from the calibration aggregates.
    """
    if bins < 1:
        raise ValueError(f"ece: bins must be >= 1, got {bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    guard = F.assert_true(
        (s >= 0.0) & (s <= 1.0),
        F.lit("ece: scores must be probabilities in [0, 1]"),
    )
    checked = s + F.coalesce(guard.cast("double"), F.lit(0.0))
    bucket = F.least(
        F.floor(checked * F.lit(int(bins))), F.lit(int(bins) - 1)
    )
    # group on ALL non-null scores (the bucket key carries the range
    # guard, so it fires even for rows whose label is null — filtering
    # on label first would let an out-of-range score with a null label
    # slip past the check) and exclude null-label rows from the
    # aggregates instead: count(y)/avg ignore nulls, so the per-bucket
    # numbers equal the filter-first formulation exactly
    per_bucket = (
        df.where(s.isNotNull())
        .groupBy(bucket.alias("__b"))
        .agg(
            F.count(y).alias("n_b"),
            F.avg(F.when(y.isNotNull(), s)).alias("conf"),
            F.avg(y).alias("acc"),
        )
        .where(F.col("n_b") > 0)
    )
    return per_bucket.agg(
        F.round(
            F.sum(F.col("n_b") * F.abs(F.col("acc") - F.col("conf")))
            / F.sum("n_b"),
            round_to,
        ).alias("ece"),
        F.round(F.max(F.abs(F.col("acc") - F.col("conf"))), round_to).alias(
            "max_gap"
        ),
        F.sum("n_b").cast("bigint").alias("n"),
    )


def chi2_drift(
    left: DataFrame,
    right: DataFrame,
    column: str,
    round_to: int = 6,
) -> DataFrame:
    """Pearson chi-squared homogeneity statistic between the
    CATEGORICAL distributions of ``column`` in two table versions —
    the classical significance companion to ``js_divergence``
    (which measures effect size but carries no sample-size scaling):
    with the null hypothesis "both sides draw from one distribution",
    expected cell counts are ``n_side · c_v / n`` from the pooled
    value counts, and

        chi2 = Σ_side Σ_v (o_sv − e_sv)² / e_sv,   dof = k − 1

    over the k distinct values. Returns one row
    ``(chi2, dof, n_left, n_right)`` — compare chi2 against the
    chi-squared quantile at ``dof`` for a significance gate (the
    p-value itself needs the incomplete gamma function, which neither
    Spark SQL nor DuckDB expresses — keeping the statistic exact and
    the oracle total).

    Same plan shape as ``js_divergence``: per-side value counts
    (shuffle ∝ distinct values), a 1-row totals broadcast, one fold.
    Every expected count is > 0 by construction (a value enters the
    table only by occurring on some side).
    """
    lv = left.where(F.col(column).isNotNull()).groupBy(
        F.col(column).alias("v")
    ).agg(F.count("*").alias("cl")).withColumn("cr", F.lit(0).cast("bigint"))
    rv = right.where(F.col(column).isNotNull()).groupBy(
        F.col(column).alias("v")
    ).agg(F.count("*").alias("cr")).withColumn("cl", F.lit(0).cast("bigint"))
    merged = (
        lv.select("v", "cl", "cr")
        .unionByName(rv.select("v", "cl", "cr"))
        .groupBy("v")
        .agg(F.sum("cl").alias("cl"), F.sum("cr").alias("cr"))
    )
    totals = merged.agg(F.sum("cl").alias("nl"), F.sum("cr").alias("nr"))
    n = (F.col("nl") + F.col("nr")).cast("double")
    el = F.col("nl").cast("double") * (F.col("cl") + F.col("cr")) / n
    er = F.col("nr").cast("double") * (F.col("cl") + F.col("cr")) / n
    term = F.try_divide((F.col("cl") - el) * (F.col("cl") - el), el) + F.try_divide(
        (F.col("cr") - er) * (F.col("cr") - er), er
    )
    out = merged.crossJoin(F.broadcast(totals)).agg(
        F.round(F.sum(term), round_to).alias("chi2"),
        (F.count("*") - F.lit(1)).cast("bigint").alias("dof"),
        F.max("nl").cast("bigint").alias("n_left"),
        F.max("nr").cast("bigint").alias("n_right"),
    )
    guard = F.assert_true(
        (F.col("n_left") > 0) & (F.col("n_right") > 0),
        F.lit("chi2_drift: an input side has no non-null values"),
    )
    return out.select(
        F.when(guard.isNull(), F.col("chi2")).alias("chi2"),
        "dof", "n_left", "n_right",
    )


def js_divergence(
    left: DataFrame,
    right: DataFrame,
    column: str,
    base: float = 2.0,
    round_to: int = 6,
) -> DataFrame:
    """Jensen-Shannon divergence between the CATEGORICAL distributions
    of ``column`` in two table versions — the drift gate for discrete
    columns (language mix, source mix, label balance) where KS/PSI's
    numeric orderings/binnings don't apply. Symmetric, bounded in
    [0, 1] with ``base=2`` (log base 2); 0 = identical mixes. Returns
    one row ``(js_div, n_left, n_right)``.

    Each side aggregates to per-value counts first (shuffle bytes ∝
    distinct values, not rows — the ``ks_drift`` shape), the totals
    ride a 1-row broadcast, and the divergence is a one-pass fold over
    the merged value table. A value absent from one side contributes
    its full mass to the other's KL term — no smoothing constants to
    tune (JS is finite by construction, unlike raw KL).
    """
    if base <= 1.0:
        raise ValueError(f"js_divergence: base must be > 1, got {base}")
    lv = left.where(F.col(column).isNotNull()).groupBy(
        F.col(column).alias("v")
    ).agg(F.count("*").alias("cl")).withColumn("cr", F.lit(0).cast("bigint"))
    rv = right.where(F.col(column).isNotNull()).groupBy(
        F.col(column).alias("v")
    ).agg(F.count("*").alias("cr")).withColumn("cl", F.lit(0).cast("bigint"))
    merged = (
        lv.select("v", "cl", "cr")
        .unionByName(rv.select("v", "cl", "cr"))
        .groupBy("v")
        .agg(F.sum("cl").alias("cl"), F.sum("cr").alias("cr"))
    )
    totals = merged.agg(
        F.sum("cl").alias("nl"), F.sum("cr").alias("nr")
    )
    # try_divide: an empty side must reach the loud assert below as a
    # NULL, not die in ANSI division-by-zero first
    p = F.try_divide(F.col("cl"), F.col("nl"))
    q = F.try_divide(F.col("cr"), F.col("nr"))
    m = (p + q) / F.lit(2.0)
    ln_base = F.lit(float(__import__("math").log(base)))
    # 0·log(0/x) := 0 — the when() guards keep absent-side terms finite
    term = (
        F.when(p > 0, p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(q > 0, q * F.log(q / m)).otherwise(F.lit(0.0))
    ) / F.lit(2.0) / ln_base
    out = (
        merged.crossJoin(F.broadcast(totals))
        .agg(
            F.round(F.sum(term), round_to).alias("js_div"),
            F.max("nl").alias("n_left"),
            F.max("nr").alias("n_right"),
        )
    )
    guard = F.assert_true(
        (F.col("n_left") > 0) & (F.col("n_right") > 0),
        F.lit("js_divergence: an input side has no non-null values"),
    )
    return out.select(
        F.when(guard.isNull(), F.col("js_div")).alias("js_div"),
        F.col("n_left").cast("bigint").alias("n_left"),
        F.col("n_right").cast("bigint").alias("n_right"),
    )


def pass_at_k(
    df: DataFrame,
    task_col: str,
    success_col: str,
    k: int,
    overall: bool = False,
) -> DataFrame:
    """Unbiased pass@k estimator over repeated samples per task
    (Chen et al. 2021, "Evaluating LLMs Trained on Code" — the
    standard eval aggregate for n-samples-per-problem benchmark runs).

    Input: one row per (task, sample) with a boolean/0-1
    ``success_col``. For a task with ``n`` samples and ``c``
    successes::

        pass@k = 1 - C(n-c, k) / C(n, k)
               = 1 - prod_{j=0..k-1} (n-c-j) / (n-j)

    computed in the product form (no factorial overflow, pure JVM
    expressions). Contract: tasks with ``n < k`` emit NULL — the
    estimator is undefined there; filter or resample rather than
    trust a biased value. Per-task output:
    ``(task_col, n_samples, n_correct, pass_at_k)``; with
    ``overall=True`` a single row ``(n_tasks, avg_pass_at_k)``
    averaging over the estimable tasks (the benchmark headline
    number).

    Scale shape: one keyed partial aggregation (count + sum complete
    map-side); the product over ``k`` terms is a per-row
    ``F.aggregate`` over a ``sequence`` literal — no shuffle beyond
    the groupBy, no Python.
    """
    if k < 1:
        raise ValueError(f"pass_at_k: k must be >= 1, got {k}")
    per_task = df.groupBy(task_col).agg(
        F.count("*").alias("n_samples"),
        F.sum(F.col(success_col).cast("int")).cast("bigint").alias("n_correct"),
    )
    n, c = F.col("n_samples"), F.col("n_correct")
    prod = F.aggregate(
        F.sequence(F.lit(0), F.lit(k - 1)),
        F.lit(1.0),
        lambda acc, j: acc * (n - c - j).cast("double") / (n - j),
    )
    estimate = F.when(n < k, F.lit(None).cast("double")).otherwise(
        F.round(
            F.when(c + k > n, F.lit(1.0)).otherwise(F.lit(1.0) - prod), 6
        )
    )
    per_task = per_task.select(
        task_col,
        n.cast("bigint").alias("n_samples"),
        "n_correct",
        estimate.alias("pass_at_k"),
    )
    if not overall:
        return per_task
    return per_task.where(F.col("pass_at_k").isNotNull()).agg(
        F.count("*").cast("bigint").alias("n_tasks"),
        F.round(F.avg("pass_at_k"), 6).alias("avg_pass_at_k"),
    )


def bt_ratings(
    df: DataFrame,
    model_a_col: str = "model_a",
    model_b_col: str = "model_b",
    winner_col: str = "winner",
    iters: int = 20,
    max_models: int = 500,
) -> DataFrame:
    """Bradley-Terry strength ratings from pairwise preference battles
    (arena-style model ranking) via the MM algorithm (Hunter 2004).

    Input: one row per battle with two model names and ``winner_col``
    equal to one of them or the literal ``'tie'`` (a tie credits each
    side half a win — the standard arena convention); any other value,
    or a self-battle, raises. Output per model:
    ``(model, n_games, n_wins, rating)`` where ``rating`` is the MM
    fixed-point iterate after ``iters`` rounds from uniform start,
    normalized so the lexicographically-first model with positive wins
    rates 1.0 (an exact division — anchor normalization avoids the
    cross-engine float drift a geometric-mean scale would reintroduce).
    Models with zero wins rate 0.0 (their MM fixed point). Ratings are
    relative odds: rating(x)/rating(y) estimates P(x beats y)/P(y
    beats x).

    Scale shape: the corpus-sized work is ONE keyed partial
    aggregation of battles into the canonical-pair win table (≤ k²
    rows for k models); the iteration runs driver-side on that bounded
    table — the k-means/centroid pattern — with a ``max_models`` limit
    probe so an unbounded model column fails loudly, never OOMs. All
    aggregation is exact (half-integer wins), and the driver iteration
    accumulates in sorted-pair order so results are bit-reproducible.
    """
    if iters < 1:
        raise ValueError(f"bt_ratings: iters must be >= 1, got {iters}")
    ma, mb, wn = F.col(model_a_col), F.col(model_b_col), F.col(winner_col)
    a, b = F.least(ma, mb), F.greatest(ma, mb)
    valid = (ma != mb) & ((wn == ma) | (wn == mb) | (wn == F.lit("tie")))
    wa = F.when(wn == a, F.lit(1.0)).when(wn == b, F.lit(0.0)).otherwise(
        F.lit(0.5)
    )
    checked = F.when(valid, wa).otherwise(
        F.assert_true(
            F.lit(False),
            F.lit(
                "bt_ratings: winner must equal model_a, model_b, or "
                "'tie', and self-battles are invalid"
            ),
        ).cast("double")
    )
    agg = (
        df.select(a.alias("__a"), b.alias("__b"), checked.alias("__wa"))
        .groupBy("__a", "__b")
        .agg(
            F.sum("__wa").alias("win_a"),
            F.sum(F.lit(1.0) - F.col("__wa")).alias("win_b"),
            F.count("*").alias("n"),
        )
    )
    max_pairs = max_models * (max_models - 1) // 2
    rows = agg.limit(max_pairs + 1).collect()
    if len(rows) > max_pairs:
        raise ValueError(
            f"bt_ratings: more than {max_pairs} distinct model pairs "
            f"(max_models={max_models}). The pair table is driver-"
            "solved by design (panel-sized model sets); raise "
            "max_models explicitly if the driver has headroom."
        )
    models = sorted({r["__a"] for r in rows} | {r["__b"] for r in rows})
    if len(models) > max_models:
        raise ValueError(
            f"bt_ratings: {len(models)} distinct models exceeds "
            f"max_models={max_models}"
        )
    idx = {m: i for i, m in enumerate(models)}
    pairs = sorted(
        (idx[r["__a"]], idx[r["__b"]], int(r["n"]), float(r["win_a"]),
         float(r["win_b"]))
        for r in rows
    )
    k = len(models)
    wins = [0.0] * k
    games = [0] * k
    for ia, ib, n, win_a, win_b in pairs:
        wins[ia] += win_a
        wins[ib] += win_b
        games[ia] += n
        games[ib] += n
    ws = [1.0] * k
    for _ in range(iters):
        nxt = []
        for i in range(k):
            if wins[i] == 0:
                nxt.append(0.0)
                continue
            denom = 0.0
            for ia, ib, n, _, _ in pairs:
                if ia == i or ib == i:
                    denom += float(n) / (ws[ia] + ws[ib])
            nxt.append(wins[i] / denom)
        ws = nxt
    anchor = next((w for w in ws if w > 0), None)
    out = [
        (
            models[i],
            games[i],
            wins[i],
            round(ws[i] / anchor, 6) if anchor else 0.0,
        )
        for i in range(k)
    ]
    return local_df(df.sparkSession,
        out, "model STRING, n_games BIGINT, n_wins DOUBLE, rating DOUBLE"
    )


# Poisson(1) inverse-CDF thresholds: weight k for the first k with
# u < _POISSON1_CUM[k], else len(_POISSON1_CUM). Exact double literals
# shared with the SQL oracle so weights are engine-identical.
_POISSON1_CUM = (
    0.36787944117144233,
    0.7357588823428847,
    0.9196986029286058,
    0.9810118431238462,
    0.9963401531726563,
    0.9994058151824183,
    0.9999167588507119,
    0.9999897508033253,
)


def bootstrap_ci(
    df: DataFrame,
    value_col: str,
    id_cols,
    n_boot: int = 200,
    alpha: float = 0.05,
    seed: int = 42,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean of
    ``value_col`` — error bars on eval metrics and data-quality
    statistics without collecting the data (the standard resampling
    scheme for distributed bootstrap: each row's multiplicity in
    replicate ``b`` is Poisson(1), derived deterministically from a
    hash of (seed, b, id), so the interval is reproducible across
    retries and cluster sizes — no RNG state anywhere).

    Output is ONE row: ``(n_rows, n_boot, mean, ci_lo, ci_hi)``. The
    bounds are ORDER STATISTICS of the replicate means (index
    ``floor(alpha/2 * m)`` from each end, m = non-empty replicates) —
    deliberately not interpolated percentiles, so the bounds are
    elements of the computed set and bit-stable across engines.

    ``hash_fn='xxhash64'`` (default) is the fast JVM path;
    ``'md5'`` costs more per row but is replicable outside Spark
    (the DuckDB oracle uses it). Integer value columns keep the
    replicate sums exact; double columns are deterministic within
    Spark but may differ in the last float ulp across engines.

    Scale shape: the ×``n_boot`` explode happens BEFORE the shuffle
    but the per-replicate aggregation completes map-side, so the
    exchange carries n_boot × #partitions partial rows, not n_boot ×
    corpus; the final order-statistic step reduces n_boot values on
    one row. Per-row cost is n_boot weight draws (one hash each) —
    size n_boot to the metric set being bootstrapped, not to a full
    corpus scan.
    """
    if not id_cols:
        raise ValueError("bootstrap_ci: id_cols must be non-empty")
    if not 0 < alpha < 1:
        raise ValueError(f"bootstrap_ci: alpha must be in (0,1), got {alpha}")
    if n_boot < 10:
        raise ValueError(f"bootstrap_ci: n_boot must be >= 10, got {n_boot}")
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(
            f"bootstrap_ci: unknown hash_fn '{hash_fn}' (xxhash64|md5)"
        )
    # NULL metric rows must be excluded BEFORE the explode: a NULL x
    # drops out of the replicate numerator sum(w*x) but its Poisson
    # weight would still count in the denominator sum(w), biasing
    # every replicate mean toward 0 while n_rows/mean use
    # null-excluding count/avg — the CI would stop bracketing the
    # reported mean (same convention as permutation_test).
    df = df.where(F.col(value_col).isNotNull())
    # the ×n_boot hash work is compute-bound: a single-file input
    # (one partition) would put every weight draw on one core —
    # widen to cluster parallelism first (no-op on wide inputs)
    df = parallelize(df)
    id_exprs = [F.col(c) for c in id_cols]
    b = F.col("__bs_b")
    if hash_fn == "xxhash64":
        u = F.pmod(
            F.xxhash64(*id_exprs, b, F.lit(seed)), F.lit(1_000_000)
        ) / F.lit(1_000_000.0)
    else:
        u = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        b.cast("string"),
                        *[e.cast("string") for e in id_exprs],
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint") / F.lit(4294967296.0)
    w = F.lit(len(_POISSON1_CUM))
    for k in range(len(_POISSON1_CUM) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CUM[k]), F.lit(k)).otherwise(w)
    exploded = df.select(
        F.col(value_col).alias("__bs_x"), *id_exprs
    ).withColumn("__bs_b", F.explode(F.sequence(F.lit(0), F.lit(n_boot - 1))))
    means = (
        exploded.select(b.alias("__bs_b"), w.alias("__bs_w"), "__bs_x")
        .groupBy("__bs_b")
        .agg(
            (
                F.sum(F.col("__bs_w") * F.col("__bs_x")).cast("double")
                / F.sum("__bs_w")
            ).alias("__bs_m")
        )
        .where(F.col("__bs_m").isNotNull())
    )
    base = df.agg(
        F.count(value_col).cast("bigint").alias("n_rows"),
        F.round(F.avg(value_col), 6).alias("mean"),
    )
    ms = means.agg(F.sort_array(F.collect_list("__bs_m")).alias("__bs_ms"))
    m = F.size("__bs_ms")
    k_lo = F.floor(F.lit(alpha / 2.0) * m).cast("int")
    bounds = ms.select(
        m.cast("int").alias("n_boot"),
        F.round(F.element_at("__bs_ms", k_lo + 1), 6).alias("ci_lo"),
        F.round(F.element_at("__bs_ms", m - k_lo), 6).alias("ci_hi"),
    )
    return base.crossJoin(F.broadcast(bounds)).select(
        "n_rows", "n_boot", "mean", "ci_lo", "ci_hi"
    )


def permutation_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    id_cols,
    control: str,
    treatment: str,
    n_perm: int = 200,
    seed: int = 42,
    hash_fn: str = "xxhash64",
    round_to: int = 6,
) -> DataFrame:
    """Permutation (randomization) test for the mean difference
    between two arms — the assumption-free companion to
    ``ab_compare``'s normal z-test and ``mann_whitney``'s rank test:
    the p-value is the fraction of random relabelings whose mean
    difference is at least as extreme as the observed one, so it is
    valid for skewed, heavy-tailed, or lumpy metrics where the normal
    approximation is shaky and does not reduce the data to ranks.

    Relabeling is the UNCONDITIONAL (binomial) variant: in replicate
    ``b`` each row is independently assigned to the treatment
    pseudo-arm with probability n_t/(n_t+n_c), from a deterministic
    hash of (seed, b, id) — no RNG state, bit-reproducible across
    retries and cluster sizes. Textbook permutation fixes the arm
    sizes exactly; conditioning on sizes requires a per-replicate
    global rank (n_perm extra shuffles), and for the sample sizes a
    corpus A/B test has, the binomial and fixed-size null
    distributions are indistinguishable — documented trade, same
    family as the Poisson bootstrap. The p-value uses the standard
    +1 correction: ``(1 + #{|diff_b| >= |obs|}) / (1 + m)`` over the
    ``m`` replicates where both pseudo-arms are non-empty, so it is
    never exactly 0.

    Output is ONE row: ``(n_control, n_treatment, n_perm, obs_diff,
    p_value)`` with ``obs_diff = mean(treatment) - mean(control)``
    and ``n_perm`` the effective replicate count m.

    ``hash_fn='xxhash64'`` is the fast JVM path; ``'md5'`` is
    replicable outside Spark (the DuckDB oracle). Integer-valued
    metric columns keep every replicate sum exact in a double, so the
    tail comparison is bit-identical across engines; fractional
    metrics are deterministic within Spark but the last-ulp boundary
    replicate could differ across engines.

    Scale shape: identical to ``bootstrap_ci`` — the ×n_perm explode
    happens before the shuffle but per-replicate aggregation completes
    map-side, so the exchange carries n_perm × #partitions partial
    rows; the observed 1-row aggregate attaches as a broadcast on both
    sides (arm fraction in, tail comparison out). Size ``n_perm`` to
    the metric table being tested, not a full corpus scan.
    """
    if not id_cols:
        raise ValueError("permutation_test: id_cols must be non-empty")
    if n_perm < 10:
        raise ValueError(
            f"permutation_test: n_perm must be >= 10, got {n_perm}"
        )
    if hash_fn not in ("xxhash64", "md5"):
        raise ValueError(
            f"permutation_test: unknown hash_fn '{hash_fn}' (xxhash64|md5)"
        )
    g = F.col(group_col)
    rows = parallelize(
        df.where(
            g.isin([control, treatment]) & F.col(value_col).isNotNull()
        ).select(
            g.alias("__pt_g"),
            F.col(value_col).cast("double").alias("__pt_x"),
            *[F.col(c) for c in id_cols],
        )
    )
    is_t = F.col("__pt_g") == treatment
    obs = rows.agg(
        F.sum(F.when(~is_t, 1).otherwise(0)).cast("bigint").alias("n_control"),
        F.sum(F.when(is_t, 1).otherwise(0)).cast("bigint").alias("n_treatment"),
        F.sum(F.when(~is_t, F.col("__pt_x"))).cast("double").alias("__pt_sc"),
        F.sum(F.when(is_t, F.col("__pt_x"))).cast("double").alias("__pt_st"),
    )
    guard = F.assert_true(
        (F.col("n_control") > 0) & (F.col("n_treatment") > 0),
        F.lit("permutation_test: an arm is empty"),
    )
    # divisions gated behind the guard so ANSI divide-by-zero can't
    # preempt the guard's message
    obs = obs.select(
        F.when(guard.isNull(), F.col("n_control")).alias("n_control"),
        "n_treatment",
        F.when(
            (F.col("n_control") > 0) & (F.col("n_treatment") > 0),
            F.col("__pt_st") / F.col("n_treatment")
            - F.col("__pt_sc") / F.col("n_control"),
        ).alias("obs_diff"),
        (
            F.col("n_treatment")
            / (F.col("n_treatment") + F.col("n_control")).cast("double")
        ).alias("__pt_frac"),
    )
    b = F.col("__pt_b")
    id_exprs = [F.col(c) for c in id_cols]
    if hash_fn == "xxhash64":
        u = F.pmod(
            F.xxhash64(*id_exprs, b, F.lit(seed)), F.lit(1_000_000)
        ) / F.lit(1_000_000.0)
    else:
        u = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.lit(str(seed)),
                        b.cast("string"),
                        *[e.cast("string") for e in id_exprs],
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint") / F.lit(4294967296.0)
    exploded = (
        rows.crossJoin(F.broadcast(obs.select("__pt_frac")))
        .withColumn("__pt_b", F.explode(F.sequence(F.lit(0), F.lit(n_perm - 1))))
        .select(
            b.alias("__pt_b"),
            (u < F.col("__pt_frac")).alias("__pt_t"),
            "__pt_x",
        )
    )
    reps = (
        exploded.groupBy("__pt_b")
        .agg(
            F.sum(F.when(F.col("__pt_t"), 1).otherwise(0)).alias("nt"),
            F.sum(F.when(~F.col("__pt_t"), 1).otherwise(0)).alias("nc"),
            F.sum(F.when(F.col("__pt_t"), F.col("__pt_x"))).alias("st"),
            F.sum(F.when(~F.col("__pt_t"), F.col("__pt_x"))).alias("sc"),
        )
        .select(
            F.when(
                (F.col("nt") > 0) & (F.col("nc") > 0),
                F.col("st") / F.col("nt") - F.col("sc") / F.col("nc"),
            ).alias("diff_b")
        )
        .where(F.col("diff_b").isNotNull())
    )
    tail = reps.crossJoin(F.broadcast(obs.select("obs_diff"))).agg(
        F.count("*").cast("int").alias("n_perm"),
        F.sum(
            F.when(F.abs(F.col("diff_b")) >= F.abs(F.col("obs_diff")), 1).otherwise(0)
        ).cast("bigint").alias("__pt_ge"),
    )
    return obs.crossJoin(F.broadcast(tail)).select(
        "n_control",
        "n_treatment",
        "n_perm",
        F.round("obs_diff", round_to).alias("obs_diff"),
        F.round(
            (F.lit(1) + F.col("__pt_ge"))
            / (F.lit(1) + F.col("n_perm")).cast("double"),
            round_to,
        ).alias("p_value"),
    )


def proportion_ci(
    df: DataFrame,
    success_col: str,
    group_by=None,
    z: float = 1.959964,
    round_to: int = 6,
) -> DataFrame:
    """Wilson score interval for a success/pass RATE per group — the
    error bar every eval dashboard needs on a pass rate, correct at
    small n and extreme rates where the naive ``p ± z·sqrt(p(1-p)/n)``
    interval collapses or escapes [0,1] (Wilson never does either;
    it is the score-test inversion, Brown-Cai-DasGupta's standard
    recommendation). ``success_col`` is boolean or 0/1; NULLs are
    excluded from n, matching ``avg`` semantics. ``z`` is the
    two-sided normal critical value (default 1.959964 ≈ 95%) — passed
    directly so no inverse normal CDF is needed and the closed form
    replays exactly in any engine.

    Output per group: ``(n, successes, rate, ci_lo, ci_hi)``.

    Scale shape: ONE map-side-combined aggregate (n, successes) per
    group; everything after is per-row closed-form arithmetic on the
    group-count-sized result. Empty groups cannot appear (groupBy);
    n=0 overall yields one row of zeros with NULL rate/bounds.
    """
    s = F.col(success_col).cast("double")
    gb = [F.col(c) for c in (group_by or [])]
    agg = df.groupBy(*gb).agg(
        F.count(s).cast("bigint").alias("n"),
        F.coalesce(F.sum(s), F.lit(0.0)).cast("double").alias("__pc_s"),
    ) if gb else df.agg(
        F.count(s).cast("bigint").alias("n"),
        F.coalesce(F.sum(s), F.lit(0.0)).cast("double").alias("__pc_s"),
    )
    n = F.col("n").cast("double")
    p = F.when(n > 0, F.col("__pc_s") / n)
    z2 = F.lit(float(z) * float(z))
    denom = 1 + z2 / n
    center = (p + z2 / (2 * n)) / denom
    half = (
        F.lit(float(z))
        * F.sqrt(p * (1 - p) / n + z2 / (4 * n * n))
        / denom
    )
    return agg.select(
        *[c.alias(name) for c, name in zip(gb, group_by or [])],
        "n",
        F.col("__pc_s").cast("bigint").alias("successes"),
        F.round(p, round_to).alias("rate"),
        # n=0 (empty ungrouped input): double div yields NaN, not an
        # ANSI error — gate to NULL explicitly
        F.round(F.when(n > 0, center - half), round_to).alias("ci_lo"),
        F.round(F.when(n > 0, center + half), round_to).alias("ci_hi"),
    )


def trimmed_mean(
    df: DataFrame,
    value_col: str,
    id_cols,
    trim: float = 0.05,
    winsorize: bool = False,
) -> DataFrame:
    """Exact trimmed (or winsorized) mean of ``value_col`` — the
    robust location estimate for metric columns with heavy tails or
    sensor junk, computed EXACTLY at any scale (no approximate
    quantiles): ``k = floor(trim * n)`` rows are cut from each end of
    the value order (ties broken by ``id_cols`` for a deterministic
    cut). ``winsorize=True`` clamps the cut rows to the boundary
    values instead of dropping them.

    Output is one row: ``(n_rows, n_trimmed_each, trimmed_mean)``.

    Scale shape: the global rank is the distributed two-pass prefix
    sum over (value, id) order (``common/scale.py``) — no single-task
    ``row_number`` window — followed by one filtered (or clamped)
    aggregate; boundary values for winsorizing attach as a 1-row
    broadcast. NULL values are excluded from both n and the mean,
    matching ``avg`` semantics.
    """
    if not id_cols:
        raise ValueError("trimmed_mean: id_cols must be non-empty")
    if not 0 <= trim < 0.5:
        raise ValueError(
            f"trimmed_mean: trim must be in [0, 0.5), got {trim}"
        )
    vals = df.where(F.col(value_col).isNotNull()).withColumn(
        "__tm_one", F.lit(1).cast("bigint")
    )
    ranked = grouped_prefix_sum(
        vals, [], [value_col] + list(id_cols), "__tm_one", "__tm_rank"
    )
    counted = ranked.crossJoin(
        F.broadcast(ranked.agg(F.count("*").cast("bigint").alias("__tm_n")))
    ).withColumn(
        "__tm_k", F.floor(F.lit(float(trim)) * F.col("__tm_n")).cast("bigint")
    )
    in_core = (F.col("__tm_rank") > F.col("__tm_k")) & (
        F.col("__tm_rank") <= F.col("__tm_n") - F.col("__tm_k")
    )
    if winsorize:
        core = counted.where(in_core)
        bounds = core.agg(
            F.min(value_col).alias("__tm_lo"), F.max(value_col).alias("__tm_hi")
        )
        clamped = counted.crossJoin(F.broadcast(bounds)).select(
            F.least(
                F.greatest(F.col(value_col), F.col("__tm_lo")), F.col("__tm_hi")
            ).alias("__tm_v"),
            "__tm_n",
            "__tm_k",
        )
        agg = clamped.agg(
            F.first("__tm_n").alias("n_rows"),
            F.first("__tm_k").alias("n_trimmed_each"),
            F.round(F.avg("__tm_v"), 6).alias("trimmed_mean"),
        )
    else:
        agg = counted.where(in_core).agg(
            F.first("__tm_n").alias("n_rows"),
            F.first("__tm_k").alias("n_trimmed_each"),
            F.round(F.avg(value_col), 6).alias("trimmed_mean"),
        )
    return agg


def mann_whitney(
    left: DataFrame,
    right: DataFrame,
    column: str,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample Mann-Whitney U test (Wilcoxon rank-sum) on the same
    numeric column of two tables — the NONPARAMETRIC complement to
    ``ab_compare``'s mean z-test: sensitive to location shift without
    assuming normality, robust to outliers that wreck a mean. Output is
    one row ``(n_left, n_right, u_stat, z, p_value)`` where ``u_stat``
    is U for the LEFT sample (ties counted half), ``z`` the
    tie-corrected normal approximation and ``p_value`` two-sided
    (Abramowitz-Stegun erf like ``ab_compare``; no continuity
    correction — documented, and immaterial at the sample sizes the
    normal approximation needs anyway).

    Exact at any scale with no global sort of rows: each side
    aggregates to per-value counts (shuffle ∝ distinct values), U
    comes from the identity ``U = Σ_x n_L(x)·N_R(<x) + ½·n_L(x)·n_R(x)``
    where the cumulative ``N_R(<x)`` is the DISTRIBUTED prefix sum over
    value order, and the tie-correction term ``Σ(t³−t)`` folds in the
    same pass. Totals attach as a 1-row broadcast.
    """
    lc = (
        left.where(F.col(column).isNotNull())
        .select(F.col(column).cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("nl"))
    )
    rc = (
        right.where(F.col(column).isNotNull())
        .select(F.col(column).cast("double").alias("v"))
        .groupBy("v")
        .agg(F.count("*").cast("bigint").alias("nr"))
    )
    # the prefix scan pins its input internally (one materialization
    # feeds its sampler, shuffle and offsets branches — r14), and the
    # scan is this frame's only consumer, so no caller pin needed
    merged = (
        lc.join(rc, "v", "full")
        .select(
            "v",
            F.coalesce("nl", F.lit(0)).alias("nl"),
            F.coalesce("nr", F.lit(0)).alias("nr"),
        )
    )
    cum = grouped_prefix_sum(merged, [], ["v"], "nr", "cum_r")
    contrib = cum.select(
        "nl",
        "nr",
        (
            F.col("nl") * (F.col("cum_r") - F.col("nr"))
            + F.lit(0.5) * F.col("nl") * F.col("nr")
        ).alias("u_part"),
        ((F.col("nl") + F.col("nr")) ** 3 - (F.col("nl") + F.col("nr"))).alias(
            "tie_part"
        ),
    )
    agg = contrib.agg(
        F.sum("nl").cast("bigint").alias("n_left"),
        F.sum("nr").cast("bigint").alias("n_right"),
        F.sum("u_part").cast("double").alias("u_stat"),
        F.sum("tie_part").cast("double").alias("ties"),
    )
    n1, n2 = F.col("n_left"), F.col("n_right")
    n = n1 + n2
    mu = n1 * n2 / F.lit(2.0)
    # tie-corrected variance; NULL (not a crash, not infinity) when a
    # side is empty or every value ties (variance 0). The tie-term
    # division is gated BEFORE the var>0 guard — under ANSI mode a
    # divide-by-zero raises before the guard can evaluate (column
    # evaluation order within a projection is unspecified)
    tie_term = F.when(
        n > 1, F.col("ties") / (n * (n - 1))
    ).otherwise(F.lit(0.0))
    var = n1 * n2 / F.lit(12.0) * ((n + 1).cast("double") - tie_term)
    z = F.when(var > 0, (F.col("u_stat") - mu) / F.sqrt(var))
    return agg.select(
        "n_left",
        "n_right",
        F.round("u_stat", round_to).alias("u_stat"),
        F.round(z, round_to).alias("z"),
        F.round(_normal_two_sided_p(z), round_to).alias("p_value"),
    )


def wilcoxon(
    df: DataFrame,
    left_col: str,
    right_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Wilcoxon signed-rank test on PAIRED columns of one table — the
    paired complement to ``mann_whitney``: each row carries both
    measurements of one unit (the same prompt scored by two models,
    the same doc before/after a cleaning pass), so between-unit
    variance cancels and only the within-pair differences are ranked.
    Output is one row ``(n_pairs, n_zeros, w_plus, z, p_value)``:
    ``w_plus`` the sum of |difference| midranks where left > right,
    ``n_zeros`` the discarded exact-tie pairs (Wilcoxon's zero-discard
    convention — documented, matches scipy's ``zero_method='wilcox'``),
    ``z`` the tie-corrected normal approximation and ``p_value``
    two-sided (no continuity correction, like ``mann_whitney``).

    Exact at any scale with no global row sort: pairs reduce to
    per-|d| counts (shuffle ∝ distinct |difference| values), the
    midrank of each tie group comes from the DISTRIBUTED prefix sum
    over |d| order, and the tie term ``Σ(t³−t)`` folds into the same
    pass; the zero-pair count attaches as a 1-row broadcast.
    """
    d = (
        df.select(
            F.col(left_col).cast("double").alias("a"),
            F.col(right_col).cast("double").alias("b"),
        )
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
        .select((F.col("a") - F.col("b")).alias("d"))
    )
    # pinned: feeds the zero-count probe AND the prefix scan; the scan
    # input is a filter over this pin, so prepinned=True skips the
    # machinery's own (redundant) materialization — r13/r14
    counts = pin(
        d.groupBy(F.abs(F.col("d")).alias("ad")).agg(
            F.count("*").cast("bigint").alias("t"),
            F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("bigint").alias("npos"),
        )
    )
    zeros = counts.where(F.col("ad") == 0).agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_zeros")
    )
    ranked = value_ranks(
        counts.where(F.col("ad") > 0), [], "ad", "t", prepinned=True
    )
    agg = ranked.select(
        "t",
        (F.col("npos") * F.col("__rank")).alias("w_part"),
        (F.col("t") ** 3 - F.col("t")).alias("tie_part"),
    ).agg(
        F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("n_pairs"),
        F.coalesce(F.sum("w_part"), F.lit(0.0)).cast("double").alias("w_plus"),
        F.coalesce(F.sum("tie_part"), F.lit(0.0)).cast("double").alias("ties"),
    )
    n = F.col("n_pairs").cast("double")
    mu = n * (n + 1) / F.lit(4.0)
    var = n * (n + 1) * (2 * n + 1) / F.lit(24.0) - F.col("ties") / F.lit(48.0)
    z = F.when(var > 0, (F.col("w_plus") - mu) / F.sqrt(var))
    # zeros is a 1-row aggregate: the cross join is a broadcast of a
    # single row onto the 1-row agg (whitelisted in the plan lint)
    return agg.crossJoin(F.broadcast(zeros)).select(
        "n_pairs",
        "n_zeros",
        F.round("w_plus", round_to).alias("w_plus"),
        F.round(z, round_to).alias("z"),
        F.round(_normal_two_sided_p(z), round_to).alias("p_value"),
    )


def auc(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """ROC area under the curve of a binary scorer (e.g.
    ``quality.score`` output vs held-out keep/drop labels), optionally
    per group — the threshold-free companion to ``ece``: ECE asks "are
    the probabilities honest?", AUC asks "does the ranking separate the
    classes at all?". Returns one row per group
    ``(group..., n_pos, n_neg, auc)`` with
    AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), i.e. the
    Mann-Whitney U statistic normalized by ``n_pos·n_neg`` — exactly
    the probabilistic definition, ties counted half, identical to
    trapezoidal integration of the ROC curve.

    Exact at any scale with NO global sort of rows and no per-group
    parallelism collapse: each group aggregates to per-distinct-score
    (n_pos, n_neg) counts (shuffle ∝ distinct scores, not rows), the
    cumulative negative count below each score is the DISTRIBUTED
    prefix sum of ``common.scale.grouped_prefix_sum`` (a
    ``Window.partitionBy(group)`` would funnel each group's whole score
    distribution through one task — the few-group case is precisely
    the classifier-eval case), and
    U = Σ_s n⁺(s)·N⁻(<s) + ½·n⁺(s)·n⁻(s) folds in one partial agg.

    Labels must be 0/1 (asserted loudly on every non-null label —
    a multiclass column sneaking in would silently distort the
    counts); rows with a null score or null label are excluded.
    ``auc`` is NULL for a group missing either class.
    """
    keys = keys_of(group_by)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("bigint")
    checked = binary_label(y, "stats.auc: label column must be binary 0/1")
    counts = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(*keys, s.alias("__v"))
        .agg(
            F.sum(checked).cast("bigint").alias("__np"),
            F.sum(F.lit(1) - checked).cast("bigint").alias("__nn"),
        )
    )
    cum = grouped_prefix_sum(counts, keys, ["__v"], "__nn", "__cum_n")
    contrib = cum.select(
        *keys,
        "__np",
        "__nn",
        (
            F.col("__np") * (F.col("__cum_n") - F.col("__nn"))
            + F.lit(0.5) * F.col("__np") * F.col("__nn")
        ).alias("__u"),
    )
    agg = contrib.groupBy(*keys).agg(
        F.sum("__np").cast("bigint").alias("n_pos"),
        F.sum("__nn").cast("bigint").alias("n_neg"),
        F.sum("__u").cast("double").alias("__u_tot"),
    )
    both = (F.col("n_pos") > 0) & (F.col("n_neg") > 0)
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        F.round(
            F.when(both, F.col("__u_tot") / (F.col("n_pos") * F.col("n_neg"))),
            round_to,
        ).alias("auc"),
    )


def average_precision(
    df: DataFrame,
    score_col: str,
    label_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Average precision (area under the precision-recall curve, step
    interpolation), optionally per group — the class-imbalance-robust
    companion to ``auc``: with 0.1% positives a ranker can post
    AUC ≈ 0.99 while burying every positive under thousands of false
    alarms, and AP is the metric that says so. Returns one row per
    group ``(group..., n_pos, n_neg, average_precision)`` with
    AP = Σ_t (R_t − R_{t−1}) · P_t over thresholds at each distinct
    score descending — the standard step-interpolated estimator
    (scikit-learn's ``average_precision_score``): ties enter as one
    threshold block, so permuting equal-scored rows cannot move the
    number.

    Exact at any scale with no global row sort and no per-group
    parallelism collapse: per-distinct-score (n⁺, n⁻) counts (shuffle
    ∝ distinct scores), then BOTH descending cumulative counts ride
    one multi-column ``grouped_prefix_sum`` pass, and
    AP = Σ_s n⁺(s)·precision(s) / P folds in one partial agg.

    Labels must be 0/1 (loudly asserted on every non-null label, as in
    ``auc``); rows with a null score or label are excluded.
    ``average_precision`` is NULL for a group with no positives.
    """
    keys = keys_of(group_by)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("bigint")
    checked = binary_label(
        y, "stats.average_precision: label column must be binary 0/1"
    )
    counts = (
        df.where(s.isNotNull() & y.isNotNull())
        .groupBy(*keys, s.alias("__v"))
        .agg(
            F.sum(checked).cast("bigint").alias("__np"),
            F.sum(F.lit(1) - checked).cast("bigint").alias("__nn"),
        )
        # thresholds descend; the ascending prefix sum orders on -score
        .withColumn("__negv", -F.col("__v"))
    )
    cum = grouped_prefix_sum(
        counts, keys, ["__negv"], ["__np", "__nn"], ["__cp", "__cn"]
    )
    contrib = cum.select(
        *keys,
        "__np",
        "__nn",
        # n+(s) * precision(s); the 1/P recall factor is constant per
        # group and divides out in the final aggregate
        (
            F.col("__np")
            * (F.col("__cp") / (F.col("__cp") + F.col("__cn")))
        ).alias("__ap_part"),
    )
    agg = contrib.groupBy(*keys).agg(
        F.sum("__np").cast("bigint").alias("n_pos"),
        F.sum("__nn").cast("bigint").alias("n_neg"),
        F.sum("__ap_part").cast("double").alias("__ap_sum"),
    )
    return agg.select(
        *keys,
        "n_pos",
        "n_neg",
        F.round(
            F.when(F.col("n_pos") > 0, F.col("__ap_sum") / F.col("n_pos")),
            round_to,
        ).alias("average_precision"),
    )


def spearman(
    df: DataFrame,
    col_x: str,
    col_y: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Spearman rank correlation between two numeric columns,
    optionally per group — the monotonic-association complement to the
    Pearson matrix of ``correlations``: insensitive to outliers and to
    any monotone transform of either column, which is what you want
    when relating heavy-tailed pipeline signals (document length vs
    quality score, perplexity vs dedup cluster size). Returns one row
    per group ``(group..., n, spearman)`` using the exact average-rank
    (mid-rank) tie convention, i.e. Pearson correlation of mid-ranks.

    Exact at any scale with no global row sort: each column aggregates
    to per-distinct-value counts (shuffle ∝ distinct values), the
    cumulative count below each value is the DISTRIBUTED prefix sum,
    mid-rank(v) = N(<v) + (n_v+1)/2 attaches back to rows by value
    join, and the correlation of the two rank columns folds in one
    partial agg. Rows with a NULL or NaN on either side are excluded.
    ``spearman`` is NULL when n < 2 or either side is constant.
    """
    keys = keys_of(group_by)
    x = F.col(col_x).cast("double")
    y = F.col(col_y).cast("double")
    base = df.select(*keys, x.alias("__x"), y.alias("__y")).where(
        x.isNotNull() & y.isNotNull() & ~F.isnan(x) & ~F.isnan(y)
    )

    def midranks(col: str, out: str) -> DataFrame:
        # the prefix scan pins its input internally (r14) and is this
        # frame's only consumer, so no caller pin needed
        counts = base.groupBy(*keys, F.col(col)).agg(
            F.count("*").cast("bigint").alias("__n")
        )
        return value_ranks(counts, keys, col, "__n").select(
            *keys, col, F.col("__rank").alias(out)
        )

    # rank tables are value-keyed (∝ distinct values); attaching them
    # back to rows is a keyed shuffle join, null-safe on group keys.
    # The rank side is renamed wholesale first — its lineage passes
    # through the prefix sum's own self-join, so positional drops of
    # same-named columns would be ambiguous.
    def attach(rows: DataFrame, ranks: DataFrame, col: str, out: str):
        rk = ranks.select(
            *[F.col(k).alias(f"__rk_{k}") for k in keys],
            F.col(col).alias("__rk_v"),
            out,
        )
        cond = rows[col] == rk["__rk_v"]
        for k in keys:
            cond = cond & rows[k].eqNullSafe(rk[f"__rk_{k}"])
        return rows.join(rk, cond).drop(
            "__rk_v", *[f"__rk_{k}" for k in keys]
        )

    ranked = attach(
        attach(base, midranks("__x", "__rx"), "__x", "__rx"),
        midranks("__y", "__ry"),
        "__y",
        "__ry",
    )
    # Pearson of the rank columns from raw moments with an explicit
    # zero-variance guard — F.corr divides by the stddev product and
    # raises under ANSI mode when a side is constant, where this
    # operator's contract is NULL
    agg = ranked.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("__rx").alias("__sx"),
        F.sum("__ry").alias("__sy"),
        F.sum(F.col("__rx") * F.col("__rx")).alias("__sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).alias("__syy"),
        F.sum(F.col("__rx") * F.col("__ry")).alias("__sxy"),
    )
    n = F.col("n").cast("double")
    vx = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vy = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    cov = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    rho = F.when((vx > 0) & (vy > 0), cov / F.sqrt(vx * vy))
    return agg.select(
        *keys, "n", F.round(rho, round_to).alias("spearman")
    )


def _grouped_exact_median(df: DataFrame, keys, value_col: str) -> DataFrame:
    """Exact per-group median of ``value_col`` (mean-of-two-middles for
    even counts) with memory bounded regardless of group size: values
    reduce to per-distinct-value counts, the cumulative count rides the
    distributed prefix sum, and the one (or two) distinct values whose
    cumulative range covers the middle position(s) are picked by
    filter + max — never ``F.percentile``, whose exact aggregate
    buffers a per-group value map on a single task. Returns
    ``(keys..., __med_n, __median)``.
    """
    counts = df.groupBy(*keys, F.col(value_col)).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    return _median_from_counts(counts, keys, value_col)


def _median_from_counts(
    counts: DataFrame, keys, value_col: str
) -> DataFrame:
    """`_grouped_exact_median` core over a pre-aggregated
    ``(keys..., value, __n)`` table — callers that already hold counts
    (e.g. the MAD deviation pass) skip the row scan entirely."""
    cum = grouped_prefix_sum(counts, keys, [value_col], "__n", "__cum")
    totals = counts.groupBy(*keys).agg(F.sum("__n").alias("__tot"))
    joined = join_on_keys(cum, totals, keys)
    lo = F.floor((F.col("__tot") + 1) / 2)
    hi = F.floor(F.col("__tot") / 2) + 1
    lo_in = (F.col("__cum") >= lo) & (F.col("__cum") - F.col("__n") < lo)
    hi_in = (F.col("__cum") >= hi) & (F.col("__cum") - F.col("__n") < hi)
    picked = joined.where(lo_in | hi_in).select(
        *keys,
        "__tot",
        F.when(lo_in, F.col(value_col)).alias("__lo_v"),
        F.when(hi_in, F.col(value_col)).alias("__hi_v"),
    )
    return picked.groupBy(*keys).agg(
        F.max("__tot").alias("__med_n"),
        ((F.max("__lo_v") + F.max("__hi_v")) / 2).alias("__median"),
    )


def mad(
    df: DataFrame,
    column: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Median and median absolute deviation of a numeric column,
    optionally per group — the robust location/scale pair for drift
    monitoring on heavy-tailed pipeline signals (document lengths,
    token counts, latencies), where one crawl of 2 GB pages moves a
    mean+stddev gate arbitrarily far but cannot budge the median/MAD
    pair past its breakdown point. Returns one row per group
    ``(group..., n, median, mad)`` with the raw (unscaled) MAD
    ``median(|x − median(x)|)``; multiply by 1.4826 for the normal
    consistency constant if you want a sigma estimate.

    Exact at any scale, and the ROWS ARE SCANNED EXACTLY ONCE: values
    reduce to per-distinct-value counts (shuffle ∝ distinct values —
    no per-group buffering anywhere, unlike ``F.percentile``), the
    median comes off the counts via the distributed-prefix-sum pick,
    and the deviation pass is computed FROM THE SAME COUNTS TABLE —
    ``|v − median|`` weighted by each value's count — so the second
    median round touches only distinct-value-sized data, never the
    rows again. Even-count groups use the standard
    mean-of-two-middles; NULL/NaN rows are excluded.
    """
    keys = keys_of(group_by)
    x = F.col(column).cast("double")
    base = df.select(*keys, x.alias("__x")).where(
        x.isNotNull() & ~F.isnan(x)
    )
    # pin the counts reduction: it is referenced by the prefix sum,
    # the totals, AND the deviation join — without the pin the full
    # row scan + aggregate re-executes once per reference
    counts = (
        base.groupBy(*keys, F.col("__x"))
        .agg(F.count("*").cast("bigint").alias("__n"))
        .transform(pin)
    )
    med = _median_from_counts(counts, keys, "__x")
    withmed = join_on_keys(counts, med, keys)
    # distinct deviations can coincide (v and 2·median − v) — re-sum
    dev_counts = (
        withmed.groupBy(
            *keys,
            F.col("__med_n").alias("__n_out"),
            F.col("__median").alias("__med_out"),
            F.abs(F.col("__x") - F.col("__median")).alias("__dev"),
        )
        .agg(F.sum("__n").cast("bigint").alias("__n"))
        .transform(pin)
    )
    # the group median and count ride along as extra (functionally
    # dependent) group keys so the second median pass needs no re-join
    dev_med = _median_from_counts(
        dev_counts, keys + ["__n_out", "__med_out"], "__dev"
    )
    return dev_med.select(
        *keys,
        F.col("__n_out").alias("n"),
        F.round("__med_out", round_to).alias("median"),
        F.round("__median", round_to).alias("mad"),
    )


def cohens_kappa(
    df: DataFrame,
    rater_a: str,
    rater_b: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Cohen's kappa between two categorical label columns, optionally
    per group — chance-corrected inter-annotator agreement, the
    standard sanity gate before trusting labels from two human
    annotators or two LLM judges (raw percent agreement flatters any
    pair that both predict the majority class). Returns one row per
    group ``(group..., n, observed_agreement, expected_agreement,
    kappa)`` with κ = (p_o − p_e)/(1 − p_e); NULL when the raters are
    both constant and identical (p_e = 1, κ undefined).

    Distributed shape: rows reduce to per-(label_a, label_b) cell
    counts — shuffle ∝ distinct label pairs, never rows — marginals
    re-aggregate from the cells, and the expected-agreement sum joins
    the two marginal tables per label. Rows where either side is NULL
    are excluded (an abstaining judge is absence, not a verdict);
    labels compare as strings.
    """
    keys = keys_of(group_by)
    a = F.col(rater_a).cast("string")
    b = F.col(rater_b).cast("string")
    cells = (
        df.where(a.isNotNull() & b.isNotNull())
        .groupBy(*keys, a.alias("__a"), b.alias("__b"))
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    totals = cells.groupBy(*keys).agg(
        F.sum("__c").cast("bigint").alias("n"),
        F.sum(F.when(F.col("__a") == F.col("__b"), F.col("__c"))).alias(
            "__agree"
        ),
    )
    a_marg = cells.groupBy(*keys, F.col("__a").alias("__lbl")).agg(
        F.sum("__c").alias("__na")
    )
    b_marg = cells.groupBy(*keys, F.col("__b").alias("__lbl")).agg(
        F.sum("__c").alias("__nb")
    )
    am = a_marg.select(
        *[F.col(k).alias(f"__am_{k}") for k in keys], "__lbl", "__na"
    )
    bm = b_marg.select(
        *[F.col(k).alias(f"__bm_{k}") for k in keys],
        F.col("__lbl").alias("__lbl_b"),
        "__nb",
    )
    cond = am["__lbl"] == bm["__lbl_b"]
    for k in keys:
        cond = cond & am[f"__am_{k}"].eqNullSafe(bm[f"__bm_{k}"])
    # inner join: labels one rater never uses contribute 0 to p_e
    pe_num = (
        am.join(bm, cond)
        .groupBy(*[F.col(f"__am_{k}").alias(k) for k in keys])
        .agg(F.sum(F.col("__na") * F.col("__nb")).alias("__pe_num"))
    )
    joined = join_on_keys(totals, pe_num, keys)
    n = F.col("n").cast("double")
    po = F.coalesce(F.col("__agree"), F.lit(0)).cast("double") / n
    pe = F.col("__pe_num").cast("double") / (n * n)
    kappa = F.when(pe < 1, (po - pe) / (F.lit(1.0) - pe))
    return joined.select(
        *keys,
        "n",
        F.round(po, round_to).alias("observed_agreement"),
        F.round(pe, round_to).alias("expected_agreement"),
        F.round(kappa, round_to).alias("kappa"),
    )


def classification_report(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Per-class precision/recall/F1 against gold labels — the basic
    multi-class eval readout (the ranking metrics ``auc``/
    ``average_precision`` need scores; this one needs only hard
    predictions). One row per class seen on EITHER side:
    ``(label, n_gold, n_pred, tp, precision, recall, f1)`` —
    precision NULL when the class is never predicted, recall NULL
    when it never occurs in gold, F1 NULL unless both exist and
    ``p + r > 0``. Rows with a NULL gold or prediction are excluded
    (abstentions are absence); labels compare as strings. Macro/micro
    averages are one trivial aggregation of this output — left to the
    caller so the oracle row set stays per-class.

    Scale shape: rows reduce to per-(gold, pred) confusion cells —
    shuffle ∝ distinct label pairs, never rows — and the per-class
    totals are two tiny re-aggregations of the cell frame joined
    full-outer on the class.
    """
    g = F.col(label_col).cast("string")
    p = F.col(pred_col).cast("string")
    cells = (
        df.where(g.isNotNull() & p.isNotNull())
        .groupBy(g.alias("__g"), p.alias("__p"))
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    gold = cells.groupBy(F.col("__g").alias("label")).agg(
        F.sum("__c").cast("bigint").alias("n_gold")
    )
    pred = cells.groupBy(F.col("__p").alias("label")).agg(
        F.sum("__c").cast("bigint").alias("n_pred")
    )
    tp = (
        cells.where(F.col("__g") == F.col("__p"))
        .select(F.col("__g").alias("label"), F.col("__c").alias("tp"))
    )
    joined = (
        gold.join(pred, "label", "full")
        .join(tp, "label", "left")
        .select(
            "label",
            F.coalesce("n_gold", F.lit(0)).cast("bigint").alias("n_gold"),
            F.coalesce("n_pred", F.lit(0)).cast("bigint").alias("n_pred"),
            F.coalesce("tp", F.lit(0)).cast("bigint").alias("tp"),
        )
    )
    prec = F.when(F.col("n_pred") > 0, F.col("tp") / F.col("n_pred"))
    rec = F.when(F.col("n_gold") > 0, F.col("tp") / F.col("n_gold"))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        2 * prec * rec / (prec + rec),
    )
    return joined.select(
        "label",
        "n_gold",
        "n_pred",
        "tp",
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(f1, round_to).alias("f1"),
    )


def binary_metrics(
    df: DataFrame,
    label_col: str,
    pred_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """One-row binary-classifier readout from hard predictions:
    ``(n, tp, fp, fn, tn, accuracy, precision, recall, f1, mcc)`` —
    the complement to ``classification_report`` (per-class,
    multi-class) when the task is binary and you want the single
    balanced scalar: MCC is the correlation of the confusion matrix
    and, unlike accuracy or F1, cannot be gamed by predicting the
    majority class (Chicco & Jurman 2020). ``group_by`` emits one row
    per segment (per-language classifier QA: a global MCC can hide a
    segment where the model guesses). Inputs are boolean or 0/1
    columns; rows with a NULL on either side are excluded. Degenerate
    denominators yield NULL for that metric (never-predicted-positive
    → NULL precision; single-class gold or preds → NULL mcc).

    Scale shape: ONE conditional-count aggregate (the four confusion
    cells finish map-side), closed-form arithmetic on the 1-row
    result. MCC's denominator is computed in doubles — the four
    marginal products overflow a bigint at ~3e9 rows per cell.
    """
    keys = keys_of(group_by)
    l_ = F.col(label_col).cast("boolean")
    p_ = F.col(pred_col).cast("boolean")
    both = l_.isNotNull() & p_.isNotNull()
    cell_exprs = (
        F.sum(F.when(both & l_ & p_, 1).otherwise(0)).cast("bigint").alias("tp"),
        F.sum(F.when(both & ~l_ & p_, 1).otherwise(0)).cast("bigint").alias("fp"),
        F.sum(F.when(both & l_ & ~p_, 1).otherwise(0)).cast("bigint").alias("fn"),
        F.sum(F.when(both & ~l_ & ~p_, 1).otherwise(0)).cast("bigint").alias("tn"),
    )
    cells = df.groupBy(*keys).agg(*cell_exprs) if keys else df.agg(*cell_exprs)
    tp, fp = F.col("tp").cast("double"), F.col("fp").cast("double")
    fn, tn = F.col("fn").cast("double"), F.col("tn").cast("double")
    n = tp + fp + fn + tn
    prec = F.when(tp + fp > 0, tp / (tp + fp))
    rec = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        prec.isNotNull() & rec.isNotNull() & ((prec + rec) > 0),
        2 * prec * rec / (prec + rec),
    )
    mcc_den = (tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)
    mcc = F.when(
        mcc_den > 0, (tp * tn - fp * fn) / F.sqrt(mcc_den)
    )
    return cells.select(
        *keys,
        n.cast("bigint").alias("n"),
        "tp",
        "fp",
        "fn",
        "tn",
        F.round(F.when(n > 0, (tp + tn) / n), round_to).alias("accuracy"),
        F.round(prec, round_to).alias("precision"),
        F.round(rec, round_to).alias("recall"),
        F.round(f1, round_to).alias("f1"),
        F.round(mcc, round_to).alias("mcc"),
    )


def kappa_matrix(
    df: DataFrame,
    item_col: str,
    judge_col: str,
    label_col: str,
    max_judges: int = 64,
    round_to: int = 6,
) -> DataFrame:
    """Pairwise Cohen's-kappa matrix over k judges in LONG format
    ``(item, judge, label)`` — the multi-judge generalization of
    ``cohens_kappa``: one row per unordered judge pair, the readout
    that finds the ONE drifting LLM judge (or rogue annotator) in a
    panel, which a single pooled agreement number hides. Expects one
    label per (item, judge); an abstention is an absent row, and a
    pair's kappa is computed over the items BOTH judges labeled.

    Scale shape: one item-keyed self-join (k² pair rows per item for
    the k judges who labeled it — panel-sized, not corpus-sized),
    then exactly ``cohens_kappa``'s grouped cell/marginal aggregation
    keyed by the pair. ``max_judges`` is a limit-probed guard: a
    runaway judge column (user ids, timestamps) fails loudly before
    the k² blow-up, the ``bt_ratings`` pattern.
    """
    probe = [
        r[0]
        for r in df.select(judge_col)
        .where(F.col(judge_col).isNotNull())
        .distinct()
        .limit(max_judges + 1)
        .collect()
    ]
    if len(probe) > max_judges:
        raise ValueError(
            f"kappa_matrix: more than max_judges={max_judges} distinct "
            f"judges — a judge column this wide is usually a bug (and "
            f"k² pairs would explode); raise max_judges deliberately"
        )
    side_a = df.select(
        F.col(item_col).alias("__km_item"),
        F.col(judge_col).cast("string").alias("judge_a"),
        F.col(label_col).alias("label_a"),
    )
    side_b = df.select(
        F.col(item_col).alias("__km_item"),
        F.col(judge_col).cast("string").alias("judge_b"),
        F.col(label_col).alias("label_b"),
    )
    paired = side_a.join(side_b, "__km_item").where(
        F.col("judge_a") < F.col("judge_b")
    )
    return cohens_kappa(
        paired,
        "label_a",
        "label_b",
        group_by=["judge_a", "judge_b"],
        round_to=round_to,
    )


def cusum(
    df: DataFrame,
    value_col: str,
    order_cols,
    group_by=None,
    target=None,
    slack: float = 0.0,
    threshold=None,
    round_to: int = 6,
) -> DataFrame:
    """Two-sided CUSUM sequential change detection over an ordered
    metric stream, optionally per group — the monitoring gate that
    catches a SUSTAINED small shift (a quality score drifting 0.2σ
    after a crawler change) long before any per-window mean test
    fires. Emits every input row with ``cusum_up`` / ``cusum_down``
    (Page's statistics S⁺_t = max(0, S⁺_{t−1} + x_t − target − slack),
    S⁻_t = max(0, S⁻_{t−1} − (x_t − target) − slack)) and, when
    ``threshold`` is given, boolean ``alarm_up`` / ``alarm_down``.
    ``target`` defaults to the per-group mean (retrospective drift
    scan); pass a number for a true online reference. ``slack`` is
    Page's k (per-step allowance, typically half the shift you want
    to detect in value units).

    The recurrences are NOT computed with a per-group window (a
    handful of monitored metrics would collapse the whole scan to
    #groups tasks) and not row-by-row: Page's max-recurrence has the
    closed form S⁺_t = P_t − min(0, min_{j≤t} P_j) over the plain
    cumulative sum P of (x − target − slack), so the operator is two
    distributed prefix-scan passes — a multi-column running SUM, then
    a running MIN and running MAX folded in one pass — all
    boundary-invariant and exactly equal to the sequential
    formulation. Rows with NULL/NaN values are excluded; ties in
    ``order_cols`` should be broken by a unique column, exactly as
    with a window.
    """
    keys = keys_of(group_by)
    order_cols = (
        [order_cols] if isinstance(order_cols, str) else list(order_cols)
    )
    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull() & ~F.isnan(x))
    if target is None:
        means = base.groupBy(*keys).agg(F.avg(x).alias("__target"))
        base = join_on_keys(base, F.broadcast(means), keys)
        tgt = F.col("__target")
    else:
        tgt = F.lit(float(target))
        base = base.withColumn("__target", tgt)
    stepped = base.select(
        "*",
        (x - tgt - F.lit(float(slack))).alias("__d_up"),
        (-(x - tgt) - F.lit(float(slack))).alias("__d_dn"),
    )
    summed = grouped_prefix_scan(
        stepped, keys, order_cols, ["__d_up", "__d_dn"], ["__p_up", "__p_dn"]
    )
    scanned = grouped_prefix_scan(
        summed,
        keys,
        order_cols,
        ["__p_up", "__p_dn"],
        ["__m_up", "__m_dn"],
        fn="min",
    )
    up = F.col("__p_up") - F.least(F.lit(0.0), F.col("__m_up"))
    dn = F.col("__p_dn") - F.least(F.lit(0.0), F.col("__m_dn"))
    out = scanned.select(
        *[c for c in df.columns],
        F.round(up, round_to).alias("cusum_up"),
        F.round(dn, round_to).alias("cusum_down"),
    )
    if threshold is not None:
        h = F.lit(float(threshold))
        out = out.select(
            "*",
            (F.col("cusum_up") > h).alias("alarm_up"),
            (F.col("cusum_down") > h).alias("alarm_down"),
        )
    return out


def reliability_bins(
    df: DataFrame,
    score_col: str,
    label_col: str,
    bins: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """The reliability diagram behind ``ece``, as a table: one row per
    non-empty equal-width confidence bucket ``(bin, n, confidence,
    accuracy, gap)`` where ``confidence`` is the mean score,
    ``accuracy`` the empirical positive rate, and ``gap`` their signed
    difference (positive = overconfident). This is the artifact you
    plot or alert on when ``ece`` says something is off — ece tells
    you THAT the scorer lies, the bins tell you WHERE (usually the
    high-confidence tail). Same contract as ``ece``: scores loudly
    asserted into [0, 1] on every non-null score, null-label rows
    excluded from the aggregates, one bins-row shuffle.
    """
    if bins < 1:
        raise ValueError(f"reliability_bins: bins must be >= 1, got {bins}")
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("double")
    guard = F.assert_true(
        (s >= 0.0) & (s <= 1.0),
        F.lit("reliability_bins: scores must be probabilities in [0, 1]"),
    )
    checked = s + F.coalesce(guard.cast("double"), F.lit(0.0))
    bucket = F.least(
        F.floor(checked * F.lit(int(bins))), F.lit(int(bins) - 1)
    )
    per_bucket = (
        df.where(s.isNotNull())
        .groupBy(bucket.cast("int").alias("bin"))
        .agg(
            F.count(y).cast("bigint").alias("n"),
            F.avg(F.when(y.isNotNull(), s)).alias("__conf"),
            F.avg(y).alias("__acc"),
        )
        .where(F.col("n") > 0)
    )
    return per_bucket.select(
        "bin",
        "n",
        F.round("__conf", round_to).alias("confidence"),
        F.round("__acc", round_to).alias("accuracy"),
        F.round(F.col("__conf") - F.col("__acc"), round_to).alias("gap"),
    )


def quantiles(
    df: DataFrame,
    column: str,
    qs=(0.25, 0.5, 0.75),
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Exact per-group quantiles at arbitrary probabilities with the
    standard linear interpolation (R type-7 — what NumPy, DuckDB's
    ``quantile_cont`` and Spark's ``percentile`` all compute), but
    WITHOUT ``percentile``'s exact-aggregate memory hazard: that
    aggregate buffers a per-group value map in one task, so one
    billion-row group kills an executor. Here values reduce to
    per-distinct-value counts (shuffle ∝ distinct values), one
    distributed prefix sum positions them, and for each q the two
    distinct values bracketing position h = (n−1)·q are picked by
    filter + max and interpolated. Returns long format
    ``(group..., q, quantile, n)``, one row per requested q per
    group. NULL/NaN rows are excluded.
    """
    qs = [float(q) for q in qs]
    if not qs or any(q < 0 or q > 1 for q in qs):
        raise ValueError(
            f"quantiles: qs must be non-empty probabilities in [0, 1], got {qs}"
        )
    keys = keys_of(group_by)
    x = F.col(column).cast("double")
    base = df.select(*keys, x.alias("__x")).where(
        x.isNotNull() & ~F.isnan(x)
    )
    counts = (
        base.groupBy(*keys, F.col("__x"))
        .agg(F.count("*").cast("bigint").alias("__n"))
        .transform(pin)
    )
    cum = grouped_prefix_sum(
        counts, keys, ["__x"], "__n", "__cum", prepinned=True
    )
    totals = counts.groupBy(*keys).agg(F.sum("__n").alias("__tot"))
    joined = join_on_keys(cum, totals, keys)
    picks = []
    pred = F.lit(False)
    for i, q in enumerate(qs):
        h = (F.col("__tot") - 1) * F.lit(q)
        plo = F.floor(h) + 1  # 1-based lower bracket
        phi = F.least(plo + 1, F.col("__tot"))
        lo_in = (F.col("__cum") >= plo) & (F.col("__cum") - F.col("__n") < plo)
        hi_in = (F.col("__cum") >= phi) & (F.col("__cum") - F.col("__n") < phi)
        pred = pred | lo_in | hi_in
        picks.append(
            (
                F.max(F.when(lo_in, F.col("__x"))).alias(f"__lo_{i}"),
                F.max(F.when(hi_in, F.col("__x"))).alias(f"__hi_{i}"),
            )
        )
    agg = joined.where(pred).groupBy(*keys).agg(
        F.max("__tot").alias("__tot"),
        *[c for pair in picks for c in pair],
    )
    entries = []
    for i, q in enumerate(qs):
        h = (F.col("__tot") - 1) * F.lit(q)
        frac = h - F.floor(h)
        val = F.col(f"__lo_{i}") + frac * (
            F.col(f"__hi_{i}") - F.col(f"__lo_{i}")
        )
        entries.append(
            F.struct(
                F.lit(q).alias("q"),
                F.round(val, round_to).alias("quantile"),
            )
        )
    return agg.select(
        *keys,
        F.col("__tot").cast("bigint").alias("n"),
        F.explode(F.array(*entries)).alias("__e"),
    ).select(*keys, "__e.q", "__e.quantile", "n")


def gini(
    df: DataFrame,
    value_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Gini concentration coefficient of a non-negative quantity,
    optionally per group — the one-number answer to "how skewed is
    this corpus?": token share by domain, documents per URL host,
    training-mix mass by source. 0 = perfectly even, →1 = one unit
    holds everything; a mix whose Gini quietly climbs across
    snapshots is centralizing on a few sources long before a top-k
    table shows it. Returns ``(group..., n, total, gini)``.

    Exact with ties at any scale: the standard rank identity
    G = 2·Σᵢ i·x₍ᵢ₎ / (n·Σx) − (n+1)/n needs the ASCENDING rank of
    every row — computed here per distinct value from the distributed
    prefix sum (a tied block spanning ranks r+1..r+k contributes
    v·(k·r + k(k+1)/2)), so the shuffle is ∝ distinct values and no
    global sort of rows exists. Negative values are rejected loudly
    (the identity is only a concentration measure for x ≥ 0);
    NULL/NaN rows are excluded. ``gini`` is NULL when total = 0 or
    n < 2.
    """
    keys = keys_of(group_by)
    x = F.col(value_col).cast("double")
    guard = F.assert_true(
        x >= 0, F.lit("stats.gini: values must be non-negative")
    )
    base = df.where(x.isNotNull() & ~F.isnan(x)).select(
        *keys,
        (x + F.coalesce(guard.cast("double"), F.lit(0.0))).alias("__x"),
    )
    counts = base.groupBy(*keys, F.col("__x")).agg(
        F.count("*").cast("bigint").alias("__n")
    )
    cum = grouped_prefix_sum(counts, keys, ["__x"], "__n", "__cum")
    contrib = cum.select(
        *keys,
        "__n",
        (F.col("__x") * F.col("__n")).alias("__mass"),
        (
            F.col("__x")
            * (
                F.col("__n").cast("double")
                * (F.col("__cum") - F.col("__n"))
                + F.col("__n").cast("double") * (F.col("__n") + 1) / 2
            )
        ).alias("__ranked"),
    )
    agg = contrib.groupBy(*keys).agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.sum("__mass").alias("__total"),
        F.sum("__ranked").alias("__rank_sum"),
    )
    n = F.col("n").cast("double")
    g = F.when(
        (F.col("__total") > 0) & (F.col("n") >= 2),
        F.lit(2.0) * F.col("__rank_sum") / (n * F.col("__total"))
        - (n + 1) / n,
    )
    return agg.select(
        *keys,
        "n",
        F.round("__total", round_to).alias("total"),
        F.round(g, round_to).alias("gini"),
    )


def autocorrelation(
    df: DataFrame,
    value_col: str,
    order_cols,
    lags=(1,),
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Sample autocorrelation of an ordered metric stream at the given
    lags, optionally per group — the seasonality/momentum diagnostic
    that tells you whether a pipeline metric needs a weekly baseline
    (ρ(7) high on daily numbers) or a CUSUM (slow positive drift shows
    as a fat ρ(1)). Uses the standard biased estimator
    ρ(k) = Σ_{t≤n−k}(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² with the
    full-series mean and variance (what statsmodels' ``acf``
    computes). Returns ``(group..., lag, n, acf)`` — one row per
    (group, lag) even when the series is too short to pair; ``acf``
    is NULL when the series is constant or has no lagged pair
    (fewer than lag+1 rows).

    Shape: row positions come from the distributed prefix sum (never
    a per-group row_number window — one monitored metric would
    serialize), the lagged pairing is ONE keyed self-join on
    (group, position + lag) with the left side exploded per lag, and
    mean/variance attach as per-group broadcast aggregates. Rows with
    NULL/NaN values are excluded BEFORE positioning (gaps close up,
    as in a plain ordered series); ``order_cols`` must be a total
    order within each group.
    """
    lags = [int(l) for l in lags]
    if not lags or any(l < 1 for l in lags):
        raise ValueError(
            f"autocorrelation: lags must be positive integers, got {lags}"
        )
    keys = keys_of(group_by)
    order_cols = (
        [order_cols] if isinstance(order_cols, str) else list(order_cols)
    )
    x = F.col(value_col).cast("double")
    base = df.where(x.isNotNull() & ~F.isnan(x)).select(
        *keys, *order_cols, x.alias("__x"), F.lit(1).alias("__one")
    )
    pos = grouped_prefix_sum(
        base, keys, order_cols, "__one", "__i"
    ).transform(pin)
    means = pos.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("__n"),
        F.avg("__x").alias("__mean"),
    )
    # second pass for __ss from CENTERED deviations — the one-pass
    # sum(x²) − n·mean² identity cancels catastrophically on
    # large-mean streams (the same reason moments() rejects it);
    # pos is pinned, so this is one extra scan of a few-key frame
    centered = join_on_keys(pos, F.broadcast(means), keys)
    moments = centered.groupBy(*keys).agg(
        F.max("__n").alias("__n"),
        F.max("__mean").alias("__mean"),
        F.sum(F.pow(F.col("__x") - F.col("__mean"), 2)).alias("__ss"),
    )
    lag_arr = F.array(*[F.lit(l) for l in lags])
    left = pos.select(
        *[F.col(k).alias(f"__l_{k}") for k in keys],
        F.col("__x").alias("__xa"),
        F.explode(lag_arr).alias("lag"),
        F.col("__i").alias("__ia"),
    )
    right = pos.select(
        *[F.col(k).alias(f"__r_{k}") for k in keys],
        F.col("__x").alias("__xb"),
        F.col("__i").alias("__ib"),
    )
    cond = left["__ia"] + left["lag"] == right["__ib"]
    for k in keys:
        cond = cond & left[f"__l_{k}"].eqNullSafe(right[f"__r_{k}"])
    paired = left.join(right, cond)
    if keys:
        m = moments.select(
            *[F.col(k).alias(f"__m_{k}") for k in keys], "__mean"
        )
        mcond = F.lit(True)
        for k in keys:
            mcond = mcond & paired[f"__l_{k}"].eqNullSafe(m[f"__m_{k}"])
        paired = paired.join(F.broadcast(m), mcond)
    else:
        paired = paired.join(F.broadcast(moments.select("__mean")))
    cross = paired.groupBy(
        *[F.col(f"__l_{k}").alias(k) for k in keys], "lag"
    ).agg(
        F.sum(
            (F.col("__xa") - F.col("__mean"))
            * (F.col("__xb") - F.col("__mean"))
        ).alias("__cross"),
    )
    # build the FULL (group × lag) frame from moments, then left-join
    # the pair sums — a (group, lag) whose series has no lagged pair
    # (fewer than lag+1 rows) must still surface, with NULL acf,
    # rather than silently vanish from the output
    frame = moments.withColumn("lag", F.explode(lag_arr))
    c = cross.select(
        *[F.col(k).alias(f"__c_{k}") for k in keys],
        F.col("lag").alias("__c_lag"),
        "__cross",
    )
    jcond = frame["lag"] == c["__c_lag"]
    for k in keys:
        jcond = jcond & frame[k].eqNullSafe(c[f"__c_{k}"])
    joined = frame.join(c, jcond, "left")
    return joined.select(
        *keys,
        F.col("lag").cast("int").alias("lag"),
        F.col("__n").cast("bigint").alias("n"),
        F.round(
            F.when(
                (F.col("__ss") > 0) & F.col("__cross").isNotNull(),
                F.col("__cross") / F.col("__ss"),
            ),
            round_to,
        ).alias("acf"),
    )


def ab_segments(
    df: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
    segment_by,
    round_to: int = 6,
) -> DataFrame:
    """Per-segment Welch readout of a two-arm experiment — the
    follow-up question after :func:`ab_compare` says "treatment wins
    overall": *where* does it win, and is any segment (language,
    source, device…) quietly hurt? One row per segment with the same
    columns as ``ab_compare`` plus the segment keys.

    Unlike ``ab_compare`` (one row, fail-loud on a degenerate arm),
    a segment scan EXPECTS degenerate cells: a tiny segment with one
    row in an arm, or an arm absent entirely, is data, not a pipeline
    bug. Those rows are kept with NULL ``stderr``/``z``/``p_value``
    (and their counts visible) instead of aborting the whole scan —
    filter ``p_value IS NOT NULL`` for the testable subset.

    One partial-aggregated pass (map-side combine; conditional
    aggregates, so each arm never shuffles separately), then pure
    column arithmetic — no joins, no windows, segment-count-many
    output rows. At 100 TB this is scan + one keyed reduce.
    """
    keys = (
        [segment_by] if isinstance(segment_by, str) else list(segment_by)
    )
    v = F.col(value_col).cast("double")
    cv = F.when(F.col(group_col) == control, v)
    tv = F.when(F.col(group_col) == treatment, v)
    agg = df.groupBy(*keys).agg(
        F.count(cv).cast("bigint").alias("n_control"),
        F.avg(cv).alias("__mean_c"),
        F.var_samp(cv).alias("__var_c"),
        F.count(tv).cast("bigint").alias("n_treatment"),
        F.avg(tv).alias("__mean_t"),
        F.var_samp(tv).alias("__var_t"),
    )
    se = F.sqrt(
        F.col("__var_t") / F.col("n_treatment")
        + F.col("__var_c") / F.col("n_control")
    )
    diff = F.col("__mean_t") - F.col("__mean_c")
    z = F.when(se.isNotNull() & (se > 0), diff / se)
    return agg.select(
        *keys,
        "n_control",
        "n_treatment",
        F.round("__mean_c", round_to).alias("mean_control"),
        F.round("__mean_t", round_to).alias("mean_treatment"),
        F.round(diff, round_to).alias("diff"),
        F.round(
            F.when(F.col("__mean_c") != 0, diff / F.col("__mean_c")),
            round_to,
        ).alias("rel_diff"),
        F.round(F.when(se > 0, se), round_to).alias("stderr"),
        F.round(z, round_to).alias("z"),
        F.round(_normal_two_sided_p(z), round_to).alias("p_value"),
    )


def trend(
    df: DataFrame,
    ts_col: str,
    group_by=None,
    value_col=None,
    round_to: int = 6,
) -> DataFrame:
    """Per-group least-squares trend of a daily metric — "which
    sources are shrinking, and how fast?" for corpus-ingest
    monitoring. The metric is rows/day (``value_col=None``) or
    sum(value)/day; the fit regresses it on the epoch-day index.
    Returns ``(group..., n_days, mean_per_day, slope_per_day, r2)``
    — slope in metric-units per day, ``r2`` how line-like the drift
    is (NULL when fewer than 2 distinct days or the metric is
    constant; a near-1 ``r2`` with a negative slope is a steady
    decline, not noise).

    Two keyed partial aggregations (day rollup, then moment sums) —
    no windows, no joins, so 100 TB costs one scan plus two
    combiner-reduced shuffles on (group, day) and (group). The
    closed-form moment arithmetic (slope = (n·Σxy − ΣxΣy)/(n·Σxx −
    (Σx)²) etc.) is used instead of ``regr_slope``-family aggregates
    so the oracle controls every operation: with a count metric all
    six moments are exact integers in doubles (< 2^53), making the
    fit reproducible bit-for-bit across engines and row orders.
    """
    keys = keys_of(group_by)
    day = F.datediff(F.to_date(F.col(ts_col)), F.lit("1970-01-01"))
    metric = (
        F.count("*").cast("double")
        if value_col is None
        else F.sum(F.col(value_col).cast("double"))
    )
    daily = (
        df.where(F.col(ts_col).isNotNull())
        .groupBy(*keys, day.alias("__day"))
        .agg(metric.alias("__y"))
    )
    x = F.col("__day").cast("double")
    y = F.col("__y")
    m = daily.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.sum(x).alias("__sx"),
        F.sum(y).alias("__sy"),
        F.sum(x * x).alias("__sxx"),
        F.sum(y * y).alias("__syy"),
        F.sum(x * y).alias("__sxy"),
    )
    n = F.col("n_days").cast("double")
    cov_n = n * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    varx_n = n * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    vary_n = n * F.col("__syy") - F.col("__sy") * F.col("__sy")
    slope = F.when(varx_n > 0, cov_n / varx_n)
    r2 = F.when((varx_n > 0) & (vary_n > 0), cov_n * cov_n / (varx_n * vary_n))
    return m.select(
        *keys,
        "n_days",
        F.round(F.col("__sy") / n, round_to).alias("mean_per_day"),
        F.round(slope, round_to).alias("slope_per_day"),
        F.round(r2, round_to).alias("r2"),
    )


def cramers_v(
    df: DataFrame,
    col_a: str,
    col_b: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Cramér's V association between two categorical columns (0 =
    independent, 1 = one determines the other), optionally per group
    — the question behind stratified sampling and leakage checks:
    "is `source` just a proxy for `lang`?", "does the quality bucket
    depend on the host?". Returns ``(group..., n, r, c, chi2, dof,
    v)``; ``v`` is NULL when either column has < 2 levels. NULL
    category rows are excluded (a NULL level is missingness, not a
    category).

    Zero-observed cells need no materialization: with expected
    e = rowtot·coltot/n, the identity Σ(o−e)²/e = n·Σ_observed
    o²/(rowtot·coltot) − n means only the observed contingency cells
    (one groupBy) and the two marginal rollups are ever computed —
    cells × 2 marginal broadcast joins, no r×c densification. At
    100 TB: one scan, then all shuffles are ∝ distinct levels, not
    rows.
    """
    keys = keys_of(group_by)
    base = df.where(
        F.col(col_a).isNotNull() & F.col(col_b).isNotNull()
    ).select(*keys, F.col(col_a).alias("__a"), F.col(col_b).alias("__b"))
    cells = base.groupBy(*keys, "__a", "__b").agg(
        F.count("*").cast("bigint").alias("__o")
    )
    ra = cells.groupBy(*keys, "__a").agg(
        F.sum("__o").cast("bigint").alias("__ra")
    )
    cb = cells.groupBy(*keys, "__b").agg(
        F.sum("__o").cast("bigint").alias("__cb")
    )
    joined = cells.join(F.broadcast(ra), [*keys, "__a"]).join(
        F.broadcast(cb), [*keys, "__b"]
    )
    agg = joined.groupBy(*keys).agg(
        F.sum("__o").cast("bigint").alias("n"),
        F.countDistinct("__a").cast("bigint").alias("r"),
        F.countDistinct("__b").cast("bigint").alias("c"),
        F.sum(
            F.col("__o").cast("double")
            * F.col("__o")
            / (F.col("__ra").cast("double") * F.col("__cb"))
        ).alias("__q"),
    )
    n = F.col("n").cast("double")
    chi2 = F.greatest(n * F.col("__q") - n, F.lit(0.0))
    mindim = F.least(F.col("r"), F.col("c")).cast("double") - 1
    v = F.when(mindim > 0, F.sqrt(chi2 / (n * mindim)))
    return agg.select(
        *keys,
        "n",
        "r",
        "c",
        F.round(chi2, round_to).alias("chi2"),
        ((F.col("r") - 1) * (F.col("c") - 1)).cast("bigint").alias("dof"),
        F.round(v, round_to).alias("v"),
    )


def bh_adjust(
    df: DataFrame,
    p_col: str,
    q: float = 0.05,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Benjamini-Hochberg FDR adjustment — the required follow-up once
    :func:`ab_segments` (or any per-segment test) emits thousands of
    p-values: at p < 0.05 a 10,000-segment scan hands you ~500 false
    positives; BH caps the expected false-discovery RATE at ``q``
    instead. Appends ``p_adj`` (the BH-adjusted p-value, monotone
    step-up ``min(1, min_{j≥rank}(m·p_(j)/j))``) and ``discovery``
    (``p_adj <= q``) to every input row; NULL p-values pass through
    with NULL in both (excluded from ``m``). p-values outside [0, 1]
    fail loudly — a z-score or logit sneaking into a p column is a
    bug, not a result.

    Scale shape: ranks come from per-distinct-p counts + one
    distributed prefix sum, the step-up reverse cummin is a second
    prefix scan (``fn='min'``) on the SAME distinct-p table in
    descending order, and results rejoin on (group, p) — every
    shuffle is ∝ distinct p-values, never a per-group window, so a
    few-group/million-test scan keeps full parallelism (the
    [[prefix-scan-family]] idiom).
    """
    keys = keys_of(group_by)
    p = F.col(p_col).cast("double")
    guard = F.assert_true(
        (p >= 0) & (p <= 1),
        F.lit("bh_adjust: p-values must be in [0, 1]"),
    )
    base = df.where(p.isNotNull() & ~F.isnan(p)).select(
        *keys,
        (p + F.coalesce(guard.cast("double"), F.lit(0.0))).alias("__p"),
    )
    # pinned: counts feeds the rank prefix scan (whose
    # repartitionByRange samples it in an extra pass) AND the per-group
    # totals m — unpinned, the caller's whole upstream re-evaluates
    # three times (r13)
    counts = pin(
        base.groupBy(*keys, "__p").agg(
            F.count("*").cast("bigint").alias("__n")
        )
    )
    # inclusive cumsum of tied-block sizes = the LARGEST rank of each
    # tied p (the index BH uses for ties)
    ranked = grouped_prefix_sum(
        counts, keys, ["__p"], "__n", "__k", prepinned=True
    )
    m = counts.groupBy(*keys).agg(F.sum("__n").cast("bigint").alias("__m"))
    ranked = join_on_keys(ranked, F.broadcast(m), keys)
    ranked = ranked.withColumn(
        "__raw", F.col("__m").cast("double") * F.col("__p") / F.col("__k")
    ).withColumn("__negp", -F.col("__p"))
    # step-up: running min of raw from the largest p downward
    adj = grouped_prefix_scan(
        ranked, keys, ["__negp"], "__raw", "__adj", fn="min", inclusive=True
    )
    adj = adj.select(
        *keys,
        "__p",
        F.round(F.least(F.lit(1.0), F.col("__adj")), round_to).alias("p_adj"),
    )
    joined = df.join(
        adj,
        [F.col(p_col).cast("double").eqNullSafe(F.col("__p"))]
        + [df[k].eqNullSafe(adj[k]) for k in keys],
        "left",
    )
    return joined.select(
        *[df[c] for c in df.columns],
        "p_adj",
        (F.col("p_adj") <= F.lit(float(q))).alias("discovery"),
    )


def _bh_adjust_bounded(
    df: DataFrame,
    p_col: str,
    q: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """:func:`bh_adjust` for frames that are BOUNDED BY CONSTRUCTION
    (the k(k−1)/2-row pair tables of :func:`dunn_test` /
    :func:`mcnemar_pairs`, k = a handful of arms/models by
    definition) — same arithmetic, same output columns, none of the
    distributed prefix-scan machinery.

    Why a second path exists: ``bh_adjust`` is shaped for a
    million-p-value segment scan — ranks and the step-up cummin each
    run the two-pass distributed prefix scan (range exchange + pin +
    offsets join), and results re-join onto the input, which
    RE-EVALUATES the caller's whole upstream plan once per branch.
    For a pair table whose entire upstream is a full-corpus
    aggregation, that triples the corpus scans to adjust three rows
    (r13 measured: dunn_test 10.2 s / mcnemar_pairs 13.4 s at sf0.1,
    dominated by exactly this). Here everything is three global
    window expressions computed IN-LINE on the bounded frame — no
    self-join, no re-evaluation, one partition, which is the correct
    scale shape when the row count is k²-bounded.

    Equivalence to ``bh_adjust``: rank-with-ties = count of p′ ≤ p
    (range frame includes the whole tie block = the largest tied
    rank); step-up = min of m·p′/k′ over p′ ≥ p (descending range
    frame; min is order-exact, so fold order cannot change the
    double); NULL/NaN p excluded from m and passed through with NULL
    ``p_adj``/``discovery``; out-of-[0,1] p fails loudly.
    """
    p = F.col(p_col).cast("double")
    valid = p.isNotNull() & ~F.isnan(p)
    guard = F.assert_true(
        ~valid | ((p >= 0) & (p <= 1)),
        F.lit("bh_adjust: p-values must be in [0, 1]"),
    )
    pp = F.when(valid, p + F.coalesce(guard.cast("double"), F.lit(0.0)))
    tagged = df.withColumn("__bhp", pp)
    w_all = Window.partitionBy()
    w_le = (
        Window.orderBy(F.col("__bhp").asc_nulls_last())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_ge = (
        Window.orderBy(F.col("__bhp").desc_nulls_last())
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    m = F.count("__bhp").over(w_all).cast("double")
    k = F.count("__bhp").over(w_le).cast("double")
    # staged: a window expression may not nest inside another window's
    # argument, so raw = m·p/k lands as a column before the step-up min
    staged = tagged.withColumn("__bhraw", m * F.col("__bhp") / k)
    adj = F.min("__bhraw").over(w_ge)
    p_adj = F.when(
        F.col("__bhp").isNotNull(),
        F.round(F.least(F.lit(1.0), adj), round_to),
    )
    return (
        staged.withColumn("p_adj", p_adj)
        .withColumn("discovery", F.col("p_adj") <= F.lit(float(q)))
        .drop("__bhp", "__bhraw")
    )


def msprt(
    df: DataFrame,
    group_col: str,
    value_col: str,
    control: str,
    treatment: str,
    tau: float = 1.0,
    round_to: int = 6,
) -> DataFrame:
    """Mixture sequential probability ratio test (mSPRT) for the mean
    difference between two arms — the ALWAYS-VALID companion to
    ``ab_compare``'s fixed-horizon z-test (Johari, Pekelis & Walsh,
    "Always Valid Inference", 2017; the method behind
    continuously-monitored A/B dashboards): the p-value it emits may
    be checked after EVERY batch without inflating the false-positive
    rate, so "peek daily, stop when significant" is statistically
    sound — the exact workflow a fixed-horizon test forbids.

    Under H0 the mean difference estimate is δ̂ ~ N(0, V) with
    V = var_c/n_c + var_t/n_t (Welch); mixing H1 over δ ~ N(0, τ²)
    gives the likelihood ratio in closed form::

        Λ = sqrt(V / (V + τ²)) · exp(δ̂² τ² / (2 V (V + τ²)))

    and ``p_always = min(1, 1/Λ)`` is a valid p-value at every sample
    size simultaneously (Λ is a nonnegative martingale under H0; Ville's
    inequality). ``tau`` is the PRE-REGISTERED mixture scale — pick it
    near the effect size worth detecting (the test is valid for any
    fixed choice, merely least powerful when τ is far from the true
    effect); it must not be tuned on the observed data.

    One partial-aggregated pass (per-arm n/mean/variance, map-side
    combine, 1-row reduce), then driver-free closed-form arithmetic —
    the ``ab_compare`` plan shape exactly, and fully SQL-expressible
    (exact DuckDB oracle). Same fail-loud contract: empty arm,
    single-row arm, or zero-variance-both-arms raises.

    Returns one row: ``(n_control, n_treatment, mean_control,
    mean_treatment, diff, stderr, log_lambda, p_always)``.
    ``log_lambda`` (natural log) is emitted rather than Λ because Λ
    overflows a double on decisive evidence; ``p_always`` =
    ``exp(min(0, -log_lambda))``.
    """
    if tau <= 0:
        raise ValueError(f"msprt: tau must be > 0, got {tau}")
    v = F.col(value_col).cast("double")
    cv = F.when(F.col(group_col) == control, v)
    tv = F.when(F.col(group_col) == treatment, v)
    both = df.agg(
        F.count(cv).alias("n_control"),
        F.avg(cv).alias("mean_control"),
        F.var_samp(cv).alias("var_c"),
        F.count(tv).alias("n_treatment"),
        F.avg(tv).alias("mean_treatment"),
        F.var_samp(tv).alias("var_t"),
    )
    V = (
        F.col("var_c") / F.col("n_control")
        + F.col("var_t") / F.col("n_treatment")
    )
    guard = F.assert_true(
        (F.col("n_control") > 0)
        & (F.col("n_treatment") > 0)
        & V.isNotNull()
        & (V > 0),
        F.lit(
            "msprt: an arm is empty, has a single row (undefined "
            "variance), or both arms have zero variance - a constant "
            "metric is a pipeline bug, not a result"
        ),
    )
    t2 = F.lit(float(tau) * float(tau))
    diff = F.col("mean_treatment") - F.col("mean_control")
    # divisions gated behind V > 0 so ANSI divide-by-zero cannot
    # preempt the guard message (projection evaluation order is
    # unspecified)
    log_lam = F.when(
        V > 0,
        F.lit(0.5) * F.log(V / (V + t2))
        + (diff * diff) * t2 / (F.lit(2.0) * V * (V + t2)),
    )
    p_always = F.exp(F.least(F.lit(0.0), -log_lam))
    return both.select(
        F.when(guard.isNull(), F.col("n_control")).alias("n_control"),
        "n_treatment",
        F.round("mean_control", round_to).alias("mean_control"),
        F.round("mean_treatment", round_to).alias("mean_treatment"),
        F.round(diff, round_to).alias("diff"),
        F.round(F.when(V > 0, F.sqrt(V)), round_to).alias("stderr"),
        F.round(log_lam, round_to).alias("log_lambda"),
        F.round(p_always, round_to).alias("p_always"),
    )


def anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """One-way ANOVA across ALL arms of ``group_col`` — the k-arm
    generalization of ``ab_compare``: tests whether ANY arm mean
    differs (H0: all equal) before pairwise readouts inflate false
    positives. The standard experiment-platform sequence is
    ``srm`` → ``anova`` → per-pair ``ab_compare``/``bh_adjust``.

    Decomposition is the textbook between/within split computed
    STABLY: per-arm (n, mean, var_samp) in one partial-aggregated
    pass (map-side combine, k-row reduce), grand mean from the
    n-weighted arm means, SS_between = Σ n_g·(mean_g − grand)²
    (centered — never the sum-of-squares-minus-correction form the
    ``moments`` docstring rejects), SS_within = Σ (n_g−1)·var_g
    (Spark's var_samp is Welford-stable). F = (SSB/df1)/(SSW/df2),
    ``eta_sq`` = SSB/(SSB+SSW) is the effect size.

    The upper-tail p-value uses the Paulson (1942) cube-root normal
    approximation of the F distribution — each chi-square is
    Wilson-Hilferty-approximated and the ratio renormalized:
    z = [(1−2/(9·df2))·F^⅓ − (1−2/(9·df1))] /
    sqrt(2/(9·df1) + (2/(9·df2))·F^⅔), p = 1−Φ(z) on the shared
    A&S polynomial Φ — exact closed form, so the DuckDB oracle
    replays it bit-for-bit at rounded precision (absolute error
    < 1e-3 for the df sizes any corpus-scale experiment has; for
    tiny df2 use a proper F table offline).

    ``group_by`` runs one ANOVA per segment (the batch health check
    over concurrent experiments): same scan, keyed instead of
    global; shuffle ∝ segments × arms, never rows. Fails loud when
    a segment has < 2 arms, no residual df (n ≤ k), or zero
    within-variance (a constant metric is a pipeline bug, not a
    result). NULL/NaN metric rows are excluded BEFORE aggregation so
    every statistic sees the same rows (the ``bootstrap_ci``
    null-consistency convention).

    Returns one row per segment: ``(group_by..., n, k, ss_between,
    ss_within, f_stat, df1, df2, eta_sq, p_value)``.
    """
    keys = keys_of(group_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *keys, F.col(group_col).alias("__arm"), v.alias("__x")
    )
    arms = base.groupBy(*keys, "__arm").agg(
        F.count("*").cast("bigint").alias("__n"),
        F.avg("__x").alias("__mean"),
        F.var_samp("__x").alias("__var"),
    )
    totals = arms.groupBy(*keys).agg(
        F.sum("__n").cast("bigint").alias("__tot"),
        (F.sum(F.col("__n") * F.col("__mean")) / F.sum("__n")).alias(
            "__grand"
        ),
    )
    joined = join_on_keys(arms, totals, keys)
    agg = joined.groupBy(*keys).agg(
        F.max("__tot").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(
            F.col("__n") * (F.col("__mean") - F.col("__grand")) ** 2
        ).alias("__ssb"),
        F.sum((F.col("__n") - 1) * F.coalesce("__var", F.lit(0.0))).alias(
            "__ssw"
        ),
    )
    df1 = (F.col("k") - 1).cast("double")
    df2 = (F.col("n") - F.col("k")).cast("double")
    ok = (F.col("k") >= 2) & (df2 > 0) & (F.col("__ssw") > 0)
    guard = F.assert_true(
        ok,
        F.lit(
            "anova: a segment has fewer than 2 arms, no residual df "
            "(n <= k), or zero within-group variance - a constant "
            "metric is a pipeline bug, not a result"
        ),
    )
    # every division gated behind the guard predicate (NULL divisors
    # when ok is false) so ANSI divide-by-zero cannot preempt the
    # guard message (projection evaluation order is unspecified)
    sdf1 = F.when(ok, df1)
    sdf2 = F.when(ok, df2)
    fstat = F.when(ok, (F.col("__ssb") / sdf1) / (F.col("__ssw") / sdf2))
    # Paulson (1942): F^(1/3) with both chi-squares Wilson-Hilferty
    # normalized; upper tail on the shared A&S polynomial Phi
    pz = (
        (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * sdf2))
        * fstat ** F.lit(1.0 / 3.0)
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * sdf1))
    ) / F.sqrt(
        F.lit(2.0) / (F.lit(9.0) * sdf1)
        + F.lit(2.0) / (F.lit(9.0) * sdf2) * fstat ** F.lit(2.0 / 3.0)
    )
    p = 1 - _normal_cdf(pz)
    return agg.select(
        *keys,
        F.when(guard.isNull(), F.col("n")).alias("n"),
        "k",
        F.round("__ssb", round_to).alias("ss_between"),
        F.round("__ssw", round_to).alias("ss_within"),
        F.round(fstat, round_to).alias("f_stat"),
        df1.cast("bigint").alias("df1"),
        df2.cast("bigint").alias("df2"),
        F.round(
            F.when(ok, F.col("__ssb") / (F.col("__ssb") + F.col("__ssw"))),
            round_to,
        ).alias(
            "eta_sq"
        ),
        F.round(p, round_to).alias("p_value"),
    )


def welch_anova(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Welch's heteroscedastic one-way ANOVA — the k-arm omnibus for
    arms with UNEQUAL variances and sizes, which is the normal state
    of corpus metrics (a 2%-traffic arm vs a 49% control; a source
    whose lengths are 10× more dispersed). Classic :func:`anova`
    assumes one pooled within-variance and its false-positive rate
    degrades exactly when arm sizes and variances are both unequal;
    Welch weights each arm by ``n/s²`` so no pooling happens —
    the k-arm generalization of ``ab_compare``'s unpooled Welch
    standard error. Rank-free; for heavy-tailed/ordinal metrics use
    :func:`kruskal_wallis` instead.

    Exact semantics (James/Welch 1951 form): ``w_j = n_j/s_j²``,
    ``x̄_w = Σw_j·x̄_j / Σw_j``,
    ``Λ = Σ (1 − w_j/W)² / (n_j − 1)``,
    ``F* = [Σw_j(x̄_j − x̄_w)²/(k−1)] / [1 + 2(k−2)/(k²−1)·Λ]``,
    ``df1 = k−1``, ``df2 = (k²−1)/(3Λ)`` (fractional, reported as a
    double). Upper-tail p through the same Paulson cube-root F
    approximation as :func:`anova` (fractional df is exactly what a
    closed-form tail handles and an integer F table does not).
    Fails loud when a segment has < 2 arms, an arm with < 2 rows
    (variance undefined), or a zero-variance arm (its weight would be
    infinite — a constant metric is a pipeline bug). NULL/NaN rows
    excluded before aggregation.

    One row per segment: ``(group_by..., n, k, f_stat, df1, df2,
    p_value)``.

    Scale shape: identical to ``anova`` — one partial-aggregated
    per-arm pass (k-row reduce), a 1-row weighted-mean broadcast (or
    keyed join under ``group_by``), closed-form arithmetic after.
    """
    keys = keys_of(group_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *keys, F.col(group_col).alias("__arm"), v.alias("__x")
    )
    arms = base.groupBy(*keys, "__arm").agg(
        F.count("*").cast("bigint").alias("__n"),
        F.avg("__x").alias("__mean"),
        F.var_samp("__x").alias("__var"),
    )
    w = F.when(
        (F.col("__n") >= 2) & (F.col("__var") > 0),
        F.col("__n").cast("double") / F.col("__var"),
    )
    arms = arms.withColumn("__w", w)
    totals = arms.groupBy(*keys).agg(
        F.sum("__w").alias("__wsum"),
        (F.sum(F.col("__w") * F.col("__mean")) / F.sum("__w")).alias("__mw"),
    )
    joined = join_on_keys(arms, totals, keys)
    agg = joined.groupBy(*keys).agg(
        F.sum("__n").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("k"),
        F.sum(
            F.col("__w") * (F.col("__mean") - F.col("__mw")) ** 2
        ).alias("__A"),
        F.sum(
            (1 - F.col("__w") / F.col("__wsum")) ** 2
            / (F.col("__n") - 1).cast("double")
        ).alias("__lam"),
        F.min((F.col("__w").isNotNull()).cast("int")).alias("__all_w"),
    )
    kk = F.col("k").cast("double")
    ok = (F.col("k") >= 2) & (F.col("__all_w") == 1) & (F.col("__lam") > 0)
    guard = F.assert_true(
        ok,
        F.lit(
            "welch_anova: a segment has fewer than 2 arms, an arm with "
            "fewer than 2 rows (variance undefined), or a zero-variance "
            "arm (infinite weight) - a constant metric is a pipeline "
            "bug, not a result"
        ),
    )
    # every division gated behind the guard predicate (NULL divisors
    # when ok is false) so ANSI divide-by-zero — e.g. k²−1 at k=1 —
    # cannot preempt the guard's message (the anova convention)
    lam = F.when(ok, F.col("__lam"))
    kkok = F.when(ok, kk)
    df1 = F.when(ok, kk - 1)
    fstat = (F.col("__A") / df1) / (
        1 + F.lit(2.0) * (kkok - 2) / (kkok * kkok - 1) * lam
    )
    df2 = (kkok * kkok - 1) / (F.lit(3.0) * lam)
    pz = (
        (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * df2))
        * fstat ** F.lit(1.0 / 3.0)
        - (F.lit(1.0) - F.lit(2.0) / (F.lit(9.0) * df1))
    ) / F.sqrt(
        F.lit(2.0) / (F.lit(9.0) * df1)
        + F.lit(2.0) / (F.lit(9.0) * df2) * fstat ** F.lit(2.0 / 3.0)
    )
    p = 1 - _normal_cdf(pz)
    return agg.select(
        *keys,
        F.when(guard.isNull(), F.col("n")).alias("n"),
        "k",
        F.round(fstat, round_to).alias("f_stat"),
        (F.col("k") - 1).cast("bigint").alias("df1"),
        F.round(df2, round_to).alias("df2"),
        F.round(p, round_to).alias("p_value"),
    )


def kaplan_meier(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Kaplan-Meier survival curve per group — the right-censoring-
    aware estimate of S(t) = P(survival past t) that retention/churn
    questions actually need: a user who has only been observed 10
    days is NOT a churn-at-10 observation, and naively averaging
    "lifetime so far" biases every retention readout downward.
    ``event_col`` truthy means the terminal event happened at
    ``duration_col``; falsy means observation stopped there
    (censored — the row leaves the risk set without an event).

    S(t) = Π_{tᵢ ≤ t} (1 − dᵢ/nᵢ) over distinct EVENT times tᵢ,
    with dᵢ events at tᵢ and nᵢ the risk set (rows with duration
    ≥ tᵢ). Output has one row per (group, event time) — the
    standard KM support; censored-only times affect nᵢ but emit no
    row.

    Scale shape — the [[prefix-scan-family]] idiom twice, never a
    per-group window: rows reduce to per-distinct-duration (d, c)
    counts (shuffle ∝ distinct durations), risk sets come from the
    inclusive prefix sum of d+c flipped against per-group totals
    (nᵢ = N − cum + w), and the running product is
    exp(prefix-sum of ln(1 − d/n)) over event rows, with a parallel
    prefix-summed zero flag so a fully-depleted risk set (d = n)
    pins S to exactly 0.0 from there on instead of exp(−inf). Both
    scans range-partition on (group..., t) — a handful of cohorts
    never collapses the stage. NULL/NaN durations and NULL event
    flags are excluded before counting.

    Returns ``(group_by..., t, n_risk, n_events, n_censored,
    survival)`` ordered by nothing in particular (sort at the edge).
    Fully SQL-expressible (exact DuckDB oracle: same log-sum window
    arithmetic).
    """
    keys = keys_of(group_by)
    t = F.col(duration_col).cast("double")
    e = F.col(event_col).cast("boolean")
    base = df.where(t.isNotNull() & ~F.isnan(t) & e.isNotNull()).select(
        *keys, t.alias("__t"), e.alias("__e")
    )
    counts = (
        base.groupBy(*keys, "__t")
        .agg(
            F.sum(F.when(F.col("__e"), 1).otherwise(0))
            .cast("bigint")
            .alias("__d"),
            F.sum(F.when(F.col("__e"), 0).otherwise(1))
            .cast("bigint")
            .alias("__c"),
        )
        .withColumn("__w", F.col("__d") + F.col("__c"))
        .transform(pin)
    )
    cum = grouped_prefix_sum(
        counts, keys, ["__t"], "__w", "__cum", prepinned=True
    )
    totals = counts.groupBy(*keys).agg(F.sum("__w").alias("__tot"))
    joined = join_on_keys(cum, totals, keys)
    risk = joined.withColumn(
        "__n_risk", F.col("__tot") - F.col("__cum") + F.col("__w")
    )
    ev = risk.where(F.col("__d") > 0).select(
        *keys,
        "__t",
        "__d",
        "__c",
        "__n_risk",
        # ln factor gated: a depleted risk set (d == n) contributes 0
        # here and trips the parallel zero flag instead of ln(0)
        F.when(
            F.col("__d") < F.col("__n_risk"),
            F.log(
                F.lit(1.0)
                - F.col("__d").cast("double") / F.col("__n_risk").cast("double")
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("__lx"),
        F.when(F.col("__d") >= F.col("__n_risk"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("__zf"),
    )
    scanned = grouped_prefix_sum(
        ev, keys, ["__t"], ["__lx", "__zf"], ["__lxc", "__zc"]
    )
    return scanned.select(
        *keys,
        F.col("__t").alias("t"),
        F.col("__n_risk").cast("bigint").alias("n_risk"),
        F.col("__d").alias("n_events"),
        F.col("__c").alias("n_censored"),
        F.round(
            F.when(F.col("__zc") > 0, F.lit(0.0)).otherwise(
                F.exp(F.col("__lxc"))
            ),
            round_to,
        ).alias("survival"),
    )


def log_rank(
    df: DataFrame,
    duration_col: str,
    event_col: str,
    group_col: str,
    control: str,
    treatment: str,
    round_to: int = 6,
) -> DataFrame:
    """Two-sample log-rank test — "did the treatment change
    time-to-churn?", answered the censoring-aware way: comparing the
    two arms' ``kaplan_meier`` curves by eye is not a test, and
    comparing mean observed lifetimes is biased by censoring. At
    each distinct event time the observed treatment events d₁ᵢ are
    set against the hypergeometric expectation E₁ᵢ = dᵢ·n₁ᵢ/nᵢ and
    variance Vᵢ = dᵢ·(n₁ᵢ/nᵢ)·(1−n₁ᵢ/nᵢ)·(nᵢ−dᵢ)/(nᵢ−1);
    chi² = (Σ(d₁ᵢ−E₁ᵢ))²/ΣVᵢ is χ²(1) under H0 (Mantel 1966), with
    the upper tail on the same Wilson-Hilferty + A&S Φ closed form
    ``srm`` uses — fully SQL-expressible (exact DuckDB oracle).

    Scale shape: rows reduce to per-distinct-duration counts (d₁,
    d, and per-arm at-risk decrements — shuffle ∝ distinct
    durations), BOTH risk sets come out of ONE multi-column
    distributed prefix scan flipped against totals, and the event-
    time terms collapse in a 1-row reduce. Rows outside the two
    arms are ignored (holdouts); NULL/NaN durations and NULL event
    flags are excluded. Fails loud when either arm is empty or no
    event time has both arms at risk (ΣV = 0 — there is nothing to
    test).

    Returns one row: ``(n_control, n_treatment, observed_treatment,
    expected_treatment, chi2, p_value)``.
    """
    t = F.col(duration_col).cast("double")
    e = F.col(event_col).cast("boolean")
    g = F.col(group_col).cast("string")
    base = df.where(
        t.isNotNull()
        & ~F.isnan(t)
        & e.isNotNull()
        & g.isin(str(control), str(treatment))
    ).select(
        t.alias("__t"),
        e.alias("__e"),
        (g == str(treatment)).alias("__is_t"),
    )
    counts = (
        base.groupBy("__t")
        .agg(
            F.sum(F.when(F.col("__e") & F.col("__is_t"), 1).otherwise(0))
            .cast("bigint")
            .alias("__d1"),
            F.sum(F.when(F.col("__e"), 1).otherwise(0))
            .cast("bigint")
            .alias("__d"),
            F.sum(F.when(F.col("__is_t"), 1).otherwise(0))
            .cast("bigint")
            .alias("__w1"),
            F.count("*").cast("bigint").alias("__w"),
        )
        .transform(pin)
    )
    cum = grouped_prefix_sum(
        counts, [], ["__t"], ["__w", "__w1"], ["__cum", "__cum1"],
        prepinned=True,
    )
    totals = counts.agg(
        F.sum("__w").alias("__tot"),
        F.sum("__w1").alias("__tot1"),
    )
    # 1-row totals broadcast (whitelisted BNLJ shape)
    risk = cum.join(F.broadcast(totals)).select(
        "__t",
        "__d1",
        "__d",
        (F.col("__tot") - F.col("__cum") + F.col("__w")).alias("__n"),
        (F.col("__tot1") - F.col("__cum1") + F.col("__w1")).alias("__n1"),
        "__tot",
        "__tot1",
    )
    ev = risk.where(F.col("__d") > 0)
    p1 = F.col("__n1").cast("double") / F.col("__n").cast("double")
    dd = F.col("__d").cast("double")
    nn = F.col("__n").cast("double")
    agg = ev.agg(
        F.max(F.col("__tot") - F.col("__tot1")).cast("bigint").alias(
            "n_control"
        ),
        F.max("__tot1").cast("bigint").alias("n_treatment"),
        F.sum("__d1").cast("bigint").alias("observed_treatment"),
        F.sum(dd * p1).alias("__e1"),
        F.sum(
            F.when(
                F.col("__n") > 1,
                dd * p1 * (1 - p1) * (nn - dd) / (nn - 1),
            ).otherwise(F.lit(0.0))
        ).alias("__v"),
    )
    guard = F.assert_true(
        (F.col("n_control") > 0)
        & (F.col("n_treatment") > 0)
        & (F.col("__v") > 0),
        F.lit(
            "log_rank: an arm is empty or no event time has both arms "
            "at risk (zero variance) - there is nothing to test"
        ),
    )
    chi2 = F.when(
        F.col("__v") > 0,
        (F.col("observed_treatment") - F.col("__e1")) ** 2 / F.col("__v"),
    )
    # Wilson-Hilferty chi-square(1) upper tail on the shared A&S Phi
    wh_z = (chi2 ** F.lit(1.0 / 3.0) - F.lit(1.0 - 2.0 / 9.0)) / F.lit(
        (2.0 / 9.0) ** 0.5
    )
    p = 1 - _normal_cdf(wh_z)
    return agg.select(
        F.when(guard.isNull(), F.col("n_control")).alias("n_control"),
        "n_treatment",
        "observed_treatment",
        F.round("__e1", round_to).alias("expected_treatment"),
        F.round(chi2, round_to).alias("chi2"),
        F.round(p, round_to).alias("p_value"),
    )


def benford(
    df: DataFrame,
    value_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Benford first-digit conformance — the classic fabricated-or-
    truncated-numbers gate for metric columns that should span
    magnitudes (transaction amounts, durations, counts): natural
    multi-scale data has first significant digit d with probability
    log₁₀(1+1/d) (30.1% ones … 4.6% nines); capped, defaulted, or
    synthesized columns don't, and the deviation is a data-quality
    signal BEFORE such a column feeds a model. (Not every column
    should conform — narrow-range measurements won't; this is a
    change/anomaly detector, not an absolute validity test.)

    The first digit is extracted EXACTLY and portably via
    ``format_string('%.15e', |x|)`` — IEEE correctly-rounded decimal
    formatting, identical in the JVM and DuckDB's printf, so the
    oracle replays bit-for-bit (a ``floor(log10)`` extraction can
    mis-bin near powers of ten when two libms round differently; at
    15 digits the round-up edge is ~5e-16 relative — unreachable).
    Zero and NULL/NaN values are excluded.

    Output per group: ``(group_by..., n, chi2, dof, p_value, mad)``
    — Pearson χ²(8) with the Wilson-Hilferty tail on the shared A&S
    Φ, and Nigrini's MAD (mean |observed−expected| share; < 0.006 is
    conventionally "close conformance"). Scale shape: ONE
    conditional-count aggregate (9 digit counts finish map-side,
    keyed when grouped); everything after is arithmetic on the
    group-count-sized result.
    """
    keys = keys_of(group_by)
    v = F.col(value_col).cast("double")
    x = F.abs(v)
    digit = F.substring(F.format_string("%.15e", x), 1, 1)
    base = df.where(
        v.isNotNull() & ~F.isnan(v) & (v != 0)
    ).select(*keys, digit.alias("__bd"))
    cells = [
        F.sum(F.when(F.col("__bd") == str(d), 1).otherwise(0))
        .cast("bigint")
        .alias(f"__bf_{d}")
        for d in range(1, 10)
    ]
    counts = base.groupBy(*keys).agg(*cells) if keys else base.agg(*cells)
    n = sum(F.col(f"__bf_{d}") for d in range(1, 10)).cast("double")
    import math

    chi2 = None
    mad = None
    for d in range(1, 10):
        p_d = math.log10(1 + 1 / d)
        exp_d = n * F.lit(p_d)
        term = (F.col(f"__bf_{d}") - exp_d) ** 2 / exp_d
        dev = F.abs(F.col(f"__bf_{d}") / n - F.lit(p_d))
        chi2 = term if chi2 is None else chi2 + term
        mad = dev if mad is None else mad + dev
    chi2 = F.when(n > 0, chi2)
    mad = F.when(n > 0, mad / F.lit(9.0))
    k = 8.0
    wh_z = (
        (chi2 / F.lit(k)) ** F.lit(1.0 / 3.0) - F.lit(1.0 - 2.0 / (9.0 * k))
    ) / F.lit((2.0 / (9.0 * k)) ** 0.5)
    p = 1 - _normal_cdf(wh_z)
    return counts.select(
        *keys,
        n.cast("bigint").alias("n"),
        F.round(chi2, round_to).alias("chi2"),
        F.lit(8).alias("dof"),
        F.round(p, round_to).alias("p_value"),
        F.round(mad, round_to).alias("mad"),
    )


def capture_recapture(
    df_a: DataFrame,
    df_b: DataFrame,
    id_cols=("id",),
    unordered: bool = False,
    z: float = 1.959964,
    round_to: int = 6,
) -> DataFrame:
    """How much did my detector MISS? Chapman's capture-recapture
    estimate of the total population size from two INDEPENDENT
    detection passes — the recall readout that needs NO ground truth.
    ``pair_recall_eval`` measures recall against exact truth on a
    slice small enough to afford it; this estimates corpus-wide
    totals from the overlap of two cheap detectors (MinHash-LSH vs
    SimHash duplicate pairs, two PII scrubbers, two outage log
    scanners): if pass A catches ``n_a``, pass B catches ``n_b``, and
    they agree on ``n_both``, the Chapman estimator

        N_hat = (n_a + 1) * (n_b + 1) / (n_both + 1) - 1

    is the (nearly unbiased, Chapman 1951) population estimate, with
    Seber's variance for the CI. Items are the distinct rows of
    ``id_cols``; with ``unordered=True`` and exactly two id columns,
    each row is normalized to (least, greatest) first so two pair
    detectors' ordering conventions cannot manufacture disagreement.

    The honesty clause: the estimator assumes the two detectors'
    failures are INDEPENDENT. Real dedup detectors are positively
    correlated (both miss the same hard rewrites), which biases
    ``n_est`` LOW — read ``miss_est`` as "at LEAST this many more out
    there", not an upper bound. The union count is a hard floor and
    the CI is clamped to it.

    One row: ``(n_a, n_b, n_both, n_union, n_est, se, ci_lo, ci_hi,
    coverage_a, coverage_b, miss_est)`` — ``coverage_x`` is the
    estimated detection rate of each pass (``n_x / n_est``, NULL when
    the estimate is 0), ``miss_est = n_est - n_union`` the estimated
    count neither pass found.

    Scale shape: two distinct-reductions + one key-keyed semi-join +
    three 1-row aggregates fused by broadcast (bytes ∝ distinct
    detections, which the detectors' own caps bound); the estimator
    itself is closed-form arithmetic on one row — replays exactly in
    any engine, no inverse CDF anywhere.
    """
    ids = list(id_cols)

    def _norm(df):
        if unordered:
            if len(ids) != 2:
                raise ValueError(
                    "unordered=True needs exactly two id columns, got "
                    f"{ids}"
                )
            a, b = F.col(ids[0]), F.col(ids[1])
            return df.select(
                F.least(a, b).alias("__ka"), F.greatest(a, b).alias("__kb")
            ).distinct()
        return df.select(
            *[F.col(c).alias(f"__k{i}") for i, c in enumerate(ids)]
        ).distinct()

    a = _norm(df_a)
    b = _norm(df_b)
    both = a.join(b, on=list(a.columns), how="left_semi")
    counts = (
        a.agg(F.count("*").cast("bigint").alias("n_a"))
        .crossJoin(
            F.broadcast(b.agg(F.count("*").cast("bigint").alias("n_b")))
        )
        .crossJoin(
            F.broadcast(
                both.agg(F.count("*").cast("bigint").alias("n_both"))
            )
        )
    )
    na = F.col("n_a").cast("double")
    nb = F.col("n_b").cast("double")
    m = F.col("n_both").cast("double")
    n_union = F.col("n_a") + F.col("n_b") - F.col("n_both")
    n_est = (na + 1) * (nb + 1) / (m + 1) - 1
    var = (
        (na + 1) * (nb + 1) * (na - m) * (nb - m)
        / ((m + 1) * (m + 1) * (m + 2))
    )
    se = F.sqrt(var)
    zz = F.lit(float(z))
    return counts.select(
        "n_a",
        "n_b",
        "n_both",
        n_union.alias("n_union"),
        F.round(n_est, round_to).alias("n_est"),
        F.round(se, round_to).alias("se"),
        F.round(
            F.greatest(n_union.cast("double"), n_est - zz * se), round_to
        ).alias("ci_lo"),
        F.round(n_est + zz * se, round_to).alias("ci_hi"),
        F.round(F.when(n_est > 0, na / n_est), round_to).alias(
            "coverage_a"
        ),
        F.round(F.when(n_est > 0, nb / n_est), round_to).alias(
            "coverage_b"
        ),
        F.round(n_est - n_union.cast("double"), round_to).alias(
            "miss_est"
        ),
    )


def seasonality(
    df: DataFrame,
    ts_col: str,
    period: str = "hour",
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Is this activity stream seasonal — and how strongly? One row
    per group profiling the hour-of-day (``period="hour"``, 24 cells)
    or ISO day-of-week (``period="dow"``, 7 cells, 1=Monday) shape of
    an event timestamp column: the standing monitor that catches a
    scraper that suddenly runs only at night, a log pipeline that
    drops weekends, or a traffic mix whose diurnal curve shifts after
    a rollout — before any volume alarm fires.

    Output per group: ``(group..., n, n_cells, peak_cell, peak_share,
    entropy_ratio, chi2, dof, p_value, strength)``.

    - ``entropy_ratio``: Shannon entropy of the cell distribution over
      ln(k) — 1.0 is perfectly flat, 0.0 is single-cell; cells the
      period defines but the data never hits count against it.
    - ``chi2``/``p_value``: goodness-of-fit against the uniform
      period via the count identity ``chi2 = k·Σc²/n − n`` (missing
      cells are handled exactly — no per-cell expectation join), with
      the Wilson-Hilferty chi²(k−1) tail on the shared polynomial Φ.
      A LOW p says the stream is significantly non-uniform (almost
      any real diurnal stream is, at volume — read ``strength`` for
      size, p for existence).
    - ``strength``: Cramér's-V-style normalized effect
      ``sqrt(chi2 / (n·(k−1)))`` — 0 flat, →1 concentrated; the
      cross-snapshot drift number, volume-independent.
    - ``peak_cell``/``peak_share``: the busiest cell (ties break to
      the smallest cell id — deterministic across engines).

    Day-of-week is computed arithmetically from epoch time
    (``(floor(epoch_us/86.4e9)+3) mod 7 + 1``, 1970-01-01 being a
    Thursday) — portable across engines and independent of session
    timezone/locale week conventions; timestamps are read as UTC
    (TIMESTAMP_NTZ passes through unshifted). NULL timestamps are
    excluded.

    Scale shape: one keyed aggregate to ≤ k cells per group, one
    aggregate over those cells — shuffle ∝ groups × k (k = 24 or 7),
    scan cost otherwise; no windows, no per-group buffering.
    """
    import math

    if period == "hour":
        k, cell = 24, F.hour(F.col(ts_col).cast("timestamp"))
    elif period == "dow":
        k = 7
        days = F.floor(
            F.unix_micros(F.col(ts_col).cast("timestamp"))
            / F.lit(86_400_000_000)
        )
        cell = F.pmod(days + 3, F.lit(7)) + 1
    else:
        raise ValueError(f"period must be 'hour' or 'dow', got {period!r}")
    keys = keys_of(group_by)
    cells = (
        df.where(F.col(ts_col).isNotNull())
        .select(*keys, cell.cast("int").alias("__cell"))
        .groupBy(*keys, "__cell")
        .agg(F.count("*").cast("double").alias("__cn"))
    )
    gb = cells.groupBy(*keys) if keys else cells.groupBy()
    agg = gb.agg(
        F.sum("__cn").alias("__n"),
        F.count("*").cast("bigint").alias("n_cells"),
        F.sum(F.col("__cn") * F.col("__cn")).alias("__c2"),
        F.sum(F.col("__cn") * F.log("__cn")).alias("__clnc"),
        F.max(
            F.struct(F.col("__cn").alias("cn"), (-F.col("__cell")).alias("negc"))
        ).alias("__pk"),
    )
    n = F.col("__n")
    chi2 = F.lit(float(k)) * F.col("__c2") / n - n
    entropy = F.log(n) - F.col("__clnc") / n
    dof = float(k - 1)
    wh_z = (
        (chi2 / F.lit(dof)) ** F.lit(1.0 / 3.0)
        - F.lit(1.0 - 2.0 / (9.0 * dof))
    ) / F.lit((2.0 / (9.0 * dof)) ** 0.5)
    return agg.select(
        *keys,
        n.cast("bigint").alias("n"),
        "n_cells",
        (-F.col("__pk.negc")).cast("int").alias("peak_cell"),
        F.round(F.col("__pk.cn") / n, round_to).alias("peak_share"),
        F.round(entropy / F.lit(math.log(float(k))), round_to).alias(
            "entropy_ratio"
        ),
        F.round(chi2, round_to).alias("chi2"),
        F.lit(k - 1).alias("dof"),
        F.round(1 - _normal_cdf(wh_z), round_to).alias("p_value"),
        F.round(F.sqrt(chi2 / (n * F.lit(dof))), round_to).alias("strength"),
    )


def levene(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_by=None,
    center: str = "median",
    round_to: int = 6,
) -> DataFrame:
    """Brown-Forsythe / Levene variance-homogeneity test across the
    arms of ``group_col`` — the assumption gate that belongs NEXT TO
    ``anova`` in the experiment sequence (``srm`` → ``levene`` →
    ``anova``): ANOVA's pooled-variance F is only calibrated when arm
    variances match, and a treatment that moves the SPREAD of a
    metric without moving its mean (a latency fix that tightens the
    tail, a ranking change that polarizes engagement) is itself a
    real effect this test detects and a mean test misses.

    The statistic is one-way ANOVA applied to the absolute
    deviations ``z = |x − center(arm)|``: ``center="median"`` is
    Brown-Forsythe (the robust default — calibrated under heavy
    tails, the form scipy recommends); ``center="mean"`` is the
    classic 1960 Levene. A small F/high p says spreads are
    compatible; a low p flags heteroscedasticity (use Welch-style
    pairwise ``ab_compare`` instead of pooled ANOVA, or report the
    spread change as the finding).

    Output matches ``anova``: one row per segment ``(group_by...,
    n, k, ss_between, ss_within, f_stat, df1, df2, eta_sq,
    p_value)`` — computed on the z values, Paulson F tail on the
    shared polynomial Φ. Arm centers are ROUNDED (``round_to``)
    before the deviation so the result replays exactly in the DuckDB
    oracle. Inherits ``anova``'s fail-loud guards (< 2 arms, no
    residual df, zero within-variance of z — identical spreads in
    every arm at machine precision is a degenerate input, not a
    result).

    Scale shape: the median path reuses the distinct-value-counts
    quantile machinery (shuffle ∝ distinct values per arm) + one
    keyed join back; the mean path is one k-row aggregate + keyed
    join; then ``anova``'s partial-aggregated k-row decomposition.
    No per-arm buffering anywhere.
    """
    keys = keys_of(group_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *keys, F.col(group_col).alias("__arm"), v.alias("__x")
    )
    arm_keys = keys + ["__arm"]
    if center == "median":
        med = quantiles(
            base, "__x", qs=(0.5,), group_by=arm_keys, round_to=round_to
        ).select(*arm_keys, F.col("quantile").alias("__ctr"))
    elif center == "mean":
        med = base.groupBy(*arm_keys).agg(
            F.round(F.avg("__x"), round_to).alias("__ctr")
        )
    else:
        raise ValueError(
            f"levene: center must be 'median' or 'mean', got {center!r}"
        )
    z = (
        join_on_keys(base, med, arm_keys)
        .select(
            *keys,
            "__arm",
            F.abs(F.col("__x") - F.col("__ctr")).alias("__z"),
        )
    )
    return anova(z, "__arm", "__z", group_by=keys or None, round_to=round_to)


def cronbach_alpha(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    value_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Cronbach's alpha over a long-format (item, rater, score) table
    — internal-consistency reliability for CONTINUOUS judge scores,
    the scored-eval counterpart to ``cohens_kappa``/``kappa_matrix``
    (which need categorical labels): k LLM judges each scoring the
    same n answers 1-10, k rubric dimensions scored per document, k
    prompt paraphrases of one eval. alpha = k/(k−1)·(1 − Σvar_j /
    var_total), where var_j is each rater's variance over items and
    var_total the variance of per-item score SUMS; ≥0.9 excellent,
    <0.7 means the panel disagrees enough that its mean score is
    noise — raise that gate before trusting an LLM-judge leaderboard.

    Requires a COMPLETE panel: every item scored exactly once by
    every rater. Incomplete or duplicated cells fail loudly
    (``assert_true`` — silently averaging over holes biases alpha
    up; impute or drop items upstream, explicitly). Zero
    total-variance panels (all items identical) yield NULL alpha.
    Sample variance (n−1) throughout, matching every stats package.

    One row per segment: ``(group_by..., n_items, k_raters, alpha)``.

    Scale shape: one (item)-keyed aggregate for totals (shuffle ∝
    items), one (rater)-keyed aggregate for per-rater variances
    (shuffle ∝ raters), each folded to a 1-row variance, fused by
    broadcast. Rows are scanned twice (two different keyings), never
    buffered per group.
    """
    keys = keys_of(group_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *keys,
        F.col(item_col).alias("__it"),
        F.col(rater_col).alias("__rt"),
        v.alias("__v"),
    )
    # completeness: every (item) row count == global rater count and
    # no (item, rater) duplicates
    kcount = base.groupBy(*keys).agg(
        F.count_distinct("__rt").cast("bigint").alias("__k"),
        F.count_distinct("__it").cast("bigint").alias("__n"),
        F.count("*").cast("bigint").alias("__cells"),
    )
    items = base.groupBy(*keys, "__it").agg(
        F.sum("__v").alias("__tot"),
        F.count("*").cast("bigint").alias("__cnt"),
        F.count_distinct("__rt").cast("bigint").alias("__dr"),
    )
    item_stats = items.groupBy(*keys).agg(
        F.var_samp("__tot").alias("__var_tot"),
        F.max("__cnt").alias("__max_cnt"),
        F.min("__cnt").alias("__min_cnt"),
        F.min((F.col("__cnt") == F.col("__dr")).cast("int")).alias("__nodup"),
    )
    rater_stats = (
        base.groupBy(*keys, "__rt")
        .agg(F.var_samp("__v").alias("__var_r"))
        .groupBy(*keys)
        .agg(F.sum("__var_r").alias("__sum_var"))
    )
    j = join_on_keys(
        join_on_keys(kcount, item_stats, keys), rater_stats, keys
    )
    complete = (
        (F.col("__max_cnt") == F.col("__k"))
        & (F.col("__min_cnt") == F.col("__k"))
        & (F.col("__nodup") == 1)
        & (F.col("__cells") == F.col("__n") * F.col("__k"))
        & (F.col("__k") >= 2)
        & (F.col("__n") >= 2)
    )
    guard = F.assert_true(
        complete,
        F.lit(
            "cronbach_alpha: panel is incomplete or duplicated - every "
            "item must be scored exactly once by every rater (k >= 2, "
            "n >= 2); impute or drop items upstream, explicitly"
        ),
    )
    kk = F.col("__k").cast("double")
    alpha = F.when(
        F.col("__var_tot") > 0,
        kk / (kk - 1) * (1 - F.col("__sum_var") / F.col("__var_tot")),
    )
    return j.select(
        *keys,
        F.when(guard.isNull(), F.col("__n")).alias("n_items"),
        F.col("__k").alias("k_raters"),
        F.round(alpha, round_to).alias("alpha"),
    )


def kendall_w(
    df: DataFrame,
    item_col: str,
    rater_col: str,
    value_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Kendall's coefficient of concordance W (tie-corrected) plus the
    Friedman chi-squared test over a long-format (item, rater, score)
    panel — the RANK-based judge-agreement gate: where
    ``cronbach_alpha`` asks whether k continuous scores co-vary
    (scale-sensitive: a judge that scores everything 2 points higher
    still agrees), W asks whether the k raters ORDER the items the
    same way, which is exactly the question behind a leaderboard.
    W=1 is unanimous ordering, W=0 is no agreement; the Friedman test
    (chi2 = k(n−1)W, df = n−1) rejects "raters rank at random".

    Midranks use the average-rank tie convention within each rater,
    and the denominator carries the standard tie correction
    k²(n³−n) − k·ΣT with T = Σ(t³−t) over each rater's tied groups —
    so heavily tied (e.g. integer 1-5) scales stay exact. All-tied
    panels (zero denominator) yield NULL. Same COMPLETE-panel
    contract as ``cronbach_alpha``: every item scored exactly once by
    every rater, violations fail loudly (silently ranking over holes
    shifts every rank after the hole).

    One row per segment: ``(group_by..., n_items, k_raters, w, chi2,
    df, p_value)``; the upper-tail p is Wilson-Hilferty on the shared
    A&S Φ so a DuckDB oracle replays it bit-for-bit at rounded
    precision.

    Scale shape: scores reduce to per-(rater, value) counts (shuffle
    ∝ distinct values per rater), midranks ride the DISTRIBUTED
    prefix sum keyed by rater and attach back by value join, item
    rank-sums are one item-keyed aggregate, and the group-level
    fusion joins tables with one row per group. No per-rater
    buffering, no global sort, no window over raw rows.
    """
    keys = keys_of(group_by)
    v = F.col(value_col).cast("double")
    base = df.where(v.isNotNull() & ~F.isnan(v)).select(
        *keys,
        F.col(item_col).alias("__it"),
        F.col(rater_col).alias("__rt"),
        v.alias("__v"),
    )
    kcount = base.groupBy(*keys).agg(
        F.count_distinct("__rt").cast("bigint").alias("__k"),
        F.count_distinct("__it").cast("bigint").alias("__n"),
        F.count("*").cast("bigint").alias("__cells"),
    )
    cell_guard = base.groupBy(*keys, "__it").agg(
        F.count("*").cast("bigint").alias("__cnt"),
        F.count_distinct("__rt").cast("bigint").alias("__dr"),
    )
    item_guard = cell_guard.groupBy(*keys).agg(
        F.max("__cnt").alias("__max_cnt"),
        F.min("__cnt").alias("__min_cnt"),
        F.min((F.col("__cnt") == F.col("__dr")).cast("int")).alias("__nodup"),
    )
    # per-(rater, value) tie counts: midranks AND the tie correction
    # both derive from this one reduction
    counts = base.groupBy(*keys, "__rt", "__v").agg(
        F.count("*").cast("bigint").alias("__c")
    )
    ties = counts.groupBy(*keys).agg(
        F.sum(
            F.col("__c") * F.col("__c") * F.col("__c") - F.col("__c")
        ).alias("__t")
    )
    rk = value_ranks(counts, [*keys, "__rt"], "__v", "__c").select(
        *[F.col(c).alias(f"__rk_{c}") for c in [*keys, "__rt", "__v"]],
        "__rank",
    )
    cond = (base["__rt"] == rk["__rk___rt"]) & (base["__v"] == rk["__rk___v"])
    for k in keys:
        cond = cond & base[k].eqNullSafe(rk[f"__rk_{k}"])
    ranked = base.join(rk, cond).drop(
        *[f"__rk_{c}" for c in [*keys, "__rt", "__v"]]
    )
    rsums = ranked.groupBy(*keys, "__it").agg(
        F.sum("__rank").alias("__ri")
    )
    rs = join_on_keys(rsums, kcount, keys)
    s_tab = rs.groupBy(*keys).agg(
        F.sum(
            (
                F.col("__ri")
                - F.col("__k").cast("double")
                * (F.col("__n").cast("double") + 1)
                / F.lit(2.0)
            )
            ** 2
        ).alias("__s")
    )
    j = kcount
    for other in (s_tab, ties, item_guard):
        j = join_on_keys(j, other, keys)
    complete = (
        (F.col("__max_cnt") == F.col("__k"))
        & (F.col("__min_cnt") == F.col("__k"))
        & (F.col("__nodup") == 1)
        & (F.col("__cells") == F.col("__n") * F.col("__k"))
        & (F.col("__k") >= 2)
        & (F.col("__n") >= 2)
    )
    guard = F.assert_true(
        complete,
        F.lit(
            "kendall_w: panel is incomplete or duplicated - every item "
            "must be scored exactly once by every rater (k >= 2, "
            "n >= 2); impute or drop items upstream, explicitly"
        ),
    )
    kk = F.col("__k").cast("double")
    nn = F.col("__n").cast("double")
    denom = kk * kk * (nn * nn * nn - nn) - kk * F.col("__t")
    w = F.when(denom > 0, F.lit(12.0) * F.col("__s") / denom)
    chi2 = kk * (nn - 1) * w
    dof = nn - 1
    wh_z = (
        (chi2 / dof) ** F.lit(1.0 / 3.0) - (1 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = 1 - _normal_cdf(wh_z)
    return j.select(
        *keys,
        F.when(guard.isNull(), F.col("__n")).alias("n_items"),
        F.col("__k").alias("k_raters"),
        F.round(w, round_to).alias("w"),
        F.round(chi2, round_to).alias("chi2"),
        (F.col("__n") - 1).cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    )


def krippendorff_alpha(
    df: DataFrame,
    item_col: str,
    value_col: str,
    metric: str = "nominal",
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Krippendorff's alpha over a long-format (item, rating) table —
    the annotation-QA reliability standard for the panels
    ``cronbach_alpha``/``kendall_w`` must reject: MISSING ratings are
    fine (crowdsourced labels where each item gets whichever 2-5
    raters showed up, LLM-judge runs where some generations errored).
    Rater identity is irrelevant to alpha (ratings per item are an
    unordered multiset), so no rater column: pass one row per rating.
    Items with fewer than 2 ratings carry no agreement evidence and
    are excluded, per the canonical definition. alpha ≥ 0.8 is the
    conventional "rely on it" bar, 0.667 the "tentative" floor;
    0 means agreement is exactly what chance predicts.

    ``metric="nominal"`` treats values as categories (δ² = 1 when
    different) — label QA. ``metric="interval"`` uses δ² = (a−b)² —
    scored QA. Both reduce the coincidence matrix algebraically so no
    C×C value matrix is ever built: within-item disagreement folds to
    per-item count/sum/sum-of-squares, expected disagreement to the
    value marginals (nominal) or global centered moments (interval —
    values are centered on the rounded group mean first, the
    ``levene`` rounded-center trick, so the one-pass sums stay exact
    cross-engine and cancellation-safe). For ordinal data, map values
    to midranks upstream and use ``interval`` (the standard
    approximation).

    One row per segment: ``(group_by..., n_items, n_ratings, alpha)``;
    alpha is NULL when expected disagreement is 0 (all ratings
    identical) or fewer than 2 ratings survive.

    Scale shape: one (item)-keyed reduction for per-item counts, one
    keyed join to drop singleton items, then group-level 1-row
    aggregates broadcast-fused — shuffle ∝ items + distinct values,
    no per-item buffering, no pairwise blowup (the m² pair sums are
    closed forms of the per-item sums).
    """
    if metric not in ("nominal", "interval"):
        raise ValueError(
            "krippendorff_alpha: metric must be 'nominal' or "
            f"'interval' (map ordinal data to midranks upstream), "
            f"got {metric!r}"
        )
    keys = keys_of(group_by)
    if metric == "interval":
        v = F.col(value_col).cast("double")
        base = df.where(v.isNotNull() & ~F.isnan(v)).select(
            *keys, F.col(item_col).alias("__u"), v.alias("__v")
        )
    else:
        v = F.col(value_col).cast("string")
        base = df.where(v.isNotNull()).select(
            *keys, F.col(item_col).alias("__u"), v.alias("__v")
        )

    ucount = base.groupBy(*keys, "__u").agg(
        F.count("*").cast("bigint").alias("__m")
    )
    uc_r = ucount.where(F.col("__m") >= 2).select(
        *[F.col(c).alias(f"__uk_{c}") for c in [*keys, "__u"]]
    )
    cond = base["__u"] == uc_r["__uk___u"]
    for k in keys:
        cond = cond & base[k].eqNullSafe(uc_r[f"__uk_{k}"])
    kept = base.join(uc_r, cond).drop(
        *[f"__uk_{c}" for c in [*keys, "__u"]]
    )
    if metric == "nominal":
        uc = kept.groupBy(*keys, "__u", "__v").agg(
            F.count("*").cast("bigint").alias("__c")
        )
        unit = uc.groupBy(*keys, "__u").agg(
            F.sum("__c").alias("__m"),
            F.sum(F.col("__c") * (F.col("__c") - 1)).alias("__same"),
        )
        gstats = unit.groupBy(*keys).agg(
            F.sum(
                (
                    F.col("__m") * (F.col("__m") - 1) - F.col("__same")
                ).cast("double")
                / (F.col("__m") - 1).cast("double")
            ).alias("__dosum"),
            F.sum("__m").cast("bigint").alias("__n"),
            F.count("*").cast("bigint").alias("__units"),
        )
        marg = (
            uc.groupBy(*keys, "__v")
            .agg(F.sum("__c").alias("__nc"))
            .groupBy(*keys)
            .agg(
                # marginals squared in double: a hot value's nc²
                # passes 2^63 long before n does
                F.sum(
                    F.col("__nc").cast("double")
                    * F.col("__nc").cast("double")
                ).alias("__snc2")
            )
        )
        j = join_on_keys(gstats, marg, keys)
        n = F.col("__n").cast("double")
        d_e = (n * n - F.col("__snc2").cast("double")) / (n * (n - 1))
        d_o = F.col("__dosum") / n
    else:
        gmean = kept.groupBy(*keys).agg(
            F.round(F.avg("__v"), 6).alias("__gm")
        )
        centered = join_on_keys(kept, gmean, keys).select(
            *keys, "__u", (F.col("__v") - F.col("__gm")).alias("__cv")
        )
        unit = centered.groupBy(*keys, "__u").agg(
            F.count("*").cast("bigint").alias("__m"),
            F.sum("__cv").alias("__sv"),
            F.sum(F.col("__cv") * F.col("__cv")).alias("__sv2"),
        )
        mm = F.col("__m").cast("double")
        j = unit.groupBy(*keys).agg(
            F.sum(
                (2 * mm * F.col("__sv2") - 2 * F.col("__sv") ** 2)
                / (mm - 1)
            ).alias("__dosum"),
            F.sum("__m").cast("bigint").alias("__n"),
            F.sum("__sv").alias("__gsv"),
            F.sum("__sv2").alias("__gsv2"),
            F.count("*").cast("bigint").alias("__units"),
        )
        n = F.col("__n").cast("double")
        d_e = (2 * n * F.col("__gsv2") - 2 * F.col("__gsv") ** 2) / (
            n * (n - 1)
        )
        d_o = F.col("__dosum") / n
    alpha = F.when((F.col("__n") >= 2) & (d_e > 0), 1 - d_o / d_e)
    return j.select(
        *keys,
        F.col("__units").alias("n_items"),
        F.col("__n").alias("n_ratings"),
        F.round(alpha, round_to).alias("alpha"),
    )


def theil_sen(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_by=None,
    max_points: int = 2000,
    round_to: int = 6,
) -> DataFrame:
    """Theil-Sen robust trend per group — the median of all pairwise
    slopes, with intercept = median(y − slope·x). Where ``trend``'s
    least-squares slope is dragged by a single spiked day (one crawler
    outage, one backfill dump), Theil-Sen tolerates up to ~29% wild
    points before the slope moves: the estimator of record for "is
    this source actually shrinking?" on dirty ingest series.

    Intended for AGGREGATED series (daily metric rollups, weekly
    quality scores): the pair set is O(n²) per group, so a
    ``max_points`` driver probe fails loudly before any group with
    more points than that builds its pair table — roll raw rows up to
    the day/hour grain first (which is what the estimator means
    anyway). Pairs with equal x are skipped per the standard
    definition (vertical slopes carry no trend information); the pair
    median and the residual median are EXACT (mean-of-two-middles)
    via the distinct-value-count machinery, so no per-group buffering
    even at the pair grain.

    One row per group: ``(group_by..., n_points, n_pairs, slope,
    intercept)`` — slope NULL when fewer than 2 distinct x values.

    Scale shape: one group-keyed self-join bounded by the probe
    (≤ max_points²/2 pair rows per group, immediately reduced to
    distinct-slope counts), two prefix-scan exact medians, one keyed
    join back for residuals. Groups stream independently — a
    thousand sources' trends cost a thousand bounded pair tables, not
    one global sort.
    """
    if max_points < 2:
        raise ValueError(
            f"theil_sen: max_points must be >= 2, got {max_points}"
        )
    keys = keys_of(group_by)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(
        x.isNotNull() & y.isNotNull() & ~F.isnan(x) & ~F.isnan(y)
    ).select(*keys, x.alias("__x"), y.alias("__y"))
    # driver probe BEFORE the pair join: a group past max_points would
    # build its n² pair table long before any plan-side guard could
    # fire (the bt_ratings limit-probe pattern)
    big = (
        base.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .where(F.col("__n") > max_points)
        .limit(1)
        .collect()
    )
    if big:
        raise ValueError(
            f"theil_sen: a group has {big[0]['__n']} points "
            f"(max_points={max_points}). The pair set is O(n²) by "
            "definition - aggregate the series to a coarser grain "
            "first, or raise max_points explicitly."
        )
    a = base.select(
        *[F.col(c).alias(f"__a_{c}") for c in [*keys, "__x", "__y"]]
    )
    b = base.select(
        *[F.col(c).alias(f"__b_{c}") for c in [*keys, "__x", "__y"]]
    )
    cond = F.col("__a___x") < F.col("__b___x")
    for k in keys:
        cond = cond & F.col(f"__a_{k}").eqNullSafe(F.col(f"__b_{k}"))
    pairs = a.join(b, cond).select(
        *[F.col(f"__a_{k}").alias(k) for k in keys],
        (
            (F.col("__b___y") - F.col("__a___y"))
            / (F.col("__b___x") - F.col("__a___x"))
        ).alias("__slope"),
    )
    slope_med = _grouped_exact_median(pairs, keys, "__slope")
    sm = slope_med.select(
        *keys,
        F.col("__med_n").alias("__n_pairs"),
        F.col("__median").alias("__slope"),
    )
    resid = join_on_keys(base, sm, keys).select(
        *keys,
        "__n_pairs",
        "__slope",
        (F.col("__y") - F.col("__slope") * F.col("__x")).alias("__r"),
    )
    icept = _grouped_exact_median(resid, [*keys, "__n_pairs", "__slope"], "__r")
    counts = base.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_points")
    )
    ic = icept.select(
        *[F.col(k).alias(f"__ic_{k}") for k in keys],
        "__n_pairs",
        "__slope",
        F.col("__median").alias("__icept"),
    )
    if keys:
        jc = F.lit(True)
        for k in keys:
            jc = jc & counts[k].eqNullSafe(ic[f"__ic_{k}"])
        out = counts.join(ic, jc, "left").drop(
            *[f"__ic_{k}" for k in keys]
        )
    else:
        out = counts.join(F.broadcast(ic), how="left")
    return out.select(
        *keys,
        "n_points",
        F.coalesce(F.col("__n_pairs"), F.lit(0)).alias("n_pairs"),
        F.round(F.col("__slope"), round_to).alias("slope"),
        F.round(F.col("__icept"), round_to).alias("intercept"),
    )


def gains_table(
    df: DataFrame,
    score_col: str,
    label_col: str,
    n_buckets: int = 10,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Decile gains/lift table of a binary scorer — the
    threshold-PICKING readout that ``auc`` (threshold-free ranking
    quality) and ``reliability_bins`` (probability honesty) don't
    give: "if we keep only the top 20% by quality score, what share
    of the good documents do we capture, and at what precision?"
    Rows are ranked score-DESCENDING and cut into ``n_buckets``
    equal-population buckets; bucket 0 is the model's most-confident
    slice.

    Tie contract: rows reduce to per-distinct-score blocks and a tied
    block is assigned WHOLE to the bucket where it begins — equal
    scores share a fate (splitting a tie across buckets would make
    the table depend on row order). With heavy ties (integer scores)
    buckets are therefore approximately, not exactly, equal-sized —
    ``n_rows`` says exactly how approximate.

    One row per (group, bucket): ``(group_by..., bucket, n_rows,
    n_pos, cum_rows, cum_pos, capture_rate, cum_precision, lift)``
    where ``capture_rate = cum_pos / total_pos`` (the gains curve),
    ``cum_precision = cum_pos / cum_rows``, and ``lift =
    cum_precision / base_rate``. Labels must be 0/1 (loud assert);
    NULL score/label rows are excluded; lift/capture are NULL for a
    group with no positives.

    Scale shape: the auc shape plus one bucket rollup — rows reduce
    to per-distinct-score (n, pos) counts (shuffle ∝ distinct
    scores), cumulatives ride the DISTRIBUTED multi-column prefix sum
    (no per-group window funnel), totals are a per-group 1-row
    broadcast, and the final aggregate is ≤ n_buckets rows per group.
    """
    if n_buckets < 2:
        raise ValueError(
            f"gains_table: n_buckets must be >= 2, got {n_buckets}"
        )
    keys = keys_of(group_by)
    s = F.col(score_col).cast("double")
    y = F.col(label_col).cast("bigint")
    checked = binary_label(
        y, "stats.gains_table: label column must be binary 0/1"
    )
    # pinned: feeds the prefix scan (sampled in an extra pass) and
    # the totals aggregate — r13
    counts = pin(
        df.where(s.isNotNull() & y.isNotNull() & ~F.isnan(s))
        .groupBy(*keys, (-s).alias("__negs"))
        .agg(
            F.count("*").cast("bigint").alias("__n"),
            F.sum(checked).cast("bigint").alias("__np"),
        )
    )
    cum = grouped_prefix_sum(
        counts, keys, ["__negs"], ["__n", "__np"], ["__cn", "__cp"],
        prepinned=True,
    )
    totals = counts.groupBy(*keys).agg(
        F.sum("__n").cast("bigint").alias("__tn"),
        F.sum("__np").cast("bigint").alias("__tp"),
    )
    j = join_on_keys(cum, totals, keys)
    # a tied block belongs to the bucket where it BEGINS
    bucket = F.floor(
        (F.col("__cn") - F.col("__n")).cast("double")
        * n_buckets
        / F.col("__tn")
    ).cast("int")
    per_bucket = j.select(
        *keys,
        bucket.alias("bucket"),
        "__n",
        "__np",
        "__cn",
        "__cp",
        "__tn",
        "__tp",
    ).groupBy(*keys, "bucket").agg(
        F.sum("__n").cast("bigint").alias("n_rows"),
        F.sum("__np").cast("bigint").alias("n_pos"),
        F.max("__cn").cast("bigint").alias("cum_rows"),
        F.max("__cp").cast("bigint").alias("cum_pos"),
        F.max("__tn").alias("__tn"),
        F.max("__tp").alias("__tp"),
    )
    tp = F.col("__tp").cast("double")
    base = tp / F.col("__tn").cast("double")
    prec = F.col("cum_pos").cast("double") / F.col("cum_rows")
    return per_bucket.select(
        *keys,
        "bucket",
        "n_rows",
        "n_pos",
        "cum_rows",
        "cum_pos",
        F.round(
            F.when(F.col("__tp") > 0, F.col("cum_pos") / tp), round_to
        ).alias("capture_rate"),
        F.round(prec, round_to).alias("cum_precision"),
        F.round(F.when(F.col("__tp") > 0, prec / base), round_to).alias(
            "lift"
        ),
    )


def drift_report(
    left: DataFrame,
    right: DataFrame,
    columns=None,
    bins: int = 10,
    epsilon: float = 1e-6,
    round_to: int = 6,
    columns_categorical=None,
    top_k: int = 20,
) -> DataFrame:
    """Every watched column's PSI between two snapshots — the standing
    whole-table drift monitor. Calling ``psi`` per column re-reads the
    table n_columns times; here each side melts map-side into
    (column, value) rows (an explode over a literal struct array — no
    shuffle, no UDF) and the per-column PSIs compute as ``group_psi``
    grouped by column name, so the report costs one melt scan per
    side per column KIND regardless of how many columns it covers.
    Run it on every snapshot pair; read it top-down — PSI ≥ 0.2 is
    the conventional "investigate" bar.

    ``columns`` must all be numeric/boolean/temporal (checked against
    the schema of BOTH sides, loudly — a string column silently
    casting to NULL would report fake stability). ``columns_categorical``
    takes the columns a training corpus drifts on FIRST — language,
    source, license, host — any type, compared as strings: the
    "bins" are the reference (left) side's ``top_k`` most frequent
    categories (ties broken by value, deterministic) plus one
    ``__other__`` bucket that absorbs the tail and any category new
    on the right — a brand-new source/language lands mass in a bucket
    the reference holds almost none of, which is exactly a PSI spike.
    The PSI arithmetic is ``group_psi``'s unchanged (ε-smoothed
    shares over the capped category set).

    Output one row per column (both kinds, same schema):
    ``(column, psi, n_left, n_right)``; NULL values are excluded from
    counts, and a column all-NULL on one side gets NULL psi with its
    counts visible, like ``group_psi``'s one-sided groups. A column
    may appear in only one of the two lists (loud check — one name
    reporting two rows would be ambiguous).

    Scale shape: melt is scan-side row growth ×n_columns BEFORE the
    keyed partial aggs; numeric reduces to #columns × bins cells.
    Categorical: one (column, value) partial agg on the reference
    side (shuffle ∝ Σ distinct categories, pinned — it feeds both the
    top-K cut and the reference shares), a salted two-phase top-K on
    that AGGREGATED table (never a single-task sort of a
    10M-distinct host column), then the broadcast-joined top-K set
    maps both sides into ≤ ``top_k``+1 buckets per column — the
    right-side shuffle is ∝ Σ capped categories, not distinct ones.
    """
    cols = (
        []
        if columns is None
        else [columns] if isinstance(columns, str) else list(columns)
    )
    cat_cols = (
        []
        if columns_categorical is None
        else [columns_categorical]
        if isinstance(columns_categorical, str)
        else list(columns_categorical)
    )
    if not cols and not cat_cols:
        raise ValueError("drift_report: need at least one column")
    overlap = set(cols) & set(cat_cols)
    if overlap:
        raise ValueError(
            "drift_report: columns cannot be both numeric and "
            f"categorical: {sorted(overlap)}"
        )
    if top_k < 1:
        raise ValueError(f"drift_report: top_k must be >= 1, got {top_k}")
    for side_name, df_ in (("left", left), ("right", right)):
        types = dict(df_.dtypes)
        for c in cat_cols:
            if c not in types:
                raise ValueError(
                    f"drift_report: column {c!r} missing on {side_name}"
                )
    _NUMERIC = (
        "int", "bigint", "smallint", "tinyint", "double", "float",
        "boolean", "date", "timestamp", "timestamp_ntz",
    )
    for side_name, df_ in (("left", left), ("right", right)):
        types = dict(df_.dtypes)
        for c in cols:
            if c not in types:
                raise ValueError(
                    f"drift_report: column {c!r} missing on {side_name}"
                )
            base_t = types[c].split("(")[0]
            if base_t not in _NUMERIC and not base_t.startswith("decimal"):
                raise ValueError(
                    f"drift_report: column {c!r} is {types[c]} on "
                    f"{side_name} - only numeric/boolean/temporal "
                    "columns can bin; pass it in columns_categorical "
                    "for top-K frequency-share PSI instead"
                )

    def melt(df_):
        kv = F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    # temporal types bin on their epoch micros; the
                    # double cast below is then uniform
                    (
                        F.unix_micros(F.col(c).cast("timestamp"))
                        if dict(df_.dtypes)[c].startswith("timestamp")
                        or dict(df_.dtypes)[c] == "date"
                        else F.col(c).cast("double")
                    )
                    .cast("double")
                    .alias("value"),
                )
                for c in cols
            ]
        )
        return df_.select(F.explode(kv).alias("__kv")).select(
            F.col("__kv.column").alias("column"),
            F.col("__kv.value").alias("value"),
        )

    reports = []
    if cols:
        reports.append(
            group_psi(
                melt(left),
                melt(right),
                "value",
                "column",
                bins=bins,
                epsilon=epsilon,
                round_to=round_to,
            )
        )
    if cat_cols:
        reports.append(
            _categorical_drift(
                left, right, cat_cols, top_k, epsilon, round_to
            )
        )
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out


def _categorical_drift(
    left: DataFrame,
    right: DataFrame,
    cat_cols,
    top_k: int,
    epsilon: float,
    round_to: int,
) -> DataFrame:
    """The categorical leg of :func:`drift_report`: per column, the
    reference (left) side's ``top_k`` most frequent categories (ties
    broken by value) become the bins, everything else — including
    categories that exist only on the right — folds into
    ``__other__``; then ``group_psi``'s ε-smoothed share arithmetic
    runs over the capped set. A literal category named ``__other__``
    would merge with the tail bucket (documented collision; rename
    upstream if it matters).

    Scale notes: the reference (column, value) counts are pinned —
    they feed both the top-K cut and the reference shares, and must
    not re-scan the snapshot. The top-K runs as a salted two-phase
    row_number over that AGGREGATED table, so no single task ever
    sorts a whole high-cardinality column (a 10M-distinct host column
    splits across 64 salt buckets before the final ≤ 64·top_k-row
    cut). The kept set (≤ #cols × top_k rows) broadcasts into both
    mapping joins, so the right side shuffles ∝ capped categories.
    """
    from pyspark.sql import Window

    def melt_cat(df_):
        kv = F.array(
            *[
                F.struct(
                    F.lit(c).alias("column"),
                    F.col(c).cast("string").alias("value"),
                )
                for c in cat_cols
            ]
        )
        return (
            df_.select(F.explode(kv).alias("__kv"))
            .select(
                F.col("__kv.column").alias("column"),
                F.col("__kv.value").alias("value"),
            )
            .where(F.col("value").isNotNull())
        )

    lc = (
        melt_cat(left)
        .groupBy("column", "value")
        .agg(F.count("*").alias("cl"))
        .transform(pin)
    )
    order = [F.col("cl").desc(), F.col("value").asc()]
    survivors = (
        lc.withColumn("__salt", F.pmod(F.xxhash64("value"), F.lit(64)))
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("column", "__salt").orderBy(*order)
            ),
        )
        .where(F.col("__rk") <= top_k)
    )
    topk = (
        survivors.withColumn(
            "__rk",
            F.row_number().over(Window.partitionBy("column").orderBy(*order)),
        )
        .where(F.col("__rk") <= top_k)
        .select("column", "value", F.lit(1).alias("__keep"))
    )
    bucket = F.when(
        F.col("__keep").isNotNull(), F.col("value")
    ).otherwise(F.lit("__other__"))
    lmapped = (
        lc.join(F.broadcast(topk), ["column", "value"], "left")
        .select("column", bucket.alias("b"), "cl")
        .groupBy("column", "b")
        .agg(F.sum("cl").alias("cl"))
    )
    rmapped = (
        melt_cat(right)
        .join(F.broadcast(topk), ["column", "value"], "left")
        .select("column", bucket.alias("b"))
        .groupBy("column", "b")
        .agg(F.count("*").alias("cr"))
    )
    merged = lmapped.join(rmapped, ["column", "b"], "full_outer").select(
        "column",
        F.coalesce("cl", F.lit(0)).alias("cl"),
        F.coalesce("cr", F.lit(0)).alias("cr"),
    )
    totals = merged.groupBy("column").agg(
        F.sum("cl").alias("nl"), F.sum("cr").alias("nr")
    )
    pl = F.try_divide(F.col("cl"), F.col("nl")) + F.lit(epsilon)
    pr = F.try_divide(F.col("cr"), F.col("nr")) + F.lit(epsilon)
    out = (
        merged.join(totals, "column")
        .groupBy("column")
        .agg(
            F.round(F.sum((pl - pr) * F.log(pl / pr)), round_to).alias(
                "psi"
            ),
            F.max("nl").cast("bigint").alias("n_left"),
            F.max("nr").cast("bigint").alias("n_right"),
        )
    )
    return out.select(
        "column",
        F.when(
            (F.col("n_left") > 0) & (F.col("n_right") > 0), F.col("psi")
        ).alias("psi"),
        "n_left",
        "n_right",
    )


def ab_report(
    df: DataFrame,
    group_col: str,
    metric_cols,
    control: str,
    treatment: str,
    round_to: int = 6,
) -> DataFrame:
    """Every metric's A/B readout in ONE scan — the experiment
    counterpart to ``drift_report``: a real experiment reads dozens
    of metrics (success rate, latency, tokens, cost, retention
    proxies), and calling ``ab_compare`` per metric re-scans the
    table dozens of times. Metrics melt map-side into (metric, value)
    rows and the Welch readout aggregates per metric name, so the
    report costs one pass however wide it is. Feed the ``p_value``
    column straight into ``bh_adjust`` — a 20-metric readout WILL
    produce false winners at α = 0.05 without FDR control.

    Per-metric semantics differ from ``ab_compare`` in one deliberate
    way: a degenerate metric (an empty arm, zero variance) yields
    NULL stats instead of failing the whole report — the
    ``ab_segments`` NULL-not-fatal convention, because one broken
    metric must not hide the other nineteen. Columns must be numeric
    (loud check, like ``drift_report`` — a string metric silently
    casting to NULL would read as "no effect").

    One row per metric: ``(metric, n_control, n_treatment,
    mean_control, mean_treatment, diff, rel_diff, stderr, z,
    p_value)``.

    Scale shape: melt is scan-side row growth ×n_metrics before ONE
    keyed partial aggregate (reduce side = n_metrics rows); the
    Welch arithmetic is closed-form column math on that tiny table.
    """
    cols = [metric_cols] if isinstance(metric_cols, str) else list(metric_cols)
    if not cols:
        raise ValueError("ab_report: need at least one metric column")
    types = dict(df.dtypes)
    _NUMERIC = (
        "int", "bigint", "smallint", "tinyint", "double", "float",
        "boolean",
    )
    for c in cols:
        if c not in types:
            raise ValueError(f"ab_report: metric column {c!r} missing")
        base_t = types[c].split("(")[0]
        if base_t not in _NUMERIC and not base_t.startswith("decimal"):
            raise ValueError(
                f"ab_report: metric column {c!r} is {types[c]} - only "
                "numeric/boolean metrics; encode it explicitly"
            )
    g = F.col(group_col)
    kv = F.array(
        *[
            F.struct(
                F.lit(c).alias("metric"),
                F.col(c).cast("double").alias("value"),
            )
            for c in cols
        ]
    )
    melted = (
        df.where(g.isin(control, treatment))
        .select(g.alias("__arm"), F.explode(kv).alias("__kv"))
        .select("__arm", F.col("__kv.metric").alias("metric"),
                F.col("__kv.value").alias("__v"))
    )
    cv = F.when(F.col("__arm") == control, F.col("__v"))
    tv = F.when(F.col("__arm") == treatment, F.col("__v"))
    agg = melted.groupBy("metric").agg(
        F.count(cv).cast("bigint").alias("n_control"),
        F.avg(cv).alias("mean_control"),
        F.var_samp(cv).alias("__var_c"),
        F.count(tv).cast("bigint").alias("n_treatment"),
        F.avg(tv).alias("mean_treatment"),
        F.var_samp(tv).alias("__var_t"),
    )
    diff = F.col("mean_treatment") - F.col("mean_control")
    se = F.sqrt(
        F.col("__var_t") / F.col("n_treatment")
        + F.col("__var_c") / F.col("n_control")
    )
    ok = (
        (F.col("n_control") >= 2)
        & (F.col("n_treatment") >= 2)
        & F.col("__var_c").isNotNull()
        & F.col("__var_t").isNotNull()
        & (se > 0)
    )
    z = F.when(ok, diff / se)
    return agg.select(
        "metric",
        "n_control",
        "n_treatment",
        F.round("mean_control", round_to).alias("mean_control"),
        F.round("mean_treatment", round_to).alias("mean_treatment"),
        F.round(F.when(ok, diff), round_to).alias("diff"),
        F.round(
            F.when(ok & (F.col("mean_control") != 0),
                   diff / F.col("mean_control")),
            round_to,
        ).alias("rel_diff"),
        F.round(F.when(ok, se), round_to).alias("stderr"),
        F.round(z, round_to).alias("z"),
        F.round(_normal_two_sided_p(z), round_to).alias("p_value"),
    )


def _arm_value_ranks(df: DataFrame, group_col: str, value_col: str):
    """Shared reduction of ``kruskal_wallis`` and ``dunn_test``.
    Returns ``(ranked, ties)``: ``ranked`` is the (arm ``__g``, value
    ``__v``) count table ``__c`` joined to each value's GLOBAL midrank
    ``__rank``; ``ties`` is the 1-row ``(__t = Σ(t³−t), __N)``. The
    input is scanned ONCE: the (arm × distinct-value)-bounded count
    table is pinned and the per-value counts and tie stats derive from
    it."""
    v = F.col(value_col).cast("double")
    base = df.where(
        v.isNotNull() & ~F.isnan(v) & F.col(group_col).isNotNull()
    ).select(F.col(group_col).alias("__g"), v.alias("__v"))
    gv = pin(
        base.groupBy("__g", "__v").agg(
            F.count("*").cast("bigint").alias("__c")
        )
    )
    # per-value counts across ALL arms -> global midranks
    vc = gv.groupBy("__v").agg(F.sum("__c").cast("bigint").alias("__n"))
    ties = vc.agg(
        F.sum(
            F.col("__n").cast("double") ** 3 - F.col("__n").cast("double")
        ).alias("__t"),
        F.sum("__n").cast("bigint").alias("__N"),
    )
    rk = value_ranks(vc, [], "__v", "__n").select(
        F.col("__v").alias("__rv"), "__rank"
    )
    return gv.join(rk, gv["__v"] == rk["__rv"]), ties


def kruskal_wallis(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Kruskal-Wallis H test — the k-arm nonparametric omnibus:
    ``anova`` for data whose means are not trustworthy (heavy-tailed
    latency, bounded scores with ceiling effects, ordinal 1-5
    ratings) and ``mann_whitney`` generalized past two arms. Rejects
    "all k sources/models/arms draw from the same distribution"
    using only ranks, so a single wild outlier moves H by at most its
    rank step. Tie-corrected: H /= 1 − Σ(t³−t)/(N³−N).

    One row: ``(n, k, h, df, p_value)`` — df = k−1, the upper tail is
    Wilson-Hilferty on the shared A&S Φ (so a DuckDB oracle replays it
    bit-for-bit at rounded precision). NULL h when every value is
    tied (zero rank variance) or k < 2.

    Scale shape: the mann_whitney reduction generalized — values
    reduce to per-(value) and per-(arm, value) counts (shuffle ∝
    distinct values), GLOBAL midranks ride the distributed prefix
    sum, per-arm rank sums are one keyed aggregate over the counts
    table, and the H arithmetic folds on the k-row arm table with a
    1-row total broadcast. No global sort, no per-arm window; the
    input is scanned ONCE — the (arm, value) count table is pinned
    and the per-value counts / tie stats derive from it (r13: the
    previous vc/ties/gv fan-out re-evaluated the source per branch).
    """
    ranked, ties = _arm_value_ranks(df, group_col, value_col)
    arm = ranked.groupBy("__g").agg(
        F.sum("__c").cast("bigint").alias("__ng"),
        F.sum(F.col("__c") * F.col("__rank")).alias("__rsum"),
    )
    fused = arm.join(F.broadcast(ties))
    n = F.col("__N").cast("double")
    per_arm = (
        F.col("__rsum") - F.col("__ng").cast("double") * (n + 1) / 2
    ) ** 2 / F.col("__ng").cast("double")
    agg = fused.groupBy("__N", "__t").agg(
        F.sum(per_arm).alias("__s"),
        F.count("*").cast("bigint").alias("k"),
    )
    n = F.col("__N").cast("double")
    h_raw = F.lit(12.0) / (n * (n + 1)) * F.col("__s")
    tie_corr = 1 - F.col("__t") / (n * n * n - n)
    h = F.when(
        (F.col("k") >= 2) & (tie_corr > 0), h_raw / tie_corr
    )
    dof = (F.col("k") - 1).cast("double")
    wh_z = (
        (h / dof) ** F.lit(1.0 / 3.0) - (1 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = 1 - _normal_cdf(wh_z)
    return agg.select(
        F.col("__N").alias("n"),
        "k",
        F.round(h, round_to).alias("h"),
        (F.col("k") - 1).alias("df"),
        F.round(p, round_to).alias("p_value"),
    )


def dunn_test(
    df: DataFrame,
    group_col: str,
    value_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Dunn's post-hoc test — the "WHICH arms differ?" that follows a
    significant ``kruskal_wallis``: pairwise z statistics on mean
    ranks, tie-corrected (Dunn 1964), with Benjamini-Hochberg
    adjusted p-values across the k(k−1)/2 comparisons built in
    (running the pairs at raw α is exactly the multiple-comparison
    trap the omnibus was supposed to prevent). Arms are compared on
    the GLOBAL midranks — re-ranking each pair separately (pairwise
    ``mann_whitney``) answers a subtly different question and loses
    the omnibus's tie structure.

    One row per unordered pair, ``arm_a < arm_b`` lexicographically:
    ``(arm_a, arm_b, n_a, n_b, mean_rank_a, mean_rank_b, z, p_value,
    p_adjusted)``. z is NULL when the tie-corrected variance is 0
    (all values tied).

    Scale shape: identical reduction to ``kruskal_wallis`` (global
    midranks on the distributed prefix sum, per-arm rank sums) down
    to a k-row arm table; the pair table is k²-bounded (arms are a
    handful by definition — this is the bounded-model-table pattern,
    built by a self-join of the k-row table, not a window), and the
    BH adjustment runs on the pair-count-sized frame. The input is
    scanned ONCE: the (arm, value) count table is pinned and every
    downstream frame (per-value counts, tie stats, arm rank sums)
    derives from it — value-count order, never input order (r13: the
    previous vc/ties/gv fan-out re-evaluated the source per branch,
    5-6 scans + a double-evaluated BH join, 10.2 s → the pin plus
    the bounded BH removed all of it).
    """
    ranked, ties = _arm_value_ranks(df, group_col, value_col)
    # pinned k-row table: the a/b pair self-join below branches it
    arm = pin(
        ranked.groupBy("__g").agg(
            F.sum("__c").cast("bigint").alias("__ng"),
            (F.sum(F.col("__c") * F.col("__rank")) / F.sum("__c")).alias(
                "__mr"
            ),
        )
    )
    a = arm.select(
        F.col("__g").alias("arm_a"),
        F.col("__ng").alias("n_a"),
        F.col("__mr").alias("__mr_a"),
    )
    b = arm.select(
        F.col("__g").alias("arm_b"),
        F.col("__ng").alias("n_b"),
        F.col("__mr").alias("__mr_b"),
    )
    pairs = a.join(b, F.col("arm_a") < F.col("arm_b")).join(
        F.broadcast(ties)
    )
    n = F.col("__N").cast("double")
    var_term = n * (n + 1) / 12 - F.col("__t") / (12 * (n - 1))
    se = F.sqrt(
        var_term
        * (1 / F.col("n_a").cast("double") + 1 / F.col("n_b").cast("double"))
    )
    z = F.when(var_term > 0, (F.col("__mr_a") - F.col("__mr_b")) / se)
    p = _normal_two_sided_p(z)
    scored = pairs.select(
        "arm_a",
        "arm_b",
        "n_a",
        "n_b",
        F.round("__mr_a", round_to).alias("mean_rank_a"),
        F.round("__mr_b", round_to).alias("mean_rank_b"),
        F.round(z, round_to).alias("z"),
        F.round(p, round_to).alias("p_value"),
        p.alias("__p_raw"),
    )
    adj = _bh_adjust_bounded(scored, "__p_raw", round_to=round_to)
    return adj.select(
        "arm_a",
        "arm_b",
        "n_a",
        "n_b",
        "mean_rank_a",
        "mean_rank_b",
        "z",
        "p_value",
        F.col("p_adj").alias("p_adjusted"),
    )


def cochran_q(
    df: DataFrame,
    item_col: str,
    model_col: str,
    outcome_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Cochran's Q — the k-model omnibus over PAIRED binary outcomes
    (k models/filter versions judged on the SAME items), generalizing
    :func:`mcnemar` exactly as ``kruskal_wallis`` generalizes
    ``mann_whitney``: "do these k pass-rate columns differ at all?"
    before any pairwise reading. Long-format input: one row per
    (item, model) with a binary 0/1 outcome (loud assert). The panel
    must be COMPLETE — every item judged exactly once by every model
    (the ``kendall_w`` contract, loud ValueError otherwise): an item
    one model skipped is not a matched block, and silently dropping it
    would bias toward the models that answered.

    ``Q = k(k−1)·(ΣC_j² − N²/k) / (k·ΣR_i − ΣR_i²)`` with C_j the
    per-model success totals, R_i the per-item totals, N = ΣR_i —
    algebraically the variance of the column totals over the
    within-item discordance; items every model passes or fails
    contribute zero to both sides (no need to drop them). Zero
    denominator (no item with a mixed verdict) → NULL Q/p with counts
    visible, the ``mcnemar`` zero-discordant convention. Under H0,
    Q ~ χ²(k−1): the tail is Wilson-Hilferty with a COLUMN dof
    (k comes from the data) on the shared polynomial Φ. Follow a
    significant Q with :func:`mcnemar_pairs`.

    One row per group: ``(group..., n_items, k_models, q, df,
    p_value)``.

    Scale shape: two keyed partial aggregates (per-item totals — the
    big one, shuffle ∝ items; per-model totals — k rows) folded to
    per-group 1-row stats and joined (broadcast when ungrouped); no
    windows, no pivot, no k×k anything.
    """
    keys = keys_of(group_by)
    y = F.col(outcome_col).cast("bigint")
    checked = binary_label(
        y, "stats.cochran_q: outcome column must be binary 0/1"
    )
    base = df.where(
        F.col(item_col).isNotNull()
        & F.col(model_col).isNotNull()
        & y.isNotNull()
    ).select(
        *keys,
        F.col(item_col).alias("__it"),
        F.col(model_col).alias("__md"),
        checked.alias("__y"),
    )
    items = base.groupBy(*keys, "__it").agg(
        F.sum("__y").cast("double").alias("__r"),
        F.count("*").alias("__cnt"),
        F.count_distinct("__md").alias("__ndm"),
    )
    istats = items.groupBy(*keys).agg(
        F.sum("__r").alias("__totN"),
        F.sum(F.col("__r") * F.col("__r")).alias("__R2"),
        F.count("*").cast("bigint").alias("__n"),
        F.min("__cnt").alias("__min_cnt"),
        F.max("__cnt").alias("__max_cnt"),
        F.min((F.col("__cnt") == F.col("__ndm")).cast("int")).alias("__nodup"),
        F.sum("__cnt").alias("__cells"),
    )
    mstats = (
        base.groupBy(*keys, "__md")
        .agg(F.sum("__y").cast("double").alias("__c"))
        .groupBy(*keys)
        .agg(
            F.sum(F.col("__c") * F.col("__c")).alias("__C2"),
            F.count("*").cast("bigint").alias("__k"),
        )
    )
    j = join_on_keys(istats, mstats, keys)
    kk = F.col("__k").cast("double")
    complete = (
        (F.col("__min_cnt") == F.col("__k"))
        & (F.col("__max_cnt") == F.col("__k"))
        & (F.col("__nodup") == 1)
        & (F.col("__cells") == F.col("__n") * F.col("__k"))
        & (F.col("__k") >= 2)
        & (F.col("__n") >= 1)
    )
    guard = F.assert_true(
        complete,
        F.lit(
            "stats.cochran_q: panel is incomplete or duplicated - every "
            "item must be judged exactly once by every model (k >= 2); "
            "impute or drop items upstream, explicitly"
        ),
    )
    denom = kk * F.col("__totN") - F.col("__R2")
    q = F.when(
        denom > 0,
        kk * (kk - 1) * (F.col("__C2") - F.col("__totN") * F.col("__totN") / kk)
        / denom,
    )
    dof = kk - 1
    wh_z = (
        (q / dof) ** F.lit(1.0 / 3.0) - (1 - 2.0 / (9.0 * dof))
    ) / F.sqrt(2.0 / (9.0 * dof))
    p = 1 - _normal_cdf(wh_z)
    return j.select(
        *keys,
        F.when(guard.isNull(), F.col("__n")).alias("n_items"),
        F.col("__k").alias("k_models"),
        F.round(q, round_to).alias("q"),
        (F.col("__k") - 1).cast("bigint").alias("df"),
        F.round(p, round_to).alias("p_value"),
    )


def mcnemar_pairs(
    df: DataFrame,
    item_col: str,
    model_col: str,
    outcome_col: str,
    correction: bool = True,
    round_to: int = 6,
    max_models_per_item: int = 1000,
) -> DataFrame:
    """Pairwise McNemar post-hoc after a significant :func:`cochran_q`
    — WHICH model pairs actually differ, with Benjamini-Hochberg
    adjustment across the k(k−1)/2 pair flood (the ``dunn_test``
    convention). Long-format input like ``cochran_q``; pairs are
    emitted once with ``model_a < model_b`` (deterministic).

    One row per pair: ``(model_a, model_b, n_pairs, only_a, only_b,
    chi2, p_value, p_adjusted)`` — ``only_a`` counts items model_a
    passed and model_b failed; a pair that never disagrees gets NULL
    chi2/p (excluded from the BH ``m``), matching :func:`mcnemar`.

    Scale shape: ONE item-keyed aggregate collects each item's k
    (model, outcome) structs (k is small by construction), the k(k−1)/2
    ordered pairs expand JVM-side with array higher-order functions,
    and one (pair)-keyed count aggregate (map-side partial) folds them
    to the k²-bounded result — a single shuffle of the input and a
    single pass over the source, where the previous item-keyed
    self-join shuffled the input twice and EVALUATED THE CALLER'S
    UPSTREAM PLAN twice (r13: 13.4 s → the source-scan count was the
    whole cost for union-of-gates callers). BH runs in-line on the
    bounded pair table (:func:`_bh_adjust_bounded`).
    """
    y = F.col(outcome_col).cast("bigint")
    checked = binary_label(
        y, "stats.mcnemar_pairs: outcome column must be binary 0/1"
    )
    base = df.where(
        F.col(item_col).isNotNull()
        & F.col(model_col).isNotNull()
        & y.isNotNull()
    ).select(
        F.col(item_col).alias("__it"),
        F.col(model_col).alias("__md"),
        checked.alias("__y"),
    )
    per_item = base.groupBy("__it").agg(
        F.collect_list(F.struct("__md", "__y")).alias("__ms")
    )
    # fail-loud skew guard: the k² pair expansion below runs WITHIN a
    # single row, so one item with an unexpectedly large (or
    # duplicate-heavy) model list concentrates the whole quadratic
    # blow-up in one task where the old self-join spread it. Model
    # cardinality is small by construction; an item exceeding the cap
    # is a data bug — raise instead of silently stalling an executor.
    # assert_true rides inside the kept column so pruning can't elide
    # it; NULL on success makes it a no-op append.
    if max_models_per_item is not None:
        guard_k = F.assert_true(
            F.size("__ms") <= F.lit(int(max_models_per_item)),
            F.concat(
                F.lit(
                    "stats.mcnemar_pairs: item exceeds max_models_per_item="
                    f"{int(max_models_per_item)} (got "
                ),
                F.size("__ms").cast("string"),
                F.lit(" rows) — raise the cap or dedupe (item, model)"),
            ),
        )
        per_item = per_item.select(
            "__it",
            F.when(guard_k.isNull(), F.col("__ms")).alias("__ms"),
        )
    # ordered-pair expansion (model_a < model_b) without a self-join:
    # list order is irrelevant — the filter keeps exactly one
    # orientation of every unordered pair, duplicates included with
    # the same cross-product semantics the join had
    pair_arr = F.flatten(
        F.transform(
            "__ms",
            lambda xv: F.filter(
                F.transform(
                    "__ms",
                    lambda yv: F.struct(
                        xv["__md"].alias("__ma"),
                        yv["__md"].alias("__mb"),
                        xv["__y"].alias("__ya"),
                        yv["__y"].alias("__yb"),
                    ),
                ),
                lambda s: s["__ma"] < s["__mb"],
            ),
        )
    )
    pairs = (
        per_item.select(F.explode(pair_arr).alias("__pr"))
        .groupBy(
            F.col("__pr.__ma").alias("model_a"),
            F.col("__pr.__mb").alias("model_b"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_pairs"),
            F.sum(F.col("__pr.__ya") * (1 - F.col("__pr.__yb")))
            .cast("bigint")
            .alias("only_a"),
            F.sum((1 - F.col("__pr.__ya")) * F.col("__pr.__yb"))
            .cast("bigint")
            .alias("only_b"),
        )
    )
    oa, ob = F.col("only_a").cast("double"), F.col("only_b").cast("double")
    disc = oa + ob
    num = (
        F.greatest(F.abs(oa - ob) - F.lit(1.0), F.lit(0.0))
        if correction
        else F.abs(oa - ob)
    )
    chi2 = F.when(disc > 0, num * num / disc)
    p = _normal_two_sided_p(F.sqrt(chi2))
    scored = pairs.select(
        "model_a",
        "model_b",
        "n_pairs",
        "only_a",
        "only_b",
        F.round(chi2, round_to).alias("chi2"),
        F.round(p, round_to).alias("p_value"),
        p.alias("__p_raw"),
    )
    adj = _bh_adjust_bounded(scored, "__p_raw", round_to=round_to)
    return adj.select(
        "model_a",
        "model_b",
        "n_pairs",
        "only_a",
        "only_b",
        "chi2",
        "p_value",
        F.col("p_adj").alias("p_adjusted"),
    )


def mcnemar(
    df: DataFrame,
    a_col: str,
    b_col: str,
    correction: bool = True,
    round_to: int = 6,
) -> DataFrame:
    """McNemar's test for PAIRED binary outcomes — the model-vs-model
    eval readout ``ab_compare``/``odds_ratio`` cannot give: when two
    models answer the SAME prompts (or two filter versions judge the
    same documents), the pass rates are correlated through item
    difficulty, and treating the columns as independent arms throws
    away exactly the pairing that makes the comparison sharp. Only the
    DISCORDANT pairs carry evidence: ``only_a`` (A passed, B failed)
    vs ``only_b`` — items both models pass or both fail say nothing
    about which is better.

    ``a_col``/``b_col`` must be binary 0/1 (loud assert, the
    ``odds_ratio`` contract); rows with a NULL on either side are
    excluded (an item one model never answered is not a pair).

    One row: ``(n_pairs, both_pass, both_fail, only_a, only_b, chi2,
    p_value)``. ``chi2 = (|only_a − only_b| − 1)² / (only_a +
    only_b)`` with the default Edwards continuity correction
    (``correction=False`` drops the −1; with the correction, a
    |difference| below 1 clamps to 0 rather than going negative); the
    two-sided p-value is the χ²₁ tail, computed as
    ``erfc(√(chi2/2))`` through the shared Abramowitz-Stegun
    polynomial so the DuckDB oracle matches bit-for-bit at rounded
    precision. Zero discordant pairs → NULL chi2/p with the four
    counts visible (the models never disagreed; there is no test to
    run, and that is a result worth seeing, not an error).

    Scale shape: ONE conditional-count aggregate (four cells,
    map-side combine) + closed-form arithmetic on the 1-row result —
    scan cost only, fully SQL-expressible.
    """
    a = F.col(a_col).cast("bigint")
    b = F.col(b_col).cast("bigint")
    guard = F.assert_true(
        a.isin(0, 1) & b.isin(0, 1),
        F.lit("stats.mcnemar: outcome columns must be binary 0/1"),
    )
    ac = a + F.coalesce(guard.cast("bigint"), F.lit(0))
    base = df.where(a.isNotNull() & b.isNotNull())
    agg = base.agg(
        F.coalesce(F.sum(ac * b), F.lit(0)).cast("bigint").alias("both_pass"),
        F.coalesce(F.sum((1 - ac) * (1 - b)), F.lit(0))
        .cast("bigint")
        .alias("both_fail"),
        F.coalesce(F.sum(ac * (1 - b)), F.lit(0))
        .cast("bigint")
        .alias("only_a"),
        F.coalesce(F.sum((1 - ac) * b), F.lit(0))
        .cast("bigint")
        .alias("only_b"),
    )
    oa, ob = F.col("only_a").cast("double"), F.col("only_b").cast("double")
    disc = oa + ob
    num = (
        F.greatest(F.abs(oa - ob) - F.lit(1.0), F.lit(0.0))
        if correction
        else F.abs(oa - ob)
    )
    chi2 = F.when(disc > 0, num * num / disc)
    p = _normal_two_sided_p(F.sqrt(chi2))
    return agg.select(
        (F.col("both_pass") + F.col("both_fail") + F.col("only_a")
         + F.col("only_b")).alias("n_pairs"),
        "both_pass",
        "both_fail",
        "only_a",
        "only_b",
        F.round(chi2, round_to).alias("chi2"),
        F.round(p, round_to).alias("p_value"),
    )


def odds_ratio(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
    control: str,
    treatment: str,
    z: float = 1.959964,
    round_to: int = 6,
) -> DataFrame:
    """2×2 odds ratio and relative risk with Wald confidence
    intervals — the incident-rate readout (safety violations, crash
    rates, refusal rates) where ``ab_compare``'s mean difference is
    the wrong UNIT: "treatment violates 1.8× as often [1.2, 2.7]"
    is what a safety review reads, not "+0.003 absolute". The
    outcome must be binary 0/1 (loud assert); rows outside the two
    named arms or with NULL outcome are excluded.

    One row: ``(n_control, n_treatment, events_control,
    events_treatment, rate_control, rate_treatment, odds_ratio,
    or_ci_lo, or_ci_hi, relative_risk, rr_ci_lo, rr_ci_hi)``. CIs are
    Wald on the log scale (log OR ± z·√(1/a+1/b+1/c+1/d)); any empty
    2×2 cell yields NULL estimates rather than a silently "corrected"
    number — with a zero cell the honest statement is "unbounded /
    needs an exact method", and a +0.5 fudge hides exactly the rare
    catastrophic outcome this readout exists to surface.

    An empty ARM (zero rows under ``control`` or ``treatment`` after
    the filter) fails LOUD like ``ab_compare``: it almost always means
    a misspelled arm name or a broken upstream filter, and a safety
    readout that answers a typo with an all-NULL row is the unsafe
    behavior. Zero CELLS within non-empty arms keep the documented
    NULL-estimate contract, with the four real counts visible.

    Scale shape: ONE conditional-count aggregate (four cells,
    map-side combine) + closed-form arithmetic on the 1-row result —
    scan cost only, fully SQL-expressible.
    """
    g = F.col(group_col)
    y = F.col(outcome_col).cast("bigint")
    checked = binary_label(
        y, "stats.odds_ratio: outcome column must be binary 0/1"
    )
    base = df.where(g.isin(control, treatment) & y.isNotNull())
    # cells coalesce to 0 so an empty arm shows REAL counts (sum over
    # zero rows is NULL) and the empty-arm guard below can fire
    agg = base.agg(
        F.coalesce(F.sum(F.when(g == treatment, checked)), F.lit(0))
        .cast("bigint")
        .alias("__a"),
        F.coalesce(F.sum(F.when(g == treatment, 1 - checked)), F.lit(0))
        .cast("bigint")
        .alias("__b"),
        F.coalesce(F.sum(F.when(g == control, checked)), F.lit(0))
        .cast("bigint")
        .alias("__c"),
        F.coalesce(F.sum(F.when(g == control, 1 - checked)), F.lit(0))
        .cast("bigint")
        .alias("__d"),
    )
    a, b = F.col("__a").cast("double"), F.col("__b").cast("double")
    c, d = F.col("__c").cast("double"), F.col("__d").cast("double")
    arm_guard = F.assert_true(
        (a + b > 0) & (c + d > 0),
        F.lit(
            "stats.odds_ratio: an arm is empty — check the control/"
            "treatment names against the group column (a misspelled "
            "arm must not produce a silent all-NULL readout)"
        ),
    )
    ok = (a > 0) & (b > 0) & (c > 0) & (d > 0)
    orr = F.when(ok, (a * d) / (b * c))
    se_or = F.sqrt(1 / a + 1 / b + 1 / c + 1 / d)
    rr = F.when(ok, (a / (a + b)) / (c / (c + d)))
    se_rr = F.sqrt(1 / a - 1 / (a + b) + 1 / c - 1 / (c + d))
    zl = F.lit(float(z))
    return agg.select(
        F.when(arm_guard.isNull(), F.col("__c") + F.col("__d")).alias(
            "n_control"
        ),
        (F.col("__a") + F.col("__b")).alias("n_treatment"),
        F.col("__c").alias("events_control"),
        F.col("__a").alias("events_treatment"),
        F.round(
            F.when(c + d > 0, c / (c + d)), round_to
        ).alias("rate_control"),
        F.round(
            F.when(a + b > 0, a / (a + b)), round_to
        ).alias("rate_treatment"),
        F.round(orr, round_to).alias("odds_ratio"),
        F.round(F.when(ok, F.exp(F.log(orr) - zl * se_or)), round_to).alias(
            "or_ci_lo"
        ),
        F.round(F.when(ok, F.exp(F.log(orr) + zl * se_or)), round_to).alias(
            "or_ci_hi"
        ),
        F.round(rr, round_to).alias("relative_risk"),
        F.round(F.when(ok, F.exp(F.log(rr) - zl * se_rr)), round_to).alias(
            "rr_ci_lo"
        ),
        F.round(F.when(ok, F.exp(F.log(rr) + zl * se_rr)), round_to).alias(
            "rr_ci_hi"
        ),
    )


def fisher_exact(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
    control: str,
    treatment: str,
    max_terms: int = 100_000,
    round_to: int = 6,
) -> DataFrame:
    """Fisher's exact test on the 2×2 incident table — the p-value
    ``odds_ratio``'s Wald CI cannot honestly provide when a cell is
    SMALL (3 crashes out of 40 canary runs vs 0 of 38: the normal
    approximation behind chi-squared/Wald is exactly what breaks
    there, and rare-catastrophic cells are what a safety readout
    exists for). Same arm/outcome contract as :func:`odds_ratio`:
    binary 0/1 outcome (loud assert), rows outside the two named arms
    or with NULL outcome excluded, an empty ARM fails LOUD.

    One row: ``(n_control, n_treatment, events_control,
    events_treatment, odds_ratio, p_two_sided, p_less, p_greater)``.
    ``odds_ratio`` is the sample ``ad/bc`` (NULL on any zero cell —
    same contract as :func:`odds_ratio`); ``p_less`` /``p_greater``
    are the one-sided tails P(K ≤ a) / P(K ≥ a) under the
    hypergeometric null (margins fixed), and ``p_two_sided`` sums all
    tables with point probability ≤ the observed one (the standard
    two-sided definition, with the conventional 1+1e-7 relative
    tolerance for float ties).

    HOW without factorials: the hypergeometric pmf is never computed
    from (log-)gamma — consecutive-k probabilities obey the exact
    ratio ``P(k)/P(k−1) = (n1−k+1)(s−k+1) / (k·(n2−s+k))``, so
    unnormalized log-probabilities are ONE running sum of log-ratios
    over the support, and every tail is a conditional sum normalized
    by the total (log-sum-exp against the support max for overflow
    safety). That keeps the whole computation in plain JVM
    expressions an oracle can replay verbatim.

    Scale shape: one four-cell conditional-count aggregate (map-side
    combine — the only part that touches data), then a bounded
    ``sequence(kmin, kmax)`` explode off the 1-row cell table, one
    ordered window cumsum over it, one final 1-row aggregate. The
    support size ``min(n1,s) − max(0, s−n2) + 1`` is asserted
    ≤ ``max_terms`` BEFORE the explode: Fisher's exact sum at
    corpus-scale margins is statistically pointless (use
    :func:`odds_ratio` / :func:`chi2_drift` there) and must not
    silently build a giant table.
    """
    g = F.col(group_col)
    y = F.col(outcome_col).cast("bigint")
    checked = binary_label(
        y, "stats.fisher_exact: outcome column must be binary 0/1"
    )
    base = df.where(g.isin(control, treatment) & y.isNotNull())
    agg = base.agg(
        F.coalesce(F.sum(F.when(g == treatment, checked)), F.lit(0))
        .cast("bigint")
        .alias("__a"),
        F.coalesce(F.sum(F.when(g == treatment, 1 - checked)), F.lit(0))
        .cast("bigint")
        .alias("__b"),
        F.coalesce(F.sum(F.when(g == control, checked)), F.lit(0))
        .cast("bigint")
        .alias("__c"),
        F.coalesce(F.sum(F.when(g == control, 1 - checked)), F.lit(0))
        .cast("bigint")
        .alias("__d"),
    )
    a_l, b_l = F.col("__a"), F.col("__b")
    c_l, d_l = F.col("__c"), F.col("__d")
    arm_guard = F.assert_true(
        (a_l + b_l > 0) & (c_l + d_l > 0),
        F.lit(
            "stats.fisher_exact: an arm is empty — check the control/"
            "treatment names against the group column (a misspelled "
            "arm must not produce a silent readout)"
        ),
    )
    n1 = a_l + b_l          # treatment row margin
    n2 = c_l + d_l          # control row margin
    s = a_l + c_l           # success column margin
    kmin = F.greatest(F.lit(0).cast("bigint"), s - n2)
    kmax = F.least(n1, s)
    size_guard = F.assert_true(
        kmax - kmin + 1 <= F.lit(int(max_terms)),
        F.lit(
            "stats.fisher_exact: hypergeometric support exceeds "
            f"max_terms={max_terms} — margins this large are normal-"
            "approximation territory; use stats.odds_ratio or "
            "stats.chi2_drift, or raise max_terms deliberately"
        ),
    )
    cells = agg.select(
        F.when(arm_guard.isNull() & size_guard.isNull(), a_l)
        .alias("__a"),
        "__b", "__c", "__d",
        n1.alias("__n1"), n2.alias("__n2"), s.alias("__s"),
        kmin.alias("__kmin"), kmax.alias("__kmax"),
    )
    sup = cells.select(
        "*", F.explode(F.sequence(F.col("__kmin"), F.col("__kmax"))).alias("k")
    )
    k = F.col("k").cast("double")
    n1d, n2d, sd = (
        F.col("__n1").cast("double"),
        F.col("__n2").cast("double"),
        F.col("__s").cast("double"),
    )
    # exact transition ratio P(k)/P(k-1); 0 at k = kmin (base point).
    # every log argument is >= 1 on the support, so no NULL/ln(0) path
    lr = F.when(
        F.col("k") == F.col("__kmin"), F.lit(0.0)
    ).otherwise(
        F.log(n1d - k + 1) + F.log(sd - k + 1)
        - F.log(k) - F.log(n2d - sd + k)
    )
    # partitioned on the (constant) margin column: the support is one
    # bounded group by construction, and the constant key silences the
    # global-window warning without changing the single-task plan
    w = (
        Window.partitionBy("__n1")
        .orderBy("k")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lq = sup.select("*", F.sum(lr).over(w).alias("__logq"))
    m = Window.partitionBy("__n1")
    lq = lq.select(
        "*",
        F.max("__logq").over(m).alias("__m"),
        F.max(F.when(F.col("k") == F.col("__a"), F.col("__logq"))).over(m)
        .alias("__logq_obs"),
    )
    e = F.exp(F.col("__logq") - F.col("__m"))
    obs_cut = F.col("__logq_obs") + F.lit(math.log(1.0 + 1e-7))
    out = lq.groupBy(
        "__a", "__b", "__c", "__d", "__n1", "__n2"
    ).agg(
        F.sum(e).alias("__tot"),
        F.sum(F.when(F.col("__logq") <= obs_cut, e)).alias("__two"),
        F.sum(F.when(F.col("k") <= F.col("__a"), e)).alias("__less"),
        F.sum(F.when(F.col("k") >= F.col("__a"), e)).alias("__greater"),
    )
    ad, bd = F.col("__a").cast("double"), F.col("__b").cast("double")
    cd, dd = F.col("__c").cast("double"), F.col("__d").cast("double")
    ok = (F.col("__a") > 0) & (F.col("__b") > 0) & (F.col("__c") > 0) & (
        F.col("__d") > 0
    )
    return out.select(
        F.col("__n2").alias("n_control"),
        F.col("__n1").alias("n_treatment"),
        F.col("__c").alias("events_control"),
        F.col("__a").alias("events_treatment"),
        F.round(F.when(ok, (ad * dd) / (bd * cd)), round_to).alias(
            "odds_ratio"
        ),
        F.round(
            F.least(F.col("__two") / F.col("__tot"), F.lit(1.0)), round_to
        ).alias("p_two_sided"),
        F.round(
            F.least(F.col("__less") / F.col("__tot"), F.lit(1.0)), round_to
        ).alias("p_less"),
        F.round(
            F.least(F.col("__greater") / F.col("__tot"), F.lit(1.0)),
            round_to,
        ).alias("p_greater"),
    )


def meta_analysis(
    df: DataFrame,
    effect_col: str,
    se_col: str,
    group_by=None,
    round_to: int = 6,
) -> DataFrame:
    """Pool per-segment effect estimates into one overall effect —
    the right way to combine an experiment's per-market/per-cohort
    readouts (each row: an effect and its standard error, e.g.
    :func:`ab_compare` / :func:`ratio_metric` diffs run per segment)
    instead of eyeballing a forest of intervals or re-pooling raw rows
    (which silently re-weights segments by traffic). Standard
    meta-analysis pair:

    * FIXED effect — inverse-variance weighted mean
      (``w_i = 1/se_i²``), its SE, z, and two-sided p: the answer
      under "one true effect, segments differ only by noise";
    * RANDOM effects (DerSimonian-Laird 1986) — heterogeneity is
      measured first (Cochran's ``Q``, ``I² = max(0, (Q−k+1)/Q)``,
      between-segment variance ``τ² = max(0, (Q−(k−1)) /
      (Σw − Σw²/Σw))``), then the pooled effect re-weights with
      ``w*_i = 1/(se_i² + τ²)``. When ``I²`` is small the two pooled
      effects agree; when it is large, the random-effects interval is
      honestly wider and the per-segment story matters.

    Rows with NULL or non-positive SE are excluded; fails loud with
    fewer than 2 usable segments per group. ``group_by`` pools within
    groups (e.g. one pooled effect per metric); a NULL group key forms
    its own group and is pooled like any other (the internal
    recombining joins are null-safe). Returns
    ``(group..., k, fixed_effect, fixed_se, fixed_z, fixed_p, q,
    i2, tau2, random_effect, random_se, random_z, random_p)``.

    Scale shape: segments are already aggregates, so this is one
    partial-agg shuffle over segment rows (map-side combine; reduce
    side = group count) — every statistic is a ratio of plain sums
    (Σw, Σwx, Σwx², Σw²), no window, no driver math. Fully
    SQL-expressible.
    """
    gb = keys_of(group_by)
    x = F.col(effect_col).cast("double")
    se = F.col(se_col).cast("double")
    base = df.where(x.isNotNull() & se.isNotNull() & (se > 0))
    w = F.lit(1.0) / (se * se)
    agg = base.groupBy(*gb).agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum(w).alias("__sw"),
        F.sum(w * x).alias("__swx"),
        F.sum(w * x * x).alias("__swx2"),
        F.sum(w * w).alias("__sw2"),
    )
    guard = F.assert_true(
        F.col("k") >= 2,
        F.lit(
            "stats.meta_analysis: fewer than 2 usable segments in a "
            "group (NULL/non-positive SEs are excluded) — pooling one "
            "segment is that segment"
        ),
    )
    sw, swx = F.col("__sw"), F.col("__swx")
    fixed = swx / sw
    fixed_se = F.lit(1.0) / F.sqrt(sw)
    q = F.col("__swx2") - swx * swx / sw
    kd = F.col("k").cast("double")
    # divisions gated so ANSI divide-by-zero can't preempt the guard's
    # message (identical effects make q = 0 — a legal input where
    # I² is 0 by definition; k = 1 must reach the loud assert instead)
    i2 = F.when(q > 0, F.greatest(F.lit(0.0), (q - (kd - 1)) / q)).otherwise(
        F.lit(0.0)
    )
    tau2 = F.when(
        kd >= 2,
        F.greatest(
            F.lit(0.0), (q - (kd - 1)) / (sw - F.col("__sw2") / sw)
        ),
    ).otherwise(F.lit(0.0))
    out = agg.select(
        *gb,
        F.when(guard.isNull(), F.col("k")).alias("k"),
        fixed.alias("__fx"),
        fixed_se.alias("__fse"),
        q.alias("__q"),
        i2.alias("__i2"),
        tau2.alias("__tau2"),
    )
    # random-effects pass re-weights the ORIGINAL segment rows with
    # tau2 — one more keyed partial agg joined back (broadcast when
    # groups are dimension-sized)
    joined = join_on_keys(base, F.broadcast(out.select(*gb, "__tau2")), gb)
    wr = F.lit(1.0) / (se * se + F.col("__tau2"))
    rand = joined.groupBy(*gb).agg(
        F.sum(wr).alias("__rw"),
        F.sum(wr * x).alias("__rwx"),
    )
    full = join_on_keys(out, rand, gb)
    r_eff = F.col("__rwx") / F.col("__rw")
    r_se = F.lit(1.0) / F.sqrt(F.col("__rw"))
    fz = F.col("__fx") / F.col("__fse")
    rz = r_eff / r_se
    return full.select(
        *gb,
        "k",
        F.round(F.col("__fx"), round_to).alias("fixed_effect"),
        F.round(F.col("__fse"), round_to).alias("fixed_se"),
        F.round(fz, round_to).alias("fixed_z"),
        F.round(_normal_two_sided_p(fz), round_to).alias("fixed_p"),
        F.round(F.col("__q"), round_to).alias("q"),
        F.round(F.col("__i2"), round_to).alias("i2"),
        F.round(F.col("__tau2"), round_to).alias("tau2"),
        F.round(r_eff, round_to).alias("random_effect"),
        F.round(r_se, round_to).alias("random_se"),
        F.round(rz, round_to).alias("random_z"),
        F.round(_normal_two_sided_p(rz), round_to).alias("random_p"),
    )


def qini(
    df: DataFrame,
    score_col: str,
    group_col: str,
    outcome_col: str,
    control: str,
    treatment: str,
    n_buckets: int = 10,
    round_to: int = 6,
) -> DataFrame:
    """Qini/uplift curve table for a TREATMENT-EFFECT model — the
    gains_table of uplift modeling (Radcliffe): a targeting model
    scores who to treat; ranking everyone by that score and treating
    only the top fraction, how many INCREMENTAL conversions does the
    model capture over random targeting? At each score-ranked prefix

        Q(k) = Y_T(k) − Y_C(k) · N_T(k) / N_C(k)

    (treated positives minus control positives scaled to the treated
    volume — the causal analogue of cumulative gains; while the
    prefix holds no control rows the scaled term is 0 by convention),
    and the random-targeting baseline is the straight line to the
    full-population Q. One row per bucket END (deciles by default):
    ``(bucket, cum_rows, cum_treat, cum_ctrl, cum_treat_pos,
    cum_ctrl_pos, uplift, random_uplift, qini)`` with
    ``qini = uplift − random_uplift`` — positive means the model
    targets better than a coin at that depth; read the curve's peak
    as "treat the top X%".

    Same tie contract as :func:`gains_table` (a tied score block
    belongs WHOLE to the bucket where it begins), same arm/outcome
    contract as :func:`ab_compare` (binary 0/1 loud assert, rows
    outside the named arms or with NULL score/outcome excluded, an
    empty arm fails LOUD — a qini without a control arm is just a
    gains curve).

    Scale shape: exactly the gains_table plan — per-distinct-score
    conditional counts (shuffle ∝ distinct scores), the DISTRIBUTED
    multi-column prefix sum, 1-row totals broadcast, final aggregate
    ≤ n_buckets rows.
    """
    if n_buckets < 2:
        raise ValueError(f"stats.qini: n_buckets must be >= 2, got {n_buckets}")
    g = F.col(group_col)
    s = F.col(score_col).cast("double")
    y = F.col(outcome_col).cast("bigint")
    checked = binary_label(y, "stats.qini: outcome column must be binary 0/1")
    base = df.where(
        g.isin(control, treatment)
        & s.isNotNull() & ~F.isnan(s)
        & y.isNotNull()
    )
    is_t = (g == treatment).cast("bigint")
    # pinned: feeds the prefix scan (sampled in an extra pass) and
    # the totals aggregate — r13
    counts = pin(
        base.groupBy((-s).alias("__negs")).agg(
            F.count("*").cast("bigint").alias("__n"),
            F.sum(is_t).cast("bigint").alias("__nt"),
            F.sum(1 - is_t).cast("bigint").alias("__nc"),
            F.sum(is_t * checked).cast("bigint").alias("__pt"),
            F.sum((1 - is_t) * checked).cast("bigint").alias("__pc"),
        )
    )
    cum = grouped_prefix_sum(
        counts, [], ["__negs"],
        ["__n", "__nt", "__nc", "__pt", "__pc"],
        ["__cn", "__cnt", "__cnc", "__cpt", "__cpc"],
        prepinned=True,
    )
    totals = counts.agg(
        F.sum("__n").cast("bigint").alias("__tn"),
        F.sum("__nt").cast("bigint").alias("__tnt"),
        F.sum("__nc").cast("bigint").alias("__tnc"),
        F.sum("__pt").cast("bigint").alias("__tpt"),
        F.sum("__pc").cast("bigint").alias("__tpc"),
    )
    arm_guard = F.assert_true(
        (F.col("__tnt") > 0) & (F.col("__tnc") > 0),
        F.lit(
            "stats.qini: an arm is empty — check the control/treatment "
            "names against the group column (a qini needs both arms)"
        ),
    )
    j = cum.join(F.broadcast(totals))
    bucket = F.floor(
        (F.col("__cn") - F.col("__n")).cast("double")
        * n_buckets
        / F.col("__tn")
    ).cast("int")
    # bucket END = the tied block with the largest cum_rows inside it
    per_bucket = (
        j.select(
            bucket.alias("bucket"),
            F.struct(
                F.col("__cn"), F.col("__cnt"), F.col("__cnc"),
                F.col("__cpt"), F.col("__cpc"),
                F.col("__tn"), F.col("__tnt"), F.col("__tnc"),
                F.col("__tpt"), F.col("__tpc"),
            ).alias("__st"),
        )
        .groupBy("bucket")
        .agg(F.max("__st").alias("e"))
        .select("bucket", "e.*")
    )
    cnt, cnc = F.col("__cnt").cast("double"), F.col("__cnc").cast("double")
    q_at = F.col("__cpt").cast("double") - F.when(
        F.col("__cnc") > 0,
        F.col("__cpc").cast("double") * cnt / cnc,
    ).otherwise(F.lit(0.0))
    # division gated so ANSI divide-by-zero can't preempt the loud
    # empty-arm assert (same pattern as ab_compare/meta_analysis)
    q_total = F.col("__tpt").cast("double") - F.when(
        F.col("__tnc") > 0,
        F.col("__tpc").cast("double")
        * F.col("__tnt").cast("double")
        / F.col("__tnc").cast("double"),
    ).otherwise(F.lit(0.0))
    rand = q_total * F.col("__cn").cast("double") / F.col("__tn").cast(
        "double"
    )
    # + 0.0 after rounding: IEEE -0.0 + 0.0 = +0.0, so a null-effect
    # curve that rounds to negative zero hashes identically to the
    # oracle's positive zero
    zz = F.lit(0.0)
    return per_bucket.select(
        F.when(arm_guard.isNull(), F.col("bucket")).alias("bucket"),
        F.col("__cn").alias("cum_rows"),
        F.col("__cnt").alias("cum_treat"),
        F.col("__cnc").alias("cum_ctrl"),
        F.col("__cpt").alias("cum_treat_pos"),
        F.col("__cpc").alias("cum_ctrl_pos"),
        (F.round(q_at, round_to) + zz).alias("uplift"),
        (F.round(rand, round_to) + zz).alias("random_uplift"),
        (F.round(q_at - rand, round_to) + zz).alias("qini"),
    ).orderBy("bucket")


def eb_rates(
    df: DataFrame,
    outcome_col: str,
    group_by,
    min_n: int = 5,
    round_to: int = 6,
) -> DataFrame:
    """Empirical-Bayes shrinkage of per-group binary rates — the fix
    for every "rank hosts by quality-pass rate" readout where a
    2-document host with 2 passes beats a 10,000-document host at 98%:
    fit a Beta(α, β) prior to the observed rate distribution by
    method of moments (over groups with ``n >= min_n`` trials, so
    noise-dominated groups don't corrupt the prior they exist to
    borrow from), then report each group's posterior-mean rate
    ``(s + α)/(n + α + β)`` — small groups shrink toward the corpus
    prior, big groups keep their own signal, and the ranking becomes
    usable at every group size (Robinson's classic batting-average
    construction).

    Returns one row per group: ``(group..., n, successes, raw_rate,
    shrunk_rate, alpha, beta)`` (α/β constant columns, kept for
    transparency and replay). Fails loud when fewer than 2 groups
    qualify for the fit, or when the observed rate variance is 0 or
    ≥ m(1−m) (no valid Beta by moments — the former means nothing to
    shrink, the latter over-dispersion a Beta prior cannot express).
    Binary 0/1 outcome contract as :func:`odds_ratio`.

    Scale shape: one keyed count/sum aggregate per group (map-side
    combine), ONE 1-row moment aggregate over the qualifying group
    table, broadcast back as the two prior constants — closed form
    after, fully SQL-expressible.
    """
    if min_n < 1:
        raise ValueError(f"stats.eb_rates: min_n must be >= 1, got {min_n}")
    gb = [group_by] if isinstance(group_by, str) else list(group_by)
    y = F.col(outcome_col).cast("double")
    checked = binary_label(
        y, "stats.eb_rates: outcome column must be binary 0/1"
    )
    per = df.where(y.isNotNull()).groupBy(*gb).agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(checked).cast("bigint").alias("successes"),
    )
    raw = F.col("successes").cast("double") / F.col("n").cast("double")
    per = per.withColumn("raw_rate", raw)
    fit = per.where(F.col("n") >= min_n).agg(
        F.count("*").alias("__k"),
        F.avg("raw_rate").alias("__m"),
        F.var_samp("raw_rate").alias("__v"),
    )
    m, v = F.col("__m"), F.col("__v")
    fit_guard = F.assert_true(
        (F.col("__k") >= 2) & (v > 0) & (v < m * (F.lit(1.0) - m)),
        F.lit(
            "stats.eb_rates: cannot fit a Beta prior by moments — "
            "fewer than 2 groups reach min_n, the qualifying rates "
            "are constant (variance 0: nothing to shrink toward), or "
            "the variance is >= m(1-m) (over-dispersion a Beta "
            "cannot express). Adjust min_n or check the outcome."
        ),
    )
    # method of moments: alpha = m(m(1-m)/v - 1), beta = (1-m)(...)
    common = m * (F.lit(1.0) - m) / v - F.lit(1.0)
    prior = fit.select(
        F.when(fit_guard.isNull(), m * common).alias("__alpha"),
        ((F.lit(1.0) - m) * common).alias("__beta"),
    )
    out = per.crossJoin(F.broadcast(prior))
    a, b = F.col("__alpha"), F.col("__beta")
    shrunk = (F.col("successes").cast("double") + a) / (
        F.col("n").cast("double") + a + b
    )
    return out.select(
        *gb,
        "n",
        "successes",
        F.round(F.col("raw_rate"), round_to).alias("raw_rate"),
        F.round(shrunk, round_to).alias("shrunk_rate"),
        F.round(a, round_to).alias("alpha"),
        F.round(b, round_to).alias("beta"),
    )


def _norm_ppf(p: float) -> float:
    """Φ⁻¹(p) on the driver (Acklam's rational approximation,
    |relative error| < 1.15e-9) — used only to turn alpha/power into
    LITERAL z constants, so no per-row inverse-normal ever runs and
    the oracle embeds the identical literals."""
    if not 0.0 < p < 1.0:
        raise ValueError(f"_norm_ppf: p must be in (0, 1), got {p}")
    a = (-3.969683028665376e+01, 2.209460984245205e+02,
         -2.759285104469687e+02, 1.383577518672690e+02,
         -3.066479806614716e+01, 2.506628277459239e+00)
    b = (-5.447609879822406e+01, 1.615858368580409e+02,
         -1.556989798598866e+02, 6.680131188771972e+01,
         -1.328068155288572e+01)
    c = (-7.784894002430293e-03, -3.223964580411365e-01,
         -2.400758277161838e+00, -2.549732539343734e+00,
         4.374664141464968e+00, 2.938163982698783e+00)
    d = (7.784695709041462e-03, 3.224671290700398e-01,
         2.445134137142996e+00, 3.754408661907416e+00)
    plow, phigh = 0.02425, 1 - 0.02425
    if p < plow:
        q = math.sqrt(-2 * math.log(p))
        return (((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    if p > phigh:
        q = math.sqrt(-2 * math.log(1 - p))
        return -(((((c[0] * q + c[1]) * q + c[2]) * q + c[3]) * q + c[4])
                 * q + c[5]) / (
            (((d[0] * q + d[1]) * q + d[2]) * q + d[3]) * q + 1)
    q = p - 0.5
    r = q * q
    return (((((a[0] * r + a[1]) * r + a[2]) * r + a[3]) * r + a[4])
            * r + a[5]) * q / (
        ((((b[0] * r + b[1]) * r + b[2]) * r + b[3]) * r + b[4]) * r + 1)


def sample_size(
    df: DataFrame,
    outcome_col: str,
    group_by=None,
    mde_rel: float = 0.05,
    alpha: float = 0.05,
    power: float = 0.8,
    round_to: int = 6,
) -> DataFrame:
    """Experiment sizing from OBSERVED baseline rates — "how many
    users per arm before this test can detect a ``mde_rel`` relative
    lift?", answered per segment straight off the data instead of a
    hand-fed calculator: the baseline conversion rate ``p₁`` is the
    mean of the binary ``outcome_col`` (per ``group_by`` group), the
    target is ``p₂ = p₁·(1 + mde_rel)``, and the required per-arm n
    is the standard two-proportion z-test size

        n = (z_{1−α/2}·√(2 p̄(1−p̄)) + z_{power}·√(p₁(1−p₁)+p₂(1−p₂)))²
            / (p₂ − p₁)²

    with ``p̄ = (p₁+p₂)/2``, rounded UP — Fleiss' formula, the same
    arithmetic as the driver-side :func:`required_n_prop`. The three
    differences from that calculator family: baselines come FROM THE
    DATA per group (no hand-fed rate), the effect is RELATIVE
    (``mde_rel``, how product asks are phrased), and alpha/power are
    probabilities (the z quantiles derived internally) — so one call
    sizes every segment of an experiment at once. Returns
    ``(group..., n_rows, baseline_rate, target_rate, n_per_arm,
    total_n)`` — compare ``n_per_arm`` against the segment's weekly
    traffic to read "weeks to significance" directly.

    The z quantiles are DRIVER-SIDE literal constants (Acklam Φ⁻¹,
    |rel err| < 1.2e-9 — far under the rounding contract): no per-row
    inverse-normal, so the whole operator is one conditional
    aggregate plus plain column arithmetic, fully SQL-expressible
    with the same literals embedded. Fails loud on a degenerate
    baseline (rate 0 or 1 — no variance to power against), a
    non-binary outcome, or ``p₂`` outside (0, 1) (an ``mde_rel`` that
    overshoots certainty).
    """
    if not 0 < alpha < 1 or not 0 < power < 1:
        raise ValueError(
            "stats.sample_size: alpha and power must be in (0, 1)"
        )
    if mde_rel == 0:
        raise ValueError(
            "stats.sample_size: mde_rel must be non-zero — a zero "
            "effect needs infinite n by definition"
        )
    gb = keys_of(group_by)
    z_a = _norm_ppf(1 - alpha / 2)
    z_b = _norm_ppf(power)
    y = F.col(outcome_col).cast("double")
    checked = binary_label(
        y, "stats.sample_size: outcome column must be binary 0/1"
    )
    agg = df.where(y.isNotNull()).groupBy(*gb).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.avg(checked).alias("__p1"),
    )
    p1 = F.col("__p1")
    p2 = p1 * F.lit(1.0 + float(mde_rel))
    guard = F.assert_true(
        (p1 > 0) & (p1 < 1) & (p2 > 0) & (p2 < 1),
        F.lit(
            "stats.sample_size: baseline or target rate is outside "
            "(0, 1) — a degenerate rate cannot be powered against; "
            "check the outcome column and mde_rel"
        ),
    )
    pbar = (p1 + p2) / F.lit(2.0)
    num = (
        F.lit(z_a) * F.sqrt(F.lit(2.0) * pbar * (F.lit(1.0) - pbar))
        + F.lit(z_b)
        * F.sqrt(p1 * (F.lit(1.0) - p1) + p2 * (F.lit(1.0) - p2))
    )
    n_arm = F.ceil(
        F.when(guard.isNull(), (num * num) / ((p2 - p1) * (p2 - p1)))
    ).cast("bigint")
    return agg.select(
        *gb,
        "n_rows",
        F.round(p1, round_to).alias("baseline_rate"),
        F.round(p2, round_to).alias("target_rate"),
        n_arm.alias("n_per_arm"),
        (n_arm * 2).alias("total_n"),
    )


def _lgamma_expr(x):
    """ln Γ(x) for x >= 1 as a pure JVM expression: shift-by-8
    recurrence into Stirling's series at z = x + 8 (truncation error
    < 3e-12 there — far under the round_to=6 contract), so the whole
    thing is plain arithmetic an oracle can replay verbatim; no
    engine-specific lgamma builtin on either side."""
    z = x + F.lit(8.0)
    series = (
        (z - F.lit(0.5)) * F.log(z)
        - z
        + F.lit(0.5 * math.log(2.0 * math.pi))
        + F.lit(1.0) / (F.lit(12.0) * z)
        - F.lit(1.0) / (F.lit(360.0) * z * z * z)
        + F.lit(1.0) / (F.lit(1260.0) * z * z * z * z * z)
        - F.lit(1.0) / (F.lit(1680.0) * z * z * z * z * z * z * z)
    )
    shift = sum(
        (F.log(x + F.lit(float(j))) for j in range(8)),
        F.lit(0.0),
    )
    return series - shift


def bayes_ab(
    df: DataFrame,
    group_col: str,
    outcome_col: str,
    control: str,
    treatment: str,
    alpha_prior: int = 1,
    beta_prior: int = 1,
    max_terms: int = 100_000,
    round_to: int = 6,
) -> DataFrame:
    """Exact Bayesian A/B readout on a binary outcome — the
    decision-theoretic complement to :func:`ab_compare`'s frequentist
    p-value: with independent Beta(``alpha_prior``, ``beta_prior``)
    priors and binomial arms, the posteriors are
    ``Beta(alpha + successes, beta + failures)`` and both decision
    quantities have CLOSED FORMS for integer parameters (Cook 2005,
    "Exact calculation of beta inequalities"):

    * ``prob_beats`` — P(p_treatment > p_control), the number a
      launch review actually asks for ("how sure are we B is
      better?"), exact — no Monte Carlo, no normal approximation;
    * ``loss_choose_treatment`` — E[max(p_c − p_t, 0)], the expected
      cost-per-exposure of shipping treatment if it is secretly worse
      (the standard Bayesian stopping criterion: ship when loss <
      threshold-of-caring), and symmetrically ``loss_choose_control``.

    Same arm/outcome contract as :func:`fisher_exact` / ``odds_ratio``:
    binary 0/1 outcome (loud assert), rows outside the two arms or
    with NULL outcome excluded, an empty arm fails LOUD. One row:
    ``(n_control, n_treatment, events_control, events_treatment,
    rate_control, rate_treatment, prob_beats, expected_uplift,
    loss_choose_treatment, loss_choose_control)`` — rates are
    posterior means; ``expected_uplift`` their difference.

    HOW without lgamma builtins or MC: P(B > A) =
    Σ_{i=0}^{a_B−1} B(a_A+i, b_A+b_B) / ((b_B+i)·B(1+i, b_B)·B(a_A, b_A))
    where consecutive terms obey the exact ratio
    ``t_i/t_{i−1} = (a_A+i−1)(b_B+i−1) / ((a_A+b_A+b_B+i−1)·i)`` — so
    the whole sum is ONE bounded ``sequence`` explode + a window
    cumsum in log space (the :func:`fisher_exact` discipline), seeded
    by a base term whose four log-gammas come from a Stirling-series
    expression. The two loss terms reuse the same support: the
    ``a_B+1`` variant is the same chain with one extra term, and the
    ``a_A+1`` variant is a second cumsum over the same rows.

    Scale shape: one four-cell conditional-count aggregate (map-side
    combine — the only part that touches data), one
    ``sequence(0, a_B)`` explode off the 1-row cell table (asserted
    ≤ ``max_terms`` BEFORE exploding — the exact path costs
    O(treatment successes); beyond the cap the posteriors are
    normal-approximation territory, use :func:`ab_compare`, or swap
    the arm labels so the smaller-success arm pays), two window
    cumsums over it, one final 1-row aggregate.
    """
    if alpha_prior < 1 or beta_prior < 1 or int(alpha_prior) != alpha_prior \
            or int(beta_prior) != beta_prior:
        raise ValueError(
            "stats.bayes_ab: priors must be integers >= 1 (the exact "
            "closed form needs integer Beta parameters)"
        )
    g = F.col(group_col)
    y = F.col(outcome_col).cast("bigint")
    checked = binary_label(
        y, "stats.bayes_ab: outcome column must be binary 0/1"
    )
    base = df.where(g.isin(control, treatment) & y.isNotNull())
    agg = base.agg(
        F.coalesce(F.sum(F.when(g == treatment, checked)), F.lit(0))
        .cast("bigint")
        .alias("__st"),
        F.coalesce(F.sum(F.when(g == treatment, 1 - checked)), F.lit(0))
        .cast("bigint")
        .alias("__ft"),
        F.coalesce(F.sum(F.when(g == control, checked)), F.lit(0))
        .cast("bigint")
        .alias("__sc"),
        F.coalesce(F.sum(F.when(g == control, 1 - checked)), F.lit(0))
        .cast("bigint")
        .alias("__fc"),
    )
    st, ft = F.col("__st"), F.col("__ft")
    sc, fc = F.col("__sc"), F.col("__fc")
    arm_guard = F.assert_true(
        (st + ft > 0) & (sc + fc > 0),
        F.lit(
            "stats.bayes_ab: an arm is empty — check the control/"
            "treatment names against the group column"
        ),
    )
    ap, bp = int(alpha_prior), int(beta_prior)
    # posterior params: A = control, B = treatment
    aa = sc + F.lit(ap)
    ba = fc + F.lit(bp)
    ab_ = st + F.lit(ap)
    bb = ft + F.lit(bp)
    size_guard = F.assert_true(
        ab_ + 1 <= F.lit(int(max_terms)),
        F.lit(
            "stats.bayes_ab: the exact sum has treatment_successes + "
            f"alpha_prior + 1 terms, over max_terms={max_terms} — use "
            "stats.ab_compare at this scale, swap the arm labels so "
            "the smaller-success arm pays, or raise max_terms "
            "deliberately"
        ),
    )
    cells = agg.select(
        F.when(arm_guard.isNull() & size_guard.isNull(), st).alias("__st"),
        "__ft", "__sc", "__fc",
        aa.cast("double").alias("__aa"),
        ba.cast("double").alias("__ba"),
        ab_.cast("double").alias("__ab"),
        bb.cast("double").alias("__bb"),
        (ab_).cast("bigint").alias("__imax"),
    )
    aa_d, ba_d = F.col("__aa"), F.col("__ba")
    bb_d = F.col("__bb")
    # base terms: ln t_0 = lnB(aA, bA+bB) − lnB(aA, bA); the aA+1 loss
    # variant shifts aA by one
    lnt0 = (
        _lgamma_expr(ba_d + bb_d)
        - _lgamma_expr(aa_d + ba_d + bb_d)
        + _lgamma_expr(aa_d + ba_d)
        - _lgamma_expr(ba_d)
    )
    lnt0p = (
        _lgamma_expr(ba_d + bb_d)
        - _lgamma_expr(aa_d + F.lit(1.0) + ba_d + bb_d)
        + _lgamma_expr(aa_d + F.lit(1.0) + ba_d)
        - _lgamma_expr(ba_d)
    )
    sup = cells.select(
        "*",
        lnt0.alias("__lnt0"),
        lnt0p.alias("__lnt0p"),
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), F.col("__imax"))
        ).alias("i"),
    )
    i_d = F.col("i").cast("double")
    # exact term ratio t_i/t_{i−1}; 0 at i = 0 (base point)
    lr1 = F.when(F.col("i") == 0, F.lit(0.0)).otherwise(
        F.log(aa_d + i_d - 1) + F.log(bb_d + i_d - 1)
        - F.log(aa_d + ba_d + bb_d + i_d - 1) - F.log(i_d)
    )
    lr2 = F.when(F.col("i") == 0, F.lit(0.0)).otherwise(
        F.log(aa_d + i_d) + F.log(bb_d + i_d - 1)
        - F.log(aa_d + F.lit(1.0) + ba_d + bb_d + i_d - 1) - F.log(i_d)
    )
    w = (
        Window.partitionBy("__aa")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    lq = sup.select(
        "*",
        (F.col("__lnt0") + F.sum(lr1).over(w)).alias("__lt1"),
        (F.col("__lnt0p") + F.sum(lr2).over(w)).alias("__lt2"),
    )
    # terms are positive and each sum is a probability <= 1: plain exp
    out = lq.groupBy(
        "__st", "__ft", "__sc", "__fc", "__aa", "__ba", "__ab", "__bb"
    ).agg(
        F.sum(
            F.when(F.col("i") < F.col("__imax"), F.exp(F.col("__lt1")))
        ).alias("__h1"),
        F.sum(F.exp(F.col("__lt1"))).alias("__h3"),
        F.sum(
            F.when(F.col("i") < F.col("__imax"), F.exp(F.col("__lt2")))
        ).alias("__h2"),
    )
    clamp = lambda c: F.least(F.greatest(c, F.lit(0.0)), F.lit(1.0))  # noqa: E731
    h1 = clamp(F.col("__h1"))
    h2 = clamp(F.col("__h2"))
    h3 = clamp(F.col("__h3"))
    mu_a = F.col("__aa") / (F.col("__aa") + F.col("__ba"))
    mu_b = F.col("__ab") / (F.col("__ab") + F.col("__bb"))
    loss_t = mu_a * (F.lit(1.0) - h2) - mu_b * (F.lit(1.0) - h3)
    loss_c = (mu_b - mu_a) + loss_t
    zero = F.lit(0.0)
    return out.select(
        (F.col("__sc") + F.col("__fc")).alias("n_control"),
        (F.col("__st") + F.col("__ft")).alias("n_treatment"),
        F.col("__sc").alias("events_control"),
        F.col("__st").alias("events_treatment"),
        F.round(mu_a, round_to).alias("rate_control"),
        F.round(mu_b, round_to).alias("rate_treatment"),
        F.round(h1, round_to).alias("prob_beats"),
        F.round(mu_b - mu_a, round_to).alias("expected_uplift"),
        F.round(F.greatest(loss_t, zero), round_to).alias(
            "loss_choose_treatment"
        ),
        F.round(F.greatest(loss_c, zero), round_to).alias(
            "loss_choose_control"
        ),
    )


def mann_kendall(
    df: DataFrame,
    x_col: str,
    y_col: str,
    group_by=None,
    max_points: int = 2000,
    alpha: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Mann-Kendall trend TEST per group — the significance companion
    to :func:`theil_sen`: Theil-Sen answers "how steep", Mann-Kendall
    answers "is there a monotone trend AT ALL", from the same
    rank-based machinery (S = Σ sgn(y_later − y_earlier) over all
    time-ordered pairs), so one outage day cannot buy significance
    the way it drags an OLS slope's t-test. The standard pairing for
    "is this source actually shrinking?" on dirty ingest series.

    Same contract as ``theil_sen``: an AGGREGATED series (daily/weekly
    rollups), ``max_points`` driver probe before the O(n²) pair join.
    Additionally each group must have DISTINCT x values (loud fail —
    classic MK is one observation per time point; duplicate timestamps
    mean the series wasn't rolled up, and silently skipping equal-x
    pairs would quietly deflate S against its n(n−1)/2 variance).

    One row per group: ``(group_by..., n_points, s_stat, var_s, tau,
    z, p_value, trend)`` — ``s_stat`` the raw MK sum, ``var_s`` the
    tie-corrected variance ``[n(n−1)(2n+5) − Σ t(t−1)(2t+5)]/18`` over
    y tie groups, ``tau`` Kendall's tau-b (tie-corrected denominator),
    ``z`` with the ±1 continuity correction, ``p_value`` two-sided
    normal (Abramowitz-Stegun erf — replays verbatim in the oracle),
    ``trend`` ∈ ('increasing', 'decreasing', 'no_trend') at ``alpha``.
    Groups with < 2 points report NULL statistics and 'no_trend'.

    Scale shape: identical to ``theil_sen`` — one probe-bounded
    group-keyed self-join immediately reduced to (sum-of-signs, count)
    per group, one y-tie aggregate (shuffle ∝ distinct y per group),
    closed-form arithmetic after. Groups stream independently.
    """
    if max_points < 2:
        raise ValueError(
            f"mann_kendall: max_points must be >= 2, got {max_points}"
        )
    keys = keys_of(group_by)
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    base = df.where(
        x.isNotNull() & y.isNotNull() & ~F.isnan(x) & ~F.isnan(y)
    ).select(*keys, x.alias("__x"), y.alias("__y"))
    probe = (
        base.groupBy(*keys)
        .agg(
            F.count("*").alias("__n"),
            F.countDistinct("__x").alias("__nx"),
        )
        .where(
            (F.col("__n") > max_points) | (F.col("__nx") < F.col("__n"))
        )
        .limit(1)
        .collect()
    )
    if probe:
        r = probe[0]
        if r["__n"] > max_points:
            raise ValueError(
                f"mann_kendall: a group has {r['__n']} points "
                f"(max_points={max_points}). The pair set is O(n²) — "
                "aggregate the series to a coarser grain first, or "
                "raise max_points explicitly."
            )
        raise ValueError(
            f"mann_kendall: a group has {r['__n']} rows but only "
            f"{r['__nx']} distinct x values — classic MK is one "
            "observation per time point; roll duplicate timestamps up "
            "first (mean/median per time)."
        )
    a = base.select(
        *[F.col(c).alias(f"__a_{c}") for c in [*keys, "__x", "__y"]]
    )
    b = base.select(
        *[F.col(c).alias(f"__b_{c}") for c in [*keys, "__x", "__y"]]
    )
    cond = F.col("__a___x") < F.col("__b___x")
    for k in keys:
        cond = cond & F.col(f"__a_{k}").eqNullSafe(F.col(f"__b_{k}"))
    s_tab = (
        a.join(b, cond)
        .groupBy(*[F.col(f"__a_{k}").alias(k) for k in keys])
        .agg(
            F.sum(F.signum(F.col("__b___y") - F.col("__a___y")))
            .cast("bigint")
            .alias("__s"),
        )
    )
    ties = (
        base.groupBy(*keys, "__y")
        .agg(F.count("*").cast("double").alias("__t"))
        .groupBy(*keys)
        .agg(
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
            ).alias("__tie_var"),
            F.sum(F.col("__t") * (F.col("__t") - 1) / 2).alias("__tie_pairs"),
            F.count("*").cast("bigint").alias("__ny"),
        )
    )
    counts = base.groupBy(*keys).agg(
        F.count("*").cast("bigint").alias("n_points")
    )

    def _join(left, right):
        if not keys:
            return left.join(F.broadcast(right), how="left")
        jc = F.lit(True)
        for k in keys:
            jc = jc & left[k].eqNullSafe(right[k])
        return left.join(right, jc, "left").drop(*[right[k] for k in keys])

    out = _join(_join(counts, s_tab), ties)
    n = F.col("n_points").cast("double")
    s = F.col("__s").cast("double")
    var_s = (
        (n * (n - 1) * (2 * n + 5) - F.coalesce(F.col("__tie_var"), F.lit(0.0)))
        / F.lit(18.0)
    )
    n_pairs = n * (n - 1) / 2
    tau_den = F.sqrt(
        (n_pairs - F.coalesce(F.col("__tie_pairs"), F.lit(0.0))) * n_pairs
    )
    tau = F.when(tau_den > 0, s / tau_den)
    zc = F.when(s > 0, (s - 1) / F.sqrt(var_s)).when(
        s < 0, (s + 1) / F.sqrt(var_s)
    ).otherwise(F.lit(0.0))
    z = F.when((F.col("n_points") >= 2) & (var_s > 0), zc)
    p = _normal_two_sided_p(z)
    trend = (
        F.when(
            (p < F.lit(float(alpha))) & (s > 0), F.lit("increasing")
        )
        .when((p < F.lit(float(alpha))) & (s < 0), F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
    )
    return out.select(
        *keys,
        "n_points",
        F.when(F.col("n_points") >= 2, F.col("__s")).alias("s_stat"),
        F.round(F.when(F.col("n_points") >= 2, var_s), round_to).alias(
            "var_s"
        ),
        F.round(tau, round_to).alias("tau"),
        F.round(z, round_to).alias("z"),
        F.round(p, round_to).alias("p_value"),
        trend.alias("trend"),
    )


def cochran_armitage(
    df: DataFrame,
    score_col: str,
    outcome_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Cochran-Armitage test for TREND in proportions across ordered
    exposure levels — "does the incident RATE rise with the dose?":
    contamination rate across quality deciles, refusal rate across
    prompt-length buckets, violation rate across model-version
    ordinals. ``chi2_drift`` asks "are the buckets different at all"
    and burns its power on every permutation of them;
    Cochran-Armitage spends one degree of freedom on the ORDERED
    alternative, which is the question a dose-response readout
    actually asks.

    ``score_col`` is the numeric exposure level (bucket score — its
    SPACING weights the trend, per the standard definition);
    ``outcome_col`` is binary 0/1 (loud assert). One row:
    ``(n_total, n_groups, t_stat, var_t, z, p_value)`` with
    T = Σ r_i·x_i − p̄·Σ n_i·x_i over per-level (n_i, r_i),
    Var = p̄(1−p̄)·[Σ n_i·x_i² − (Σ n_i·x_i)²/N], z = T/√Var, and the
    two-sided normal p (Abramowitz-Stegun erf — oracle-replayable).
    Requires ≥ 2 distinct levels and a non-degenerate pooled rate
    (0 < p̄ < 1) — both fail LOUD, because "no trend computable" and
    "no trend present" must not be confused.

    Scale shape: one keyed aggregate to per-level (n_i, r_i) —
    shuffle ∝ distinct levels — then a 1-row combine and closed-form
    arithmetic. Nothing driver-side, fully SQL-expressible.
    """
    x = F.col(score_col).cast("double")
    y = F.col(outcome_col).cast("bigint")
    checked = binary_label(
        y, "stats.cochran_armitage: outcome column must be binary 0/1"
    )
    base = df.where(x.isNotNull() & ~F.isnan(x) & y.isNotNull())
    levels = base.groupBy(x.alias("__x")).agg(
        F.count("*").cast("double").alias("__n"),
        F.sum(checked).cast("double").alias("__r"),
    )
    agg = levels.agg(
        F.sum("__n").alias("__N"),
        F.sum("__r").alias("__R"),
        F.sum(F.col("__r") * F.col("__x")).alias("__rx"),
        F.sum(F.col("__n") * F.col("__x")).alias("__nx"),
        F.sum(F.col("__n") * F.col("__x") * F.col("__x")).alias("__nxx"),
        F.count("*").cast("bigint").alias("__k"),
    )
    nn, rr = F.col("__N"), F.col("__R")
    pbar = rr / nn
    level_guard = F.assert_true(
        F.col("__k") >= 2,
        F.lit(
            "stats.cochran_armitage: need >= 2 distinct score levels — "
            "a single exposure level has no trend to test"
        ),
    )
    rate_guard = F.assert_true(
        (rr > 0) & (rr < nn),
        F.lit(
            "stats.cochran_armitage: pooled rate is 0 or 1 — the "
            "variance is zero and no trend is computable (an all-0/"
            "all-1 outcome usually means a broken upstream flag)"
        ),
    )
    t_stat = F.col("__rx") - pbar * F.col("__nx")
    var_t = (
        pbar * (1 - pbar)
        * (F.col("__nxx") - F.col("__nx") * F.col("__nx") / nn)
    )
    z = F.when(var_t > 0, t_stat / F.sqrt(var_t))
    p = _normal_two_sided_p(z)
    return agg.select(
        F.when(
            level_guard.isNull() & rate_guard.isNull(), nn
        ).cast("bigint").alias("n_total"),
        F.col("__k").alias("n_groups"),
        F.round(t_stat, round_to).alias("t_stat"),
        F.round(var_t, round_to).alias("var_t"),
        F.round(z, round_to).alias("z"),
        F.round(p, round_to).alias("p_value"),
    )


def ipw_balance(
    df: DataFrame,
    treatment_col: str,
    propensity_col: str,
    covariates: List[str],
    trim: float = 0.01,
    round_to: int = 6,
) -> DataFrame:
    """Inverse-propensity weighting balance report — the readout for
    OBSERVATIONAL comparisons (the corpus slices were never
    randomized: docs that got the new cleaning pipeline vs docs that
    didn't, users who saw the feature vs those who didn't). Feed a
    propensity score (e.g. :func:`quality.train_classifier`'s
    calibrated probability of being in the treatment slice) and this
    computes stabilized IPW weights and, per covariate, the
    standardized mean difference BEFORE and AFTER weighting — the
    standard "did weighting actually balance the groups?" diagnostic
    (|SMD| < 0.1 is the conventional pass bar). An outcome comparison
    on unbalanced groups measures the confounders, not the treatment;
    this table is the gate in front of that mistake.

    One row per covariate: ``(covariate, mean_treated, mean_control,
    smd_before, wmean_treated, wmean_control, smd_after)`` where
    SMD = (mean_t − mean_c) / √((var_t + var_c)/2) (before: unweighted
    moments; after: Hájek weighted means over the SAME denominator —
    the pooled unweighted variance — so before/after are on one
    scale, the standard reporting convention). Stabilized weights
    ``w = P(T=1)·t/p + P(T=0)·(1−t)/(1−p)`` with propensities clipped
    to ``[trim, 1−trim]`` (the standard trim against extreme-weight
    variance explosion; ``trim=0`` disables). Binary 0/1 treatment
    and propensities inside (0,1) exclusive are loud asserts — a
    propensity of exactly 0/1 means the classifier memorized the
    slice and NO weighting can fix that.

    Scale shape: one melt (covariates × rows — scan-side explode, no
    UDF) + ONE keyed aggregate per covariate with conditional
    weighted sums (map-side combine, shuffle ∝ covariates) + closed-
    form arithmetic. Fully SQL-expressible.
    """
    if not covariates:
        raise ValueError("ipw_balance: covariates must be non-empty")
    if not 0 <= trim < 0.5:
        raise ValueError(f"ipw_balance: trim must be in [0, 0.5), got {trim}")
    t = F.col(treatment_col).cast("bigint")
    p_raw = F.col(propensity_col).cast("double")
    p_guard = F.assert_true(
        (p_raw > 0) & (p_raw < 1),
        F.lit(
            "stats.ipw_balance: propensity must be strictly inside "
            "(0, 1) — an exact 0/1 propensity means the classifier "
            "separates the slices perfectly and no weighting can "
            "balance them (positivity violation)"
        ),
    )
    p = F.least(
        F.greatest(p_raw, F.lit(float(trim))), F.lit(1.0 - float(trim))
    )
    checked_t = binary_label(
        t, "stats.ipw_balance: treatment column must be binary 0/1"
    ) + F.coalesce(p_guard.cast("bigint"), F.lit(0))
    base = df.where(t.isNotNull() & p_raw.isNotNull() & ~F.isnan(p_raw))
    melt = base.select(
        checked_t.alias("__t"),
        p.alias("__p"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("__cov"),
                        F.col(c).cast("double").alias("__x"),
                    )
                    for c in covariates
                ]
            )
        ).alias("__e"),
    ).select("__t", "__p", F.col("__e.__cov").alias("__cov"),
             F.col("__e.__x").alias("__x"))
    melt = melt.where(F.col("__x").isNotNull() & ~F.isnan(F.col("__x")))
    # share of treated rows — 1-row aggregate broadcast back (the
    # stabilization constants)
    shares = base.agg(
        (F.sum(checked_t) / F.count("*")).alias("__pt")
    )
    m = melt.join(F.broadcast(shares))
    is_t = F.col("__t") == 1
    w = F.when(
        is_t, F.col("__pt") / F.col("__p")
    ).otherwise((1 - F.col("__pt")) / (1 - F.col("__p")))
    x = F.col("__x")
    agg = m.groupBy("__cov").agg(
        F.sum(F.when(is_t, 1).otherwise(0)).alias("__nt"),
        F.sum(F.when(~is_t, 1).otherwise(0)).alias("__nc"),
        F.sum(F.when(is_t, x)).alias("__sxt"),
        F.sum(F.when(~is_t, x)).alias("__sxc"),
        F.sum(F.when(is_t, x * x)).alias("__sxxt"),
        F.sum(F.when(~is_t, x * x)).alias("__sxxc"),
        F.sum(F.when(is_t, w)).alias("__swt"),
        F.sum(F.when(~is_t, w)).alias("__swc"),
        F.sum(F.when(is_t, w * x)).alias("__swxt"),
        F.sum(F.when(~is_t, w * x)).alias("__swxc"),
    )
    nt, nc = F.col("__nt").cast("double"), F.col("__nc").cast("double")
    arm_guard = F.assert_true(
        (F.col("__nt") > 1) & (F.col("__nc") > 1),
        F.lit(
            "stats.ipw_balance: a covariate has < 2 non-null rows in "
            "an arm — no variance, no SMD; check the treatment flag "
            "and covariate NULLs"
        ),
    )
    # try_divide everywhere: ANSI divide-by-zero on a degenerate arm
    # must not preempt arm_guard's loud contract error below
    mt = F.try_divide(F.col("__sxt"), nt)
    mc = F.try_divide(F.col("__sxc"), nc)
    vt = F.try_divide(F.col("__sxxt") - nt * mt * mt, nt - 1)
    vc = F.try_divide(F.col("__sxxc") - nc * mc * mc, nc - 1)
    pooled = F.sqrt((vt + vc) / 2)
    wmt = F.try_divide(F.col("__swxt"), F.col("__swt"))
    wmc = F.try_divide(F.col("__swxc"), F.col("__swc"))
    smd_b = F.when(pooled > 0, (mt - mc) / pooled)
    smd_a = F.when(pooled > 0, (wmt - wmc) / pooled)
    return agg.select(
        F.when(arm_guard.isNull(), F.col("__cov")).alias("covariate"),
        F.round(mt, round_to).alias("mean_treated"),
        F.round(mc, round_to).alias("mean_control"),
        F.round(smd_b, round_to).alias("smd_before"),
        F.round(wmt, round_to).alias("wmean_treated"),
        F.round(wmc, round_to).alias("wmean_control"),
        F.round(smd_a, round_to).alias("smd_after"),
    )


def diff_in_diff(
    df: DataFrame,
    group_col: str,
    period_col: str,
    value_col: str,
    control: str,
    treatment: str,
    pre: str,
    post: str,
    round_to: int = 6,
) -> DataFrame:
    """Difference-in-differences — the rollout readout when the
    treated slice was NOT randomized but you have a BEFORE: the new
    cleaning pipeline went live for source A on date D; did A's
    quality move beyond what the untouched sources moved anyway?
    ``(mean_treat_post − mean_treat_pre) − (mean_ctrl_post −
    mean_ctrl_pre)`` cancels both the permanent group difference and
    the common time shock — the two confounders a naive post-only or
    before/after-only comparison measures instead of the effect.
    (The identifying assumption — parallel trends absent treatment —
    is yours to defend; plot pre-period trends per group with
    ``trend``/``sessions.resample`` first.)

    One row: the four cell means and ns, ``did`` (the estimate),
    ``se`` (Welch-style: √Σ s²ᵢ/nᵢ over the four cells), ``z``,
    ``p_value`` (two-sided normal, A-S erf — oracle-replayable).
    Rows outside the named groups/periods are excluded; any EMPTY
    cell fails LOUD (a misspelled period name must not produce a
    silent NULL estimate) — matching the ``ab_compare`` contract.

    Scale shape: ONE conditional-moment aggregate (four cells'
    n/Σx/Σx², map-side combine) + closed-form arithmetic on the
    1-row result. Fully SQL-expressible.
    """
    g, per = F.col(group_col), F.col(period_col)
    x = F.col(value_col).cast("double")
    base = df.where(
        g.isin(control, treatment)
        & per.isin(pre, post)
        & x.isNotNull()
        & ~F.isnan(x)
    )

    def cell(gv, pv, what):
        c = (g == gv) & (per == pv)
        if what == "n":
            return F.sum(F.when(c, 1).otherwise(0)).cast("double")
        if what == "s":
            return F.sum(F.when(c, x))
        return F.sum(F.when(c, x * x))

    agg = base.agg(
        *[
            expr.alias(f"__{tag}_{w}")
            for tag, gv, pv in (
                ("tpre", treatment, pre),
                ("tpost", treatment, post),
                ("cpre", control, pre),
                ("cpost", control, post),
            )
            for w, expr in (
                ("n", cell(gv, pv, "n")),
                ("s", cell(gv, pv, "s")),
                ("ss", cell(gv, pv, "ss")),
            )
        ]
    )
    cells = ("tpre", "tpost", "cpre", "cpost")
    guard = F.assert_true(
        (F.col("__tpre_n") > 1) & (F.col("__tpost_n") > 1)
        & (F.col("__cpre_n") > 1) & (F.col("__cpost_n") > 1),
        F.lit(
            "stats.diff_in_diff: a cell has < 2 rows — check the "
            "group/period names (a misspelled name must not produce "
            "a silent NULL estimate) and that both periods exist for "
            "both groups"
        ),
    )
    means = {t: F.try_divide(F.col(f"__{t}_s"), F.col(f"__{t}_n")) for t in cells}
    varis = {
        t: F.try_divide(
            F.col(f"__{t}_ss") - F.col(f"__{t}_n") * means[t] * means[t],
            F.col(f"__{t}_n") - 1,
        )
        for t in cells
    }
    did = (means["tpost"] - means["tpre"]) - (means["cpost"] - means["cpre"])
    se = F.sqrt(
        sum(
            F.try_divide(varis[t], F.col(f"__{t}_n")) for t in cells
        )
    )
    z = F.when(se > 0, did / se)
    p = _normal_two_sided_p(z)
    out_cols = [
        F.when(guard.isNull(), F.col("__tpre_n")).cast("bigint").alias(
            "n_treat_pre"
        ),
        F.col("__tpost_n").cast("bigint").alias("n_treat_post"),
        F.col("__cpre_n").cast("bigint").alias("n_ctrl_pre"),
        F.col("__cpost_n").cast("bigint").alias("n_ctrl_post"),
        F.round(means["tpre"], round_to).alias("mean_treat_pre"),
        F.round(means["tpost"], round_to).alias("mean_treat_post"),
        F.round(means["cpre"], round_to).alias("mean_ctrl_pre"),
        F.round(means["cpost"], round_to).alias("mean_ctrl_post"),
        F.round(did, round_to).alias("did"),
        F.round(se, round_to).alias("se"),
        F.round(z, round_to).alias("z"),
        F.round(p, round_to).alias("p_value"),
    ]
    return agg.select(*out_cols)


def psm_match(
    df: DataFrame,
    treatment_col: str,
    propensity_col: str,
    id_col: str,
    caliper: float = 0.05,
    round_to: int = 6,
) -> DataFrame:
    """Propensity-score nearest-neighbor matching WITH replacement —
    the matched-pairs sibling of :func:`ipw_balance` (weight the
    control group) and the setup step for :func:`diff_in_diff` /
    :func:`ab_compare` on observational slices: for every TREATED
    unit, the single CONTROL unit with the closest propensity, subject
    to the ``caliper`` (|p_t − p_c| ≤ caliper; Rosenbaum–Rubin's
    guard against matching across genuinely incomparable units).
    Treated units with no in-caliper control produce NO row — count
    them off against ``df``'s treated total; a large unmatched
    fraction means the groups don't overlap and NO matching estimator
    is trustworthy (check ``ipw_balance``'s SMDs instead of forcing
    it).

    Matching is WITH replacement and per-treated independent — ties
    break on distance then smallest control id, so the result is
    deterministic, order-free, and embarrassingly parallel (greedy
    without-replacement matching is sequential by construction and
    cannot scale; with-replacement is the standard distributed
    compromise, and downstream variance corrections know it). Binary
    0/1 treatment and propensities in (0,1) exclusive are loud asserts
    (same contract as :func:`ipw_balance`); NULL treatment/propensity/
    id rows are excluded (a NULL treatment is "arm unknown" — neither
    treated nor control — not a binary-contract violation). Returns
    one row per matched treated unit:
    ``(treated_id, control_id, p_treated, p_control, dist)``.

    Scale shape: scores bucket at caliper width (``floor(p/caliper)``)
    and each control replicates into its own and both adjacent buckets
    (a 3× control blow-up, NOT a cross join — any |diff| ≤ caliper
    pair shares a bucket after replication), then one bucket-keyed
    equi-join + the exact caliper filter + one treated-keyed window
    top-1. Shuffle ∝ 3·|control| + |treated|; candidate volume is
    caliper-local density, never |T|·|C|. Fully SQL-expressible
    (the oracle states the same thing as one |diff| ≤ caliper join).
    """
    if not 0 < caliper < 1:
        raise ValueError(
            f"stats.psm_match: caliper must be in (0, 1), got {caliper}"
        )
    t = F.col(treatment_col).cast("bigint")
    p_raw = F.col(propensity_col).cast("double")
    p_guard = F.assert_true(
        (p_raw > 0) & (p_raw < 1),
        F.lit(
            "stats.psm_match: propensities must be inside (0,1) "
            "exclusive — an exact 0/1 propensity means the model "
            "memorized the slice and no match is comparable"
        ),
    )
    # the binary guard rides on __t (evaluated by BOTH arm filters for
    # every row — a t=2 row belongs to neither arm, so a guard attached
    # only to __p would be pruned away with the row); the propensity
    # guard rides on __p, which every surviving row materializes
    t_checked = binary_label(
        t, "stats.psm_match: treatment column must be binary 0/1"
    )
    p = p_raw + F.coalesce(p_guard.cast("double"), F.lit(0.0))
    base = df.where(
        t.isNotNull() & p_raw.isNotNull() & F.col(id_col).isNotNull()
    ).select(
        F.col(id_col).alias("__id"), t_checked.alias("__t"), p.alias("__p")
    )
    bucket = F.floor(F.col("__p") / F.lit(float(caliper))).cast("bigint")
    treated = base.where(F.col("__t") == 1).select(
        F.col("__id").alias("treated_id"),
        F.col("__p").alias("p_treated"),
        bucket.alias("__bk"),
    )
    controls = base.where(F.col("__t") == 0).select(
        F.col("__id").alias("control_id"),
        F.col("__p").alias("p_control"),
        bucket.alias("__cb"),
    )
    # replicate each control into its own + both adjacent buckets:
    # |p_t - p_c| <= caliper bounds the bucket difference to 1, so the
    # bucket equi-join sees every admissible pair exactly once per
    # shared bucket (the distinct-free window top-1 is unaffected by
    # a pair appearing under two buckets — same dist, same ids)
    spread = controls.withColumn(
        "__bk", F.explode(F.array(F.col("__cb") - 1, F.col("__cb"), F.col("__cb") + 1))
    ).drop("__cb")
    pairs = (
        treated.join(spread, "__bk")
        .where(
            F.abs(F.col("p_treated") - F.col("p_control"))
            <= F.lit(float(caliper))
        )
        .select(
            "treated_id",
            "control_id",
            "p_treated",
            "p_control",
            F.abs(F.col("p_treated") - F.col("p_control")).alias("dist"),
        )
    )
    from pyspark.sql.window import Window

    # p_control is the third key: a DUPLICATE control id carrying
    # mirror propensities (p_t ± d) ties on (dist, id) yet differs in
    # the reported p_control — without it the winner is plan-dependent
    w = Window.partitionBy("treated_id").orderBy(
        F.col("dist").asc(), F.col("control_id").asc(),
        F.col("p_control").asc(),
    )
    return (
        pairs.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            "treated_id",
            "control_id",
            F.round("p_treated", round_to).alias("p_treated"),
            F.round("p_control", round_to).alias("p_control"),
            F.round("dist", round_to).alias("dist"),
        )
    )


def psm_att(
    df: DataFrame,
    pairs: DataFrame,
    outcome_col: str,
    id_col: str,
    round_to: int = 6,
) -> DataFrame:
    """Average Treatment effect on the Treated from :func:`psm_match`
    pairs — the readout that completes the causal kit the way
    :func:`ab_compare` / :func:`diff_in_diff` close their designs:
    join the matched pairs back to outcomes and report

    ``ATT = mean over matched treated of (Y_treated − Y_matched_control)``

    with a WITH-REPLACEMENT-aware standard error. Matching with
    replacement reuses controls, so pair differences are NOT
    independent; writing ``ATT = (ΣY_t − Σ K_j·Y_j)/n_t`` with ``K_j``
    = the reuse count of control ``j`` gives the Abadie–Imbens-style
    variance ``Var = (n_t·s²_t + (Σ K_j²)·s²_c) / n_t²`` where
    ``s²_t``/``s²_c`` are the sample variances of the matched treated
    outcomes and of the DISTINCT matched control outcomes (the
    homoskedastic-within-group simplification of Abadie & Imbens 2006
    — Σ K_j² collapses to n_t exactly when no control is reused, and
    inflates the SE in proportion to reuse otherwise). A naive paired
    t-test SE understates under reuse; this one does not.

    Contract: ``pairs`` is :func:`psm_match` output (one row per
    matched treated unit — ``treated_id`` unique), ``df`` carries one
    row per unit id with the outcome; a pair id missing from ``df`` or
    carrying a NULL outcome fails LOUDLY (silently dropping pairs
    would bias the ATT toward whatever slice kept its outcomes), and
    fewer than 2 matched treated units or fewer than 2 distinct
    matched controls is a loud assert too (no variance is estimable).
    Returns one row: ``(n_treated, n_controls, max_reuse,
    mean_treated, mean_control, att, se, z, p_value)`` —
    ``mean_control`` is the K-weighted matched-control mean, so
    ``att = mean_treated − mean_control`` by construction.

    Scale shape: two keyed equi-joins (pairs⋈outcomes on treated id,
    then on control id — shuffle ∝ |pairs| + |df|), one control-keyed
    count for the reuse weights, and 1-row aggregates recombined with
    a 1-row crossJoin. No window, no driver loop; 100 TB of outcomes
    costs the two joins.
    """
    y = F.col(outcome_col).cast("double")
    outcomes = df.where(F.col(id_col).isNotNull()).select(
        F.col(id_col).alias("__oid"), y.alias("__y")
    )
    miss_guard_t = F.assert_true(
        F.col("__y_t").isNotNull(),
        F.lit(
            "stats.psm_att: a treated_id from pairs is missing from df "
            "or has a NULL outcome — dropping it silently would bias "
            "the ATT; fix the join keys or pre-filter the pairs"
        ),
    )
    miss_guard_c = F.assert_true(
        F.col("__y_c").isNotNull(),
        F.lit(
            "stats.psm_att: a control_id from pairs is missing from df "
            "or has a NULL outcome — dropping it silently would bias "
            "the ATT; fix the join keys or pre-filter the pairs"
        ),
    )
    joined = (
        pairs.select("treated_id", "control_id")
        .join(
            outcomes.select(
                F.col("__oid").alias("treated_id"), F.col("__y").alias("__y_t")
            ),
            "treated_id",
            "left",
        )
        .join(
            outcomes.select(
                F.col("__oid").alias("control_id"), F.col("__y").alias("__y_c")
            ),
            "control_id",
            "left",
        )
        .select(
            "treated_id",
            "control_id",
            # the guard must be the OUTER expression: `y + guard` would
            # short-circuit in codegen exactly when y is NULL (the rows
            # the guard exists for); when(guard.isNull(), y) evaluates
            # the assert on every row first
            F.when(miss_guard_t.isNull(), F.col("__y_t")).alias("__y_t"),
            F.when(miss_guard_c.isNull(), F.col("__y_c")).alias("__y_c"),
        )
        # both the treated-stats aggregate and the per-control reuse
        # count consume this frame: without the pin the two outcome
        # joins (and the whole upstream pairs pipeline) execute twice
        .transform(pin)
    )
    # treated-side stats: pair rows ARE the matched treated units
    # (treated_id is unique in psm_match output)
    tstats = joined.agg(
        F.count(F.lit(1)).alias("__n_t"),
        F.avg("__y_t").alias("__mean_t"),
        F.var_samp("__y_t").alias("__s2_t"),
        F.avg("__y_c").alias("__mean_c_w"),  # K-weighted control mean
    )
    # control-side stats over DISTINCT matched controls: reuse count
    # K_j per control, Σ K_j² for the with-replacement inflation
    per_control = joined.groupBy("control_id").agg(
        F.count(F.lit(1)).alias("__k"), F.first("__y_c").alias("__yc")
    )
    cstats = per_control.agg(
        F.count(F.lit(1)).alias("__n_c"),
        F.sum(F.col("__k") * F.col("__k")).alias("__sum_k2"),
        F.max("__k").alias("__max_reuse"),
        F.var_samp("__yc").alias("__s2_c"),
    )
    both = tstats.crossJoin(cstats)  # 1 row × 1 row
    size_guard = F.assert_true(
        (F.col("__n_t") >= 2) & (F.col("__n_c") >= 2),
        F.lit(
            "stats.psm_att: need >= 2 matched treated units and >= 2 "
            "distinct matched controls to estimate a variance — with "
            "fewer, report the raw pair differences instead"
        ),
    )
    # the size assert rides on att AND se (the columns every caller
    # consumes), not only on n_treated: a .select('att','se') would
    # prune an n_treated-only guard away (the round-12 hazard class)
    att = F.when(
        size_guard.isNull(), F.col("__mean_t") - F.col("__mean_c_w")
    )
    se = F.when(
        size_guard.isNull(),
        F.sqrt(
            (
                F.col("__n_t") * F.col("__s2_t")
                + F.col("__sum_k2") * F.col("__s2_c")
            )
            / (F.col("__n_t") * F.col("__n_t"))
        ),
    )
    z = F.when(se > 0, att / se)
    p = _normal_two_sided_p(z)
    return both.select(
        F.when(size_guard.isNull(), F.col("__n_t"))
        .cast("bigint")
        .alias("n_treated"),
        F.col("__n_c").cast("bigint").alias("n_controls"),
        F.col("__max_reuse").cast("bigint").alias("max_reuse"),
        F.round(F.col("__mean_t"), round_to).alias("mean_treated"),
        F.round(F.col("__mean_c_w"), round_to).alias("mean_control"),
        F.round(att, round_to).alias("att"),
        F.round(se, round_to).alias("se"),
        F.round(z, round_to).alias("z"),
        F.round(p, round_to).alias("p_value"),
    )


def ols(
    df: DataFrame,
    y_col: str,
    x_cols,
    round_to: int = 6,
) -> DataFrame:
    """Multi-feature ordinary least squares in ONE distributed pass —
    the regression-adjustment primitive the experimentation kit was
    missing between :func:`cuped` (one covariate, effect on variance
    only) and a full ML fit: ``ols(df, outcome, ['treated', 'pre_metric',
    ...])`` is the Lin (2013) regression-adjusted treatment readout
    (read the ``treated`` coefficient and its SE), and the same call is
    per-source quality-metric attribution, capacity trend fitting with
    covariates, or any small-k linear model over an arbitrarily large
    table.

    Exact closed form, no gradient steps: one aggregate computes every
    cross-moment Σxᵢxⱼ, Σxᵢy, Σy, Σy² (with an intercept column) —
    (k+1)(k+2)/2 + k + 3 partial sums in a single map-side-combined
    pass — then the driver solves the (k+1)×(k+1) normal equations
    (numpy, model-table-sized like the k-means/markov solves).
    Classical homoskedastic inference: ``σ² = RSS/(n−p)``,
    ``Var(β) = σ²(XᵀX)⁻¹``, two-sided normal p-values (n ≫ p in any
    corpus-scale use, so t≈z). Returns one row per feature —
    ``(feature, coef, se, z, p_value, n, r2)`` with ``intercept``
    first, then ``x_cols`` in the given order; ``n``/``r2`` repeat per
    row for one-pass dashboard reads.

    Loud guards: rows with a NULL outcome or any NULL feature are
    EXCLUDED (count them off against ``df`` — regression on silently
    imputed zeros is a wrong answer); n ≤ k+1 and a singular/collinear
    XᵀX (a constant feature, duplicated columns) raise with the
    offending condition named rather than returning NaN coefficients.

    100 TB shape: ONE scan with a 1-row aggregate (every Σ is
    map-side combined); the driver work is a (k+1)² solve — k is the
    feature count (single digits), never the row count. No shuffle
    beyond the aggregate's final combine. Fully SQL-expressible for
    fixed small k (the driver oracle states k=2 via Cramer's rule).
    """
    x_cols = list(x_cols)
    if not x_cols:
        raise ValueError("stats.ols: x_cols must be non-empty")
    if len(set(x_cols)) != len(x_cols):
        raise ValueError(f"stats.ols: duplicate x_cols {x_cols}")
    import numpy as np

    y = F.col(y_col).cast("double")
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in x_cols]
    names = ["intercept"] + x_cols
    p = len(xs)
    keep = y.isNotNull()
    for c in x_cols:
        keep = keep & F.col(c).cast("double").isNotNull()
    base = df.where(keep)
    aggs = [F.count(F.lit(1)).alias("__n"),
            F.sum(y * y).alias("__syy")]
    for i in range(p):
        aggs.append(F.sum(xs[i] * y).alias(f"__xy_{i}"))
        for j in range(i, p):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"__xx_{i}_{j}"))
    row = base.agg(*aggs).collect()[0]
    n = row["__n"]
    if n <= p:
        raise ValueError(
            f"stats.ols: need more than {p} complete rows to fit "
            f"{p} coefficients, got {n} (NULL outcome/feature rows "
            "are excluded)"
        )
    xtx = np.empty((p, p))
    for i in range(p):
        for j in range(i, p):
            xtx[i, j] = xtx[j, i] = row[f"__xx_{i}_{j}"]
    xty = np.array([row[f"__xy_{i}"] for i in range(p)])
    # rank check BEFORE solving: a collinear/constant feature gives a
    # numerically singular system that np.linalg.solve may "solve"
    # into garbage coefficients instead of raising
    cond = np.linalg.cond(xtx)
    if not np.isfinite(cond) or cond > 1e12:
        raise ValueError(
            "stats.ols: X'X is singular or near-singular "
            f"(condition number {cond:.3g}) — a feature is constant "
            "or collinear with others; drop it"
        )
    beta = np.linalg.solve(xtx, xty)
    rss = float(row["__syy"] - xty @ beta)
    sy = float(row[f"__xy_{0}"])  # Σ1·y = Σy
    tss = float(row["__syy"] - sy * sy / n)
    sigma2 = max(rss, 0.0) / (n - p)
    covb = sigma2 * np.linalg.inv(xtx)
    ses = np.sqrt(np.maximum(np.diag(covb), 0.0))
    r2 = 1.0 - rss / tss if tss > 0 else None
    spark = df.sparkSession
    out = local_df(spark,
        [
            (names[i], float(beta[i]), float(ses[i]), int(n),
             None if r2 is None else float(r2), i)
            for i in range(p)
        ],
        "feature string, coef double, se double, n long, r2 double, __o int",
    )
    z = F.when(F.col("se") > 0, F.col("coef") / F.col("se"))
    return (
        out.orderBy("__o")
        .select(
            "feature",
            F.round("coef", round_to).alias("coef"),
            F.round("se", round_to).alias("se"),
            F.round(z, round_to).alias("z"),
            F.round(_normal_two_sided_p(z), round_to).alias("p_value"),
            "n",
            F.round("r2", round_to).alias("r2"),
        )
    )
