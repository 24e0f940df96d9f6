"""Grouped custom aggregation via Arrow-batched ``applyInPandas``.

The escape hatch for per-group logic the built-in aggregates can't
express (model scoring per key, per-entity normalization, custom
sessionization). Each group arrives as one pandas DataFrame on an
executor — groups must fit in executor memory, so key cardinality and
skew are the scale knobs (salt heavy keys upstream if a single group
outgrows memory).

``zscore`` is the reference implementation of the pattern and is
oracle-checkable (mean/std are SQL-expressible).
"""

from __future__ import annotations

from typing import List

import pandas as pd

from pyspark.sql import DataFrame

from getl_spark.common.scale import keys_of


def zscore(
    df: DataFrame,
    group_by: List[str],
    value_col: str,
    new_col: str = "zscore",
    ndigits: int = 4,
) -> DataFrame:
    """Per-group z-score of ``value_col`` (sample stddev), rounded for
    cross-engine determinism."""
    out_fields = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in df.schema)
    out_schema = f"{out_fields}, {new_col} double"

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        mean = pdf[value_col].mean()
        std = pdf[value_col].std(ddof=1)
        if pd.isna(std) or std == 0:
            pdf[new_col] = None
        else:
            pdf[new_col] = ((pdf[value_col] - mean) / std).round(ndigits)
        return pdf

    return df.groupBy(*group_by).applyInPandas(normalize, out_schema)


def winsorize(
    df: DataFrame,
    value_col: str,
    group_by=None,
    lower: float = 0.01,
    upper: float = 0.99,
    new_col: str | None = None,
    round_to: int = 6,
):
    """Per-group winsorization of ``value_col``: values below the
    group's ``lower`` quantile (or above ``upper``) are clamped to
    that quantile — the standard outlier guard before means,
    regressions, or reward models see sensor junk and fat tails.
    Unlike ``zscore`` above this is JVM-only, no pandas anywhere:
    bounds come from the exact distinct-value-count quantile
    machinery (``stats.quantiles`` — shuffle ∝ distinct values,
    never a per-group buffer), pivot to one (lo, hi) row per group,
    and clip is a keyed join back plus ``least(greatest(...))`` —
    row-proportional, whole-stage-codegen friendly.

    The clip boundary is the ROUNDED quantile (``round_to``), so the
    output is cross-engine deterministic (exact DuckDB
    ``quantile_cont`` oracle — same R type-7 interpolation). NULL and
    NaN values pass through unclipped; every other column is
    preserved. ``new_col`` defaults to ``{value_col}_winsorized``
    (pass ``new_col=value_col`` to overwrite in place).
    """
    if not 0 <= lower < upper <= 1:
        raise ValueError(
            f"winsorize: need 0 <= lower < upper <= 1, got ({lower}, {upper})"
        )
    from pyspark.sql import functions as F

    from getl_spark.functions import stats

    keys = keys_of(group_by)
    out_col = new_col or f"{value_col}_winsorized"
    q = stats.quantiles(
        df, value_col, qs=(float(lower), float(upper)), group_by=keys or None,
        round_to=round_to,
    )
    bounds = q.groupBy(*keys).agg(
        F.max(F.when(F.col("q") == float(lower), F.col("quantile"))).alias(
            "__wz_lo"
        ),
        F.max(F.when(F.col("q") == float(upper), F.col("quantile"))).alias(
            "__wz_hi"
        ),
    )
    if keys:
        b = bounds.select(
            *[F.col(k).alias(f"__wz_{k}") for k in keys], "__wz_lo", "__wz_hi"
        )
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__wz_{k}"))
        joined = df.join(b, cond, "left").drop(*[f"__wz_{k}" for k in keys])
    else:
        # 1-row bounds broadcast (whitelisted BNLJ shape)
        joined = df.join(F.broadcast(bounds))
    v = F.col(value_col).cast("double")
    clipped = F.when(
        v.isNull() | F.isnan(v), v
    ).otherwise(F.least(F.greatest(v, F.col("__wz_lo")), F.col("__wz_hi")))
    return joined.withColumn(out_col, clipped).drop("__wz_lo", "__wz_hi")


def robust_zscore(
    df: DataFrame,
    value_col: str,
    group_by=None,
    new_col: str | None = None,
    round_to: int = 6,
):
    """Per-group ROBUST z-score: ``(x − median) / (1.4826 · MAD)`` —
    outlier standardization whose location and scale a fat tail
    cannot move (the mean/std ``zscore`` above lets one 2 GB crawl
    page drag the mean and inflate sigma until real outliers score
    normal; median/MAD have a 50% breakdown point, so the score stays
    calibrated on exactly the data that needs it). 1.4826 is the
    normal-consistency constant, so thresholds transfer: |z| > 3.5
    is the standard robust outlier cut (Iglewicz-Hoaglin).

    Unlike ``zscore`` this is JVM-only, no pandas and no per-group
    buffering: location/scale come from ``stats.mad`` (rows reduce to
    per-distinct-value counts, both median passes run on the counts
    table) and attach via a keyed join; the score is one codegen
    expression. The join uses the ROUNDED (``round_to``) median/mad,
    so output is cross-engine deterministic. NULL/NaN values score
    NULL; zero-MAD groups (over half the group tied at the median)
    score NULL rather than ±inf — a constant group has no robust
    scale. ``new_col`` defaults to ``{value_col}_robust_z``; every
    other column is preserved.
    """
    from pyspark.sql import functions as F

    from getl_spark.functions import stats

    keys = keys_of(group_by)
    out_col = new_col or f"{value_col}_robust_z"
    m = stats.mad(df, value_col, group_by=keys or None, round_to=round_to)
    if keys:
        b = m.select(
            *[F.col(k).alias(f"__rz_{k}") for k in keys],
            F.col("median").alias("__rz_med"),
            F.col("mad").alias("__rz_mad"),
        )
        cond = F.lit(True)
        for k in keys:
            cond = cond & F.col(k).eqNullSafe(F.col(f"__rz_{k}"))
        joined = df.join(b, cond, "left").drop(*[f"__rz_{k}" for k in keys])
    else:
        # 1-row location/scale broadcast (whitelisted BNLJ shape)
        joined = df.join(
            F.broadcast(
                m.select(
                    F.col("median").alias("__rz_med"),
                    F.col("mad").alias("__rz_mad"),
                )
            )
        )
    v = F.col(value_col).cast("double")
    z = F.when(
        v.isNotNull() & ~F.isnan(v) & (F.col("__rz_mad") > 0),
        (v - F.col("__rz_med")) / (F.lit(1.4826) * F.col("__rz_mad")),
    )
    return joined.withColumn(out_col, F.round(z, round_to)).drop(
        "__rz_med", "__rz_mad"
    )


def ols(
    df: DataFrame,
    group_by: List[str],
    y_col: str,
    x_cols: List[str],
    round_to: int = 6,
) -> DataFrame:
    """Per-group closed-form OLS — :func:`getl_spark.functions.stats.ols`
    fitted independently inside every group ("which SOURCES' quality is
    declining after adjusting for document length?", per-segment
    regression-adjusted effects, per-host trend-with-covariates): the
    distributed generalization of ``stats.trend`` (one covariate,
    slope only) to arbitrary small-k feature sets with intercept, SEs
    and R² per group.

    Returns LONG format — one row per group per feature:
    ``(*group_by, feature, coef, se, n, r2)`` with ``intercept`` first
    then ``x_cols`` in order. Contract difference vs the global
    ``stats.ols`` (which raises): a group that cannot be fit — fewer
    complete rows than coefficients, or a singular/collinear design —
    emits its rows with NULL ``coef``/``se``/``r2`` instead of failing
    the job; one degenerate group must not kill the other 100k (filter
    ``coef IS NULL`` to find them). Rows with NULL outcome or features
    are excluded per group.

    100 TB shape: ONE group-keyed aggregate computes every
    cross-moment map-side-combined (no group's raw rows ever
    colocate — unlike the applyInPandas operators above, group size
    is unbounded); the per-group (k+1)² solves then run via
    ``mapInPandas`` over the GROUP-DIMENSION-sized moment frame
    (1 row per group in, k+1 rows out). Shuffle ∝ groups × k²."""
    from pyspark.sql import functions as F

    from getl_spark.functions.stats import _normal_two_sided_p

    x_cols = list(x_cols)
    if not group_by:
        raise ValueError("grouped.ols: group_by must be non-empty")
    if not x_cols:
        raise ValueError("grouped.ols: x_cols must be non-empty")
    if len(set(x_cols)) != len(x_cols):
        raise ValueError(f"grouped.ols: duplicate x_cols {x_cols}")
    y = F.col(y_col).cast("double")
    xs = [F.lit(1.0)] + [F.col(c).cast("double") for c in x_cols]
    names = ["intercept"] + x_cols
    p = len(xs)
    keep = y.isNotNull()
    for c in x_cols:
        keep = keep & F.col(c).cast("double").isNotNull()
    aggs = [F.count(F.lit(1)).alias("__n"), F.sum(y * y).alias("__syy")]
    for i in range(p):
        aggs.append(F.sum(xs[i] * y).alias(f"__xy_{i}"))
        for j in range(i, p):
            aggs.append(F.sum(xs[i] * xs[j]).alias(f"__xx_{i}_{j}"))
    moments = df.where(keep).groupBy(*group_by).agg(*aggs)

    group_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}"
        for f in df.select(*group_by).schema
    )
    out_schema = (
        f"{group_fields}, feature string, coef double, se double, "
        "n long, r2 double, __o int"
    )

    def solve(batches):
        import numpy as np

        for pdf in batches:
            out = {
                k: [] for k in
                list(group_by) + ["feature", "coef", "se", "n", "r2", "__o"]
            }
            # to_dict, not itertuples: namedtuple field renaming mangles
            # the leading-underscore moment column names
            for r in pdf.to_dict("records"):
                n = int(r["__n"])
                xtx = np.empty((p, p))
                for i in range(p):
                    for j in range(i, p):
                        xtx[i, j] = xtx[j, i] = r[f"__xx_{i}_{j}"]
                xty = np.array([r[f"__xy_{i}"] for i in range(p)])
                coefs = ses = None
                r2 = None
                if n > p:
                    cond = np.linalg.cond(xtx)
                    if np.isfinite(cond) and cond <= 1e12:
                        beta = np.linalg.solve(xtx, xty)
                        rss = float(r["__syy"] - xty @ beta)
                        sy = float(r["__xy_0"])
                        tss = float(r["__syy"] - sy * sy / n)
                        sigma2 = max(rss, 0.0) / (n - p)
                        covb = sigma2 * np.linalg.inv(xtx)
                        coefs = beta
                        ses = np.sqrt(np.maximum(np.diag(covb), 0.0))
                        r2 = 1.0 - rss / tss if tss > 0 else None
                for i in range(p):
                    for g in group_by:
                        out[g].append(r[g])
                    out["feature"].append(names[i])
                    out["coef"].append(
                        None if coefs is None else float(coefs[i])
                    )
                    out["se"].append(None if ses is None else float(ses[i]))
                    out["n"].append(n)
                    out["r2"].append(r2)
                    out["__o"].append(i)
            yield pd.DataFrame(out)

    solved = moments.mapInPandas(solve, out_schema)
    z = F.when(F.col("se") > 0, F.col("coef") / F.col("se"))
    return solved.select(
        *group_by,
        "feature",
        F.round("coef", round_to).alias("coef"),
        F.round("se", round_to).alias("se"),
        F.round(z, round_to).alias("z"),
        F.round(_normal_two_sided_p(z), round_to).alias("p_value"),
        "n",
        F.round("r2", round_to).alias("r2"),
    )
