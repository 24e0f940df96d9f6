"""Data-layout keys: multi-dimensional z-order clustering.

At 100 TB the cheapest query is the one that never reads the file:
parquet min/max footer stats skip whole files when the data is
*clustered* on the filter columns. A lexicographic sort on (a, b)
clusters only ``a`` — every file spans the full range of ``b``, so
filters on ``b`` alone prune nothing. A Morton (z-order) key
interleaves the bits of all dimensions, so consecutive rows are close
in EVERY dimension and each file's bounding box is small on all of
them (the same layout Delta OPTIMIZE ZORDER BY produces).

``zorder_key`` builds the key as pure JVM expressions: one broadcast
1-row aggregate for per-column (min, max), then a static bit-interleave
expression — no UDFs, no extra shuffle beyond the aggregate. Cluster a
table with::

    keyed = zorder_key(df, ["user_id", "ts"], bits=12)
    keyed.repartitionByRange(n_files, "zorder_key") \\
         .sortWithinPartitions("zorder_key") \\
         .drop("zorder_key").write.parquet(path)

Min/max linear scaling is outlier-sensitive (one huge value compresses
everyone else into few buckets); for skewed columns pre-transform
(log, clamp) or bucket by rank first. Public-literature technique
(Morton 1966; used by Delta/Iceberg/Hudi compaction).
"""

from __future__ import annotations

from typing import List, Sequence

from pyspark.sql import Column, DataFrame, functions as F

from getl_spark.common.scale import grouped_prefix_sum, keys_of

_NUMERIC = ("int", "bigint", "smallint", "tinyint", "float", "double", "decimal")


def _bucket_expr(col: Column, cmin: Column, cmax: Column, bits: int) -> Column:
    """Scale ``col`` into [0, 2^bits) against broadcast (min, max)."""
    span = (cmax - cmin).cast("double")
    frac = F.when(span > 0, (col.cast("double") - cmin.cast("double")) / span).otherwise(
        F.lit(0.0)
    )
    top = F.lit((1 << bits) - 1)
    # clamp both ends: NULLs coalesce to 0 which can sit below the
    # non-null min (negative frac), and frac == 1.0 hits 2^bits
    return F.greatest(
        F.lit(0).cast("bigint"),
        F.least(top.cast("bigint"), F.floor(frac * (1 << bits)).cast("bigint")),
    )


def _attach_buckets(
    df: DataFrame, cols: Sequence[str], bits: int
) -> tuple:
    """Shared scaling front-end for the layout keys: validate column
    types, compute per-column (min, max) in ONE aggregate, broadcast
    it onto every row, and return ``(keyed_df, bucket_exprs)`` where
    each bucket expr scales its column into [0, 2^bits) (NULLs →
    bucket 0). The ``__min_i``/``__max_i`` stat columns are consumed
    lazily by the bucket exprs; they are dropped again by
    ``_drop_stats``."""
    dtypes = dict(df.dtypes)
    casted = {}
    for c in cols:
        t = dtypes.get(c)
        if t is None:
            raise ValueError(f"layout key: no column '{c}'")
        if t.startswith("timestamp"):
            casted[c] = F.unix_micros(F.col(c).cast("timestamp"))
        elif t == "date":
            casted[c] = F.datediff(F.col(c), F.lit("1970-01-01"))
        elif t.startswith(_NUMERIC):
            casted[c] = F.col(c)
        else:
            raise ValueError(
                f"layout key: column '{c}' is {t}; numeric/date/timestamp "
                "only (hash string columns to a numeric first if needed)"
            )
    stats = df.agg(
        *[F.min(expr).alias(f"__min_{i}") for i, expr in enumerate(casted.values())],
        *[F.max(expr).alias(f"__max_{i}") for i, expr in enumerate(casted.values())],
    )
    keyed = df.crossJoin(F.broadcast(stats))
    buckets = []
    for i, expr in enumerate(casted.values()):
        # NULLs take the column MIN (not literal 0): on a column whose
        # min is negative, 0 sits mid-range and would scatter nulls
        # into the middle buckets, widening mid-range files' bounding
        # boxes. Coalescing to the min lands them in bucket 0 —
        # nulls-first, as documented.
        buckets.append(
            _bucket_expr(
                F.coalesce(expr, F.col(f"__min_{i}"), F.lit(0)),
                F.coalesce(F.col(f"__min_{i}"), F.lit(0)),
                F.coalesce(F.col(f"__max_{i}"), F.lit(0)),
                bits,
            )
        )
    return keyed, buckets


def _drop_stats(df: DataFrame, ndims: int) -> DataFrame:
    return df.drop(
        *[f"__min_{i}" for i in range(ndims)],
        *[f"__max_{i}" for i in range(ndims)],
    )


def zorder_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 12,
    out_col: str = "zorder_key",
) -> DataFrame:
    """Append a Morton-interleaved clustering key over ``cols``.

    Each column is linearly scaled to a ``bits``-bit integer against
    its global (min, max) — computed in ONE aggregate and re-attached
    as a broadcast 1-row DataFrame — then the per-column bits are
    interleaved (column i contributes bit b to key position
    ``b * len(cols) + i``). ``len(cols) * bits`` must be ≤ 63.

    Columns must be numeric, date, or timestamp (dates/timestamps
    interleave on their epoch value). NULLs take the column minimum and
    so land in bucket 0 — cluster nulls-first, same as Delta, even when
    the column range is negative.
    """
    if not cols:
        raise ValueError("zorder_key needs at least one column")
    if len(cols) * bits > 63:
        raise ValueError(
            f"{len(cols)} cols x {bits} bits = {len(cols) * bits} key bits; "
            "must fit a signed 64-bit key (<= 63). Lower bits="
        )
    keyed, buckets = _attach_buckets(df, cols, bits)
    ndims = len(cols)
    key = F.lit(0).cast("bigint")
    for i, bucket in enumerate(buckets):
        for b in range(bits):
            key = key.bitwiseOR(
                F.shiftleft(
                    F.shiftright(bucket, b).bitwiseAND(F.lit(1)).cast("bigint"),
                    b * ndims + i,
                )
            )
    return _drop_stats(keyed.withColumn(out_col, key), ndims)


def hilbert_key(
    df: DataFrame,
    cols: Sequence[str],
    bits: int = 12,
    out_col: str = "hilbert_key",
) -> DataFrame:
    """Append a 2-D Hilbert-curve clustering key over exactly two
    columns — the strictly-better-locality alternative to
    :func:`zorder_key` for two dimensions: consecutive Hilbert cells
    are ALWAYS adjacent in space (the Z curve takes a long diagonal
    jump every power-of-two boundary), so range-partitioned files get
    tighter bounding boxes and parquet min/max skipping prunes more.
    Morton stays the right tool for ≥3 columns (d-dimensional Hilbert
    state tables cost more than the locality buys at file
    granularity); this function rejects anything but 2 columns.

    Same scaling contract as ``zorder_key`` (one broadcast 1-row
    min/max aggregate, ``bits``-bit buckets, NULLs land in bucket 0).
    The classic per-bit rotate-and-reflect walk (Wikipedia ``xy2d``,
    public domain) is unrolled into ``bits`` stacked projections —
    each iteration reads the previous one's ``__hx/__hy`` columns by
    NAME, so the expression tree stays linear in ``bits`` (inlining
    the recurrence would double it per step) and whole-stage codegen
    fuses the stack into one scan-speed stage. No UDFs, no shuffle
    beyond the stats aggregate.
    """
    cols = list(cols)
    if len(cols) != 2:
        raise ValueError(
            f"hilbert_key takes exactly 2 columns, got {len(cols)} — "
            "use zorder_key for other dimensionalities"
        )
    if bits < 1 or 2 * bits > 62:
        raise ValueError(f"hilbert_key: bits must be in [1, 31], got {bits}")
    keyed, buckets = _attach_buckets(df, cols, bits)
    keyed = keyed.withColumns(
        {
            "__hx": buckets[0],
            "__hy": buckets[1],
            "__hd": F.lit(0).cast("bigint"),
        }
    )
    for i in range(bits - 1, -1, -1):
        s = 1 << i
        x, y = F.col("__hx"), F.col("__hy")
        rx = F.when(x.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        ry = F.when(y.bitwiseAND(F.lit(s)) > 0, F.lit(1)).otherwise(F.lit(0))
        keyed = keyed.withColumns(
            {
                "__hd": F.col("__hd")
                + F.lit(s).cast("bigint")
                * F.lit(s)
                * (rx * 3).bitwiseXOR(ry).cast("bigint"),
                # reflect (rx==1) then swap axes, only in the ry==0 case
                "__hx": F.when(
                    ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - y).otherwise(y),
                ).otherwise(x),
                "__hy": F.when(
                    ry == 0,
                    F.when(rx == 1, F.lit(s - 1) - x).otherwise(x),
                ).otherwise(y),
            }
        )
    return _drop_stats(
        keyed.withColumn(out_col, F.col("__hd")).drop("__hx", "__hy", "__hd"),
        2,
    )


def cluster_by_hilbert(
    df: DataFrame,
    cols: List[str],
    num_files: int,
    bits: int = 12,
) -> DataFrame:
    """``cluster_by_zorder`` with the 2-D Hilbert key: range partitions
    of the key, sorted within — tighter per-file bounding boxes on
    both columns than the Z layout at the same write cost (one range
    shuffle)."""
    keyed = hilbert_key(df, cols, bits=bits)
    return (
        keyed.repartitionByRange(num_files, "hilbert_key")
        .sortWithinPartitions("hilbert_key")
        .drop("hilbert_key")
    )


def cluster_by_zorder(
    df: DataFrame,
    cols: List[str],
    num_files: int,
    bits: int = 12,
) -> DataFrame:
    """Return ``df`` re-arranged into ``num_files`` range partitions of
    the z-order key, sorted within each — write this out and every
    file's min/max stats are tight on ALL of ``cols``. One range
    shuffle (sampled boundaries), same cost shape as any compaction
    rewrite."""
    keyed = zorder_key(df, cols, bits=bits)
    return (
        keyed.repartitionByRange(num_files, "zorder_key")
        .sortWithinPartitions("zorder_key")
        .drop("zorder_key")
    )


def write_bucketed(
    df: DataFrame,
    table: str,
    buckets: int,
    bucket_cols: Sequence[str],
    sort_cols: Sequence[str] | None = None,
    path: str | None = None,
    mode: str = "overwrite",
    fmt: str = "parquet",
) -> None:
    """Persist ``df`` as a BUCKETED table: rows are hash-distributed on
    ``bucket_cols`` into ``buckets`` files per write task, and the
    bucket spec is recorded in the catalog — so every later equi-join
    or aggregation on the bucket key between co-bucketed tables reads
    both sides ALREADY partitioned and skips its shuffle entirely
    (``spark.table(a).join(spark.table(b), key)`` plans with zero
    Exchange — asserted in tests). At 100 TB this is the difference
    between re-shuffling a fact table on every join and paying the
    shuffle ONCE at write time, amortized over every downstream query
    — the same layout contract as Hive bucketing / Iceberg bucket
    partition transforms.

    The input is pre-``repartition(buckets, bucket_cols)``-ed first:
    Spark's bucketed write otherwise emits one file per (task,
    bucket) — a tasks×buckets small-file explosion; hash-aligning
    tasks to buckets (both use Murmur3 pmod) yields exactly one file
    per bucket. ``sort_cols`` adds within-bucket ordering (sort-merge
    join without the sort). ``path`` makes it an external table
    (location survives a catalog drop).

    Both sides of a shuffle-free join must be bucketed with the SAME
    bucket count on the join key; a non-bucketed (or
    differently-bucketed) side falls back to a normal shuffled join —
    correct, just not free.
    """
    if buckets < 1:
        raise ValueError(f"write_bucketed: buckets must be >= 1, got {buckets}")
    bucket_cols = list(bucket_cols)
    if not bucket_cols:
        raise ValueError("write_bucketed: bucket_cols must be non-empty")
    aligned = df.repartition(buckets, *[F.col(c) for c in bucket_cols])
    w = (
        aligned.write.format(fmt)
        .mode(mode)
        .bucketBy(buckets, bucket_cols[0], *bucket_cols[1:])
    )
    if sort_cols:
        sort_cols = list(sort_cols)
        w = w.sortBy(sort_cols[0], *sort_cols[1:])
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def file_profile(df: DataFrame) -> DataFrame:
    """Per-input-file row counts of a file-backed scan — the
    small-files diagnostic: at 100 TB the classic failure mode is a
    table of millions of few-row files (per-file open/footer cost
    dominates, the driver chokes on listing, and task scheduling
    overhead swamps the read), and the fix (`TableStore.optimize` /
    `write::batch_delta` ``Optimize``, ``MaxRecordsPerFile`` on
    writes) needs this measurement first. Returns ``(file, n_rows)``
    with ``file`` the basename.

    Call it DIRECTLY on the loaded scan: ``input_file_name()`` is
    only defined before any shuffle/join re-associates rows, and is
    empty for non-file sources (JDBC, rate) — rows from such sources
    surface under an empty-string file name rather than failing.

    Scale shape: one map-side-combined aggregate keyed by file name —
    output is file-count-sized (metadata plane), the scan itself is
    the only data pass.
    """
    return df.groupBy(
        F.element_at(F.split(F.input_file_name(), "/"), -1).alias("file")
    ).agg(F.count("*").cast("bigint").alias("n_rows"))


def file_skew_report(df: DataFrame) -> DataFrame:
    """One-row rollup of ``file_profile``: ``(n_files, total_rows,
    min_rows, max_rows, avg_rows, skew_ratio)`` where ``skew_ratio =
    max/avg`` — a ratio near 1 means uniform files; a large ratio (or
    a huge ``n_files`` with a small ``avg_rows``) says compact before
    querying. The aggregate runs on the file-count-sized profile, not
    the data.
    """
    prof = file_profile(df)
    return prof.agg(
        F.count("*").cast("bigint").alias("n_files"),
        F.sum("n_rows").cast("bigint").alias("total_rows"),
        F.min("n_rows").cast("bigint").alias("min_rows"),
        F.max("n_rows").cast("bigint").alias("max_rows"),
        F.round(F.avg("n_rows"), 6).alias("avg_rows"),
        F.round(
            F.when(
                F.avg("n_rows") > 0, F.max("n_rows") / F.avg("n_rows")
            ),
            6,
        ).alias("skew_ratio"),
    )


def compaction_plan(
    profile: DataFrame,
    target: int,
    file_col: str = "file",
    size_col: str = "n_rows",
    group_by=None,
    leave_if_at_least: int | None = None,
) -> DataFrame:
    """Turn a file profile (``file_profile`` output, or any
    ``(file, size)`` listing — rows or bytes, pick one unit) into a
    deterministic compaction work-list: which small files get
    rewritten together into which output group. This is the step
    between the diagnosis (``file_skew_report`` says "compact") and
    the rewrite (`TableStore.optimize` / a grouped re-write job):
    at 100 TB "compact everything" is itself a massive job, so the
    plan must name exactly which files co-rewrite, let increments
    re-derive THE SAME groups, and leave already-healthy files alone.

    Files with ``size >= leave_if_at_least`` (default: ``target``)
    are emitted with ``compaction_group`` NULL — already big enough,
    rewriting them would be wasted IO. The rest are ordered by file
    name (deterministic across retries and engines) and binned by the
    running size: ``group = floor(exclusive_prefix_sum / target)``,
    so each group's total lands within one file of ``target``. NULL
    or negative sizes fail loudly — corrupt listings should stop a
    rewrite job, not steer it.

    One row per file: ``(group_by..., file, size, compaction_group)``.

    Scale shape: runs on the file-count-sized METADATA table, not the
    data; the prefix sum is the distributed scan from
    ``common/scale.py`` keyed by ``group_by`` (usually the partition
    column), so a million-file listing never funnels through one
    task or a few-key window.
    """
    if target <= 0:
        raise ValueError(f"compaction_plan: target must be > 0, got {target}")
    thresh = int(target if leave_if_at_least is None else leave_if_at_least)
    keys = keys_of(group_by)
    size = F.col(size_col).cast("bigint")
    guard = F.assert_true(
        size.isNotNull() & (size >= 0),
        F.lit(
            "compaction_plan: NULL or negative file size - corrupt "
            "listing, refusing to plan a rewrite over it"
        ),
    )
    base = profile.select(
        *keys,
        F.col(file_col).alias(file_col),
        F.when(guard.isNull(), size).alias("__sz"),
    )
    small = base.where(F.col("__sz") < thresh)
    big = base.where(F.col("__sz") >= thresh).select(
        *keys,
        file_col,
        F.col("__sz").alias(size_col),
        F.lit(None).cast("bigint").alias("compaction_group"),
    )
    cum = grouped_prefix_sum(small, keys, [file_col], "__sz", "__cum")
    assigned = cum.select(
        *keys,
        file_col,
        F.col("__sz").alias(size_col),
        F.floor(
            (F.col("__cum") - F.col("__sz")) / F.lit(float(target))
        )
        .cast("bigint")
        .alias("compaction_group"),
    )
    return assigned.unionByName(big)
