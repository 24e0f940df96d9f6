"""Sink (``write::*``) blocks.

Capability parity with ``getl/blocks/write/entrypoint.py`` (321 LoC) +
``batch_delta.py``: Delta (append / overwrite / clean_write / merge-
upsert, partitioning, schema merge, OPTIMIZE/ZORDER, VACUUM, Hive
registration), JSON, JDBC, Postgres/MySQL distributed upserts, and a
streamed Delta sink. Extensions: ``batch_parquet`` / ``batch_csv``
sinks (the reference reaches these only via custom code).

Every sink returns the input DataFrame so downstream blocks can keep
chaining on the same lazy plan. Writes are the job's action boundary —
everything upstream fuses into the write stage.
"""

from __future__ import annotations

from typing import Callable, List, Optional

from pyspark.sql import DataFrame

from getl_spark.common.scale import pin, local_df

from getl_spark.common.tables import DEFAULT_FORMAT, HiveTable, ManagedTable
from getl_spark.plans.context import BlockConfig

UPSERT_MODE = "upsert"
CLEAN_WRITE_MODE = "clean_write"


def resolve(func: Callable, bconf: BlockConfig) -> DataFrame:
    return func(bconf)


# ------------------------------------------------------------------- delta
def batch_delta(conf: BlockConfig) -> DataFrame:
    """Write the input as a (Delta-when-available) managed table.

    Properties: ``Path``, ``Mode`` (append | overwrite | upsert |
    clean_write), ``PartitionBy.Columns``, ``MergeSchema``,
    ``Upsert.MergeStatement`` (aliases ``source``/``updates``),
    ``Optimize.{Enabled,ZorderBy}``, ``Vacuum.{Enabled,RetainHours}``,
    ``HiveTable.{DatabaseName,TableName,Schema}`` (optional here;
    mandatory in the reference).

    Scale note: ``PartitionBy`` columns should be low-cardinality
    (date-style) — they drive partition pruning for every
    downstream reader; ZORDER adds intra-partition clustering for
    high-cardinality keys.
    """
    df = conf.input_df()
    path = conf.get("Path")
    mode = conf.get("Mode")
    partition_by = conf.get("PartitionBy.Columns", None)
    merge_schema = conf.get("MergeSchema", False)
    table = ManagedTable(conf.spark, path)

    if mode == UPSERT_MODE:
        table.upsert_all(df, conf.get("Upsert.MergeStatement"))
    elif mode == CLEAN_WRITE_MODE:
        table.write(df, "overwrite", partition_by, merge_schema)
    else:
        table.write(df, mode, partition_by, merge_schema)

    if conf.exists("HiveTable.DatabaseName"):
        # registered after the write: a path-based table needs data (or
        # an explicit Schema) present for catalog schema resolution
        HiveTable(
            conf.spark, conf.get("HiveTable.DatabaseName"), conf.get("HiveTable.TableName")
        ).create(
            path,
            conf.get("HiveTable.Schema", ""),
            ", ".join(partition_by) if partition_by else "",
        )

    if conf.get("Optimize.Enabled", False):
        zorder = conf.get("Optimize.ZorderBy", None)
        zorder_cols = (
            [c.strip() for c in zorder.split(",")]
            if isinstance(zorder, str)
            else zorder
        )
        table.optimize(zorder_cols)
    if conf.get("Vacuum.Enabled", False):
        table.vacuum(int(conf.get("Vacuum.RetainHours", 168)))
    return df


# ------------------------------------------------------------- file sinks
def _file_sink(conf: BlockConfig, fmt: str) -> DataFrame:
    """Shared file-sink path. ``Bucketing: {Columns, NumBuckets,
    TableName, SortBy?}`` writes a bucketed catalog table: two tables
    bucketed the same way join WITHOUT a shuffle — the cheapest
    repeated-join strategy at 100 TB (bucket metadata lives in the
    catalog, so this path uses saveAsTable)."""
    df = conf.input_df()
    writer = df.write.mode(conf.get("Mode", "overwrite")).format(fmt)
    partition_by = conf.get("PartitionBy.Columns", None)
    if partition_by:
        writer = writer.partitionBy(partition_by)
    max_records = conf.get("MaxRecordsPerFile", None)
    if max_records is not None:
        # shard-size control for training dataloaders: each task splits
        # its output at N rows, so shard size is bounded WITHOUT a
        # count() action or an extra repartition shuffle
        writer = writer.option("maxRecordsPerFile", int(max_records))
    for key, value in (conf.get("Options", {}) or {}).items():
        writer = writer.option(key, value)
    if conf.exists("Bucketing"):
        cols = conf.get("Bucketing.Columns")
        writer = writer.bucketBy(int(conf.get("Bucketing.NumBuckets", 32)), *cols)
        if conf.exists("Bucketing.SortBy"):
            writer = writer.sortBy(*conf.get("Bucketing.SortBy"))
        if conf.exists("Path"):
            writer = writer.option("path", conf.get("Path"))
        writer.saveAsTable(conf.get("Bucketing.TableName"))
        return df
    writer.save(conf.get("Path"))
    return df


def batch_json(conf: BlockConfig) -> DataFrame:
    """Properties: ``Path``, ``Mode``, ``PartitionBy.Columns``."""
    return _file_sink(conf, "json")


def batch_parquet(conf: BlockConfig) -> DataFrame:
    """Extension sink: columnar parquet with optional partitioning."""
    return _file_sink(conf, "parquet")


def batch_csv(conf: BlockConfig) -> DataFrame:
    """Extension sink."""
    return _file_sink(conf, "csv")


def batch_orc(conf: BlockConfig) -> DataFrame:
    """Extension sink: ORC with optional partitioning/bucketing —
    same surface as ``batch_parquet``."""
    return _file_sink(conf, "orc")


def batch_scd2(conf: BlockConfig) -> DataFrame:
    """Extension sink: slowly-changing-dimension type-2 history merge.
    The target keeps every version of each keyed business row with
    ``valid_from`` / ``valid_to`` / ``is_current``; each batch closes
    changed versions at the batch's effective time and opens new ones
    — the dimension-table pattern for auditable attribute history.

    Properties: ``Path``, ``Keys``, ``TsColumn`` (effective timestamp
    in the input), ``CompareColumns`` (default: all non-key non-ts
    columns), ``ValidFromColumn``/``ValidToColumn``/``CurrentColumn``
    (rename the metadata columns).
    """
    df = conf.input_df()
    ManagedTable(conf.spark, conf.get("Path")).scd2_merge(
        df,
        keys=list(conf.get("Keys")),
        ts_col=conf.get("TsColumn"),
        compare_cols=conf.get("CompareColumns", None),
        valid_from_col=conf.get("ValidFromColumn", "valid_from"),
        valid_to_col=conf.get("ValidToColumn", "valid_to"),
        current_col=conf.get("CurrentColumn", "is_current"),
    )
    return df


# -------------------------------------------------------------------- jdbc
def batch_jdbc(conf: BlockConfig) -> DataFrame:
    """Properties: ``Mode``, ``Driver``, ``ConnUrl``, ``Table``,
    ``User``, ``Password``, ``NumPartitions`` (write parallelism), and
    passthrough ``Options`` (e.g. ``createTableColumnTypes`` to
    override the dialect's default type mapping, ``batchsize``,
    ``truncate``)."""
    df = conf.input_df()
    writer = (
        df.write.format("jdbc")
        .mode(conf.get("Mode", "append"))
        .option("driver", conf.get("Driver"))
        .option("url", conf.get("ConnUrl"))
        .option("dbtable", conf.get("Table"))
        .option("user", conf.get("User"))
        .option("password", conf.get("Password"))
        .option("isolationLevel", "READ_COMMITTED")
    )
    if conf.exists("NumPartitions"):
        writer = writer.option("numPartitions", int(conf.get("NumPartitions")))
    for key, value in conf.get("Options", {}).items():
        writer = writer.option(key, value)
    writer.save()
    return df


def batch_postgres_upsert(conf: BlockConfig) -> DataFrame:
    """Distributed ``INSERT … ON CONFLICT DO UPDATE`` (see
    ``getl_spark.common.upsert``)."""
    from getl_spark.common import upsert as upsert_mod

    df = conf.input_df()
    upsert_mod.postgres_upsert(
        df,
        conn_url=conf.get("ConnUrl"),
        user=conf.get("User"),
        password=conf.get("Password"),
        table=conf.get("Table"),
        columns=conf.get("Columns"),
        conflict_columns=conf.get("ConflictColumns"),
        update_columns=conf.get("UpdateColumns", None),
    )
    return df


def batch_mysql_upsert(conf: BlockConfig) -> DataFrame:
    from getl_spark.common import upsert as upsert_mod

    df = conf.input_df()
    upsert_mod.mysql_upsert(
        df,
        host=conf.get("Host"),
        port=int(conf.get("Port", 3306)),
        database=conf.get("Database"),
        user=conf.get("User"),
        password=conf.get("Password"),
        table=conf.get("Table"),
        columns=conf.get("Columns"),
        update_columns=conf.get("UpdateColumns", None),
    )
    return df


# --------------------------------------------------------------- streaming
def stream_delta(conf: BlockConfig) -> DataFrame:
    """Incremental-batch streamed sink.

    ``trigger(availableNow=True)`` (modern replacement for the
    reference's ``once=True``, ``write/entrypoint.py:313-319``)
    processes everything new since the checkpoint then stops; the
    checkpoint lives under ``<Path>/checkpoint`` exactly like the
    reference. Falls back to parquet format without delta-spark.
    """
    df = conf.input_df()
    path = conf.get("Path")
    (
        df.writeStream.trigger(availableNow=True)
        .format(DEFAULT_FORMAT)
        .option("checkpointLocation", f"{path}/checkpoint")
        .outputMode(conf.get("OutputMode", "append"))
        .start(path)
        .awaitTermination()
    )
    return df


def _drain(
    conf: BlockConfig,
    default_base: str,
    each_batch: Callable[[DataFrame, int], None],
    output_mode: str = "append",
) -> DataFrame:
    """Run ``each_batch(batch_df, batch_id)`` on every non-empty
    micro-batch of the input stream until everything new is drained
    (``trigger(availableNow=True)``), then return the input. The
    checkpoint is ``Checkpoint``, default ``<default_base>__checkpoint``
    — a SIBLING of the output, never inside it: a sink that rewrites
    its output directory would otherwise wipe the checkpoint
    mid-stream."""
    df = conf.input_df()
    checkpoint = conf.get("Checkpoint", f"{default_base.rstrip('/')}__checkpoint")

    def run(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.isEmpty():
            each_batch(batch_df, batch_id)

    (
        df.writeStream.trigger(availableNow=True)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint)
        .foreachBatch(run)
        .start()
        .awaitTermination()
    )
    return df


def stream_upsert(conf: BlockConfig) -> DataFrame:
    """Streamed MERGE sink: each micro-batch is upserted into the
    managed table via ``foreachBatch`` — the standard pattern for
    incrementally maintaining a keyed table from a stream (append-only
    sinks can't update matched rows; built-in streaming writers can't
    express MERGE).

    Properties: ``Path``, ``MergeStatement`` (``source.x = updates.x``,
    same contract as batch upsert), ``Keys`` (optional — dedup each
    micro-batch on these columns first, so MERGE's one-match-per-row
    contract holds when the stream can repeat a key within a batch),
    ``OrderBy`` (optional, with ``Keys`` — keep the row with the MAX
    value of this column per key, so a micro-batch carrying several
    versions of a key merges the latest one deterministically; without
    it the dedup keeps an arbitrary row, fine only when at most one
    meaningful row per key per batch can occur),
    ``Checkpoint`` (default ``<Path>__checkpoint`` — a SIBLING of the
    table, never inside it: the parquet-fallback MERGE rewrites the
    table directory, which would wipe a co-located checkpoint
    mid-stream), ``OutputMode``
    (default ``append``; use ``update`` when the input is a windowed
    aggregation — each micro-batch then delivers the CHANGED window
    rows and the MERGE keeps the target current, i.e. an incrementally
    maintained rollup/continuous aggregate).
    ``trigger(availableNow=True)`` drains everything new then stops —
    incremental-batch, exactly like ``stream_delta``.
    """
    path = conf.get("Path")
    merge_statement = conf.get("MergeStatement")
    keys = conf.get("Keys", None)
    order_by = conf.get("OrderBy", None)

    def upsert_batch(batch_df: DataFrame, _batch_id: int) -> None:
        if keys and order_by:
            # Deterministic latest-wins: a batch holding several
            # versions of a key merges the newest — the shared
            # changelog-compaction primitive
            from getl_spark.functions.dedup import latest_by_key

            batch_df = latest_by_key(batch_df, list(keys), order_by)
        elif keys:
            batch_df = batch_df.dropDuplicates(list(keys))
        ManagedTable(batch_df.sparkSession, path).upsert_all(
            batch_df, merge_statement
        )

    return _drain(conf, path, upsert_batch, conf.get("OutputMode", "append"))


def stream_dedup_ingest(conf: BlockConfig) -> DataFrame:
    """Continuous deduplicated corpus ingestion: each micro-batch is
    (1) exact-deduped within itself on the text fingerprint, (2)
    filtered against a persisted MinHash index
    (``dedup.build_minhash_index`` — exact fingerprint anti-join plus,
    with ``NearThreshold``, banded-LSH near-dup filtering), (3) the
    survivors appended to the output corpus AND folded into the index
    (``dedup.index_append``) — so every later batch, today or next
    month, dedups against everything already ingested. The streaming
    form of the daily-ingest loop, with the corpus never rescanned.

    Properties: ``Path`` (corpus output, parquet append), ``IndexPath``
    (an existing ``build_minhash_index`` — bootstrap one from the
    initial corpus, or from an empty frame for a from-scratch feed),
    ``IdColumn``/``TextColumn`` (default doc_id/text),
    ``NearThreshold`` (optional — enables the near phase),
    ``Checkpoint`` (default ``<Path>__checkpoint``). Runs with
    ``availableNow`` (incremental batch).

    Scale shape: per batch, increment-sized sketch work + two keyed
    joins against the index tables + appends; state lives in the
    checkpoint and the index, both bounded by corpus size, not stream
    history.

    Crash safety: the corpus write is idempotent (each micro-batch
    overwrites its own ``batch=<id>`` subdirectory), and the index
    append commits fingerprints LAST — so a batch replayed after a
    crash either re-filters to nothing (fingerprints landed) or
    recomputes the same survivor set deterministically and overwrites
    its own directory. No replay path duplicates corpus rows.
    """
    from getl_spark.functions import dedup
    from getl_spark.functions.graph import dedup_by_component
    from getl_spark.functions.text import fingerprint as fp

    out = conf.get("Path")
    index_path = conf.get("IndexPath")
    id_col = conf.get("IdColumn", "doc_id")
    text_col = conf.get("TextColumn", "text")
    near = conf.get("NearThreshold", None)

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = dedup.exact(
            fp(batch_df, text_col, "__fp"), ["__fp"], order_by=id_col
        ).drop("__fp")
        if near is not None:
            # near-dups CO-ARRIVING in one batch never meet the index —
            # collapse them here (pairs → clusters → min-id winner)
            pairs = dedup.minhash_lsh(
                batch, id_col=id_col, text_col=text_col, threshold=near
            )
            batch = dedup_by_component(batch, pairs, id_col=id_col)
        survivors = dedup.against_stored_index(
            batch, index_path, id_col, text_col, near_threshold=near,
            keep_sketches=True,
        ).transform(pin)
        if survivors.isEmpty():
            return
        sig_col = "__sig" if "__sig" in survivors.columns else None
        survivors.drop("fingerprint", "__sig").write.mode("overwrite").parquet(
            f"{out.rstrip('/')}/batch={batch_id}"
        )
        dedup.index_append(
            survivors, index_path, id_col, text_col,
            fingerprint_col="fingerprint", sig_col=sig_col,
        )

    return _drain(conf, out, ingest_batch, conf.get("OutputMode", "append"))


def stream_vector_ingest(conf: BlockConfig) -> DataFrame:
    """Continuous deduplicated EMBEDDING ingestion — the vector-side
    mirror of ``stream_dedup_ingest``: each micro-batch is (1)
    collapsed within itself (exact id dups, then SemDeDup clustering
    so co-arriving near-dups never meet the index), (2) filtered
    against a persisted IVF-PQ index
    (``similarity.dedup_against_index`` — probed-cell join vs
    reconstructed codes, fully distributed), (3) the survivors
    appended to the output vector table AND encoded into the index
    (``similarity.ivf_pq_append``), so every later batch dedups
    against everything already ingested without rescanning it.

    Properties: ``Path`` (vector output, parquet append),
    ``IndexPath`` (an existing ``build_ivf_pq_index`` — bootstrap from
    the initial corpus, preferably with ``store_raw=True``: the
    vectors that keep surviving dedup are by definition off the
    trained manifold, where reconstruction-level verify is weakest,
    and the raw sidecar makes the verify exact),
    ``IdColumn``/``VectorColumn`` (default
    vec_id/embedding), ``Threshold`` (cosine, default 0.9),
    ``NProbe`` (default 4), ``WithinBatchNlist`` (SemDeDup cells for
    the intra-batch pass, default 16), ``Checkpoint`` (default
    ``<Path>__checkpoint``). Runs with ``availableNow``.

    Crash safety: the vector write is idempotent (each micro-batch
    overwrites its own ``batch=<id>`` subdirectory) and
    ``ivf_pq_append``'s ``skip_existing`` anti-join makes the index
    append idempotent by id — a replayed batch re-filters or re-skips,
    never duplicates.
    """
    from getl_spark.functions import dedup, similarity

    out = conf.get("Path")
    index_path = conf.get("IndexPath")
    id_col = conf.get("IdColumn", "vec_id")
    vec_col = conf.get("VectorColumn", "embedding")
    threshold = float(conf.get("Threshold", 0.9))
    nprobe = int(conf.get("NProbe", 4))
    nlist_batch = int(conf.get("WithinBatchNlist", 16))

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.dropDuplicates([id_col])
        # co-arriving near-dups never meet the index — collapse them
        # with the in-memory SemDeDup composition (min-id winner)
        batch = dedup.semantic_dedup(
            batch, id_col=id_col, vec_col=vec_col, threshold=threshold,
            nlist=nlist_batch, nassign=2,
        )
        survivors = similarity.dedup_against_index(
            batch, index_path, threshold=threshold, nprobe=nprobe,
            id_col=id_col, vec_col=vec_col,
        ).transform(pin)
        if survivors.isEmpty():
            return
        survivors.write.mode("overwrite").parquet(
            f"{out.rstrip('/')}/batch={batch_id}"
        )
        similarity.ivf_pq_append(
            survivors, index_path, id_col=id_col, vec_col=vec_col
        )

    return _drain(conf, out, ingest_batch, conf.get("OutputMode", "append"))


def stream_drift_monitor(conf: BlockConfig) -> DataFrame:
    """Per-micro-batch drift monitoring: every batch's numeric columns
    are binned against a FROZEN reference histogram and the per-column
    PSI rows append to a managed report table — the streaming form of
    ``stats.drift_report``, shaped for a feed you cannot re-scan. A
    batch whose ``psi`` jumps is a schema-or-upstream incident caught
    while the batch is still quarantinable, not after it trained.

    Properties: ``Path`` (report table, append), ``Reference``
    (parquet path of the reference snapshot), ``Columns`` (numeric
    column list), ``ColumnsCategorical`` (categorical column list —
    language/source/host mix, the columns a training feed drifts on
    first), ``TopK`` (default 10 — reference categories kept per
    categorical column, rest folds into ``__other__``), ``Bins``
    (default 10), ``Checkpoint`` (default ``<Path>__checkpoint``).
    At least one of ``Columns`` / ``ColumnsCategorical`` is
    mandatory. Output rows: ``(batch_id, column, batch_rows, psi)``
    — ``batch_rows`` is the batch's TOTAL row count (same value on
    every column row of a batch); the PSI denominator is the
    column's non-NULL count, which can be smaller (``psi`` is NULL
    when a column is entirely NULL in the batch).

    Categorical semantics mirror ``stats.drift_report``'s
    ``columns_categorical`` with the monitor's frozen-yardstick rule:
    the category set is the REFERENCE's top-K by frequency (ties by
    value — deterministic), frozen before the stream starts; batch
    categories outside that set — including brand-new ones — land in
    ``__other__``, which is exactly where new-source/new-language
    drift should spike. Same ε-smoothed share PSI as the numeric leg.

    Monitoring semantics differ from the batch op deliberately: bins
    are FROZEN on the reference's own min/max (computed once, before
    the stream starts) rather than re-derived per batch — a monitor
    must measure the batch against a fixed yardstick or a drifting
    batch would drag the bins along and hide itself; values outside
    the reference range clip into the edge bins, which is exactly
    where out-of-range drift should land. Same ε-smoothed PSI
    arithmetic as ``stats.psi``.

    Scale shape: the reference is scanned ONCE at resolve time and
    reduced to #columns × bins driver-held shares (tiny); each
    micro-batch pays one conditional-count aggregate over its own
    rows (map-side, #columns × bins cells) — the stream never
    re-reads the reference and holds no growing state outside the
    checkpoint.
    """
    from pyspark.sql import functions as F

    out = conf.get("Path")
    ref_path = conf.get("Reference")
    cols = conf.get("Columns", []) or []
    cat_cols = conf.get("ColumnsCategorical", []) or []
    top_k = int(conf.get("TopK", 10))
    bins = int(conf.get("Bins", 10))
    if not cols and not cat_cols:
        raise ValueError(
            "stream_drift_monitor: need Columns or ColumnsCategorical"
        )
    overlap = set(cols) & set(cat_cols)
    if overlap:
        raise ValueError(
            "stream_drift_monitor: columns cannot be both numeric and "
            f"categorical: {sorted(overlap)}"
        )
    if bins < 2:
        raise ValueError("stream_drift_monitor: Bins must be >= 2")
    if top_k < 1:
        raise ValueError("stream_drift_monitor: TopK must be >= 1")
    spark = conf.spark
    ref = spark.read.parquet(ref_path)

    # frozen category sets first: per categorical column, the
    # reference's top-K (count desc, value asc — deterministic ties)
    # via TakeOrdered — a k-bounded collect per column, never a sort
    # of the reference
    kept: dict = {}
    for c in cat_cols:
        kept[c] = [
            r["__v"]
            for r in (
                ref.where(F.col(c).isNotNull())
                .groupBy(F.col(c).cast("string").alias("__v"))
                .agg(F.count("*").alias("__n"))
                .orderBy(F.col("__n").desc(), F.col("__v").asc())
                .limit(top_k)
                .collect()
            )
        ]

    # ONE reference pass: per-column bounds + frozen bin shares
    bounds_row = (
        ref.agg(
            *[
                F.min(F.col(c).cast("double")).alias(f"__lo_{i}")
                for i, c in enumerate(cols)
            ],
            *[
                F.max(F.col(c).cast("double")).alias(f"__hi_{i}")
                for i, c in enumerate(cols)
            ],
        ).collect()[0]
        if cols
        else None
    )

    def bin_expr(c, lo, hi):
        v = F.col(c).cast("double")
        if hi <= lo:  # constant reference column: everything bins to 0
            return F.when(v.isNotNull() & ~F.isnan(v), F.lit(0))
        width = (hi - lo) / bins
        raw = F.floor((v - F.lit(lo)) / F.lit(width)).cast("int")
        clipped = F.least(F.greatest(raw, F.lit(0)), F.lit(bins - 1))
        return F.when(v.isNotNull() & ~F.isnan(v), clipped)

    def counts(frame, with_total=False):
        # numeric bin cells + categorical kept-category cells +
        # per-categorical non-NULL totals, ONE aggregate
        aggs = []
        for i, c in enumerate(cols):
            b = bin_expr(c, bounds_row[f"__lo_{i}"], bounds_row[f"__hi_{i}"])
            for k in range(bins):
                aggs.append(
                    F.sum((b == k).cast("bigint")).alias(f"__c_{i}_{k}")
                )
        for i, c in enumerate(cat_cols):
            v = F.col(c).cast("string")
            for k, cat in enumerate(kept[c]):
                aggs.append(
                    F.sum((v == F.lit(cat)).cast("bigint")).alias(
                        f"__cc_{i}_{k}"
                    )
                )
            aggs.append(
                F.sum(v.isNotNull().cast("bigint")).alias(f"__ct_{i}")
            )
        if with_total:
            aggs.append(F.count(F.lit(1)).alias("__n_rows"))
        return frame.agg(*aggs).collect()[0]

    def cat_shares(row, i, c):
        """Kept-category shares + the __other__ remainder from one
        counts() row; None when the column had no non-NULL values."""
        tot = row[f"__ct_{i}"] or 0
        if not tot:
            return None
        ks = [(row[f"__cc_{i}_{k}"] or 0) for k in range(len(kept[c]))]
        return [x / tot for x in ks] + [(tot - sum(ks)) / tot]

    ref_counts = counts(ref)
    ref_shares = {}
    for i, c in enumerate(cols):
        tot = sum(ref_counts[f"__c_{i}_{k}"] or 0 for k in range(bins))
        ref_shares[c] = [
            ((ref_counts[f"__c_{i}_{k}"] or 0) / tot if tot else None)
            for k in range(bins)
        ]
    ref_cat_shares = {
        c: cat_shares(ref_counts, i, c) for i, c in enumerate(cat_cols)
    }

    import math

    eps = 1e-6
    report_table = ManagedTable(spark, out)

    def monitor_batch(batch_df: DataFrame, batch_id: int) -> None:
        # ONE aggregate pays for both the bin cells and the row count
        # (no separate count() scan of the batch)
        row = counts(batch_df, with_total=True)
        n_batch = row["__n_rows"]
        out_rows = []
        for i, c in enumerate(cols):
            # PSI denominator: the column's non-NULL count (batch_rows
            # reports the full batch size regardless)
            tot = sum(row[f"__c_{i}_{k}"] or 0 for k in range(bins))
            if not tot or ref_shares[c][0] is None:
                out_rows.append((int(batch_id), c, int(n_batch), None))
                continue
            psi = 0.0
            for k in range(bins):
                p = ref_shares[c][k] + eps
                q = (row[f"__c_{i}_{k}"] or 0) / tot + eps
                psi += (q - p) * math.log(q / p)
            out_rows.append((int(batch_id), c, int(n_batch), round(psi, 6)))
        for i, c in enumerate(cat_cols):
            bshares = cat_shares(row, i, c)
            if bshares is None or ref_cat_shares[c] is None:
                out_rows.append((int(batch_id), c, int(n_batch), None))
                continue
            psi = 0.0
            for p0, q0 in zip(ref_cat_shares[c], bshares):
                p, q = p0 + eps, q0 + eps
                psi += (q - p) * math.log(q / p)
            out_rows.append((int(batch_id), c, int(n_batch), round(psi, 6)))
        report = local_df(spark,
            out_rows, "batch_id LONG, column STRING, batch_rows LONG, psi DOUBLE"
        )
        report_table.write(report, "append")

    return _drain(conf, out, monitor_batch)


def stream_route(conf: BlockConfig) -> DataFrame:
    """Predicate ROUTER sink: split one stream across several file
    sinks by boolean conditions — the streaming quality gate
    (pass-lane to the training corpus, fail-lane to a quarantine dir
    for triage) and the source-splitter (one firehose → per-tenant
    directories) in one block. Built-in streaming writers bind one
    query to one sink; the router evaluates every route inside ONE
    ``foreachBatch`` so all lanes advance under a single checkpoint —
    no per-sink re-read of the source, no cross-sink offset skew.

    Properties:

    * ``Routes`` — ordered list of ``{Name, Condition, Path}``.
      ``Condition`` is a Spark SQL boolean expression over the input
      columns. FIRST MATCH WINS: route i takes the rows matching its
      condition and none of the earlier ones, so the lanes are
      disjoint and their union is exactly the matched input (router
      semantics; overlapping conditions cannot double-write a row).
    * ``ElsePath`` (optional) — rows matching no route land here.
      A condition that evaluates to NULL on a row (three-valued SQL
      logic, e.g. ``score > 0.5`` with a NULL ``score``) counts as a
      NON-match for that lane: the row keeps falling through and
      reaches ``ElsePath`` — it is never silently lost.
      Without it unmatched rows are DROPPED (gate semantics) — make
      the drop explicit by setting ``ElsePath`` whenever the stream
      is an ingest you cannot replay.
    * ``Format`` (default ``parquet``) — any batch DataFrameWriter
      format.
    * ``WithBatchId`` (default false) — stamp a ``_batch_id`` column
      on every written row. File appends inside ``foreachBatch`` are
      AT-LEAST-ONCE on micro-batch retry (the standard caveat of
      every multi-sink foreachBatch); the stamp makes downstream
      exact-once reconciliation a one-column dedup.
    * ``Checkpoint`` (default ``<first route path>__checkpoint``).

    Scale shape: per micro-batch, one filter+write per lane over the
    SAME batch frame — the batch is computed once by the streaming
    engine; each lane's filter is scan-side (codegen, no shuffle), so
    N lanes cost N column-pruned passes over one in-memory batch, not
    N source reads. ``trigger(availableNow=True)`` drains then stops
    (incremental-batch, like every stream sink here).
    """
    routes = conf.get("Routes")
    if not routes:
        raise ValueError("stream_route: Routes must be a non-empty list")
    for r in routes:
        for k in ("Name", "Condition", "Path"):
            if k not in r:
                raise ValueError(
                    f"stream_route: every route needs {{Name, Condition, "
                    f"Path}} — missing '{k}' in {r}"
                )
    else_path = conf.get("ElsePath", None)
    fmt = conf.get("Format", "parquet")
    with_batch_id = bool(conf.get("WithBatchId", False))

    def route_batch(batch_df: DataFrame, batch_id: int) -> None:
        from pyspark.sql import functions as F

        from getl_spark.common.scale import run_concurrent

        if with_batch_id:
            batch_df = batch_df.withColumn(
                "_batch_id", F.lit(int(batch_id)).cast("bigint")
            )
        # one materialization of the micro-batch for ALL lanes: each
        # lane's write is a separate action, and without the persist
        # every lane re-reads and re-parses the batch source (N-lane
        # route = N source scans — exactly the re-read this block's
        # contract rules out). persist (not localCheckpoint) keeps the
        # batch's lineage for streaming fault-tolerance semantics.
        batch_df = batch_df.persist()
        try:
            remaining = F.lit(True)
            writes = []
            for r in routes:
                # NULL-safe: a condition that evaluates NULL (e.g.
                # `score > 0.5` on a NULL score) is a NON-MATCH, not a
                # poison pill. Without the coalesce, `remaining & ~NULL`
                # = NULL makes the row fail every later lane AND the
                # ElsePath filter — silent row loss on exactly the
                # malformed rows ElsePath exists for.
                cond = F.coalesce(F.expr(r["Condition"]), F.lit(False))
                lane_pred, lane_path = remaining & cond, r["Path"]

                def _w(pred=lane_pred, path=lane_path):
                    batch_df.where(pred).write.mode("append").format(
                        fmt
                    ).save(path)

                writes.append(_w)
                remaining = remaining & ~cond
            if else_path is not None:
                writes.append(
                    lambda pred=remaining: batch_df.where(pred)
                    .write.mode("append")
                    .format(fmt)
                    .save(else_path)
                )
            # lanes are disjoint filters over the persisted batch into
            # distinct paths — independent writes, overlapped so each
            # lane's straggler tail back-fills (guide §2.6). Crash
            # semantics are unchanged: file appends in foreachBatch
            # are at-least-once on batch replay regardless of order.
            run_concurrent(*writes)
        finally:
            batch_df.unpersist()

    return _drain(conf, routes[0]["Path"], route_batch)
