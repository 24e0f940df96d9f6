"""Storage-format compatibility layer: Delta when available, parquet fallback.

The reference is Delta-first (``getl/common/delta_table.py:14-60``,
``getl/blocks/write/batch_delta.py``). Production deployments of this
engine should run with delta-spark, which gives ACID upsert/merge, time
travel, OPTIMIZE/ZORDER and VACUUM. This container has no delta-spark,
so every Delta capability the engine needs is defined here behind one
``ManagedTable`` abstraction with two backends:

* ``delta`` — thin calls into ``DeltaTable`` / Delta SQL, identical in
  spirit to the reference.
* ``parquet`` fallback — same *semantics* (merge-upsert, conditional
  update) expressed as pure DataFrame plans plus a directory swap.
  Correctness-equivalent; not ACID under concurrent writers, and
  rewrites are O(table) — documented tradeoff, used for tests and
  delta-less environments only.

Merge contract: the user-supplied merge statement references the fixed
aliases ``source`` (existing rows) and ``updates`` (incoming rows) —
same contract as the reference (``getl/blocks/write/entrypoint.py:228``).
"""

from __future__ import annotations

import os
import shutil
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from getl_spark.common.scale import pin

try:
    from delta.tables import DeltaTable

    HAS_DELTA = True
except ImportError:
    DeltaTable = None
    HAS_DELTA = False

DEFAULT_FORMAT = "delta" if HAS_DELTA else "parquet"


class ManagedTable:
    """A path-addressed table supporting write modes and merge/upsert."""

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        fmt: Optional[str] = None,
        schema: Optional[StructType] = None,
    ):
        self.spark = spark
        self.path = path
        self.fmt = fmt or DEFAULT_FORMAT
        self.schema = schema

    # ---------------------------------------------------------------- basics
    def exists(self) -> bool:
        if self.fmt == "delta":
            return DeltaTable.isDeltaTable(self.spark, self.path)
        if os.path.isdir(self.path):
            return any(
                f.endswith(".parquet") or f == "_SUCCESS"
                for f in os.listdir(self.path)
            )
        return False

    def read(self) -> Optional[DataFrame]:
        """The table, or None when absent. A declared ``schema`` spares
        the parquet fallback its schema-inference job; Delta refuses a
        read-time schema and keeps its own."""
        if not self.exists():
            return None
        reader = self.spark.read.format(self.fmt)
        if self.schema is not None and self.fmt != "delta":
            reader = reader.schema(self.schema)
        return reader.load(self.path)

    def write(
        self,
        df: DataFrame,
        mode: str = "append",
        partition_by: Optional[List[str]] = None,
        merge_schema: bool = False,
    ) -> None:
        writer = df.write.format(self.fmt).mode(mode)
        if partition_by:
            writer = writer.partitionBy(partition_by)
        if merge_schema:
            writer = writer.option("mergeSchema", "true")
        writer.save(self.path)

    # ---------------------------------------------------------------- merges
    def upsert_all(self, updates: DataFrame, merge_statement: str) -> None:
        """Merge: matched rows replaced by updates, unmatched inserted.

        Delta: ``whenMatchedUpdateAll + whenNotMatchedInsertAll``
        (reference ``getl/common/delta_table.py:27-40``). Fallback: the
        equivalent relational identity
        ``result = updates UNION ALL (source ANTI JOIN updates)``.
        """
        if not self.exists():
            self.write(updates, mode="overwrite")
            return
        if self.fmt == "delta":
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("source")
                .merge(updates.alias("updates"), merge_statement)
                .whenMatchedUpdateAll()
                .whenNotMatchedInsertAll()
                .execute()
            )
            return
        result = self._merge_fallback(self.read(), updates, merge_statement)
        self._rewrite(result)

    def update(self, condition, assignments: dict) -> None:
        """Conditionally update columns (registry high-water stamping,
        reference ``getl/fileregistry/fileregistry_utils.py:18-21``).

        ``condition`` is a Column; ``assignments`` maps column name →
        Column expression applied where the condition holds.
        """
        if self.fmt == "delta":
            DeltaTable.forPath(self.spark, self.path).update(condition, assignments)
            return
        from pyspark.sql import functions as F

        df = self.read()
        for name, expr in assignments.items():
            df = df.withColumn(name, F.when(condition, expr).otherwise(F.col(name)))
        self._rewrite(df)

    def update_matching(
        self, keys: DataFrame, key_col: str, condition, assignments: dict
    ) -> None:
        """Join-based conditional update: rows whose ``key_col`` appears
        in ``keys`` AND satisfy ``condition`` get ``assignments``
        applied. The set-membership test runs as a (broadcastable) join
        instead of an ``isin()`` list, which would otherwise build an
        In-expression as wide as the key set — a codegen/analysis
        hazard past a few thousand values."""
        if self.fmt == "delta":
            (
                DeltaTable.forPath(self.spark, self.path)
                .alias("source")
                .merge(
                    keys.select(key_col).alias("updates"),
                    f"source.{key_col} = updates.{key_col}",
                )
                .whenMatchedUpdate(condition=condition, set=assignments)
                .execute()
            )
            return
        from pyspark.sql import functions as F

        flag = "__getl_in_keys"
        marked = self.read().join(
            keys.select(key_col).distinct().withColumn(flag, F.lit(True)),
            key_col,
            "left",
        )
        cond = condition & F.col(flag).isNotNull()
        for name, expr in assignments.items():
            marked = marked.withColumn(name, F.when(cond, expr).otherwise(F.col(name)))
        self._rewrite(marked.drop(flag))

    def scd2_merge(
        self,
        updates: DataFrame,
        keys: List[str],
        ts_col: str,
        compare_cols: Optional[List[str]] = None,
        valid_from_col: str = "valid_from",
        valid_to_col: str = "valid_to",
        current_col: str = "is_current",
    ) -> None:
        """Slowly-changing-dimension type-2 merge: the table keeps FULL
        version history — each business row carries ``valid_from`` /
        ``valid_to`` / ``is_current``, and an incoming batch (keyed by
        ``keys``, effective at its ``ts_col`` value) closes the current
        version of every key whose ``compare_cols`` changed and opens a
        new current version; unchanged keys are untouched; new keys are
        inserted. Within a batch the latest ``ts_col`` row per key wins
        (earlier same-batch versions are intermediate states the batch
        itself superseded). Batches are assumed effective-time
        monotonic per key — the standard SCD2 ingest contract.

        Scale shape: one keyed join of CURRENT rows × the batch —
        history rows only pass through the rewrite. On Delta this
        becomes file-level MERGE I/O; the parquet fallback rewrites the
        table like ``upsert_all`` does.
        """
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        if ts_col not in updates.columns:
            raise ValueError(
                f"scd2_merge: ts_col '{ts_col}' not in batch columns "
                f"{updates.columns}"
            )
        missing = [k for k in keys if k not in updates.columns]
        if missing:
            raise ValueError(
                f"scd2_merge: key columns {missing} not in batch columns "
                f"{updates.columns}"
            )
        reserved = {valid_from_col, valid_to_col, current_col} & set(updates.columns)
        if reserved:
            raise ValueError(
                f"scd2_merge: batch carries reserved SCD2 columns {sorted(reserved)}"
            )
        business = [c for c in updates.columns if c != ts_col]
        if compare_cols is None:
            compare_cols = [c for c in business if c not in keys]
        # latest row per key within the batch — the shared latest-wins
        # compaction primitive (same semantics as write::stream_upsert's
        # OrderBy merge)
        from getl_spark.functions.dedup import latest_by_key

        batch = latest_by_key(updates, list(keys), ts_col)
        fresh = batch.select(
            *[F.col(c) for c in business],
            F.col(ts_col).cast("timestamp").alias(valid_from_col),
            F.lit(None).cast("timestamp").alias(valid_to_col),
            F.lit(True).alias(current_col),
        )
        if not self.exists():
            self.write(fresh, mode="overwrite")
            return
        target = self.read()
        history = target.where(~F.col(current_col))
        current = target.where(F.col(current_col))
        # match detection via a literal marker, NOT __u_ts nullability:
        # the join is eqNullSafe (NULL keys legal) and a batch row can
        # legitimately carry a NULL effective time
        probe = batch.select(
            *[F.col(k).alias(f"__u_{k}") for k in keys],
            *[F.col(c).alias(f"__u_{c}") for c in compare_cols],
            F.col(ts_col).cast("timestamp").alias("__u_ts"),
            F.lit(True).alias("__u_m"),
        )
        cond = None
        for k in keys:
            eq = F.col(k).eqNullSafe(F.col(f"__u_{k}"))
            cond = eq if cond is None else cond & eq
        same = F.lit(True)
        for c in compare_cols:
            same = same & F.col(c).eqNullSafe(F.col(f"__u_{c}"))
        joined = current.join(probe, cond, "left")
        matched = F.col("__u_m").isNotNull()
        # changed current rows close at the update's effective time;
        # unmatched or unchanged current rows pass through untouched
        closed_or_kept = joined.select(
            *[F.col(c) for c in target.columns if c not in (valid_to_col, current_col)],
            F.when(matched & ~same, F.col("__u_ts"))
            .otherwise(F.col(valid_to_col))
            .alias(valid_to_col),
            F.when(matched & ~same, F.lit(False))
            .otherwise(F.col(current_col))
            .alias(current_col),
        ).select(*target.columns)
        # batch rows that are new keys or changed versions open as current
        cur_probe = current.select(
            *[F.col(k).alias(f"__c_{k}") for k in keys],
            *[F.col(c).alias(f"__c_{c}") for c in compare_cols],
            F.lit(True).alias("__c_m"),
        )
        ccond = None
        for k in keys:
            eq = F.col(k).eqNullSafe(F.col(f"__c_{k}"))
            ccond = eq if ccond is None else ccond & eq
        csame = F.lit(True)
        for c in compare_cols:
            csame = csame & F.col(c).eqNullSafe(F.col(f"__c_{c}"))
        opened = (
            fresh.join(cur_probe, ccond, "left")
            .where(F.col("__c_m").isNull() | ~csame)
            .select(*fresh.columns)
        )
        result = history.select(*target.columns).unionByName(
            closed_or_kept
        ).unionByName(opened.select(*target.columns))
        if self.fmt == "delta" and self.exists():
            # compute-then-overwrite is still ACID on Delta
            self.write(result.transform(pin), mode="overwrite")
            return
        self._rewrite(result)

    # ------------------------------------------------------------ maintenance
    def optimize(
        self,
        zorder_by: Optional[List[str]] = None,
        target_file_bytes: Optional[int] = None,
    ) -> None:
        """Delta OPTIMIZE [ZORDER BY] (reference
        ``getl/blocks/write/batch_delta.py:116-134``); parquet fallback
        compacts to ``ceil(table_bytes / target_file_bytes)`` files
        (default ~1 GiB, Delta's OPTIMIZE target), rewriting with a
        true Morton-interleaved cluster (``functions.layout``) when the
        zorder columns are numeric/temporal — every file's min/max
        stats end up tight on ALL the zorder columns, not just the
        first — and falls back to a lexicographic sort for other column
        types."""
        if self.fmt == "delta":
            from pyspark.errors import ParseException

            size_conf = "spark.databricks.delta.optimize.maxFileSize"
            prior: Optional[str] = None
            if target_file_bytes:
                # best-effort: OSS/Databricks Delta reads this conf for
                # its OPTIMIZE file-size target; unknown confs are
                # harmless. Scoped to this statement — restored in the
                # finally so later optimize() calls on the shared
                # session don't inherit this call's target.
                prior = self.spark.conf.get(size_conf, None)
                self.spark.conf.set(size_conf, str(target_file_bytes))
            zorder = f" ZORDER BY ({', '.join(zorder_by)})" if zorder_by else ""
            try:
                self.spark.sql(f"OPTIMIZE delta.`{self.path}`{zorder}")
            except ParseException:  # OSS Spark without Delta SQL support
                pass
            finally:
                if target_file_bytes:
                    if prior is None:
                        self.spark.conf.unset(size_conf)
                    else:
                        self.spark.conf.set(size_conf, prior)
            return
        df = self.read()
        if df is None:
            return
        num_files = self._compaction_file_count(target_file_bytes, df)
        if zorder_by:
            from getl_spark.functions import layout

            try:
                df = layout.cluster_by_zorder(df, list(zorder_by), num_files)
            except ValueError:  # non-numeric zorder column
                # range-partition on the sort key, NOT round-robin: a
                # round-robin repartition scatters rows so every file's
                # min/max spans the whole range and footer stats prune
                # nothing
                df = df.repartitionByRange(num_files, *zorder_by).sortWithinPartitions(
                    *zorder_by
                )
        else:
            # plain compaction: coalesce (no shuffle) down to the
            # size-derived file count
            df = df.coalesce(num_files)
        self._rewrite(df)

    _TARGET_FILE_BYTES = 1 << 30  # Delta OPTIMIZE's ~1 GiB default

    def _compaction_file_count(
        self,
        target_file_bytes: Optional[int] = None,
        df: Optional[DataFrame] = None,
    ) -> int:
        """OPTIMIZE output file count from TABLE SIZE, not from the
        existing partition count — a fragmented table's own partition
        count would write the fragmentation straight back (many small
        files in → the same many small files out)."""
        try:
            sc = self.spark.sparkContext
            jpath = sc._jvm.org.apache.hadoop.fs.Path(self.path)
            fs = jpath.getFileSystem(sc._jsc.hadoopConfiguration())
            total_bytes = fs.getContentSummary(jpath).getLength()
        except Exception:  # unreachable stats (e.g. Connect) — no-op size
            from getl_spark.common.scale import is_classic

            df = df if df is not None else self.read()
            if df is None or not is_classic(df):
                # Connect: no rdd probe either — compact to one file
                # only when we know nothing (the conservative floor)
                return 1
            return max(df.rdd.getNumPartitions(), 1)
        return max(1, -(-total_bytes // (target_file_bytes or self._TARGET_FILE_BYTES)))

    def vacuum(self, retain_hours: int = 168) -> None:
        if self.fmt == "delta":
            from pyspark.errors import ParseException

            try:
                self.spark.sql(
                    f"VACUUM delta.`{self.path}` RETAIN {max(retain_hours, 168)} HOURS"
                )
            except ParseException:
                pass
        # parquet fallback keeps no history → nothing to vacuum

    # ------------------------------------------------------------- internals
    def _merge_fallback(
        self, source: DataFrame, updates: DataFrame, merge_statement: str
    ) -> DataFrame:
        """Express the upsert as anti-join + union through spark.sql so
        the user's ``source.x = updates.x`` condition parses unchanged."""
        sv = f"getl_merge_source_{uuid.uuid4().hex[:8]}"
        uv = f"getl_merge_updates_{uuid.uuid4().hex[:8]}"
        source.createOrReplaceTempView(sv)
        updates.createOrReplaceTempView(uv)
        try:
            sql = f"""
                SELECT updates.* FROM {uv} AS updates
                UNION ALL
                SELECT source.* FROM {sv} AS source
                LEFT ANTI JOIN {uv} AS updates ON {merge_statement}
            """
            # Stays lazy and distributed: _rewrite targets a temp dir,
            # so the plan may keep reading self.path while writing.
            return self.spark.sql(sql)
        finally:
            self.spark.catalog.dropTempView(sv)
            self.spark.catalog.dropTempView(uv)

    def _rewrite(self, df: DataFrame) -> None:
        """Atomically replace the table contents (fallback only).

        Writes to a sibling temp dir then swaps, because Spark cannot
        overwrite a path that is an input of the running plan. The old
        table is renamed aside, the new one moved in, and only then is
        the old one deleted, so a crash never loses both; a failed
        move-in puts the old table back.
        """
        if self.path.startswith(("s3://", "s3a://")):
            raise NotImplementedError(
                "parquet-fallback rewrite on object storage is unsafe; "
                "install delta-spark for ACID merges"
            )
        token = uuid.uuid4().hex[:8]
        tmp = f"{self.path}__getl_tmp_{token}"
        df.write.format(self.fmt).mode("overwrite").save(tmp)
        if not os.path.isdir(self.path):
            os.replace(tmp, self.path)
            return
        old = f"{self.path}__getl_old_{token}"
        os.replace(self.path, old)
        try:
            os.replace(tmp, self.path)
        except BaseException:
            os.replace(old, self.path)
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        shutil.rmtree(old)


class HiveTable:
    """Catalog registration over a path (reference
    ``getl/common/hive_table.py:20-38``)."""

    def __init__(self, spark: SparkSession, database: str, table: str):
        self.spark = spark
        self.database = database
        self.table = table

    def create(self, location: str, columns: str = "", partitioned_by: str = "") -> None:
        fmt = "DELTA" if HAS_DELTA else "PARQUET"
        self.spark.sql(f"CREATE DATABASE IF NOT EXISTS {self.database}")
        cols = f" ({columns})" if columns else ""
        part = f" PARTITIONED BY ({partitioned_by})" if partitioned_by else ""
        self.spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.database}.{self.table}{cols} "
            f"USING {fmt}{part} LOCATION '{location}'"
        )
