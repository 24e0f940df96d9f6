"""Row-level incremental registry
(reference ``getl/fileregistry/delta_diff.py``).

Returns the *rows* added since the last lift, not files. With Delta:
time-travel the source to the version current at the stored watermark
and anti-join it against the head version on ``JoinOnFields`` — an
incremental diff without recomparing history, with Catalyst free to
pick broadcast/sort-merge for the anti-join. Without Delta (this
container), the same contract is kept by snapshotting the source's key
columns at ``update()`` time and anti-joining the live table against
the snapshot — only ``JoinOnFields`` are stored, so the snapshot is a
narrow key table, not a copy of the data. Snapshots are written to
append-only versioned subdirectories (``snapshot/v<N>``) so DataFrames
returned by ``load()`` stay valid after ``update()`` commits — the
same reason Delta itself never deletes live files.

The watermark is a single-row control table (``version_date``), as the
reference.
"""

from __future__ import annotations

import datetime as dt
from typing import Optional

from pyspark.sql import DataFrame, functions as F

from getl_spark.common.path import StoragePath
from getl_spark.common.scale import pin, local_df
from getl_spark.common.tables import HAS_DELTA, ManagedTable
from getl_spark.registry.base import FileRegistry, utcnow


class DeltaDiff(FileRegistry):
    def __init__(self, bconf) -> None:
        self.spark = bconf.spark
        self.base_path = bconf.get("BasePath").rstrip("/")
        self.update_after = bconf.get("UpdateAfter", None)
        self.join_fields = bconf.get("JoinOnFields")
        default = bconf.get("DefaultStartDate")
        self.default_start = (
            default
            if isinstance(default, dt.datetime)
            else dt.datetime.fromisoformat(str(default))
        )
        self.watermark_table = ManagedTable(self.spark, f"{self.base_path}/watermark")
        self.snapshot_dir = f"{self.base_path}/snapshot"
        self._source_path: Optional[str] = None
        self._as_of: Optional[dt.datetime] = None
        self._staged_keys: Optional[DataFrame] = None

    # ------------------------------------------------------------------ api
    def load(self, path: str, suffix: str = "") -> DataFrame:
        """Pins the as-of moment (and, without Delta, the exact key set)
        at load time; ``update()`` commits that pinned state, never the
        live source. Rows committed to the source between ``load()`` and
        ``update()`` therefore reappear on the next run (at-least-once)
        instead of being silently skipped — the same guarantee the
        reference gets by pinning ``current_date`` once
        (``getl/fileregistry/delta_diff.py``)."""
        self._source_path = path
        self._as_of = utcnow()
        current = self.spark.read.format(
            "delta" if HAS_DELTA else "parquet"
        ).load(path)
        if not HAS_DELTA:
            # Eagerly materialize the key set present right now —
            # pin() materializes it so a later update() commits these
            # keys, not whatever the source holds by then. The distinct
            # keys are computed exactly once (update() reuses the pin).
            self._staged_keys = (
                current.select(*self.join_fields).distinct().transform(pin)
            )
        baseline = self._baseline(path)
        if baseline is None:
            return current
        return current.join(baseline, self.join_fields, how="anti")

    def update(self) -> None:
        watermark = local_df(self.spark,
            [(self._as_of or utcnow(),)], "version_date timestamp"
        )
        self.watermark_table.write(watermark, mode="overwrite")
        if not HAS_DELTA and self._staged_keys is not None:
            self._staged_keys.write.mode("overwrite").parquet(
                f"{self.snapshot_dir}/v{self._latest_snapshot_version() + 1}"
            )

    # ------------------------------------------------------------ internals
    def _baseline(self, path: str) -> Optional[DataFrame]:
        """The as-of-last-lift view of the source (keys only)."""
        if HAS_DELTA:
            last = self._last_lift_time()
            if last is None:
                return None
            version = self._version_at(path, last)
            if version is None:
                return None
            return (
                self.spark.read.format("delta")
                .option("versionAsOf", version)
                .load(path)
                .select(*self.join_fields)
            )
        version = self._latest_snapshot_version()
        if version < 0:
            return None
        return self.spark.read.parquet(f"{self.snapshot_dir}/v{version}")

    def _latest_snapshot_version(self) -> int:
        versions = [
            int(d[1:])
            for d in StoragePath(self.snapshot_dir).listdir()
            if d.startswith("v") and d[1:].isdigit()
        ]
        return max(versions, default=-1)

    def _last_lift_time(self) -> Optional[dt.datetime]:
        df = self.watermark_table.read()
        if df is None:
            return self.default_start
        row = df.agg(F.max("version_date").alias("m")).collect()[0]
        return row.m or self.default_start

    def _version_at(self, path: str, moment: dt.datetime) -> Optional[int]:
        """Latest Delta version committed at or before ``moment``
        (reference ``delta_diff.py:48-64``)."""
        history = self.spark.sql(f"DESCRIBE HISTORY delta.`{path}`")
        row = (
            history.where(F.col("timestamp") <= F.lit(moment))
            .orderBy(F.col("version").desc())
            .limit(1)
            .collect()
        )
        return row[0].version if row else None
