"""File-registry base: incremental-ingest bookkeeping.

A file registry is a small control table (Delta when available,
parquet fallback) recording which files/rows have been processed. It
is the engine's metadata-driven incremental scan planner (reference
``getl/fileregistry/``): loaders ask it for unprocessed inputs *before*
building the Spark plan — pruning at the file-list level, beneath what
Catalyst can see — and after the block named in ``UpdateAfter``
succeeds, the executor calls ``update()`` to commit the high-water
mark. At-least-once processing, effectively-once marking.
"""

from __future__ import annotations

import datetime as dt
import logging
from abc import ABC, abstractmethod
from typing import List

from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType, StringType, TimestampType

from getl_spark.common.scale import local_df

from getl_spark.common.tables import ManagedTable

LOGGER = logging.getLogger(__name__)

# past this batch size, update() stamps via a join instead of isin()
_ISIN_LIMIT = 1000
# an uncapped backlog above this size logs a warning recommending
# MaxFilesPerRun (reference parity keeps the default unbounded)
_BACKLOG_WARN_THRESHOLD = 100_000


def utcnow() -> dt.datetime:
    return dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)


class FileRegistry(ABC):
    @abstractmethod
    def load(self, path: str, suffix: str = ""):
        """Return unprocessed inputs (file list, or DataFrame of rows)."""

    @abstractmethod
    def update(self) -> None:
        """Commit the high-water mark after a successful lift."""


class ControlTableRegistry(FileRegistry, ABC):
    """Shared machinery for registries backed by a file_path control table."""

    schema = StructType(
        [
            StructField("file_path", StringType(), True),
            StructField("date_lifted", TimestampType(), True),
        ]
    )

    def __init__(self, bconf) -> None:
        self.spark = bconf.spark
        self.registry_path = bconf.get("BasePath")
        self.update_after = bconf.get("UpdateAfter", None)
        # Divergence from the reference (which has no bound): caps how
        # many pending files one run returns, so a multi-million-file
        # backlog can't funnel through the driver's collect() and a
        # single spark.read.load([...]) argument list. Deferred files
        # stay date_lifted=NULL and surface on the next run.
        self.max_files_per_run = bconf.get("MaxFilesPerRun", None)
        self._current_batch = None
        self.table = ManagedTable(self.spark, self.registry_path, schema=self.schema)
        if bconf.exists("HiveDatabaseName"):
            from getl_spark.common.tables import HiveTable

            HiveTable(
                self.spark, bconf.get("HiveDatabaseName"), bconf.get("HiveTableName")
            ).create(self.registry_path, self.db_schema())

    @classmethod
    def db_schema(cls) -> str:
        return ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in cls.schema)

    def update(self) -> None:
        """Stamp date_lifted=now() on every not-yet-lifted row (reference
        ``getl/fileregistry/fileregistry_utils.py:14-32``) — or, when a
        ``MaxFilesPerRun`` batch is active, only on the rows that were
        actually returned by ``load()`` (stamping the deferred ones
        would mark them processed without ever reading them)."""
        if self.table.exists():
            condition = F.col("date_lifted").isNull()
            stamp = {"date_lifted": F.lit(utcnow()).cast("timestamp")}
            batch = self._current_batch
            if batch is not None and len(batch) > _ISIN_LIMIT:
                # join-based stamping: an isin() over a huge batch builds
                # an In-expression as wide as the batch
                keys = local_df(self.spark,
                    [(p,) for p in batch], "file_path string"
                )
                self.table.update_matching(keys, "file_path", condition, stamp)
            else:
                if batch is not None:
                    condition = condition & F.col("file_path").isin(batch)
                self.table.update(condition, stamp)

    def _load_pending(self, listed: list, snapshot=None) -> List[str]:
        """Register the listed files the control table does not hold
        and return every pending (``date_lifted`` NULL) file, sorted.

        ``listed`` holds one control-table row per listed file,
        ``file_path`` first. One collect of
        (``file_path``, ``date_lifted``) — only the rows matching the
        ``snapshot`` condition, when given — tells the driver which
        files are new; those are appended with ``date_lifted`` NULL
        before any data is read, so a lift that fails before
        ``update()`` leaves them pending for the next run. A lift that
        lists nothing new writes nothing.
        """
        # reset up front: a stale batch from a prior load() on this
        # instance must never restrict a later update() to old paths
        self._current_batch = None
        known, pending = set(), set()
        df = self.table.read()
        if df is not None:
            if snapshot is not None:
                df = df.where(snapshot)
            for row in df.select("file_path", "date_lifted").collect():
                known.add(row.file_path)
                if row.date_lifted is None:
                    pending.add(row.file_path)
        new = {row[0]: row for row in listed if row[0] not in known}
        if new:
            self.table.write(local_df(self.spark, new.values(), self.schema))
            pending.update(new)
        paths = sorted(pending)
        cap = self.max_files_per_run
        if cap is None and len(paths) > _BACKLOG_WARN_THRESHOLD:
            LOGGER.warning(
                "file registry at %s has %s pending files and no "
                "MaxFilesPerRun bound — the whole backlog funnels through "
                "one driver collect() and one load; set MaxFilesPerRun to "
                "process it in bounded batches",
                self.registry_path, len(paths),
            )
        if cap is not None and len(paths) > int(cap):
            LOGGER.info(
                "MaxFilesPerRun=%s: returning %s of %s pending files "
                "(%s deferred to the next run)",
                cap, cap, len(paths), len(paths) - int(cap),
            )
            paths = paths[: int(cap)]
            self._current_batch = paths
        return paths
