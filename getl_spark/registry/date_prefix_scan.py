"""Date-prefix-scan file registry
(reference ``getl/fileregistry/s3_date_prefix_scan.py``).

For data laid out under strftime-shaped prefixes
(``year=%Y/month=%m/day=%d`` or ``%Y/%m/%d/%H``), only the prefixes in
the window ``[max(prefix_date), now]`` are enumerated — partition-
pruned *discovery*, so a ten-year-old lake with millions of files
costs one day's listing per run. The last lifted prefix is re-scanned
on purpose to pick up late-arriving files; re-discovered files are
dropped on the driver against the control-table rows of that window.
"""

from __future__ import annotations

import datetime as dt
from typing import Iterator, List

from pyspark.sql import functions as F
from pyspark.sql.types import (
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from getl_spark.common.utils import list_files
from getl_spark.registry.base import ControlTableRegistry, utcnow


def _granularity(fmt: str) -> str:
    if "%H" in fmt:
        return "hour"
    if "%d" in fmt or "%j" in fmt:
        return "day"
    if "%m" in fmt:
        return "month"
    return "year"


def _advance(moment: dt.datetime, granularity: str) -> dt.datetime:
    if granularity == "hour":
        return moment + dt.timedelta(hours=1)
    if granularity == "day":
        return moment + dt.timedelta(days=1)
    if granularity == "month":
        if moment.month == 12:
            return moment.replace(year=moment.year + 1, month=1, day=1)
        return moment.replace(month=moment.month + 1, day=1)
    return moment.replace(year=moment.year + 1, month=1, day=1)


def _truncate(moment: dt.datetime, granularity: str) -> dt.datetime:
    if granularity == "hour":
        return moment.replace(minute=0, second=0, microsecond=0)
    if granularity == "day":
        return moment.replace(hour=0, minute=0, second=0, microsecond=0)
    if granularity == "month":
        return moment.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    return moment.replace(month=1, day=1, hour=0, minute=0, second=0, microsecond=0)


def date_range(
    start: dt.datetime, stop: dt.datetime, fmt: str
) -> Iterator[dt.datetime]:
    """Prefix datetimes from start to stop inclusive, stepped at the
    format's finest unit (pure function — property-tested)."""
    granularity = _granularity(fmt)
    current = _truncate(start, granularity)
    stop = _truncate(stop, granularity)
    while current <= stop:
        yield current
        current = _advance(current, granularity)


class DatePrefixScan(ControlTableRegistry):
    schema = StructType(
        [
            StructField("file_path", StringType(), True),
            StructField("prefix_date", TimestampType(), True),
            StructField("date_lifted", TimestampType(), True),
        ]
    )

    def __init__(self, bconf) -> None:
        super().__init__(bconf)
        self.partition_format = bconf.get("PartitionFormat")
        default = bconf.get("DefaultStartDate")
        if isinstance(default, dt.datetime):
            self.default_start = default
        elif isinstance(default, dt.date):
            self.default_start = dt.datetime.combine(default, dt.time())
        else:
            self.default_start = dt.datetime.fromisoformat(str(default))

    def load(self, path: str, suffix: str = "") -> List[str]:
        start = self._high_water_mark()
        listed = []
        for prefix_date in date_range(start, utcnow(), self.partition_format):
            prefix = prefix_date.strftime(self.partition_format)
            for file_path in list_files(f"{path.rstrip('/')}/{prefix}", suffix):
                listed.append((file_path, prefix_date, None))
        # the snapshot covers the listed window and the pending rows,
        # never the whole lifted history
        first = _truncate(start, _granularity(self.partition_format))
        window = (F.col("prefix_date") >= F.lit(first)) | F.col("date_lifted").isNull()
        return self._load_pending(listed, window)

    def _high_water_mark(self) -> dt.datetime:
        df = self.table.read()
        if df is None:
            return self.default_start
        row = df.agg(F.max("prefix_date").alias("m")).collect()[0]
        return row.m if row.m else self.default_start
