"""Source (``load::*``) blocks.

Capability parity with ``getl/blocks/load/entrypoint.py`` (322 LoC):
batch csv/parquet/json/xml/delta, streamed json, and JDBC. All readers
go through ``spark.read`` so Catalyst gets scan-level pushdown, column
pruning, and partition pruning; incremental loads narrow the file list
*before* the scan via the FileRegistry (metadata-level pruning the
optimizer can't see).

Schema resolution for JSON/XML (reference ``load/entrypoint.py:102-117``),
in priority order: ``PySparkSchema`` (a StructType injected as a raw
``${param}``) → ``JsonSchemaPath`` (portable Spark-JSON schema file) →
``JsonSchema`` (inline dict) → ``inferSchema=true`` fallback.

XML uses Spark 4's native ``format("xml")`` (the reference needed the
spark-xml jar) and keeps the reference's 200-files-per-read batching
with a ``unionByName`` fold (``load/entrypoint.py:151-190``) to bound
per-read planning cost on huge file lists.
"""

from __future__ import annotations

import functools
import json
from typing import Callable, List, Optional, Union

from pyspark.sql import DataFrame, SparkSession, functions as F

from getl_spark.common.errors import NoDataToProcess
from getl_spark.common.path import StoragePath
from getl_spark.common.utils import json_to_spark_schema
from getl_spark.plans.context import BlockConfig


def resolve(func: Callable, bconf: BlockConfig) -> DataFrame:
    df = func(bconf)
    coerce_types = bconf.get("CoerceTypes", None)
    if coerce_types:
        # schema-drift guard: normalize drift-prone columns to the
        # types downstream blocks were written against (int width,
        # decimal→double, epoch int / string date → timestamp) — one
        # projection, JVM-side casts only
        from getl_spark.functions.schema import coerce

        df = coerce(df, coerce_types)
    alias = bconf.get("Alias", None)
    if alias:
        # The reference calls df.alias() and drops the result
        # (load/entrypoint.py:15-23); we apply the *intended* aliasing.
        df = df.alias(alias)
    return df


# ------------------------------------------------------------------ batch
def batch_csv(conf: BlockConfig) -> DataFrame:
    """Properties: ``Path``, ``Options`` (reader passthrough)."""
    return _batch_read(
        conf.spark,
        _registry_paths(conf, conf.get("Path"), ".csv"),
        "csv",
        _reader_options(conf),
    )


def batch_parquet(conf: BlockConfig) -> DataFrame:
    """Properties: ``Path``, ``FileRegistry``."""
    return _batch_read(
        conf.spark,
        _registry_paths(conf, conf.get("Path"), ".parquet"),
        "parquet",
        _reader_options(conf),
    )


def batch_orc(conf: BlockConfig) -> DataFrame:
    """Extension source: ORC (built into Spark, no extra jar), same
    surface as ``batch_parquet`` — ``Path``, ``Options``,
    ``FileRegistry`` narrowing on ``.orc`` files."""
    return _batch_read(
        conf.spark,
        _registry_paths(conf, conf.get("Path"), ".orc"),
        "orc",
        _reader_options(conf),
    )


def batch_text(conf: BlockConfig) -> DataFrame:
    """Extension source: raw text — the entry point for unprocessed
    corpus files. Properties: ``Path``, ``Suffix`` (default ``.txt``,
    for FileRegistry narrowing), ``WholeText`` (one row per FILE
    instead of per line — the usual corpus-document shape),
    ``PathColumn`` (add the source file path from the scan's
    ``_metadata``, so doc identity survives the load), ``Options``
    (reader passthrough, e.g. ``lineSep``)."""
    options = _reader_options(conf)
    if conf.get("WholeText", False):
        options["wholetext"] = True
    paths = _registry_paths(conf, conf.get("Path"), conf.get("Suffix", ".txt"))
    df = _batch_read(conf.spark, paths, "text", options)
    path_col = conf.get("PathColumn", None)
    if path_col:
        df = df.withColumn(path_col, F.col("_metadata.file_path"))
    return df


def batch_binary(conf: BlockConfig) -> DataFrame:
    """Extension source: raw binary files via Spark's ``binaryFile``
    format — the ingest entry point for multimodal corpora (images,
    audio, PDFs) feeding ``multimodal.to_media``. One row per file:
    ``(path, modificationTime, length, content: binary)`` — schema
    fixed by the format.

    Properties: ``Path``, ``PathGlobFilter`` (e.g. ``*.png`` — applied
    at FILE LISTING time, so non-matching files are never opened),
    ``Recursive`` (recursiveFileLookup), ``Suffix`` (FileRegistry
    narrowing, default no filter), ``FileRegistry``.

    Scale: content rows are whole files, so partition sizing is file
    sizing — keep ``spark.sql.files.maxPartitionBytes`` at or below
    executor batch budget; the format never splits a file. Column
    pruning applies: a plan that only reads ``path``/``length`` never
    fetches the bytes.
    """
    options = _reader_options(conf)
    glob = conf.get("PathGlobFilter", None)
    if glob:
        options["pathGlobFilter"] = glob
    if conf.get("Recursive", False):
        options["recursiveFileLookup"] = True
    paths = _registry_paths(conf, conf.get("Path"), conf.get("Suffix", ""))
    return _batch_read(conf.spark, paths, "binaryFile", options)


def batch_json(conf: BlockConfig) -> DataFrame:
    """Properties: ``Path``, ``Suffix``, schema options, ``Options``,
    ``FileRegistry``."""
    suffix = conf.get("Suffix", ".json")
    options = _reader_options(conf)
    schema = _resolve_schema(conf)
    if schema is not None:
        options["schema"] = schema
    else:
        options.setdefault("inferSchema", True)
    return _batch_read(
        conf.spark, _registry_paths(conf, conf.get("Path"), suffix), "json", options
    )


def batch_xml(conf: BlockConfig) -> DataFrame:
    """Properties: ``Path``, ``RowTag``, ``BatchSize`` (default 200),
    schema options. A list of paths is read in batches and folded with
    ``unionByName`` so a million-file backfill doesn't build one giant
    reader invocation."""
    paths = _registry_paths(conf, conf.get("Path"), ".xml")
    row_tag = conf.get("RowTag")
    batch_size = int(conf.get("BatchSize", 200))
    options = _reader_options(conf)
    options["rowTag"] = row_tag
    schema = _resolve_schema(conf)
    if schema is not None:
        options["schema"] = schema
    else:
        options.setdefault("inferSchema", True)
    if isinstance(paths, str):
        return _batch_read(conf.spark, paths, "xml", options)
    batches = [paths[i : i + batch_size] for i in range(0, len(paths), batch_size)]
    frames = [_batch_read(conf.spark, b, "xml", options) for b in batches]
    return functools.reduce(DataFrame.unionByName, frames)


def batch_delta(conf: BlockConfig) -> DataFrame:
    """Properties: ``Path``, ``FileRegistry`` (delta_diff → new rows
    only), ``ReadChangeFeed`` + ``StartingTimestamp`` (CDF). A missing
    table yields an empty DataFrame (reference
    ``load/entrypoint.py:217,234-236``)."""
    from pyspark.errors import AnalysisException

    path = conf.get("Path")
    if conf.exists("FileRegistry"):
        registry = conf.file_registry.get(conf.get("FileRegistry"))
        return registry.load(path)
    reader = conf.spark.read.format(_delta_or_parquet())
    if conf.get("ReadChangeFeed", False):
        reader = reader.option("readChangeFeed", "true").option(
            "startingTimestamp", conf.get("StartingTimestamp")
        )
    try:
        return reader.load(path)
    except AnalysisException as exc:
        if _is_missing_table_error(str(exc)):
            return conf.spark.createDataFrame([], "x INT").drop("x")
        raise


def jdbc(conf: BlockConfig) -> DataFrame:
    """Properties: ``Driver``, ``ConnUrl``, ``Table`` or ``Query``,
    ``User``, ``Password``, plus passthrough ``Options`` (e.g.
    partitionColumn/lowerBound/upperBound/numPartitions for parallel
    reads). ``Query`` pushes arbitrary SQL into the source database."""
    reader = (
        conf.spark.read.format("jdbc")
        .option("driver", conf.get("Driver"))
        .option("url", conf.get("ConnUrl"))
        .option("user", conf.get("User"))
        .option("password", conf.get("Password"))
    )
    if conf.exists("Query"):
        reader = reader.option("query", conf.get("Query"))
    else:
        reader = reader.option("dbtable", conf.get("Table"))
    for key, value in _reader_options(conf).items():
        reader = reader.option(key, value)
    return reader.load()


# -------------------------------------------------------------- streaming
def stream_json(conf: BlockConfig) -> DataFrame:
    """Streamed JSON source; schema is mandatory (streams can't infer).
    Properties: ``Path``, ``SchemaPath`` | ``JsonSchema`` |
    ``PySparkSchema``, ``MaxFilesPerTrigger`` (bound each micro-batch
    to N source files — the backpressure knob that keeps a backlogged
    drain from loading the whole backlog into one giant batch; with
    ``availableNow`` sinks the backlog still fully drains, split into
    bounded batches), ``OnMalformed``/``CorruptColumn`` (same policy
    surface as the batch loads)."""
    schema = _resolve_schema(conf, path_key="SchemaPath")
    if schema is None:
        raise ValueError("stream_json requires SchemaPath/JsonSchema/PySparkSchema")
    options = _reader_options(conf)
    max_files = conf.get("MaxFilesPerTrigger", None)
    if max_files is not None:
        options["maxFilesPerTrigger"] = int(max_files)
    return (
        conf.spark.readStream.schema(schema).options(**options).json(conf.get("Path"))
    )


def stream_parquet(conf: BlockConfig) -> DataFrame:
    """Streamed parquet source — incremental-batch over a directory
    that lands parquet files (the common bronze-layer shape). Schema
    mandatory like ``stream_json``; ``MaxFilesPerTrigger`` bounds each
    micro-batch. Properties: ``Path``, ``SchemaPath`` | ``JsonSchema``
    | ``PySparkSchema``, ``MaxFilesPerTrigger``."""
    schema = _resolve_schema(conf, path_key="SchemaPath")
    if schema is None:
        raise ValueError(
            "stream_parquet requires SchemaPath/JsonSchema/PySparkSchema"
        )
    options = _reader_options(conf)
    max_files = conf.get("MaxFilesPerTrigger", None)
    if max_files is not None:
        options["maxFilesPerTrigger"] = int(max_files)
    return (
        conf.spark.readStream.schema(schema)
        .options(**options)
        .parquet(conf.get("Path"))
    )


# -------------------------------------------------------------- internals
def _delta_or_parquet() -> str:
    from getl_spark.common.tables import DEFAULT_FORMAT

    return DEFAULT_FORMAT


def _is_missing_table_error(msg: str) -> bool:
    return any(
        marker in msg
        for marker in (
            "PATH_NOT_FOUND",
            "is not a Delta table",
            "does not exist",
            "doesn't exist",
            "UNABLE_TO_INFER_SCHEMA",
        )
    )


_MALFORMED_MODES = {
    "keep": "PERMISSIVE",
    "drop": "DROPMALFORMED",
    "fail": "FAILFAST",
}


def _reader_options(conf: BlockConfig) -> dict:
    """Reader passthrough ``Options`` plus the ``OnMalformed`` policy
    for semi-structured formats (csv/json/xml): ``keep`` (PERMISSIVE —
    Spark's default, bad rows become nulls / land in
    ``CorruptColumn`` when set), ``drop`` (DROPMALFORMED), ``fail``
    (FAILFAST — abort the lift on the first bad row). A crawl ingest
    wants ``drop``; a financial feed wants ``fail``; ``keep`` +
    ``CorruptColumn`` quarantines the raw bad lines for inspection."""
    options = dict(conf.get("Options", {}) or {})
    on_malformed = conf.get("OnMalformed", None)
    if on_malformed is not None:
        if on_malformed not in _MALFORMED_MODES:
            raise ValueError(
                f"OnMalformed must be one of {sorted(_MALFORMED_MODES)}, "
                f"got '{on_malformed}'"
            )
        options["mode"] = _MALFORMED_MODES[on_malformed]
    corrupt_col = conf.get("CorruptColumn", None)
    if corrupt_col:
        options["columnNameOfCorruptRecord"] = corrupt_col
    return options


def _batch_read(
    spark: SparkSession,
    paths: Union[str, List[str]],
    fmt: str,
    options: dict,
) -> DataFrame:
    schema = options.pop("schema", None)
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if isinstance(paths, str):
        return reader.load(paths, format=fmt, **options)
    return reader.load(list(paths), format=fmt, **options)


def _registry_paths(
    conf: BlockConfig, path: str, suffix: str
) -> Union[str, List[str]]:
    """Narrow the read to unprocessed files when a FileRegistry is
    attached (reference ``load/entrypoint.py:311-322``). An empty list
    raises NoDataToProcess → the whole job exits cleanly."""
    if not conf.exists("FileRegistry"):
        return path
    registry = conf.file_registry.get(conf.get("FileRegistry"))
    files = registry.load(path, suffix)
    if not files:
        raise NoDataToProcess
    return files


def _resolve_schema(conf: BlockConfig, path_key: str = "JsonSchemaPath"):
    if conf.exists("PySparkSchema"):
        return conf.get("PySparkSchema")
    if conf.exists(path_key):
        text = StoragePath(conf.get(path_key)).read_text()
        return json_to_spark_schema(json.loads(text))
    if conf.exists("JsonSchema"):
        return json_to_spark_schema(conf.get("JsonSchema"))
    return None
