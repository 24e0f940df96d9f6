"""Custom (``custom::*``) escape-hatch blocks.

Parity with ``getl/blocks/custom/entrypoint.py``:

* ``python_codeblock`` — whole-DataFrame user function. The callable
  arrives either as a raw ``${param}`` (``CustomFunction``) or as a
  path to a ``.py`` file exposing ``resolve(params)``
  (``CustomCodePath``, local or s3). It receives
  ``{"dataframes": {name: df}, **CustomProps}`` and returns a DataFrame
  or a dict of DataFrames (multi-output, validated against ``Output``).
  ``Packages`` pip-installs into a temp dir appended to ``sys.path``
  (driver-side only — executors need the deps shipped via
  ``spark.submit.pyFiles``/images in production).
* ``sql`` — raw Spark SQL. Strictly more useful than the reference's:
  every prior block is registered as a temp view (see
  ``plans/context.py``), so statements can reference earlier pipeline
  stages relationally, and the full Spark SQL operator surface
  (grouping sets, windows, CTEs, hints) is available declaratively.
"""

from __future__ import annotations

import importlib.util
import subprocess
import sys
import tempfile
from typing import Callable, Dict, List, Union

from pyspark.sql import DataFrame

from getl_spark.common.path import StoragePath
from getl_spark.plans.context import BlockConfig


def resolve(func: Callable, bconf: BlockConfig) -> Union[DataFrame, Dict[str, DataFrame]]:
    return func(bconf)


def python_codeblock(conf: BlockConfig) -> Union[DataFrame, Dict[str, DataFrame]]:
    """Properties: ``CustomFunction`` | ``CustomCodePath``,
    ``CustomProps``, ``Packages``, ``Output`` (for multi-output)."""
    if conf.exists("Packages"):
        _pip_install(conf.get("Packages"))
    if conf.exists("CustomFunction"):
        func = conf.get("CustomFunction")
    else:
        func = _load_resolve_from_path(conf.get("CustomCodePath"))
    params = dict(conf.get("CustomProps", {}) or {})
    params["dataframes"] = _input_dataframes(conf)
    return func(params)


def sql(conf: BlockConfig) -> DataFrame:
    """Properties: ``Statement`` — any Spark SQL, incl. DDL/OPTIMIZE."""
    return conf.spark.sql(conf.get("Statement"))


# ------------------------------------------------------------------ intern
def _input_dataframes(conf: BlockConfig) -> Dict[str, DataFrame]:
    names: List[str] = []
    if isinstance(conf.input, str):
        names = [conf.input]
    elif isinstance(conf.input, list):
        names = conf.input
    return {name: conf.history.get(name) for name in names}


def _load_resolve_from_path(code_path: str) -> Callable:
    source = StoragePath(code_path)
    if source.is_s3:
        with tempfile.NamedTemporaryFile("wb", suffix=".py", delete=False) as tmp:
            tmp.write(source.read_bytes())
        code_path = tmp.name
    spec = importlib.util.spec_from_file_location("getl_custom_code", code_path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    if not hasattr(module, "resolve"):
        raise ValueError(f"Custom code at {code_path} must define resolve(params)")
    return module.resolve


def _pip_install(packages: List[str]) -> None:
    target = tempfile.mkdtemp(prefix="getl_pkgs_")
    subprocess.check_call(
        [sys.executable, "-m", "pip", "install", "-t", target, *packages]
    )
    sys.path.insert(0, target)
