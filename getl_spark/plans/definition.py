"""Lift-definition resolution: YAML fetch + ``${var}`` substitution.

Semantics match the reference (``getl/lift_definition.py:12-42``):

* A definition is YAML text, a local file path, or an ``s3://`` URI.
* Block execution order is YAML document order (dicts preserve
  insertion order in py3.7+, so plain ``yaml.safe_load`` suffices where
  the reference needed ``oyaml``).
* A string value that is *exactly* ``${name}`` is replaced by the raw
  Python object from ``parameters`` — this is how callables,
  StructTypes, and DataFrames are injected into a pipeline.
* Any other string has each embedded ``${name}`` interpolated
  textually. Unlike the reference's ``string.Template`` (which chokes
  on any bare ``$`` — e.g. in a JSONPath or SQL string), only the
  explicit ``${name}`` form is treated as a placeholder; a missing
  parameter still raises KeyError.
"""

from __future__ import annotations

import re
from typing import Any, Mapping

import yaml

from getl_spark.common.path import StoragePath

_RAW_PARAM = re.compile(r"^\$\{(\w+)\}$")
_EMBEDDED_PARAM = re.compile(r"\$\{(\w+)\}")


def fetch_definition(lift_def: str) -> dict:
    """Load the YAML mapping from a string, local path, or s3:// URI."""
    path = StoragePath(lift_def)
    if path.is_s3 or (lift_def.endswith((".yml", ".yaml")) and path.exists()):
        lift_def = path.read_text()
    loaded = yaml.safe_load(lift_def)
    if not isinstance(loaded, Mapping):
        raise ValueError("A lift definition must be a YAML mapping of sections")
    return dict(loaded)


def substitute(node: Any, parameters: Mapping[str, Any]) -> Any:
    """Recursively bind ``${var}`` parameters into the parsed tree."""
    if isinstance(node, Mapping):
        return {k: substitute(v, parameters) for k, v in node.items()}
    if isinstance(node, list):
        return [substitute(v, parameters) for v in node]
    if isinstance(node, str):
        match = _RAW_PARAM.match(node)
        if match:  # exact ${var} → raw object passthrough
            name = match.group(1)
            if name not in parameters:
                raise KeyError(f"Lift parameter '{name}' was not provided")
            return parameters[name]

        def interpolate(m: re.Match) -> str:
            name = m.group(1)
            if name not in parameters:
                raise KeyError(f"Lift parameter '{name}' was not provided")
            return str(parameters[name])

        return _EMBEDDED_PARAM.sub(interpolate, node)
    return node


def resolve_definition(lift_def: str, parameters: Mapping[str, Any] | None) -> dict:
    return substitute(fetch_definition(lift_def), parameters or {})
