"""Layer A — the faithful core: NDJSON → Hive DDL schema inference,
re-expressed as a distributed Spark aggregation (SURVEY §2 operators 1-9)."""

from .api import SchemaGen
from .errors import BadJson, InconsistentArray, RowMismatch, SchemaGenError
from .evolve import Change, alter_statements, diff
from .infer import (
    InferenceResult,
    infer_json_column,
    infer_ndjson_strings,
    infer_path,
    parse_line,
)
from .lattice import (
    BOOL,
    EMPTY_STRUCT,
    UNKNOWN,
    Arr,
    Bool,
    Descriptor,
    Num,
    Str,
    Struct,
    TOP,
    Top,
    Ts,
    Unknown,
    describe,
    merge,
    observe,
)
from .render import VARCHAR_MAX, render_definition, render_table, render_type
from .spark_schema import to_spark_schema, to_spark_type

__all__ = [
    "SchemaGen",
    "Change",
    "alter_statements",
    "diff",
    "BadJson",
    "InconsistentArray",
    "RowMismatch",
    "SchemaGenError",
    "InferenceResult",
    "infer_json_column",
    "infer_ndjson_strings",
    "infer_path",
    "parse_line",
    "BOOL",
    "EMPTY_STRUCT",
    "UNKNOWN",
    "Arr",
    "Bool",
    "Descriptor",
    "Num",
    "Str",
    "Struct",
    "TOP",
    "Top",
    "Ts",
    "Unknown",
    "describe",
    "merge",
    "observe",
    "VARCHAR_MAX",
    "render_definition",
    "render_table",
    "render_type",
    "to_spark_schema",
    "to_spark_type",
]
