"""NDJSON source — the reference's only scan, Spark-native.

Operator 1 of SURVEY §2: the reference reads lines lazily
(``Source.fromFile(file).getLines``, ``/root/reference/Schemer.scala:11``).
Spark-side, a line scan is ``spark.read.text`` (DataFrame, splittable,
predicate/limit pushdown capable); once a schema exists — e.g. from our own
inference — the typed read is ``spark.read.schema(s).json``, which keeps
parsing JVM-side (Jackson) instead of per-row Python.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..schema_infer import SchemaGen


def read_ndjson_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw line scan: one ``value: string`` row per line."""
    return spark.read.text(path)


def read_ndjson(
    spark: SparkSession, path: str, mode: str = "FAILFAST", schema=None
) -> DataFrame:
    """Typed NDJSON read: infer the strictest schema with the Layer-A lattice
    (unless given), then load with Spark's JVM JSON reader.

    This is the end-to-end payoff of the engine: the reference only *prints*
    DDL; here the inferred schema immediately drives a typed distributed scan
    (:meth:`SchemaGen.dataframe`, whose read schema has ``for_read=True``:
    ``???`` columns load as strings, because NullType is not readable back).
    The schema is inferred as the CLI infers it, by :class:`SchemaGen`: a
    small plain local file folds with no Spark job, anything else in one;
    only the typed read runs on ``spark``.
    """
    if schema is None:
        return SchemaGen(path, spark, mode=mode).dataframe()
    return spark.read.schema(schema).json(path)
