"""Descriptor → Spark ``StructType`` bridge.

Makes inferred schemas directly consumable by ``spark.read.json(schema=…)``
and friends — the Spark-native payoff the reference cannot offer (its only
output is DDL text, ``/root/reference/Schemer.scala:107-115``).

Mapping (SURVEY §1.5): ``???``→NullType, BOOLEAN→BooleanType,
VARCHAR(n)→VarcharType(n), STRING and ``TOP``→StringType, and the numeric
tiers of :func:`.render.numeric_tier`: the int ladder→Byte/Short/Integer/
LongType, FLOAT/DOUBLE→Float/DoubleType, NUMERIC(p,s)→DecimalType(min(p,38),
min(s,38)); ARRAY→ArrayType, STRUCT→StructType.  All fields nullable (Hive
semantics — the reference has no NOT NULL inference, SURVEY §1.4).

``for_read=True`` gives a schema ``spark.read`` accepts: ``???`` becomes
StringType (NullType does not read back) and VARCHAR(n) becomes StringType
(Spark rejects char/varchar in read schemas without the legacy flag).
"""

from __future__ import annotations

from pyspark.sql import types as T

from .lattice import MapOf, Arr, Bool, Descriptor, Num, Str, Struct, Top, Ts, Unknown
from .render import VARCHAR_MAX, numeric_tier

_TIER_TYPES = {
    "TINYINT": T.ByteType,
    "SMALLINT": T.ShortType,
    "INT": T.IntegerType,
    "BIGINT": T.LongType,
    "FLOAT": T.FloatType,
    "DOUBLE": T.DoubleType,
}


def to_spark_type(desc: Descriptor, for_read: bool = False) -> T.DataType:
    if isinstance(desc, Unknown):
        return T.StringType() if for_read else T.NullType()
    if isinstance(desc, MapOf):  # opt-in structs_to_maps deviation
        return T.MapType(T.StringType(), to_spark_type(desc.value, for_read), True)
    if isinstance(desc, Bool):
        return T.BooleanType()
    if isinstance(desc, Ts):
        return T.TimestampType() if desc.has_time else T.DateType()
    if isinstance(desc, Str):
        n = desc.max_len
        if 0 < n <= VARCHAR_MAX and not for_read:
            return T.VarcharType(n)
        return T.StringType()
    if isinstance(desc, Top):  # Spark's JSON reader keeps any value's text
        return T.StringType()
    if isinstance(desc, Num):
        name, p, s = numeric_tier(desc)
        if name == "NUMERIC":
            return T.DecimalType(min(p, 38), min(s, 38))
        return _TIER_TYPES[name]()
    if isinstance(desc, Arr):
        return T.ArrayType(to_spark_type(desc.element, for_read), True)
    if isinstance(desc, Struct):
        return to_spark_schema(desc, for_read)
    raise TypeError(f"unmappable descriptor: {desc!r}")


def to_spark_schema(desc: Descriptor, for_read: bool = False) -> T.StructType:
    """Top-level StructType for a struct descriptor (first-seen field order)."""
    if not isinstance(desc, Struct):
        raise TypeError("top-level schema must be a struct (object rows)")
    return T.StructType(
        [T.StructField(k, to_spark_type(v, for_read), True) for k, v in desc.fields.items()]
    )
