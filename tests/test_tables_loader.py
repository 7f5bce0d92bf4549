"""Loader contract: ``load_table(..., "events").ts`` is always TimestampType.

The driver regenerates ``/root/testdata`` between rounds and has already
flipped the physical encoding of ``events.ts`` once (TIMESTAMP(NANOS)
surfaced as int64 → native ``timestamp[us]`` / TIMESTAMP_NTZ), silently
breaking every events consumer.  These tests synthesize tiny parquet files in
BOTH encodings — they do not depend on ``/root/testdata``'s current mood — so
any future flip fails here first, with a pointed message, instead of erring
nine driver queries.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql.types import TimestampType

from hive_serde_schema_gen_spark.sources.tables import load_table, normalize_events_ts

# 2024-01-05T12:34:56.789Z in epoch units
_EPOCH_US = 1_704_458_096_789_000


def _write_events(tmp_path, ts_array) -> str:
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], type=pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 20], type=pa.int64()),
            "event_type": pa.array(["view", "click"]),
            "value": pa.array([1.5, 2.5], type=pa.float64()),
            "props": pa.array(['{"a":1}', '{"b":2}']),
        }
    )
    d = str(tmp_path)
    pq.write_table(tbl, os.path.join(d, "events.parquet"))
    return d


@pytest.mark.parametrize(
    "encoding,ts_array",
    [
        (
            "nanos",
            pa.array([_EPOCH_US * 1000, _EPOCH_US * 1000 + 1_000_000_000],
                     type=pa.timestamp("ns")),
        ),
        (
            "micros_ntz",
            pa.array([_EPOCH_US, _EPOCH_US + 1_000_000],
                     type=pa.timestamp("us")),
        ),
    ],
)
def test_events_ts_is_timestamp_for_any_encoding(spark, tmp_path, encoding, ts_array):
    sf_dir = _write_events(tmp_path, ts_array)
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType), (
        f"events.ts must load as TimestampType under the {encoding} physical "
        f"encoding, got {df.schema['ts'].dataType}; normalize_events_ts needs "
        "a branch for this encoding"
    )
    # Same instants regardless of encoding: unix_millis must resolve (NTZ
    # would reject it) and equal the value the generator wrote.
    from pyspark.sql import functions as F

    millis = sorted(
        r[0] for r in df.select(F.unix_millis("ts")).collect()
    )
    assert millis[0] == _EPOCH_US // 1000
    # downstream arithmetic contract: bigint cast must work too
    df.select(F.col("ts").cast("bigint")).collect()


def test_normalize_passthrough_on_timestamp(spark):
    """Already-LTZ input passes through normalize_events_ts untouched."""
    from pyspark.sql import functions as F

    df = spark.range(1).select(
        F.timestamp_micros(F.lit(_EPOCH_US)).alias("ts")
    )
    out = normalize_events_ts(df)
    assert out is df


def test_real_testdata_events_loads(spark, sf_dir):
    """Whatever encoding /root/testdata currently uses must normalize."""
    df = load_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert df.count() > 0


# Column name → logical type family every query depends on.  Families, not
# exact types: the generator is free to flip int32↔int64 or a timestamp
# encoding without breaking any query, but a renamed/dropped column or a
# kind change (numeric→string) breaks many — this canary makes the NEXT
# testdata regeneration fail in one pointed place instead of erring a
# scatter of driver rows (the round-5 lesson, generalized from events.ts).
_FAMILIES = {
    "region": {"r_regionkey": "int", "r_name": "str"},
    "nation": {"n_nationkey": "int", "n_name": "str", "n_regionkey": "int"},
    "customer": {
        "c_custkey": "int", "c_name": "str", "c_nationkey": "int",
        "c_acctbal": "float", "c_mktsegment": "str",
    },
    "supplier": {
        "s_suppkey": "int", "s_name": "str", "s_nationkey": "int",
        "s_acctbal": "float",
    },
    "part": {
        "p_partkey": "int", "p_name": "str", "p_brand": "str",
        "p_type": "str", "p_size": "int", "p_retailprice": "float",
    },
    "orders": {
        "o_orderkey": "int", "o_custkey": "int", "o_orderstatus": "str",
        "o_totalprice": "float", "o_orderdate": "ts",
        "o_orderpriority": "str",
    },
    "lineitem": {
        "l_orderkey": "int", "l_partkey": "int", "l_suppkey": "int",
        "l_linenumber": "int", "l_quantity": "float",
        "l_extendedprice": "float", "l_discount": "float", "l_tax": "float",
        "l_returnflag": "str", "l_linestatus": "str", "l_shipdate": "ts",
    },
    "events": {
        "event_id": "int", "ts": "ts", "user_id": "int",
        "event_type": "str", "value": "float", "props": "str",
    },
    "documents": {
        "doc_id": "int", "text": "str", "lang": "str", "source": "str",
        "n_chars": "int",
    },
    "embeddings": {"vec_id": "int", "embedding": "arr_float", "label": "int"},
}


def _family(dt) -> str:
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampNTZType,
    )

    if isinstance(dt, (IntegerType, LongType, ShortType)):
        return "int"
    if isinstance(dt, (FloatType, DoubleType)):
        return "float"
    if isinstance(dt, StringType):
        return "str"
    if isinstance(dt, (TimestampType, TimestampNTZType)):
        return "ts"
    if isinstance(dt, ArrayType) and isinstance(
        dt.elementType, (FloatType, DoubleType)
    ):
        return "arr_float"
    return f"other:{dt}"


def test_all_tables_match_expected_families(spark, sf_dir):
    for table, want in _FAMILIES.items():
        df = load_table(spark, sf_dir, table)
        got = {f.name: _family(f.dataType) for f in df.schema.fields}
        assert got == want, (
            f"testdata drift in {table!r}: expected {want}, got {got}; "
            "the generator changed shape — update the loaders/queries that "
            "consume the changed columns, then this table's entry"
        )


def test_fanout_decision_follows_rewritten_files(spark, tmp_path):
    """The fanout memo must not serve a decision made for the files a
    path held before they were rewritten: 10 rows → no fanout; the same
    path rewritten to 200k rows (one file, one scan partition) → fanned
    out to the count a fresh decision on the rewritten plan gives."""
    from pyspark.sql import functions as F

    from hive_serde_schema_gen_spark.sources.tables import (
        FANOUT_BYTES_PER_TASK,
        fanout_for_compute,
    )

    path = str(tmp_path / "grow.parquet")

    def write_and_read(n):
        spark.range(n).select(F.col("id").alias("k")).repartition(1).write.mode(
            "overwrite"
        ).parquet(path)
        df = spark.read.parquet(path)
        assert df.rdd.getNumPartitions() == 1
        return df

    assert fanout_for_compute(write_and_read(10), "k").rdd.getNumPartitions() == 1
    grown = write_and_read(200_000)
    size = int(grown._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    want = min(spark.sparkContext.defaultParallelism, size // FANOUT_BYTES_PER_TASK)
    assert want > 1, "the rewritten file must be large enough to fan out"
    assert fanout_for_compute(grown, "k").rdd.getNumPartitions() == want
