"""Partition-independence: the determinism rules (decimal money math,
integer quantization) must make results bit-identical when the shuffle
layout changes — the property that keeps a 100 TB job's output stable
across cluster sizes and AQE decisions.

Every oracle-checked query is covered: the driver's hash gate compares
values bit-for-bit, so ANY partition-sensitive result is a latent
correctness failure, not just a flaky test.  (streaming_window_counts is
excluded on runtime grounds — ~20 s per run — and its oracle is already a
batch-equivalence check; the rows-only approximate queries are excluded
because sketch/ANN outputs may legitimately vary with partial-merge order.)
"""

import pytest

pytestmark = pytest.mark.slow  # regression-depth tail (see pyproject.toml)

from hive_serde_schema_gen_spark.registry import all_oracles, all_queries
from hive_serde_schema_gen_spark.session import scoped_conf

QUERIES = all_queries()
COVERED = sorted(set(all_oracles()) - {"streaming_window_counts"})


@pytest.mark.parametrize("name", COVERED)
def test_identical_across_shuffle_layouts(name, spark, sf_dir):
    def run():
        return sorted(
            tuple(str(v) for v in r) for r in QUERIES[name](spark, sf_dir).collect()
        )

    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "32"}):
        a = run()
    with scoped_conf(spark, **{"spark.sql.shuffle.partitions": "5"}):
        b = run()
    assert a == b, f"{name}: results drift with shuffle layout"
