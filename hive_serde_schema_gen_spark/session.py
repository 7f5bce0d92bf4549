"""SparkSession factory with the scale-aware defaults this engine assumes.

Local testing runs ``local[N]``; on a real cluster the same settings hold
(AQE re-plans shuffles at runtime, coalesces small partitions, and splits
skewed ones — the knobs that make 100 TB plans self-tuning).  Session
timezone is pinned to UTC so timestamp semantics match the DuckDB oracle.
"""

from __future__ import annotations

import os
import threading
from contextlib import contextmanager

from pyspark.sql import SparkSession

#: serializes every scoped conf change: a session's conf is global to all
#: driver threads, so a second scope on the same key must wait for the
#: first to restore, not interleave with it
_CONF_LOCK = threading.RLock()


def get_spark(app_name: str = "hive_serde_schema_gen_spark") -> SparkSession:
    """The running session, untouched, or else a new one with the defaults
    below.  Re-applying the builder's confs to a running session would reset
    any runtime conf its owner changed (a session-global change with no
    restore) and log a WARN.  The running session is the one a bare
    ``getOrCreate`` returns, from any driver thread (``getActiveSession``
    sees only the creating thread's)."""
    live = SparkSession._instantiatedSession
    if live is not None and live._sc._jsc is not None:
        return live
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # SPARK_GRAFT_UI=1 turns the UI (and its REST metrics API) on:
        # `perfbench/run.py --trace 1` reads per-stage task metrics from
        # it; everything else runs headless
        .config(
            "spark.ui.enabled",
            "true" if os.environ.get("SPARK_GRAFT_UI") == "1" else "false",
        )
    )
    if not os.environ.get("SPARK_MASTER") and "SPARK_HOME_CLUSTER" not in os.environ:
        builder = builder.master(f"local[{cpus}]").config("spark.driver.memory", "16g")
    return builder.getOrCreate()


@contextmanager
def scoped_conf(spark: SparkSession, **kv):
    """Set session conf keys for the duration of a ``with`` block, then
    restore each key's prior value, or unset it if it was unset.  Conf
    keys contain dots, so pass them as ``**{"spark.sql.x": "v"}``.  The
    module lock is held for the whole block (re-entrant, so scopes nest
    on one thread)."""
    with _CONF_LOCK:
        prior = {k: spark.conf.get(k, None) for k in kv}
        try:
            for k, v in kv.items():
                spark.conf.set(k, v)
            yield spark
        finally:
            for k, v in prior.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)
