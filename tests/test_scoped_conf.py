"""Scoped session-conf changes (``session.scoped_conf``): prior values
come back, unset keys are unset again, a second scope on the same key
waits for the first, and ``streaming_window_counts`` leaves the caller's
conf as it found it."""

from __future__ import annotations

import os
import subprocess
import sys
import threading
import time

from hive_serde_schema_gen_spark.session import scoped_conf

_KEY = "spark.sql.files.maxRecordsPerFile"
_UNSET = "spark.graft.test.scoped_unset"


def test_scoped_conf_restores_prior_and_unsets(spark):
    spark.conf.set(_KEY, "11")
    try:
        with scoped_conf(spark, **{_KEY: "22", _UNSET: "x"}):
            assert spark.conf.get(_KEY) == "22"
            assert spark.conf.get(_UNSET) == "x"
        assert spark.conf.get(_KEY) == "11"
        assert spark.conf.get(_UNSET, None) is None
        # restored on the error path too
        try:
            with scoped_conf(spark, **{_KEY: "33"}):
                raise RuntimeError("boom")
        except RuntimeError:
            pass
        assert spark.conf.get(_KEY) == "11"
    finally:
        spark.conf.unset(_KEY)


def test_second_scope_on_same_key_waits_for_first(spark):
    spark.conf.set(_KEY, "1")
    entered = threading.Event()
    seen = []

    def first():
        with scoped_conf(spark, **{_KEY: "100"}):
            entered.set()
            time.sleep(0.5)
            seen.append(("first", spark.conf.get(_KEY)))

    def second():
        assert entered.wait(timeout=60)
        with scoped_conf(spark, **{_KEY: "200"}):
            seen.append(("second", spark.conf.get(_KEY)))

    try:
        threads = [threading.Thread(target=f) for f in (first, second)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
            assert not t.is_alive()
        # the second scope entered only after the first restored: it never
        # saw (or clobbered) the first's value, and the original is back
        assert seen == [("first", "100"), ("second", "200")]
        assert spark.conf.get(_KEY) == "1"
    finally:
        spark.conf.unset(_KEY)


def test_scoped_conf_stress_no_lost_restore(spark):
    """More threads than cores scoping the same key over and over: inside
    its scope each thread sees only its own value, and the original comes
    back at the end."""
    spark.conf.set(_KEY, "0")
    errors = []

    def worker(i):
        for _ in range(10):
            with scoped_conf(spark, **{_KEY: str(i)}):
                if spark.conf.get(_KEY) != str(i):
                    errors.append(i)

    prior_switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(1, 17)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
            assert not t.is_alive()
        assert errors == []
        assert spark.conf.get(_KEY) == "0"
    finally:
        sys.setswitchinterval(prior_switch)
        spark.conf.unset(_KEY)


def test_streaming_window_counts_restores_conf(spark, sf_dir):
    from hive_serde_schema_gen_spark.registry import all_queries

    sentinels = {
        "spark.sql.legacy.parquet.nanosAsLong": "false",
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
        "spark.sql.shuffle.partitions": "7",
    }
    prior = {k: spark.conf.get(k, None) for k in sentinels}
    for k, v in sentinels.items():
        spark.conf.set(k, v)
    try:
        df = all_queries()["streaming_window_counts"](spark, sf_dir)
        assert df.count() > 0
        assert {k: spark.conf.get(k) for k in sentinels} == sentinels
    finally:
        for k, v in prior.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


_SECOND_GET_SPARK = """
import threading
from hive_serde_schema_gen_spark.session import get_spark
a = get_spark()
a.conf.set("spark.sql.session.timeZone", "America/New_York")
seen = []
t = threading.Thread(target=lambda: seen.append(get_spark("other")))
t.start(); t.join()
assert get_spark() is a and seen == [a], "a second session"
print(a.conf.get("spark.sql.session.timeZone"))
a.stop()
"""


def test_get_spark_returns_a_running_session_untouched():
    """A second ``get_spark`` (here, from another driver thread too) hands
    back the running session without re-applying the builder's confs: a
    changed zone stays, and no reuse WARN is logged."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [sys.executable, "-c", _SECOND_GET_SPARK], cwd=root,
        env=dict(os.environ, PYTHONPATH=root),
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=300,
    )
    assert r.returncode == 0, r.stderr.decode()[-2000:]
    assert r.stdout.decode().strip() == "America/New_York"
    assert b"Using an existing Spark session" not in r.stderr
