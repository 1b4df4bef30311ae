"""Simulate the driver exactly: a BARE SparkSession (default configs — 200
shuffle partitions, no nanosAsLong flag, no adaptive tweaks) in a clean
subprocess, running the __spark_entry__ contract. The library must set every
config it needs at runtime (register_base_tables does); this test fails if
any query silently depends on our tuned test session.
"""

from __future__ import annotations

import subprocess
import sys

_SCRIPT = r"""
import sys
sys.path.insert(0, "/root/repo")
from pyspark.sql import SparkSession

spark = SparkSession.builder.master("local[8]").appName("bare-driver").getOrCreate()

import __spark_entry__ as e

df = e.entry(spark)
assert df.count() > 0, "entry returned no rows"
qs, oracles = e.queries(), e.oracle_sql()
assert set(oracles) <= set(qs), "oracle without query"

from hadoop_hdfs_spark.testing import assert_query_matches_oracle

# the queries most sensitive to session state: events (TIMESTAMP(NANOS)
# needs the runtime flag), a window+agg chain, and a pandas-free scalar map
for name in ["t11_event_rates", "c9_json_props", "t10_edit_sessions", "p_pii_redact", "mm_feature_certify", "t14_stream_rates", "t21_pending_timeout_stream"]:
    assert_query_matches_oracle(spark, qs[name], oracles[name], "/root/testdata/sf0.001")
print("BARE-DRIVER-OK")
spark.stop()
"""


def test_bare_driver_session_runs_contract():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT],
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert "BARE-DRIVER-OK" in proc.stdout, proc.stdout[-2000:] + proc.stderr[-2000:]


def test_catalog_serves_registration_order():
    """queries() and oracle_sql() iterate the registry as registered: no
    repo artifact decides the order, so a source edit needs no
    regeneration step."""
    from hadoop_hdfs_spark import registry

    names = list(registry.queries())
    assert names == list(registry._REGISTRY)
    assert list(registry.oracle_sql()) == [
        n for n in names if registry._REGISTRY[n].oracle is not None
    ]


def test_nn_throughput_harness_runs():
    """The NNThroughputBenchmark analog must emit positive ops/sec for every
    verb the reference harness defines."""
    import json
    import os

    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        NN_OPS="2000",
        SPARK_GRAFT_CPUS="8",
    )
    proc = subprocess.run(
        [sys.executable, "/root/repo/nn_throughput.py"],
        capture_output=True,
        text=True,
        timeout=420,
        env=env,
    )
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert set(out["ops"]) == {
        "create", "open", "fileStatus", "delete", "rename", "blockReport",
        "replication", "clean",
    }
    assert all(v > 0 for v in out["ops"].values()), out
