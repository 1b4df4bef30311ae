"""Drain-time state sizing for the driver-gated streaming certifications.

A stateful streaming operator commits one state store PER shuffle
partition per micro-batch (a streaming aggregation keeps one store per
partition; a stream-stream join keeps four). The certification drains
(t14/t17/t18) are availableNow runs over fixture-scale input on a
32-partition session, so state-store open/commit overhead — not data —
dominates their wall time: 32 partitions x 4 join stores = 128 store
commits per micro-batch for a result of a few thousand rows.

``drain_partitions`` narrows ``spark.sql.shuffle.partitions`` for the
drain and restores the previous value after. Streaming state partitioning
is fixed at query start from this conf; the memory-sink certifications
use a fresh temp checkpoint per run, so the narrowed value applies
cleanly. Results are IDENTICAL — state partitioning is physical layout —
and a production continuous run would size it to sustained throughput
instead (state stores amortize across long-lived micro-batches there).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import SparkSession

_KEY = "spark.sql.shuffle.partitions"

# Measured (r12): the full drain set at sf0.1 ran 118 / 75 / 67 / 102 s at
# 2 / 8 / 16 / 32 partitions (8 vs 16 within box noise) — per-batch
# parallelism and store commits trade off, and 8 sits at the flat bottom.
_DRAIN_PARTITIONS = 8


@contextmanager
def drain_partitions(spark: SparkSession):
    prev = spark.conf.get(_KEY)
    spark.conf.set(_KEY, str(_DRAIN_PARTITIONS))
    try:
        yield
    finally:
        spark.conf.set(_KEY, prev)
