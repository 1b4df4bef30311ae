"""Product quantization: plan shape + the honest shortlist-recall pair.

The oracle hash-match for s_pq_encode / s_pq_adc_recall runs in
test_queries.py like every registered query; these tests pin what the hash
cannot see — the zero-shuffle encode plan, the code-domain invariant, and
the operational story (shortlist recall low on structureless vectors, past
the ship bar on clustered geometry)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_hdfs_spark import registry
from hadoop_hdfs_spark.entities import load_entities
from hadoop_hdfs_spark.pipeline import pq

QUERIES = registry.queries()


def test_pq_encode_is_zero_shuffle_map(spark, sf_dir):
    """The corpus-side encode must be a pure map: the ONLY exchanges in
    the plan belong to the bounded codebook fold (KW rows -> one row),
    which then broadcasts. No corpus-sized frame ever shuffles, no window
    or aggregate touches the corpus."""
    df = QUERIES["s_pq_encode"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan  # single-row codebook join
    # one single-partition exchange for the KW-row codebook fold; none other
    assert plan.count("Exchange") <= 2, plan
    # per-subspace argmins are staged: one interpreted scan per subspace,
    # not one per consuming expression (code + distortion would double it)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("array_min(transform(") == pq.M, opt.count(
        "array_min(transform("
    )


def test_pq_codes_are_in_domain(spark, sf_dir):
    enc = QUERIES["s_pq_encode"](spark, sf_dir)
    bad = enc.filter(
        " OR ".join(
            f"(code_{m} < 0 OR code_{m} >= {pq.KW})" for m in range(pq.M)
        )
        + " OR distortion < 0"
    )
    assert bad.count() == 0


def test_pq_sampled_vectors_encode_losslessly(spark, sf_dir):
    """A vector that IS a codebook sample must quantize to itself in every
    subspace: distortion exactly 0 — the argmin and the slicing agree on
    identity. (KW vectors by salted-md5 rank, recomputed here.)"""
    e = load_entities(spark, sf_dir)
    samp_ids = [
        r.vec_id
        for r in e["embeddings"]
        .select("vec_id")
        .orderBy(F.md5(F.concat(F.lit("pq|"), F.col("vec_id").cast("string"))), "vec_id")
        .limit(pq.KW)
        .collect()
    ]
    enc = QUERIES["s_pq_encode"](spark, sf_dir)
    rows = enc.filter(F.col("vec_id").isin(samp_ids)).collect()
    assert len(rows) == min(pq.KW, e["embeddings"].count())
    assert all(r.distortion == 0 for r in rows), rows


@pytest.fixture(scope="module")
def recall_pair(spark, sf_dir):
    """(structureless_avg, clustered_avg) shortlist recall permille."""
    from hadoop_hdfs_spark.pipeline.ann import _quantized_vecs
    from hadoop_hdfs_spark.pipeline.similarity import _SPARK_CLUSTERED_VECS

    e = load_entities(spark, sf_dir)

    def avg_recall(xe):
        r = pq._adc_recall(xe)
        return r.agg(F.avg("recall_permille").alias("a")).collect()[0].a

    plain = avg_recall(_quantized_vecs(e))
    clustered_xe = e["embeddings"].select(
        "vec_id",
        "label",
        F.expr(
            f"transform({_SPARK_CLUSTERED_VECS},"
            " x -> cast(floor(x * 1000000) as bigint))"
        ).alias("xe"),
    )
    return plain, avg_recall(clustered_xe)


def test_shortlist_recall_is_honest_on_structureless_vectors(recall_pair):
    # 4-byte codes on random 64-d vectors: the shortlist catches some of
    # the exact top-5 (well above the 10% random-containment baseline at
    # N=500/R=50) but must sit far below the ship bar
    plain, _ = recall_pair
    assert plain < 700, plain


def test_shortlist_recall_passes_ship_gate_on_clustered_geometry(recall_pair):
    # label-correlated geometry: the PQ shortlist + exact re-rank recovers
    # the true neighbors — the measurement that says the codes can ship
    plain, clustered = recall_pair
    assert clustered >= 800, clustered
    assert clustered > plain


def test_pq_adc_recall_broadcasts_query_side(spark, sf_dir):
    """Both scoring legs (ADC and exact) must broadcast the fixed-K query
    sample against the corpus — a BroadcastNestedLoopJoin per leg (the
    join predicate is the self-exclusion inequality), never an unplanned
    CartesianProduct; the only sort-merge work runs on the K x 5 compare
    frames, far from record scale."""
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.plans import formatted_plan

    # raw derivation (r11 checkpoint pins hide memo-hit shapes; the
    # test_plans.py raw=True pattern)
    with registry.raw_plans():
        plan = formatted_plan(QUERIES["s_pq_adc_recall"](spark, sf_dir)).split(
            "\n\n"
        )[0]
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") >= 2
