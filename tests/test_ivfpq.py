"""s_knn_ivfpq: plan shape + the honest recall pair for the composed
IVF-routing -> PQ-ADC-shortlist -> exact-re-rank search topology. The
oracle hash-match runs in test_queries.py like every registered query;
these tests pin what the hash cannot see."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_hdfs_spark import registry
from hadoop_hdfs_spark.entities import load_entities
from hadoop_hdfs_spark.pipeline import ivfpq

QUERIES = registry.queries()


@pytest.fixture(scope="module")
def recall_pair(spark, sf_dir):
    """(structureless_avg, clustered_avg) end-to-end IVF-PQ recall
    permille. The clustered leg runs the SAME composed search path on
    label-correlated geometry with the label partition as the coarse
    cells — the converged partitioner's ideal on that geometry."""
    from hadoop_hdfs_spark.pipeline.similarity import _SPARK_CLUSTERED_VECS

    e = load_entities(spark, sf_dir)

    def avg_recall(df):
        return df.agg(F.avg("recall_permille").alias("a")).collect()[0].a

    plain = avg_recall(QUERIES["s_knn_ivfpq"](spark, sf_dir))
    clustered_xe = e["embeddings"].select(
        "vec_id",
        "label",
        F.expr(
            f"transform({_SPARK_CLUSTERED_VECS},"
            " x -> cast(floor(x * 1000000) as bigint))"
        ).alias("xe"),
    )
    label_asg = e["embeddings"].select("vec_id", F.col("label").alias("cell"))
    return plain, avg_recall(ivfpq._ivfpq_search(clustered_xe, label_asg))


def test_ivfpq_recall_is_honest_on_structureless_vectors(recall_pair):
    # NPROBE/k cell pruning + 4-byte codes on random 64-d vectors: recall
    # must sit well below the ship bar — anything higher would mean the
    # gate is measuring the fixture, not the topology
    plain, _ = recall_pair
    assert plain < 700, plain


def test_ivfpq_recall_passes_ship_gate_on_clustered_geometry(recall_pair):
    # label-correlated geometry: routing finds the right cells, the ADC
    # shortlist + exact re-rank recovers the true neighbors — the number
    # that says the 64x-compressed, NPROBE-pruned index can ship
    plain, clustered = recall_pair
    assert clustered >= 800, clustered
    assert clustered > plain


def test_ivfpq_plan_broadcasts_all_small_sides(spark, sf_dir):
    """Centroids, the routed query table, the codebook, and the query
    sample are all broadcast; the corpus is never the build side and no
    unplanned CartesianProduct appears. The only corpus-scale work is the
    encode map + the cell-equi-joined ADC scan."""
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.plans import formatted_plan

    # raw derivation: the r11 lineage-truncating checkpoint pin renders a
    # memo-hit frame as a bare `Scan ExistingRDD`, hiding the join shapes
    # this pin certifies (the test_plans.py raw=True pattern)
    with registry.raw_plans():
        plan = formatted_plan(QUERIES["s_knn_ivfpq"](spark, sf_dir)).split(
            "\n\n"
        )[0]
    assert plan.count("CartesianProduct") == 0
    assert plan.count("BroadcastNestedLoopJoin") >= 2  # centroids + exact leg


def test_ivfpq_shares_one_training_loop_with_s_ivf_train(spark, sf_dir):
    """Running the trajectory gate then the search must NOT run Lloyd's
    twice: both consume the memoized loop products (the converged
    assignment is stashed when either runs first)."""
    from hadoop_hdfs_spark.registry import _CACHED

    QUERIES["s_ivf_train"](spark, sf_dir).count()
    tags = {k[2] for k in _CACHED}
    assert {"ivf_train_traj", "ivf_converged_asg"} <= tags


def test_saved_index_search_matches_in_memory_and_prunes_partitions(
    spark, sf_dir, tmp_path
):
    """The persisted index is the SAME topology at rest: searching the
    saved cell-partitioned codes must return exactly the in-memory
    search's re-ranked top-5, and the codes scan must read ONLY the
    probed cells' partitions — a literal PartitionFilters prune over the
    cell directories, not a filter over everything."""
    from hadoop_hdfs_spark.pipeline.ann import _quantized_vecs
    from hadoop_hdfs_spark.pipeline.ivftrain import (
        _centroids_of,
        ivf_converged_assignment,
    )

    e = load_entities(spark, sf_dir)
    idx = str(tmp_path / "pq_index")
    ivfpq.save_pq_index(e, idx)

    xe = _quantized_vecs(e)
    vecs = xe.select("vec_id", "xe")
    q = ivfpq._query_frame(xe)
    rr_idx = ivfpq.search_pq_index(spark, idx, q, vecs)

    asg = ivf_converged_assignment(e)
    rr_mem = ivfpq._rerank_rr(
        ivfpq._route(q, _centroids_of(asg, vecs)),
        ivfpq._coded_in_memory(xe, asg),
        vecs,
        q,
    )
    a = {(r["query_id"], r["neighbor_id"]) for r in rr_idx.collect()}
    b = {(r["query_id"], r["neighbor_id"]) for r in rr_mem.collect()}
    assert a == b and a, (len(a), len(b), len(a ^ b))

    # partition pruning: the codes scan carries a PartitionFilters IN
    # over cell, and the pruned partition count is below the total cells
    import os
    import re

    from hadoop_hdfs_spark.plans import formatted_plan

    plan = formatted_plan(rr_idx)
    m = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan)
    assert m, plan[:2000]
    # a batch of QUERY_K queries can collectively probe every cell (their
    # union covers the small fixture partitioner); the pruning claim is
    # PER QUERY — a single query's search reads exactly NPROBE of the k
    # cell directories
    n_cells = len(
        [d for d in os.listdir(os.path.join(idx, "codes")) if d.startswith("cell=")]
    )
    q1 = q.orderBy("query_id").limit(1)
    rr_one = ivfpq.search_pq_index(spark, idx, q1, vecs)
    plan_one = formatted_plan(rr_one)
    m1 = re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN \(([^)]*)\)", plan_one)
    assert m1, plan_one[:2000]
    probed_one = {v.strip() for v in m1.group(1).split(",")}
    assert len(probed_one) == ivfpq.NPROBE < n_cells, (probed_one, n_cells)


def test_ivfpq_rr_neighbors_come_only_from_probed_cells(spark, sf_dir):
    """Topology invariant: every re-ranked neighbor's converged cell must
    be one of its query's NPROBE routed cells — the search never reads
    outside the probed partitions (the correctness face of the
    partition-pruning claim)."""
    from hadoop_hdfs_spark.pipeline.ann import _quantized_vecs
    from hadoop_hdfs_spark.pipeline.ivftrain import (
        _centroids_of,
        ivf_converged_assignment,
    )

    e = load_entities(spark, sf_dir)
    xe = _quantized_vecs(e)
    vecs = xe.select("vec_id", "xe")
    asg = ivf_converged_assignment(e)
    q = ivfpq._query_frame(xe)
    route = ivfpq._route(q, _centroids_of(asg, vecs))
    rr = ivfpq._rerank_rr(route, ivfpq._coded_in_memory(xe, asg), vecs, q)

    probed = {
        (r["query_id"], r["cell"])
        for r in route.select("query_id", "cell").collect()
    }
    cells = {r["vec_id"]: r["cell"] for r in asg.collect()}
    rows = rr.collect()
    assert rows
    for r in rows:
        assert (r["query_id"], cells[r["neighbor_id"]]) in probed, r


def test_ivfpq_at_full_probe_equals_pure_adc_gate(spark, sf_dir, monkeypatch):
    """Degenerate-case equivalence: at NPROBE = n_cells the routing prunes
    nothing, so the composed search IS the pure PQ-ADC pathway — its
    per-query recall must equal s_pq_adc_recall's n_in_shortlist exactly
    (an exact-top-5 member inside the shortlist always survives the exact
    re-rank: at most 4 other global-top-5 members can outrank it). This
    pins that the IVF stage adds ONLY cell pruning on top of the
    already-gated PQ machinery — no distance or ranking drift. (Recall is
    NOT monotone in NPROBE at fixed SHORTLIST: extra probed cells add ADC
    imposters that can crowd true neighbors out of the top-50 — measured
    428 at NPROBE=3 vs 414 permille at full probe on the structureless
    fixture — so the degenerate-case identity is the sound invariant.)"""
    from hadoop_hdfs_spark.pipeline.ann import _quantized_vecs
    from hadoop_hdfs_spark.pipeline.ivftrain import ivf_converged_assignment

    e = load_entities(spark, sf_dir)
    xe = _quantized_vecs(e)
    asg = ivf_converged_assignment(e)
    n_cells = asg.select("cell").distinct().count()
    monkeypatch.setattr(ivfpq, "NPROBE", n_cells)
    got = {
        r["query_id"]: (r["n_found"], r["recall_permille"])
        for r in ivfpq._ivfpq_search(xe, asg).collect()
    }
    want = {
        r["query_id"]: (r["n_in_shortlist"], r["recall_permille"])
        for r in QUERIES["s_pq_adc_recall"](spark, sf_dir).collect()
    }
    assert got == want and got


def test_at_rest_gate_matches_in_memory_gate_and_prunes(spark, sf_dir):
    """The REGISTERED at-rest query (s_knn_ivfpq_at_rest, the driver-gated
    form) must produce exactly the in-memory gate's recall frame — one
    topology, two storage forms — and its codes scan must carry the
    literal PartitionFilters prune (the plan property the driver's hash
    cannot see)."""
    import re

    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.plans import formatted_plan

    at_rest = QUERIES["s_knn_ivfpq_at_rest"](spark, sf_dir)
    mem = QUERIES["s_knn_ivfpq"](spark, sf_dir)
    a = {tuple(r) for r in at_rest.collect()}
    b = {tuple(r) for r in mem.collect()}
    assert a == b and a, (len(a), len(b), len(a ^ b))
    # the prune lives in the codes scan INSIDE the pinned derivation; a
    # memo-hit checkpoint pin stringifies as `Scan ExistingRDD` (r11)
    with registry.raw_plans():
        plan = formatted_plan(QUERIES["s_knn_ivfpq_at_rest"](spark, sf_dir))
    assert re.search(r"PartitionFilters: \[[^\]]*cell[^\]]*IN", plan), plan[:2000]


def test_saved_index_search_with_empty_query_frame(spark, sf_dir, tmp_path):
    """Edge: an empty query frame routes to zero cells — the search must
    return an empty result (isin over an empty cell list), not crash."""
    from hadoop_hdfs_spark.pipeline.ann import _quantized_vecs

    e = load_entities(spark, sf_dir)
    idx = str(tmp_path / "pq_index_empty")
    ivfpq.save_pq_index(e, idx)
    xe = _quantized_vecs(e)
    vecs = xe.select("vec_id", "xe")
    q0 = ivfpq._query_frame(xe).limit(0)
    assert ivfpq.search_pq_index(spark, idx, q0, vecs).count() == 0
