"""Self-tests for the seeded generator and the catalog coverage check."""

import os

import pyarrow.parquet as pq
import pytest

import gen
import workloads


def _bytes(d):
    return {f: open(os.path.join(d, f), "rb").read() for f in sorted(os.listdir(d))}


@pytest.fixture(scope="module")
def two_seeds(tmp_path_factory):
    work = tmp_path_factory.mktemp("work")
    a1 = gen.generate(str(work), 1)
    again = gen.generate(str(tmp_path_factory.mktemp("again")), 1)
    b = gen.generate(str(work), 2)
    return a1, again, b


def test_same_seed_same_bytes(two_seeds):
    a1, again, _ = two_seeds
    assert _bytes(a1["sf_dir"]) == _bytes(again["sf_dir"])
    assert a1["digest"] == again["digest"]


def test_seeds_permute_rows_and_keep_schema(two_seeds):
    a, _, b = two_seeds
    assert a["digest"] != b["digest"]
    for name in sorted(os.listdir(gen.SOURCE)):
        src = pq.read_table(os.path.join(gen.SOURCE, name))
        ta = pq.read_table(os.path.join(a["sf_dir"], name))
        tb = pq.read_table(os.path.join(b["sf_dir"], name))
        assert ta.schema == src.schema == tb.schema, name
        assert pq.ParquetFile(os.path.join(a["sf_dir"], name)).schema.equals(
            pq.ParquetFile(os.path.join(gen.SOURCE, name)).schema), name
        key = src.column_names
        assert sorted(map(str, ta.to_pylist())) == sorted(map(str, src.to_pylist())), name
        if src.num_rows > 100:
            assert ta.column(key[0]).to_pylist() != tb.column(key[0]).to_pylist(), name


def test_permutation_is_a_permutation():
    p = gen.permutation(1000, 7)
    assert sorted(p.tolist()) == list(range(1000))
    assert p.tolist() != gen.permutation(1000, 8).tolist()


def test_two_seeds_give_identical_oracle_answers(two_seeds):
    from hadoop_hdfs_spark import registry
    from hadoop_hdfs_spark.testing import compare_frames, duckdb_connect

    a, _, b = two_seeds
    oracles = registry.oracle_sql()
    names = [n for w in workloads.WORKLOADS for n in workloads.QUERIES[w] if n in oracles]
    ca, cb = duckdb_connect(a["sf_dir"]), duckdb_connect(b["sf_dir"])
    try:
        for n in names:
            compare_frames(ca.execute(oracles[n]).fetchdf(), cb.execute(oracles[n]).fetchdf())
    finally:
        ca.close()
        cb.close()


CATALOG = {
    "a1_content_summary": "hadoop_hdfs_spark.operators.namespace",
    "s5_hftp_listing_scan": "hadoop_hdfs_spark.hftp",
    "s5b_hftp_direct_children": "hadoop_hdfs_spark.hftp",
    "d_minhash_lsh": "hadoop_hdfs_spark.pipeline.dedup",
    **{g: "hadoop_hdfs_spark.streaming.x" for g in workloads.EDIT_GATES + workloads.EXCLUDED},
}


def _catalog():
    cat = dict(CATALOG)
    for w in ("hdfs_meta", "llm_corpus"):
        prefix = "operators.x" if w == "hdfs_meta" else "pipeline.x"
        for i, n in enumerate(workloads.QUERIES[w]):
            cat.setdefault(n, f"hadoop_hdfs_spark.{prefix}{i}")
    return cat


def test_every_query_lands_in_exactly_one_family():
    cat = _catalog()
    fam = workloads.families(cat)
    placed = [n for names in fam.values() for n in names]
    assert sorted(placed) == sorted(cat)
    assert fam["hdfs_meta"][:2] == ["a1_content_summary", "s5_hftp_listing_scan"]
    assert set(workloads.EDIT_GATES) <= set(fam["hdfs_meta"])
    assert set(fam["excluded"]) == set(workloads.EXCLUDED)


def test_unplaced_streaming_query_fails_loudly():
    cat = _catalog()
    cat["t99_new_stream"] = "hadoop_hdfs_spark.streaming.new"
    with pytest.raises(workloads.CoverageError, match="t99_new_stream"):
        workloads.families(cat)


def test_query_outside_known_packages_fails_loudly():
    cat = _catalog()
    cat["x_new"] = "hadoop_hdfs_spark.elsewhere"
    with pytest.raises(workloads.CoverageError, match="x_new"):
        workloads.families(cat)


def test_dropped_named_gate_fails_loudly():
    cat = _catalog()
    del cat["t21_pending_timeout_stream"]
    with pytest.raises(workloads.CoverageError, match="no longer registered"):
        workloads.families(cat)


def test_module_without_a_listed_query_fails_loudly():
    cat = _catalog()
    cat["d_other"] = "hadoop_hdfs_spark.pipeline.unlisted"
    with pytest.raises(workloads.CoverageError, match="pipeline.unlisted"):
        workloads.families(cat)
    cat["d_other"] = cat["d_minhash_lsh"]  # a listed module: fine
    workloads.families(cat)


def test_selected_is_the_listed_queries_in_catalog_order():
    cat = _catalog()
    cat["d_other"] = cat["d_minhash_lsh"]
    sel = workloads.selected("llm_corpus", cat)
    assert set(sel) == set(workloads.QUERIES["llm_corpus"])
    assert sel == [n for n in cat if n in set(sel)]


def test_benchmark_json_matches_the_reported_metrics():
    import json

    import report

    root = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == report.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == report.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
