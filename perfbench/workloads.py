"""Workload definitions and the catalog coverage check.

Every registered query belongs to exactly one workload family, decided by
the module that registered it, or to the named exclusion list:

- ``hdfs_meta``: ``operators/*`` and ``hftp`` (the reference's own
  surface), plus the edit-log drain gates below, one per kind of stateful
  streaming operator
- ``llm_corpus``: ``pipeline/*`` (documents and embeddings)

A run of a workload issues the queries listed in :data:`QUERIES`: one
from every module of its family, so that every layer the per-layer metrics
name is measured, but not every query (a cold pass of the 78 batch
hdfs_meta queries alone takes over a minute on 4 cores, past a run's
budget). The check fails the run when a registered query fits no family,
when a module of a family has no query in the list, or when a query this
file names is no longer registered: a new query or module must be placed
before it can be benchmarked.
"""

from __future__ import annotations

WORKLOADS = ("hdfs_meta", "llm_corpus")

# One gate per kind of stateful operator, each from its own module.
EDIT_GATES = (
    "t14_stream_rates",  # windowed aggregation
    "t17_stream_sessions",  # session windows
    "t18_stream_open_close",  # stream-stream join
    "t19_stream_dedup",  # dropDuplicates within watermark
    "t20_stream_enrich",  # stream-static enrich
    "t1c_ds_quota_rejections",  # quota state
    "t2c_checkpoint_replay",  # checkpoint restart
)

EXCLUDED = (
    # More GroupState and quota monitors of the t22/t1c kind: about 60 s
    # more per run without measuring a new layer.
    "t21_pending_timeout_stream",
    "t23_lease_expiry_stream",
    "t26_token_expiry_stream",
    "t1b_quota_rejections",
    # The GroupState-timeout gate: nine micro-batches, 18-20 s cold on 4
    # cores whatever the input size, which the run budget (4 + 22 runs per
    # workload in 3420 s) cannot carry on top of the other gates.
    "t22_heartbeat_liveness_stream",
)

# The queries one run issues, one per module of the family (a cheap cold
# query that does the module's characteristic work).
QUERIES = {
    "hdfs_meta": (
        "a1_content_summary",  # namespace: ContentSummary rollup
        "a3_fsck_result",  # blocks: fsck over the blocksMap pin
        "j4_balancer_pairing",  # cluster: balancer
        "t6_replication_work",  # admin: replication queue
        "au_hot_paths",  # audit
        "t11_event_rates",  # events
        "j9_pread_scatter",  # relational
        "s5b_hftp_direct_children",  # hftp: listing XML write and scan
        *EDIT_GATES,
    ),
    "llm_corpus": (
        "d_minhash_lsh",  # dedup: LSH bands over the shingle pin
        "d_semdedup",  # ann: IVF centroids
        "s_embedding_stats",  # similarity
        "s_pq_encode",  # pq
        "s_knn_ivfpq",  # ivfpq: staged index, ADC search
        "s_ivf_train",  # ivftrain: k-means training
        "t_lang_id",  # text
        "t_bpe_train",  # bpetrain: merge training
        "t_tfidf_top_terms",  # corpus
        "t_quality_cdf",  # quality
        "c_source_mixture",  # curation
        "mm_image_certify",  # multimodal: Python decode workers
        "p_pii_redact",  # privacy
    ),
}

# A warm call of a drain gate is a memo read of the drained result, so the
# gates run in the cold pass only.
COLD_ONLY = frozenset(EDIT_GATES)

_PKG = "hadoop_hdfs_spark."


class CoverageError(RuntimeError):
    """A registered query or module fits no workload, or a named query is
    missing."""


def family_of(name: str, module: str) -> str:
    """The workload family a query belongs to, or ``"excluded"``."""
    if module.startswith(_PKG + "operators.") or module == _PKG + "hftp":
        return "hdfs_meta"
    if module.startswith(_PKG + "pipeline."):
        return "llm_corpus"
    if module.startswith(_PKG + "streaming."):
        if name in EDIT_GATES:
            return "hdfs_meta"
        if name in EXCLUDED:
            return "excluded"
    raise CoverageError(
        f"query {name!r} (registered in {module}) is in no workload and not "
        "in the exclusion list; add it to perfbench/workloads.py"
    )


def families(modules: dict[str, str]) -> dict[str, list[str]]:
    """Partition the catalog ``{query: module}`` into workload families.

    Raises :class:`CoverageError` when a query fits nowhere, when a module
    of a family has no query in :data:`QUERIES`, or when a query this file
    names is no longer registered."""
    out: dict[str, list[str]] = {w: [] for w in (*WORKLOADS, "excluded")}
    for name, module in modules.items():
        out[family_of(name, module)].append(name)
    for name in (*EXCLUDED, *(n for w in WORKLOADS for n in QUERIES[w])):
        if name not in modules:
            raise CoverageError(f"named query {name!r} is no longer registered")
    for workload in WORKLOADS:
        listed = set(QUERIES[workload])
        for name in listed - set(out[workload]):
            raise CoverageError(f"query {name!r} is not in the {workload} family")
        covered = {modules[n] for n in listed}
        for name in out[workload]:
            if modules[name] not in covered:
                raise CoverageError(
                    f"module {modules[name]} (query {name!r}) has no query in "
                    f"the {workload} run; add one to QUERIES in "
                    "perfbench/workloads.py"
                )
    return out


def selected(workload: str, modules: dict[str, str]) -> list[str]:
    """The queries one run of ``workload`` issues, in catalog order, after
    the coverage check."""
    listed = set(QUERIES[workload])
    return [n for n in families(modules)[workload] if n in listed]
