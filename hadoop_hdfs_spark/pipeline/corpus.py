"""Corpus-level text statistics: skew-safe token counting, TF-IDF term
profiles, and near-duplicate cluster assignment.

- ``t_token_frequency_salted`` demonstrates the 100 TB skew pattern: the
  fixture vocabulary is 31 words across millions of tokens — a worst-case
  skewed groupBy key. The two-stage salted aggregate (random-ish salt from
  doc_id, partial count per (token, salt), then final rollup) bounds any
  single reducer's load at 1/SALT of the hottest key. The oracle is the
  plain GROUP BY — salting must be semantically invisible.
- ``t_tfidf_top_terms`` is the canonical corpus profile: integer-quantized
  tf-idf so the aggregation stays order-independent across engines.
- ``near_dup_clusters`` closes the dedup story: LSH pairs -> connected
  components via iterative min-label propagation; registered as
  ``d_near_dup_clusters`` with a recursive-CTE DuckDB oracle, so even the
  iterative algorithm is hash-checked, not rows-only.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..registry import register
from ..session import fan_out
from .dedup import _duck_lsh_pairs_ctes, d_minhash_lsh

SALT_BUCKETS = 16


@register(
    "t_token_frequency_salted",
    oracle="""
SELECT t AS token, CAST(COUNT(*) AS BIGINT) AS n
FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
GROUP BY t
""",
    doc="Skew-safe token frequency: 31-word vocabulary over the whole corpus "
    "is a pathologically hot groupBy key; the two-stage salted aggregate "
    "(partial count per (token, doc_id%16), then rollup) caps any one "
    "reducer at ~1/16 of the hottest key. Salting is a physical-plan choice "
    "only — the oracle is the plain GROUP BY.",
)
def t_token_frequency_salted(e) -> DataFrame:
    docs = fan_out(e["documents"])
    tok = docs.select(
        (F.col("doc_id") % SALT_BUCKETS).alias("salt"),
        F.explode(F.split("text", " ")).alias("token"),
    )
    partial = tok.groupBy("token", "salt").agg(F.count("*").alias("pn"))
    return partial.groupBy("token").agg(F.sum("pn").alias("n"))


@register(
    "t_tfidf_top_terms",
    oracle="""
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t
  FROM documents
),
df_counts AS (
  SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tok GROUP BY t
),
n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
tf AS (
  SELECT doc_id, t2 AS t, CAST(COUNT(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t2 FROM documents)
  GROUP BY doc_id, t2
),
scored AS (
  SELECT tf.doc_id, tf.t,
         CAST(FLOOR(tf.tf * ln(n.n_docs * 1.0 / df_counts.df) * 1000000 + 1e-9) AS BIGINT) AS tfidf_e6
  FROM tf JOIN df_counts ON df_counts.t = tf.t CROSS JOIN n
)
SELECT doc_id, t AS term, tfidf_e6, CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                               ORDER BY tfidf_e6 DESC, t) AS rk
  FROM scored
) x
WHERE rk <= 3
""",
    doc="TF-IDF top-3 terms per document: document frequency from distinct "
    "tokens, term frequency with multiplicity, idf = ln(N/df), score "
    "integer-quantized (floor(x*1e6 + 1e-9), the nudge because ln is "
    "libm-dependent in its last bit) so cross-engine float noise "
    "cannot reach the comparator.",
)
def t_tfidf_top_terms(e) -> DataFrame:
    from pyspark.sql import Window

    docs = e["documents"]
    toks = F.split("text", " ")
    tok_distinct = docs.select(
        "doc_id", F.explode(F.array_distinct(toks)).alias("t")
    )
    df_counts = tok_distinct.groupBy("t").agg(F.count("*").alias("df"))
    n_docs = docs.count()  # scalar; corpus row count, fine on the driver
    tf = (
        docs.select("doc_id", F.explode(toks).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count("*").alias("tf"))
    )
    scored = tf.join(F.broadcast(df_counts), "t").select(
        "doc_id",
        "t",
        F.floor(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")) * 1000000
            + 1e-9
        )
        .cast("long")
        .alias("tfidf_e6"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf_e6").desc(), "t")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select("doc_id", F.col("t").alias("term"), "tfidf_e6", F.col("rk").cast("int").alias("rank"))
    )


@register(
    "d_near_dup_clusters",
    oracle=_duck_lsh_pairs_ctes() + """,
edges AS (
  SELECT a_id AS src, b_id AS dst FROM lsh_pairs
  UNION SELECT b_id, a_id FROM lsh_pairs
  UNION SELECT a_id, a_id FROM lsh_pairs
  UNION SELECT b_id, b_id FROM lsh_pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
)
SELECT src AS doc_id, CAST(MIN(dst) AS BIGINT) AS cluster_id
FROM reach GROUP BY src
""",
    doc="Connected components over the verified MinHash-LSH near-dup pairs: "
    "cluster_id = min doc_id reachable in the pair graph. Spark side is "
    "iterative min-label propagation (O(diameter) rounds of join+agg — the "
    "standard large-graph CC shape, caches released per round); the DuckDB "
    "oracle states the same fixpoint as a recursive transitive closure, so "
    "the genuinely iterative algorithm still gets a full hash-checked "
    "oracle row instead of a rows-only check.",
)
def d_near_dup_clusters(e) -> DataFrame:
    # Memoized per (session, sf): the labels are the input of keeper
    # selection (d_cluster_keeper) — without the pin every downstream
    # consumer would re-run the whole O(diameter) propagation loop. Thunk
    # form: the loop runs jobs while BUILDING the frame, so it must not
    # execute at all on a cache hit. The frame itself is
    # localCheckpoint-truncated; the pin is label-table-sized.
    from ..registry import eager_cache

    return eager_cache(
        e, "cc_labels", lambda: near_dup_clusters(d_minhash_lsh(e))
    )


def near_dup_clusters(pairs: DataFrame, max_iter: int = 50) -> DataFrame:
    """Connected components over the near-dup pair graph by iterative
    min-label propagation: every doc adopts the smallest doc_id reachable
    so far; iterate to fixpoint (raises if max_iter rounds don't reach it).

    Returns (doc_id, cluster_id). Each round is ONE equi-join (pull every
    neighbor's current label) + ONE union-groupBy-min — the standard
    large-graph CC shape (label propagation, cf. GraphFrames) with
    O(diameter) rounds. Round 1 needs no join at all: with identity
    labels, the neighbor pull IS the edge list. Convergence is detected
    from the same action that materializes the round's cache: the label
    sum strictly decreases every non-fixpoint round (labels only ever
    shrink), so an unchanged (count, sum) pair is the fixpoint — no
    prev-label carry, no second probe job. Near-dup clusters are tiny, so
    2-3 rounds converge in practice.
    """
    edges = (
        pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
        .unionAll(pairs.select(F.col("b_id").alias("src"), F.col("a_id").alias("dst")))
        .distinct()
        .cache()
    )
    # Round 1 fused into initialization: identity labels make the neighbor
    # pull the edge list itself, so the first propagation is join-free.
    # (This action also eagerly materializes the edge cache — every later
    # round re-reads it; lazy would recompute the LSH pipeline.)
    labels = (
        edges.select(F.col("src").alias("doc_id"), F.col("dst").alias("cluster_id"))
        .unionAll(
            edges.select(F.col("src").alias("doc_id"), F.col("src").alias("cluster_id"))
        )
        .groupBy("doc_id")
        .agg(F.min("cluster_id").alias("cluster_id"))
    )

    def _sig(df: DataFrame):
        row = df.agg(
            F.count("*").alias("n"), F.sum("cluster_id").alias("s")
        ).collect()[0]
        return row.n, row.s

    # Each round TRUNCATES lineage with an eager localCheckpoint rather
    # than cache(): the nested join/union/groupBy plan otherwise grows by
    # one level per round, and past ~20 rounds (a long-chain component's
    # diameter) analysis/codegen of the accumulated plan OOMs the driver —
    # caching bounds recomputation but not plan size. Checkpointed blocks
    # are freed when the superseded frame is GC'd; live state is one
    # label-table-sized frame per concurrent call.
    labels = labels.localCheckpoint(eager=True)
    sig = _sig(labels)
    for _ in range(max_iter):
        msgs = edges.join(
            labels.select(F.col("doc_id").alias("dst"), "cluster_id"), "dst"
        ).select(F.col("src").alias("doc_id"), "cluster_id")
        new_labels = (
            labels.select("doc_id", "cluster_id")
            .unionAll(msgs)
            .groupBy("doc_id")
            .agg(F.min("cluster_id").alias("cluster_id"))
            .localCheckpoint(eager=True)
        )
        new_sig = _sig(new_labels)
        labels = new_labels
        if new_sig == sig:  # sum strictly decreases until fixpoint
            break
        sig = new_sig
    else:
        # A silent cap here would return labels that DISAGREE with the
        # transitive closure (a chain component with diameter > max_iter+1
        # leaves its tail mislabeled), and every downstream consumer
        # (keeper selection, corpus verdict) would quietly pick wrong
        # winners. Converged-or-error is the contract.
        edges.unpersist()
        raise RuntimeError(
            f"near_dup_clusters did not converge within {max_iter} rounds "
            "— a component's diameter exceeds the cap. Raise max_iter "
            "(rounds are O(diameter), each one join+agg)."
        )
    edges.unpersist()
    return labels


@register(
    "d_cluster_keeper",
    oracle=_duck_lsh_pairs_ctes() + """,
edges AS (
  SELECT a_id AS src, b_id AS dst FROM lsh_pairs
  UNION SELECT b_id, a_id FROM lsh_pairs
  UNION SELECT a_id, a_id FROM lsh_pairs
  UNION SELECT b_id, b_id FROM lsh_pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
cc AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
)
SELECT cc.cluster_id,
       CAST(COUNT(*) AS BIGINT)                              AS n_members,
       FIRST(d.doc_id ORDER BY d.n_chars DESC, d.doc_id)     AS keeper_doc_id,
       CAST(MAX(d.n_chars) AS BIGINT)                        AS keeper_n_chars,
       CAST(COUNT(*) - 1 AS BIGINT)                          AS n_removed,
       CAST(SUM(d.n_chars) - MAX(d.n_chars) AS BIGINT)       AS chars_removed
FROM cc JOIN documents d ON d.doc_id = cc.doc_id
GROUP BY cc.cluster_id
""",
    doc="Keeper selection — the output a dedup pipeline actually acts on: "
    "per near-dup cluster (MinHash-LSH pairs -> connected components), "
    "keep the longest document (doc_id tiebreak) and count what gets "
    "dropped. Keeper chosen with one max-of-struct aggregate "
    "(n_chars, -doc_id) — no per-cluster sort or window; the join against "
    "documents is an equi-join on doc_id. Cluster count is bounded by the "
    "near-dup pair graph, orders of magnitude below corpus size.",
)
def d_cluster_keeper(e) -> DataFrame:
    cc = d_near_dup_clusters(e)
    d = e["documents"].select("doc_id", "n_chars")
    g = cc.join(d, "doc_id").groupBy("cluster_id").agg(
        F.count("*").alias("n_members"),
        F.max(F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg_id"))).alias("best"),
        F.sum("n_chars").alias("sum_chars"),
    )
    return g.select(
        "cluster_id",
        "n_members",
        (-F.col("best.neg_id")).cast("long").alias("keeper_doc_id"),
        F.col("best.n_chars").cast("long").alias("keeper_n_chars"),
        (F.col("n_members") - 1).cast("long").alias("n_removed"),
        (F.col("sum_chars") - F.col("best.n_chars")).cast("long").alias("chars_removed"),
    )


# Deterministic two-snapshot derivation for the incremental-ingestion diff:
# snapshot A (old) lacks the doc_id % 13 == 5 docs (later arrivals),
# snapshot B (new) lacks the doc_id % 11 == 3 docs (deletions) and carries
# re-crawled text (uppercased) for doc_id % 7 == 2. Both engines derive
# A and B from the same documents table with the same arithmetic.
_DIFF_A = "doc_id % 13 <> 5"
_DIFF_B = "doc_id % 11 <> 3"
_DIFF_CHANGED = "doc_id % 7 = 2"


@register(
    "d_corpus_diff",
    oracle=f"""
WITH a AS (
  SELECT doc_id, source, md5(text) AS dig FROM documents WHERE {_DIFF_A}
),
b AS (
  SELECT doc_id, source,
         md5(CASE WHEN {_DIFF_CHANGED} THEN upper(text) ELSE text END) AS dig
  FROM documents WHERE {_DIFF_B}
)
SELECT COALESCE(a.doc_id, b.doc_id)   AS doc_id,
       COALESCE(a.source, b.source)   AS source,
       CASE WHEN a.doc_id IS NULL THEN 'ADDED'
            WHEN b.doc_id IS NULL THEN 'REMOVED'
            ELSE 'CHANGED' END        AS action
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.dig <> b.dig
""",
    doc="Incremental corpus snapshot diff — the delta-ingestion audit "
    "(the documents twin of j2's block-report diff): full-outer join of "
    "old vs new snapshot on doc_id comparing content digests, emitting "
    "only the ADDED / REMOVED / CHANGED delta (UNCHANGED rows never leave "
    "the join). Digests are computed map-side, the join is one equi-join "
    "partitioned on doc_id, and the output is delta-sized — at 100 TB "
    "the dominant UNCHANGED mass flows through one shuffle and vanishes "
    "in the joined filter, which is exactly how delta detection must "
    "behave when a daily crawl re-ships the whole corpus.",
)
def d_corpus_diff(e) -> DataFrame:
    docs = e["documents"]
    a = docs.filter(_DIFF_A).select("doc_id", "source", F.md5("text").alias("dig_a"))
    b = docs.filter(_DIFF_B).select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("source").alias("source_b"),
        F.md5(
            F.when(F.expr(_DIFF_CHANGED), F.upper("text")).otherwise(F.col("text"))
        ).alias("dig_b"),
    )
    j = a.join(b, a.doc_id == b.doc_id_b, "full_outer")
    return (
        j.filter(
            F.col("doc_id").isNull()
            | F.col("doc_id_b").isNull()
            | (F.col("dig_a") != F.col("dig_b"))
        )
        .select(
            F.coalesce("doc_id", "doc_id_b").alias("doc_id"),
            F.coalesce("source", "source_b").alias("source"),
            F.when(F.col("doc_id").isNull(), "ADDED")
            .when(F.col("doc_id_b").isNull(), "REMOVED")
            .otherwise("CHANGED")
            .alias("action"),
        )
    )


@register(
    "c_corpus_verdict",
    oracle=_duck_lsh_pairs_ctes() + f""",
edges AS (
  SELECT a_id AS src, b_id AS dst FROM lsh_pairs
  UNION SELECT b_id, a_id FROM lsh_pairs
  UNION SELECT a_id, a_id FROM lsh_pairs
  UNION SELECT b_id, b_id FROM lsh_pairs
),
reach(src, dst) AS (
  SELECT src, dst FROM edges
  UNION
  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
),
cc2 AS (
  SELECT src AS doc_id, MIN(dst) AS cluster_id FROM reach GROUP BY src
),
keeper2 AS (
  SELECT cc2.cluster_id,
         FIRST(d.doc_id ORDER BY d.n_chars DESC, d.doc_id) AS keeper_doc_id
  FROM cc2 JOIN documents d ON d.doc_id = cc2.doc_id
  GROUP BY cc2.cluster_id
),
exact2 AS (
  SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5(text)) AS ex_keeper
  FROM documents
),
ev2 AS (
  SELECT DISTINCT unnest({{sh}}) AS h
  FROM documents WHERE source = 'src0'
),
tr2 AS (
  SELECT doc_id, unnest({{sh}}) AS h
  FROM documents WHERE source <> 'src0'
),
hits2 AS (
  SELECT tr2.doc_id, CAST(COUNT(*) AS BIGINT) AS n_overlap
  FROM tr2 JOIN ev2 ON ev2.h = tr2.h
  GROUP BY tr2.doc_id
),
v AS (
  SELECT d.doc_id,
         CASE WHEN d.source = 'src0'           THEN 'eval_heldout'
              WHEN x.ex_keeper <> d.doc_id     THEN 'exact_dup'
              WHEN k.keeper_doc_id IS NOT NULL
               AND k.keeper_doc_id <> d.doc_id THEN 'near_dup'
              WHEN COALESCE(h.n_overlap, 0) >= 5 THEN 'contaminated'
              ELSE 'kept' END AS verdict
  FROM documents d
  JOIN exact2 x ON x.doc_id = d.doc_id
  LEFT JOIN cc2 ON cc2.doc_id = d.doc_id
  LEFT JOIN keeper2 k ON k.cluster_id = cc2.cluster_id
  LEFT JOIN hits2 h ON h.doc_id = d.doc_id
)
SELECT v.doc_id, v.verdict,
       CASE WHEN v.verdict = 'kept'
            THEN CASE WHEN {{b}} < 90 THEN 'train'
                      WHEN {{b}} < 95 THEN 'val'
                      ELSE 'test' END
            ELSE CAST(NULL AS STRING) END AS split
FROM v
""".format(
        sh="""list_distinct(list_transform(
    range(1, len(string_split(text, ' ')) - 1),
    i -> md5(string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i+1]
             || ' ' || string_split(text, ' ')[i+2])))""",
        b="(doc_id * 1103515245 + 12345) % 2147483648 % 100",
    ),
    doc="The end-to-end curation pipeline as ONE query — the composition a "
    "corpus owner actually ships: per document, the first-failing stage in "
    "precedence order (held-out eval slice -> exact dup loser -> near-dup "
    "cluster non-keeper -> benchmark-contaminated) or 'kept' plus the "
    "deterministic train/val/test split for survivors. Every stage reuses "
    "the verified building block (exact digest keeper, memoized "
    "LSH->connected-components labels + longest-doc keeper, broadcast "
    "eval-shingle probe, LCG split) — the point is that the operators "
    "COMPOSE: one Spark plan, one verdict column, same oracles chained as "
    "CTEs. Scale: each stage is individually bounded (see its own plan "
    "entry); the composition adds only doc-keyed equi-joins of "
    "verdict-sized frames.",
)
def c_corpus_verdict(e) -> DataFrame:
    from .curation import _BUCKET_SQL, c_decontaminate
    from .dedup import d_exact_dedup

    docs = e["documents"].select("doc_id", "source", F.md5("text").alias("dig"))
    ex = d_exact_dedup(e).select(
        F.col("text_md5").alias("dig"), F.col("keeper_doc_id").alias("ex_keeper")
    )
    cc = d_near_dup_clusters(e)  # memoized labels
    keeper = d_cluster_keeper(e).select("cluster_id", "keeper_doc_id")
    cont = c_decontaminate(e).select("doc_id", "n_overlap_shingles")
    verdict = (
        F.when(F.col("source") == "src0", "eval_heldout")
        .when(F.col("ex_keeper") != F.col("doc_id"), "exact_dup")
        .when(
            F.col("keeper_doc_id").isNotNull()
            & (F.col("keeper_doc_id") != F.col("doc_id")),
            "near_dup",
        )
        .when(F.coalesce("n_overlap_shingles", F.lit(0)) >= 5, "contaminated")
        .otherwise("kept")
    )
    bucket = F.expr(_BUCKET_SQL)
    split = F.when(
        F.col("verdict") == "kept",
        F.when(bucket < 90, "train").when(bucket < 95, "val").otherwise("test"),
    ).otherwise(F.lit(None).cast("string"))
    return (
        docs.join(ex, "dig")
        .join(cc, "doc_id", "left")
        .join(F.broadcast(keeper), "cluster_id", "left")
        .join(cont, "doc_id", "left")
        .select("doc_id", verdict.alias("verdict"))
        .select("doc_id", "verdict", split.alias("split"))
    )
