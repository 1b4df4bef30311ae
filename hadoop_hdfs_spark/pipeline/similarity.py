"""Similarity search over embedding vectors (array<float> column).

Two paths, per the standard ANN playbook:

- brute-force top-k — the exact baseline: query set x corpus cross join with
  a broadcast query side. Dot products run as a sequential fold over
  double-cast arrays (`F.aggregate` + `zip_with`) entirely JVM-side — no
  Python UDF in the hot path.
- IVF-style bucketed top-k — the scale path: a coarse partitioner (here the
  fixture's `label` column stands in for a k-means cell id) turns the cross
  join into an equi-join on the cell key, so each query only scans its
  bucket. At 100 TB the bucket key is what you shuffle on.

Scores are emitted as floor(cos * 1e6) BIGINTs: DuckDB and Spark both fold
left-to-right over double lists, and flooring removes any residual ulp from
the comparator's view.

The QUERY SET is a FIXED-SIZE sample: the QUERY_K vectors with the lowest
md5(vec_id) (deterministic in both engines, uniform over the corpus). A
proportional sample (the r2-era ``vec_id % 100``) made every driver-gated
kNN query quadratic in corpus size — both join sides grew with the data
(scale_probe r3: 49-69x at 10x). With K pinned, the brute-force side is
K x N = LINEAR, so the recall gate itself is runnable at 100 TB — the
NNThroughputBenchmark pattern of fixed op counts
(NNThroughputBenchmark.java:59-90) applied to index acceptance.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import register

# Sequential double fold — mirrors Spark's F.aggregate element order.
_DUCK_VECS = """
  SELECT vec_id, label,
         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
  FROM embeddings
"""
_DUCK_DOT = "list_reduce(list_transform(range(1, 65), i -> a.v[i] * q.v[i]), (acc, x) -> acc + x)"
_DUCK_NORM = "sqrt(list_reduce(list_transform(range(1, 65), i -> {t}.v[i] * {t}.v[i]), (acc, x) -> acc + x))"


QUERY_K = 100
# DuckDB side of the fixed-K query sample; {src} is the vector CTE name.
_DUCK_QSET = (
    "SELECT * FROM {src} "
    "ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT " + str(QUERY_K)
)


def _query_sample(vecs: DataFrame) -> DataFrame:
    """The fixed-K query set: lowest md5(vec_id), ties by vec_id. Spark
    plans this as TakeOrderedAndProject (distributed top-K, no global
    sort); K is constant, so every downstream join is K x corpus."""
    return vecs.orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    ).limit(QUERY_K)


def _vecs(e) -> DataFrame:
    return e["embeddings"].select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _cosine(a, b):
    return _dot(a, b) / (F.sqrt(_dot(a, a)) * F.sqrt(_dot(b, b)))


@register(
    "s_knn_bruteforce",
    oracle=f"""
WITH e AS ({_DUCK_VECS}),
q AS ({_DUCK_QSET.format(src='e')}),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(FLOOR({_DUCK_DOT} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='q')})
              * 1000000) AS BIGINT) AS cos_e6
  FROM q JOIN e a ON a.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, cos_e6,
       CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_e6 DESC, neighbor_id) AS rk
  FROM scored
) t
WHERE rk <= 10
""",
    doc="Brute-force cosine top-10 (exact ANN baseline): broadcast query "
    "vectors x full corpus, JVM-side sequential-fold dot product, "
    "per-query rank window.",
)
def s_knn_bruteforce(e) -> DataFrame:
    # Norms are PER-VECTOR values: computing them once on each side before
    # the pair join removes two of the three O(dim) folds per pair (the
    # naive cosine recomputes both norms for every pair — 3x the work at
    # any corpus size). Same expression on the same vector => the same
    # IEEE double, so scores are bit-identical to the per-pair form the
    # oracle uses. The K x 10 result frame is memoized: s_knn_recall
    # consumes this exact ranking, so the corpus scan runs once per
    # (session, sf). Thunk form (r11): the dot-product folds are
    # construction-heavy, so a memo hit must skip building them.
    from ..registry import eager_cache

    return eager_cache(e, "knn_brute_top10", lambda: _build_knn_brute(e))


def _build_knn_brute(e) -> DataFrame:
    vecs = _vecs(e).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = _query_sample(vecs).select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    a = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    scored = (
        a.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.floor(
                _dot(F.col("av"), F.col("qv")) / (F.col("an") * F.col("qn"))
                * 1000000
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_e6").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "neighbor_id", "cos_e6", "rank")
    )


@register(
    "s_knn_ivf",
    oracle=f"""
WITH e AS ({_DUCK_VECS}),
q AS ({_DUCK_QSET.format(src='e')}),
scored AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id, a.label,
         CAST(FLOOR({_DUCK_DOT} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='q')})
              * 1000000) AS BIGINT) AS cos_e6
  FROM q JOIN e a ON a.label = q.label AND a.vec_id <> q.vec_id
)
SELECT query_id, neighbor_id, label, cos_e6, CAST(rk AS INT) AS rank
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cos_e6 DESC, neighbor_id) AS rk
  FROM scored
) t
WHERE rk <= 5
""",
    doc="IVF-style bucketed top-5: the coarse cell id (label) turns the "
    "scan into an equi-join — each query probes one bucket instead of the "
    "corpus. The 100 TB shape: shuffle on cell id, never cross-join.",
)
def s_knn_ivf(e) -> DataFrame:
    # Same norm precomputation + result memoization as s_knn_bruteforce
    # (s_knn_recall_clustered reads this exact top-5).
    from ..registry import eager_cache

    return eager_cache(e, "knn_ivf_top5", lambda: _build_knn_ivf(e))


def _build_knn_ivf(e) -> DataFrame:
    vecs = _vecs(e).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = _query_sample(vecs).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    a = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    scored = (
        a.join(F.broadcast(q), (F.col("label") == F.col("qlabel")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            "label",
            F.floor(
                _dot(F.col("av"), F.col("qv")) / (F.col("an") * F.col("qn"))
                * 1000000
            )
            .cast("long")
            .alias("cos_e6"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos_e6").desc(), "neighbor_id")
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id", "label", "cos_e6", "rank")
    )


@register(
    "s_embedding_stats",
    oracle=f"""
WITH e AS ({_DUCK_VECS}),
pv AS (
  SELECT label,
         CAST(FLOOR({_DUCK_NORM.format(t='e')} * 1000000) AS BIGINT) AS norm_e6
  FROM e
)
SELECT label,
       CAST(COUNT(*) AS BIGINT) AS vectors,
       CAST(FLOOR(AVG(norm_e6)) AS BIGINT) AS avg_norm_e6,
       CAST(MIN(norm_e6) AS BIGINT) AS min_norm_e6,
       CAST(MAX(norm_e6) AS BIGINT) AS max_norm_e6
FROM pv
GROUP BY label
""",
    doc="Per-bucket embedding geometry stats (norm distribution) — the "
    "cell-level summary an IVF index build starts from.",
)
def s_embedding_stats(e) -> DataFrame:
    vecs = _vecs(e)
    norm = F.sqrt(_dot(F.col("v"), F.col("v")))
    # quantize per ROW, aggregate integers: averaging doubles first would
    # make the result depend on float summation order across engines
    per_vec = vecs.select(
        "label", F.floor(norm * 1000000).cast("long").alias("norm_e6")
    )
    return per_vec.groupBy("label").agg(
        F.count("*").alias("vectors"),
        F.floor(F.avg("norm_e6")).cast("long").alias("avg_norm_e6"),
        F.min("norm_e6").alias("min_norm_e6"),
        F.max("norm_e6").alias("max_norm_e6"),
    )

@register(
    "s_quantize_int8",
    oracle="""
SELECT vec_id,
       CAST(FLOOR(amax * 1000000) AS BIGINT) AS amax_e6,
       CAST(list_sum(q) AS BIGINT)           AS q_sum,
       md5(array_to_string(list_transform(q, x -> CAST(x AS STRING)), ',')) AS q_md5
FROM (
  SELECT vec_id, amax,
         list_transform(v, x -> CAST(FLOOR(x * 127.0 / amax) AS BIGINT)) AS q
  FROM (
    SELECT vec_id,
           list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
           GREATEST(list_max(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE)))), 1e-30)           AS amax
    FROM embeddings
  )
)
""",
    doc="Symmetric int8 vector quantization (beyond reference — embedding "
    "storage for the 100 TB corpus): per-vector absmax scale to [-127, 127], "
    "floor-quantized — 4x smaller than float32, dot products stay integer. "
    "Emits the scale (e6-quantized), the quantized component sum, and the "
    "digest of the full quantized vector so both engines certify identical "
    "codes, element for element. Pure per-row array expressions — zero "
    "shuffles; the quantize-and-rewrite job is a map over the corpus.",
)
def s_quantize_int8(e) -> DataFrame:
    v = F.transform("embedding", lambda x: x.cast("double"))
    amax = F.greatest(
        F.array_max(F.transform(v, lambda x: F.abs(x))), F.lit(1e-30)
    )
    d = e["embeddings"].select("vec_id", v.alias("v"), amax.alias("amax"))
    q = F.transform("v", lambda x: F.floor(x * 127.0 / F.col("amax")).cast("long"))
    d = d.select("vec_id", "amax", q.alias("q"))
    return d.select(
        "vec_id",
        F.floor(F.col("amax") * 1000000).cast("long").alias("amax_e6"),
        F.aggregate("q", F.lit(0).cast("long"), lambda acc, x: acc + x).alias("q_sum"),
        F.md5(F.array_join(F.transform("q", lambda x: x.cast("string")), ",")).alias(
            "q_md5"
        ),
    )


@register(
    "s_knn_recall",
    oracle=f"""
WITH e AS ({_DUCK_VECS}),
q AS ({_DUCK_QSET.format(src='e')}),
bs AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(FLOOR({_DUCK_DOT} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='q')})
              * 1000000) AS BIGINT) AS cos_e6
  FROM q JOIN e a ON a.vec_id <> q.vec_id
),
b5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_e6 DESC, neighbor_id) AS rk
    FROM bs
  ) t WHERE rk <= 5
),
ivs AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(FLOOR({_DUCK_DOT} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='q')})
              * 1000000) AS BIGINT) AS cos_e6
  FROM q JOIN e a ON a.label = q.label AND a.vec_id <> q.vec_id
),
i5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_e6 DESC, neighbor_id) AS rk
    FROM ivs
  ) t WHERE rk <= 5
)
SELECT b.query_id,
       CAST(COUNT(*) AS BIGINT) AS k_exact,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_common,
       CAST((SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS recall_permille
FROM b5 b
LEFT JOIN i5 i ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
GROUP BY b.query_id
""",
    doc="ANN quality measurement (beyond reference — the acceptance gate "
    "any approximate index needs): recall@5 of the IVF bucketed path "
    "against the exact brute-force baseline, per query. Both rankings use "
    "the same e6-quantized score and (cos desc, neighbor_id) tiebreak, so "
    "overlap counting is exact integer work. The comparison joins two "
    "query-count-sized top-k frames — negligible next to the scans that "
    "produced them; at 100 TB this runs over a SAMPLE of queries and the "
    "resulting recall number decides whether the bucketed index ships. On "
    "this fixture the number it measures is genuinely low: the embeddings "
    "are structureless random vectors and the coarse key is the fixture's "
    "label, so one-bucket probing cannot beat the bucket-size/N random "
    "baseline — which is precisely the signal that tells an operator to "
    "re-cluster (s_ivf_build) before trusting the index.",
)
def s_knn_recall(e) -> DataFrame:
    b5 = (
        s_knn_bruteforce(e)
        .filter(F.col("rank") <= 5)
        .select("query_id", "neighbor_id")
    )
    i5 = s_knn_ivf(e).filter(F.col("rank") <= 5).select("query_id", "neighbor_id")
    common = (
        b5.join(i5, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    base = b5.groupBy("query_id").agg(F.count("*").cast("long").alias("k_exact"))
    return (
        base.join(common, "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        )
        .withColumn(
            "recall_permille",
            F.expr("CAST((n_common * 1000) DIV k_exact AS BIGINT)"),
        )
    )


# --------------------------------------------- clustered-fixture recall gate

# Deterministic label-correlated geometry, IDENTICAL in both engines: each
# label gets a pseudo-random cluster center with coordinates
# (md5(label|j) first-4-hex % 2001 - 1000)/1000 in [-1, 1], scaled by 3 —
# an order of magnitude above the fixture vectors' ~unit norms, so
# same-label vectors genuinely cluster. Every term is per-element integer->
# double arithmetic (no cross-row float sums), so the two engines produce
# bit-identical doubles before the e6 floor.
_DUCK_CLUSTERED_VECS = """
  SELECT vec_id, label,
         list_transform(range(1, 65), i -> CAST(embedding[i] AS DOUBLE)
           + 3.0 * ((('0x' || substr(md5(CAST(label AS VARCHAR) || '|'
                      || CAST(i AS VARCHAR)), 1, 4))::BIGINT % 2001 - 1000)
                    / 1000.0)) AS v
  FROM embeddings
"""

_SPARK_CLUSTERED_VECS = (
    "transform(embedding, (x, i) -> cast(x as double)"
    " + 3.0 * ((cast(conv(substring(md5(concat(cast(label as string), '|',"
    " cast(i + 1 as string))), 1, 4), 16, 10) as bigint) % 2001 - 1000)"
    " / 1000.0))"
)


@register(
    "s_knn_recall_clustered",
    oracle=f"""
WITH e AS ({_DUCK_CLUSTERED_VECS}),
q AS ({_DUCK_QSET.format(src='e')}),
bs AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(FLOOR({_DUCK_DOT} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='q')})
              * 1000000) AS BIGINT) AS cos_e6
  FROM q JOIN e a ON a.vec_id <> q.vec_id
),
b5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_e6 DESC, neighbor_id) AS rk
    FROM bs
  ) t WHERE rk <= 5
),
ivs AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(FLOOR({_DUCK_DOT} / ({_DUCK_NORM.format(t='a')} * {_DUCK_NORM.format(t='q')})
              * 1000000) AS BIGINT) AS cos_e6
  FROM q JOIN e a ON a.label = q.label AND a.vec_id <> q.vec_id
),
i5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY cos_e6 DESC, neighbor_id) AS rk
    FROM ivs
  ) t WHERE rk <= 5
)
SELECT b.query_id,
       CAST(COUNT(*) AS BIGINT) AS k_exact,
       CAST(SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_common,
       CAST((SUM(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS recall_permille
FROM b5 b
LEFT JOIN i5 i ON b.query_id = i.query_id AND b.neighbor_id = i.neighbor_id
GROUP BY b.query_id
""",
    doc="The recall gate on a fixture WITH real cluster structure "
    "(complement of s_knn_recall, which honestly reports sub-random "
    "recall on the structureless vectors): the same recall@5-vs-exact "
    "measurement over label-correlated vectors — each label's "
    "deterministic md5-derived cluster center (magnitude ~3x the raw "
    "vectors) is added element-wise in BOTH engines, so the bucketed "
    "index's coarse key now reflects geometry and recall@5 lands at "
    "1000 permille (pinned >= 800 in tests/test_ann_recall.py). "
    "Together the pair documents the operational rule: the recall gate "
    "DECIDES whether the IVF key ships — low on unclustered data "
    "(re-cluster first), high once the key matches geometry. Same "
    "plan shape as s_knn_recall: broadcast query side, per-query "
    "top-k windows, query-count-sized compare frames.",
)
def s_knn_recall_clustered(e) -> DataFrame:
    from ..registry import eager_cache

    return eager_cache(e, "knn_recall_clustered", lambda: _recall_clustered(e))


def _recall_clustered(e) -> DataFrame:
    vecs = e["embeddings"].select(
        "vec_id", "label", F.expr(_SPARK_CLUSTERED_VECS).alias("v")
    ).withColumn("nrm", F.sqrt(_dot(F.col("v"), F.col("v"))))
    q = _query_sample(vecs).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("qlabel"),
        F.col("v").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    a = vecs.select(
        F.col("vec_id").alias("neighbor_id"),
        "label",
        F.col("v").alias("av"),
        F.col("nrm").alias("an"),
    )
    def top5(scored):
        w = Window.partitionBy("query_id").orderBy(
            F.col("cos_e6").desc(), "neighbor_id"
        )
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= 5)
            .select("query_id", "neighbor_id")
        )

    cos_e6 = (
        F.floor(
            _dot(F.col("av"), F.col("qv")) / (F.col("an") * F.col("qn"))
            * 1000000
        ).cast("long")
    )
    bf = top5(
        a.crossJoin(F.broadcast(q.select("query_id", "qv", "qn")))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos_e6.alias("cos_e6"))
    )
    iv = top5(
        a.join(F.broadcast(q), F.col("label") == F.col("qlabel"))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select("query_id", "neighbor_id", cos_e6.alias("cos_e6"))
    )
    common = (
        bf.join(iv, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("query_id")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    base = bf.groupBy("query_id").agg(F.count("*").cast("long").alias("k_exact"))
    return (
        base.join(common, "query_id", "left")
        .select(
            "query_id",
            "k_exact",
            F.coalesce(F.col("n_common"), F.lit(0)).cast("long").alias("n_common"),
        )
        .withColumn(
            "recall_permille",
            F.expr("CAST((n_common * 1000) DIV k_exact AS BIGINT)"),
        )
    )
