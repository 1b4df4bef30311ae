"""Product quantization (PQ) for embedding storage and search — the third
rung of the vector-compression ladder (int8 absmax -> IVF cells -> PQ codes).

Jegou et al. 2011 ("Product quantization for nearest neighbor search"):
split each 64-d vector into M=4 contiguous 16-d subspaces, give each
subspace a small codebook, and store per vector only the M codeword ids —
4 bytes instead of 256 (64x smaller than float32). Search runs against the
codes with ASYMMETRIC distance (exact query vs quantized database), so the
corpus never needs its raw vectors resident.

Determinism across engines, house rules:

- components quantize to e6 BIGINTs BEFORE any distance math (the shared
  ``_quantized_vecs`` frame), so every squared-L2 term is exact integer
  work in any fold order;
- the codebook is a DETERMINISTIC SAMPLE — the KW vectors with the lowest
  md5('pq|' || vec_id) (salted so it cannot collide with the query
  sample's md5(vec_id) order) — the k-means++-style "seed by sampling"
  init production trainers start from, expressed identically in both
  engines;
- argmin ties break to the lowest codeword id: Spark compares
  struct(dist, k) field-by-field, the oracle minimizes the packed integer
  dist * 64 + k (KW < 64, so the id occupies the low bits exactly).

Scale shape: the codebook folds to ONE broadcast row (M x KW codewords);
encoding is then a PURE MAP over the corpus — zero shuffles, no window,
no groupBy touches a corpus-sized frame. The ADC gate reuses the fixed-K
query-sample pattern (similarity.py): with K pinned, both the exact
baseline and the ADC ranking are K x N = linear in corpus size, so the
acceptance gate itself runs at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import eager_cache, register
from .ann import DUCK_XE as _DUCK_XE  # the ONE quantization definition
from .ann import _quantized_vecs, _sq_dist
from .similarity import QUERY_K, _query_sample

M = 4  # subspaces
SUB = 16  # dims per subspace (M * SUB = 64)
KW = 16  # codewords per subspace (< 64: packs into dist*64+k)
SHORTLIST = 50  # ADC candidate count the exact re-rank then scans

# Sampled codebook: KW whole vectors by salted-md5 rank; subspace m's
# codeword k is the m-th 16-d slice of sample vector k.
_DUCK_CB = f"""
sampv AS (
  SELECT vec_id, xe FROM e
  ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)), vec_id LIMIT {KW}
),
cb AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5('pq|' || CAST(vec_id AS VARCHAR)),
                            vec_id) - 1 AS k,
         xe
  FROM sampv
)
"""

# Integer squared L2 over subspace m between vectors {a} and {b} (1-based
# lists; m is a column from range(0, M)).
_DUCK_SUBDIST = (
    "CAST(list_reduce(list_transform(range(1, 17),"
    " i -> ({a}[{m} * 16 + i] - {b}[{m} * 16 + i])"
    " * ({a}[{m} * 16 + i] - {b}[{m} * 16 + i])),"
    " (acc, x) -> acc + x) AS BIGINT)"
)

_DUCK_CODES = f"""
scored AS (
  SELECT e.vec_id, t.m, cb.k,
         {_DUCK_SUBDIST.format(a='e.xe', b='cb.xe', m='t.m')} AS d
  FROM e CROSS JOIN cb CROSS JOIN range(0, {M}) t(m)
),
keys AS (
  SELECT vec_id, m, MIN(d * 64 + k) AS ky FROM scored GROUP BY vec_id, m
)
"""


def _sub_sqdist(a, b, m: int):
    """Integer squared L2 between the m-th 16-d slices of two e6 vectors —
    exact in any fold order (diff <= 4e6, squared 1.6e13, x16 dims well
    inside BIGINT)."""
    return F.aggregate(
        F.zip_with(
            F.slice(a, m * SUB + 1, SUB),
            F.slice(b, m * SUB + 1, SUB),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _codebook_row(xe: DataFrame) -> DataFrame:
    """The codebook folded to ONE row: array of struct(k, xe) sorted by k.
    KW x 64 BIGINTs (~8 KB) — broadcast at any corpus scale."""
    rank = F.md5(F.concat(F.lit("pq|"), F.col("vec_id").cast("string")))
    w = Window.orderBy(rank, "vec_id")
    cb = (
        xe.orderBy(rank, "vec_id")
        .limit(KW)
        .select((F.row_number().over(w) - 1).cast("long").alias("k"), "xe")
    )
    return cb.groupBy().agg(
        F.sort_array(F.collect_list(F.struct("k", "xe"))).alias("cb")
    )


def _encoded(xe: DataFrame) -> DataFrame:
    """(vec_id, cb, code_0..code_{M-1}, distortion): per-subspace argmin
    codeword ids + total reconstruction error. The argmin structs are
    STAGED (aliased once, fields projected from the alias) so each
    16-codeword scan evaluates once per row — higher-order functions run
    interpreted, and CollapseProject would otherwise inline one copy per
    consuming expression (the r9 staging lesson)."""
    enc = xe.crossJoin(F.broadcast(_codebook_row(xe)))

    def key_m(m: int):
        return F.array_min(
            F.transform(
                "cb",
                lambda c: F.struct(
                    _sub_sqdist(F.col("xe"), c["xe"], m).alias("d"),
                    c["k"].alias("k"),
                ),
            )
        )

    staged = enc.select(
        "vec_id", "cb", *[key_m(m).alias(f"key_{m}") for m in range(M)]
    )
    total = None
    for m in range(M):
        d = F.col(f"key_{m}")["d"]
        total = d if total is None else total + d
    return staged.select(
        "vec_id",
        "cb",
        *[F.col(f"key_{m}")["k"].alias(f"code_{m}") for m in range(M)],
        total.alias("distortion"),
    )


@register(
    "s_pq_encode",
    oracle=f"""
WITH e AS ({_DUCK_XE}),
{_DUCK_CB},
{_DUCK_CODES}
SELECT vec_id,
       CAST(MAX(CASE WHEN m = 0 THEN ky % 64 END) AS BIGINT) AS code_0,
       CAST(MAX(CASE WHEN m = 1 THEN ky % 64 END) AS BIGINT) AS code_1,
       CAST(MAX(CASE WHEN m = 2 THEN ky % 64 END) AS BIGINT) AS code_2,
       CAST(MAX(CASE WHEN m = 3 THEN ky % 64 END) AS BIGINT) AS code_3,
       CAST(SUM(ky // 64) AS BIGINT) AS distortion
FROM keys GROUP BY vec_id
""",
    doc="Product-quantization encode (beyond reference — embedding storage "
    "for the 100 TB corpus): 4 subspaces x 16 codewords, per-vector codes "
    "+ total reconstruction error, all integer-exact. The codebook folds "
    "to one broadcast row, so encoding is a zero-shuffle map over the "
    "corpus — 4 bytes per vector, 64x smaller than float32.",
)
def s_pq_encode(e) -> DataFrame:
    return _encoded(_quantized_vecs(e)).select(
        "vec_id", "code_0", "code_1", "code_2", "code_3", "distortion"
    )


@register(
    "s_pq_adc_recall",
    oracle=f"""
WITH e AS ({_DUCK_XE}),
{_DUCK_CB},
{_DUCK_CODES},
q AS (
  SELECT vec_id, xe FROM e
  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {QUERY_K}
),
codes AS (
  SELECT vec_id, m, CAST(ky % 64 AS BIGINT) AS code FROM keys
),
adc AS (
  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         SUM({_DUCK_SUBDIST.format(a='q.xe', b='cb.xe', m='c.m')}) AS adist
  FROM q
  JOIN codes c ON c.vec_id <> q.vec_id
  JOIN cb ON cb.k = c.code
  GROUP BY q.vec_id, c.vec_id
),
aR AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY adist, neighbor_id) AS rk
    FROM adc
  ) t WHERE rk <= {SHORTLIST}
),
exact AS (
  SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
         CAST(list_reduce(list_transform(range(1, 65),
              i -> (q.xe[i] - a.xe[i]) * (q.xe[i] - a.xe[i])),
              (acc, x) -> acc + x) AS BIGINT) AS edist
  FROM q JOIN e a ON a.vec_id <> q.vec_id
),
e5 AS (
  SELECT query_id, neighbor_id FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                 ORDER BY edist, neighbor_id) AS rk
    FROM exact
  ) t WHERE rk <= 5
)
SELECT x.query_id,
       CAST(COUNT(*) AS BIGINT) AS k_exact,
       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_in_shortlist,
       CAST((SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000)
            // COUNT(*) AS BIGINT) AS recall_permille
FROM e5 x
LEFT JOIN aR a ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id
GROUP BY x.query_id
""",
    doc="PQ acceptance gate — the SHORTLIST form production IVF-PQ search "
    "actually uses (ADC scan -> top-50 candidates -> exact re-rank): per "
    "fixed-sample query, how much of the exact top-5 the asymmetric-"
    "distance shortlist contains. Both rankings are pure integer work "
    "(exact query vs PQ-reconstructed database, squared L2) with "
    "(dist, neighbor_id) tiebreaks, so the verdict is bit-stable across "
    "engines. With the query sample pinned at K, both sides are K x N — "
    "the gate is linear in corpus size. Honest numbers: ~414 permille on "
    "the structureless fixture, >= 800 on label-clustered geometry "
    "(pinned in tests/test_pq.py) — the pair that decides whether the "
    "64x-compressed codes ship with a re-rank stage.",
)
def s_pq_adc_recall(e) -> DataFrame:
    return eager_cache(
        e, "pq_adc_recall", lambda: _adc_recall(_quantized_vecs(e))
    )


def _adc_recall(xe: DataFrame) -> DataFrame:
    # the same fixed-K sample every recall gate draws (similarity.py)
    q = _query_sample(xe).select(
        F.col("vec_id").alias("query_id"), F.col("xe").alias("qxe")
    )

    # Database side: reconstruct each vector from its codes ONCE (staged),
    # then drop the codebook column — the join below carries only the
    # 64-element recon array per corpus row.
    recon = F.concat(
        *[
            F.slice(
                F.element_at("cb", (F.col(f"code_{m}") + 1).cast("int"))["xe"],
                m * SUB + 1,
                SUB,
            )
            for m in range(M)
        ]
    )
    db = _encoded(xe).select(
        F.col("vec_id").alias("neighbor_id"), recon.alias("recon")
    )

    def topn(scored, dcol, n):
        w = Window.partitionBy("query_id").orderBy(dcol, "neighbor_id")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= n)
            .select("query_id", "neighbor_id")
        )

    aR = topn(
        db.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist("qxe", "recon").alias("adist"),
        ),
        F.col("adist"),
        SHORTLIST,
    )
    e5 = topn(
        xe.select(F.col("vec_id").alias("neighbor_id"), "xe")
        .join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _sq_dist("qxe", "xe").alias("edist"),
        ),
        F.col("edist"),
        5,
    )
    # One LEFT JOIN with a hit indicator, then a single groupBy — the
    # oracle's shape. The two-branch form (left_semi for the overlap +
    # a second groupBy for the totals, joined back) re-executed the
    # whole K x N exact-ranking subtree once per branch.
    hits = aR.withColumn("hit", F.lit(1))
    return (
        e5.join(hits, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("*").cast("long").alias("k_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("long")
            .alias("n_in_shortlist"),
        )
        .withColumn(
            "recall_permille",
            F.expr("CAST((n_in_shortlist * 1000) DIV k_exact AS BIGINT)"),
        )
    )
