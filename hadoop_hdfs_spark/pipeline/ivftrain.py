"""s_ivf_train: Lloyd's k-means run to CONVERGENCE — the full IVF index
training loop, where ``s_ivf_build`` (ann.py) gates a single iteration.

The iterative-algorithm pattern shared with ``j4c_balancer_convergence``
(operators/cluster.py): a driver fixpoint over DataFrame rounds, lineage
truncated per round with an eager localCheckpoint, the per-iteration
trajectory emitted as the result, and the DuckDB oracle the SAME loop
unrolled into a bounded chain of MATERIALIZED CTEs (plain CTEs re-evaluate
per reference — exponential across a chained unrolling). Iterations after
convergence reassign nothing and emit nothing in both engines, so the
trajectories agree without signaling the break round.

Determinism is all-integer: components quantized to e6 BEFORE any
aggregation, centroids updated as SUM DIV COUNT (integer floor division —
no double AVG whose exactness would depend on magnitude), assignment by
(sq_dist, cell) argmin over BIGINTs. Empty cells simply vanish from the
centroid table (the standard Lloyd's degeneracy), shrinking k; the
trajectory carries the live cell count per round.

Scale: per iteration one centroid aggregation (shuffle keyed by cell —
k-bounded) and one vectors x broadcast-centroids assignment scan; the
loop's per-round cost is one corpus scan, independent of iteration
history. The same plan at 100 TB: centroid table is k x dim integers —
always broadcastable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..registry import register

_IVF_MAX_ITERS = 6


def _ivf_chain_ctes() -> str:
    """The unrolled Lloyd's chain as a comma-joined CTE list (no WITH
    keyword, no final SELECT) — shared by the s_ivf_train oracle and the
    s_knn_ivfpq oracle, whose routing runs on the converged partition
    ``iva_{_IVF_MAX_ITERS}``."""
    parts = [
        """ivx AS MATERIALIZED (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS xe
  FROM embeddings
),
iva_0 AS MATERIALIZED (SELECT vec_id, label AS cell FROM embeddings)"""
    ]
    for k in range(1, _IVF_MAX_ITERS + 1):
        p, c = k - 1, k
        parts.append(f"""
ivd_{c} AS MATERIALIZED (
  SELECT a.cell, i,
         CAST(SUM(x.xe[i]) // COUNT(*) AS BIGINT) AS ce
  FROM iva_{p} a JOIN ivx x USING (vec_id), range(1, 65) t(i)
  GROUP BY a.cell, i
),
ivc_{c} AS MATERIALIZED (
  SELECT cell, list(ce ORDER BY i) AS ce FROM ivd_{c} GROUP BY cell
),
ivs_{c} AS MATERIALIZED (
  SELECT x.vec_id, c.cell,
         CAST(list_reduce(list_transform(range(1, 65),
              i -> (x.xe[i] - c.ce[i]) * (x.xe[i] - c.ce[i])),
              (acc, v) -> acc + v) AS BIGINT) AS sq_dist
  FROM ivx x CROSS JOIN ivc_{c} c
),
iva_{c} AS MATERIALIZED (
  SELECT vec_id, cell, sq_dist FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                 ORDER BY sq_dist, cell) AS rk
    FROM ivs_{c}
  ) t WHERE rk = 1
),
ivt_{c} AS (
  SELECT CAST({c} AS INT) AS iteration,
         CAST(SUM(CASE WHEN n.cell <> o.cell THEN 1 ELSE 0 END) AS BIGINT) AS moved,
         CAST(COUNT(DISTINCT n.cell) AS BIGINT) AS live_cells,
         CAST(SUM(n.sq_dist) AS BIGINT) AS inertia
  FROM iva_{c} n JOIN iva_{p} o USING (vec_id)
  HAVING SUM(CASE WHEN n.cell <> o.cell THEN 1 ELSE 0 END) > 0
)""")
    return ",".join(parts)


def _ivf_train_oracle() -> str:
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM ivt_{k}" for k in range(1, _IVF_MAX_ITERS + 1)
    )
    return (
        "WITH "
        + _ivf_chain_ctes()
        + f"\nSELECT iteration, moved, live_cells, inertia FROM ({union}) t"
    )


@register(
    "s_ivf_train",
    oracle=_ivf_train_oracle(),
    doc="IVF index TRAINING to convergence (the full Lloyd's loop; "
    "s_ivf_build gates one iteration): start from the label partition, "
    "alternate integer-centroid update (SUM DIV COUNT per dimension per "
    "cell) and nearest-centroid reassignment, stop when an iteration "
    "moves zero vectors or at the iteration cap; emit the per-iteration "
    "(moved, live_cells, inertia) trajectory — the curve an index "
    "operator reads before shipping the partitioner that s_knn_ivf / "
    "s_knn_recall then gate. Driver-fixpoint shape shared with "
    "j4c_balancer_convergence: per round ONE k-bounded centroid shuffle + "
    "one corpus scan against broadcast centroids, lineage truncated "
    "eagerly; cost per round is independent of history, centroids always "
    "broadcastable. Oracle: the same loop unrolled into materialized "
    "CTEs; post-convergence iterations move nothing and emit nothing in "
    "either engine. All-BIGINT arithmetic (e6-quantized components, "
    "integer centroid floor), so no float fold order exists to disagree "
    "on; argmin tiebreak (sq_dist, cell) pinned in both engines.",
)
def s_ivf_train(e) -> DataFrame:
    from ..registry import eager_cache

    return eager_cache(e, "ivf_train_traj", lambda: _ivf_train_run(e))


def _centroids_of(asg: DataFrame, xe: DataFrame) -> DataFrame:
    """(cell, ce): integer centroids (SUM DIV COUNT per dimension) of the
    given (vec_id, cell) partition — the ONE update formula, shared by the
    training loop and the IVF-PQ search topology's final-partitioner
    routing (a drifting copy would desynchronize the two oracles)."""
    dims = (
        asg.join(xe, "vec_id")
        .select("cell", F.posexplode("xe").alias("pos", "x"))
        .groupBy("cell", "pos")
        .agg(F.expr("CAST(SUM(x) DIV COUNT(*) AS LONG)").alias("c"))
    )
    return dims.groupBy("cell").agg(
        F.transform(
            F.sort_array(F.collect_list(F.struct("pos", "c"))),
            lambda s: s["c"],
        ).alias("ce")
    )


def ivf_converged_assignment(e) -> DataFrame:
    """The converged (vec_id, cell) partition the training loop ends on —
    memoized under its own tag; one loop execution feeds BOTH this and the
    trajectory query (the loop eager-caches both results, so whichever of
    s_ivf_train / s_knn_ivfpq runs first pays it once). Equals the oracle
    chain's ``iva_{_IVF_MAX_ITERS}``: past the fixpoint, centroid-update +
    reassign is the identity, so the capped unrolling and the
    early-breaking loop land on the same table."""
    from ..registry import eager_cache

    return eager_cache(
        e, "ivf_converged_asg", lambda: _ivf_train_run(e, want="asg")
    )


def _ivf_train_run(e, want: str = "traj") -> DataFrame:
    spark = e["embeddings"].sparkSession
    raw_xe = e["embeddings"].select(
        "vec_id",
        F.transform(
            "embedding", lambda x: F.floor(x.cast("double") * 1000000).cast("long")
        ).alias("xe"),
    )
    from ..registry import eager_cache

    xe = eager_cache(e, "ivf_train_xe", lambda: raw_xe)  # every round scans it twice
    asg = (
        e["embeddings"]
        .select("vec_id", F.col("label").alias("cell"))
        .localCheckpoint(eager=True)
    )
    traj: list[tuple[int, int, int, int]] = []
    for k in range(1, _IVF_MAX_ITERS + 1):
        cent = _centroids_of(asg, xe)
        sq_dist = F.aggregate(
            F.zip_with("xe", "ce", lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        w = Window.partitionBy("vec_id").orderBy("sq_dist", "cell")
        new_asg = (
            xe.crossJoin(F.broadcast(cent))
            .select("vec_id", "cell", sq_dist.alias("sq_dist"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("vec_id", "cell", "sq_dist")
            .localCheckpoint(eager=True)
        )
        stats = (
            new_asg.join(
                asg.select("vec_id", F.col("cell").alias("old_cell")), "vec_id"
            )
            .agg(
                F.sum(
                    F.when(F.col("cell") != F.col("old_cell"), 1).otherwise(0)
                ).alias("moved"),
                F.countDistinct("cell").alias("live_cells"),
                F.sum("sq_dist").alias("inertia"),
            )
            .collect()[0]
        )
        asg = new_asg.select("vec_id", "cell")
        if stats.moved == 0:  # fixpoint: assignments stable
            break
        traj.append(
            (k, int(stats.moved), int(stats.live_cells), int(stats.inertia))
        )
    traj_df = spark.createDataFrame(
        traj, "iteration int, moved bigint, live_cells bigint, inertia bigint"
    )
    # one loop run feeds both consumers: the trajectory gate and the
    # IVF-PQ search topology's converged partitioner (the eager_cache
    # calls are hits when the other consumer already ran the loop)
    eager_cache(e, "ivf_train_traj", lambda: traj_df)
    eager_cache(e, "ivf_converged_asg", lambda: asg)
    return asg if want == "asg" else traj_df
