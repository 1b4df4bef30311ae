"""Quota-enforcing edit replay (FSDirectory.verifyQuota:1564-1605, rename
variant :1605-1629): a ``verify_quota`` mode for the T1 replay MERGE that
flags — and withholds — every mutation that would push a quota'd directory
over its namespace quota, instead of applying ops unchecked.

Shape: the reference walks ancestors on every sequential mutation; here the
sequential part is a DRIVER FOLD over the micro-batch's bounded op list
(the same justification as the rename/delete folds in ``replay.py`` — the
reference loader is itself a single-threaded loop over the segment), while
everything that scales with the NAMESPACE stays distributed: the initial
per-directory usage counts come from one broadcast-join aggregation over
the state frame (the A1 ContentSummary ancestor-counting shape), and the
accepted-op filter is an anti-join. Per batch: O(state) distributed work
once, O(ops x tracked-paths) driver work.

Semantics (flat-path namespace model, matching ``apply_edits_batch``):

- ns quota of directory ``x`` bounds the number of EXISTING entries within
  ``x``'s subtree (path == x or path starts with x + "/") — the
  INodeDirectoryWithQuota named-item count.
- Ops fold in txid order. CREATE of a non-existing path consumes one unit
  in every quota'd ancestor; if any would overflow, the op is REJECTED
  (recorded with the deepest violating directory, like the exception the
  reference throws) and changes nothing. CREATE of an existing path is a
  no-op (no quota charge). DELETE frees its live subtree count. RENAME
  moves its subtree's count from the source's ancestors to the
  destination's (verifyQuota's rename variant): it is rejected only if a
  quota'd directory GAINS entries beyond its quota (a move within the same
  quota subtree is free, as in the reference); renames of empty sources or
  onto occupied destinations are no-ops (HDFS rename requires a
  non-existing destination).
- ds (byte) quota IS modeled (r6): the changelog's OP_ADD/OP_CLOSE block
  payload lives in the ``edit_blocks`` side table (the relational form of
  the Block[] the reference op carries, FSEditLogLoader.java:181-479), and
  the fold maintains subtree BYTE counts beside entry counts — the
  nsCount/dsCount pair INodeDirectoryWithQuota.java:91-111 caches,
  verified per mutation like FSDirectory.verifyQuota:1564-1605 checks
  both. The ds charge of an op is its block-byte sum times the op's
  carried replication (default 1) — the reference derives the multiplier
  from the file's replication; this changelog's OP_ADD always carries
  one, so the walk being verified is identical. OP_CLOSE on an existing
  path RESIZES it (close finalizes the block list): a positive byte delta
  is quota-checked, a shrink always applies. Creates charge both counts;
  deletes free both; renames move both, rejected only when a quota'd
  directory GAINS beyond either limit. When a directory violates both
  dimensions the namespace quota is reported (the reference throws
  NSQuotaExceededException before the DS check).

Subtree counts are maintained exactly through the fold with containment
algebra over the TRACKED path set (quota dirs + batch op paths + rename
compositions, closed transitively): a rename landing entries inside a
tracked directory reads the pre-move count of the composed source path
(``src + (x - dst)``), which is itself tracked. The composition closure
is TIME-CONSISTENT: renames are walked once in descending txid order, so
each composed path is closed only through strictly earlier renames — the
exact set the fold consults, finite by construction (a naive unordered
fixpoint diverges on valid two-rename ping-pongs). A pathological batch
that still explodes the tracked set raises loudly (no silent under-count).

Property-tested against a sequential interpreter that replays the same ops
over explicit path SETS (tests/test_quota_property.py): same rejected
txids, same final namespace.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..registry import register
from .replay import MAX_DRIVER_FOLD_OPS, _with_missing_nulls, apply_edits_batch

_CREATE_OPS = ("OP_ADD", "OP_MKDIR", "OP_SYMLINK")


def _within(x: str, p: str) -> bool:
    """p lies within x's subtree (p == x or p under x/)."""
    return p == x or p.startswith(x + "/")


@dataclass(frozen=True)
class QuotaRejection:
    txid: int
    op: str
    path: str
    quota_dir: str
    quota_type: str  # 'NS' (entry count) or 'DS' (bytes)
    limit: int  # the violated quota in its own dimension
    used: int  # usage within quota_dir (entries or bytes) when refused


def _tracked_paths(
    quotas: dict[str, int], ops: list[dict],
    ds_quotas: dict[str, int] | None = None,
) -> set[str]:
    t = set(quotas) | set(ds_quotas or ())
    for o in ops:
        t.add(o["path"])
        if o.get("dst"):
            t.add(o["dst"])
    # Composition closure, TIME-CONSISTENT (ADVICE r4 — the old fixed
    # 3 passes silently under-counted deeper chains, and a naive fixpoint
    # over the unordered rename list genuinely diverges on valid inputs:
    # two renames can ping-pong compositions forever). The fold only ever
    # needs a composed path's count at times BEFORE the rename that
    # composed it, so walk the renames ONCE in DESCENDING txid order:
    # when rename (s, d) is processed, the set already holds every path
    # whose count must be correct at any later time, and each addition
    # (s + x[len(d):]) only needs correctness at strictly earlier times —
    # handled by the remaining (earlier) renames. One pass, exact, and
    # terminating by construction.
    renames = sorted(
        (o["txid"], o["path"], o["dst"])
        for o in ops
        if o["op"] == "OP_RENAME" and o.get("dst")
    )
    limit = max(10_000, 100 * len(t))
    for _, s, d in reversed(renames):
        t |= {s + x[len(d):] for x in t if _within(d, x)}
        if len(t) > limit:
            # Per-dst growth is geometric only for pathologically nested
            # rename stacks; refuse loudly rather than degrade silently.
            raise ValueError(
                "quota verification degraded: rename pre-image closure "
                f"exceeded {limit} tracked paths for a {len(renames)}-rename "
                "batch — split the segment or reduce maxFilesPerTrigger"
            )
    return t


def _initial_counts(
    state: DataFrame, tracked: set[str]
) -> tuple[dict[str, int], dict[str, bool], dict[str, int], dict[str, int]]:
    """One distributed pass: for every tracked path, the count of existing
    state entries within its subtree, whether the exact path exists, the
    BYTE sum within its subtree, and the exact path's own byte size (the
    nsCount/dsCount seed, INodeDirectoryWithQuota.java:91-111; a state
    frame without a ``length`` column counts zero bytes). Broadcast the
    (bounded) tracked set against the (large) state frame — the A1
    ancestor-explosion shape with the dimension side pre-known."""
    spark = state.sparkSession
    if not tracked:
        return {}, {}, {}, {}
    if "length" not in state.columns:
        state = state.withColumn("length", F.lit(0).cast("long"))
    tdf = spark.createDataFrame([(t,) for t in sorted(tracked)], "t string")
    live = state.filter(F.coalesce("exists", F.lit(False)))
    joined = live.join(
        F.broadcast(tdf),
        (F.col("path") == F.col("t"))
        | F.col("path").startswith(F.concat("t", F.lit("/"))),
    )
    counts = {
        r["t"]: (r["n"], r["b"], r["self_len"])
        for r in joined.groupBy("t")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.coalesce("length", F.lit(0))).alias("b"),
            F.max(
                F.when(F.col("path") == F.col("t"), F.coalesce("length", F.lit(0)))
            ).alias("self_len"),
        )
        .collect()
    }
    # exact-path existence falls out of self_len: it is non-null exactly
    # when the tracked path itself is a live row (NULL lengths coalesce to
    # 0, which is still non-null) — no second join/collect needed
    init_count = {t: counts.get(t, (0, 0, None))[0] for t in tracked}
    init_exists = {
        t: counts.get(t, (0, 0, None))[2] is not None for t in tracked
    }
    init_bytes = {t: int(counts.get(t, (0, 0, None))[1] or 0) for t in tracked}
    init_psize = {t: int(counts.get(t, (0, 0, None))[2] or 0) for t in tracked}
    return init_count, init_exists, init_bytes, init_psize


def verify_quota_batch(
    state: DataFrame,
    batch: DataFrame,
    quotas: dict[str, int],
    ds_quotas: dict[str, int] | None = None,
    blocks: DataFrame | None = None,
) -> list[QuotaRejection]:
    """The driver fold: replay the batch's mutation ops in txid order over
    subtree entry AND byte counters seeded from ``state``, refusing
    quota-overflowing creates/renames/closes. ``ds_quotas`` maps directory
    -> byte limit; ``blocks`` is the (txid, block_seq, num_bytes) side
    table carrying each OP_ADD/OP_CLOSE's block payload (the
    ``edit_blocks`` entity). Returns the rejections (empty = all fit)."""
    # the same reduced-projection tolerance apply_edits_batch documents:
    # a (txid, op, path) batch or a (path, exists)-only state must work
    batch = _with_missing_nulls(batch, {"dst": "string", "replication": "int"})
    state = _with_missing_nulls(
        state, {"exists": "boolean", "length": "long"}
    )
    ds_quotas = ds_quotas or {}
    if ds_quotas and blocks is None:
        # silent non-enforcement trap: without the block payload every
        # op's byte charge is 0, so no DS rejection could ever fire and
        # every close would "shrink" its file to zero — fail loudly
        raise ValueError(
            "ds_quotas given without the blocks side table: byte charges "
            "cannot be derived — pass blocks (the edit_blocks entity) or "
            "drop ds_quotas"
        )
    verb_ops = [*_CREATE_OPS, "OP_DELETE", "OP_CONCAT_DELETE", "OP_RENAME"]
    if blocks is not None:
        # OP_CLOSE only RESIZES. Its growth delta is quota-checked in BOTH
        # dimensions (verifyQuota gates on either positive delta, then
        # checks both counts) — so it belongs in the fold whenever byte
        # charges are derivable, NOT only when ds_quotas is non-empty: a
        # growth close inside an already-over-NS-quota directory must
        # reject even with no byte quota configured.
        verb_ops.append("OP_CLOSE")
    # limit+1 fetch (replay._bounded_op_list discipline): the creates this
    # list is dominated by are THE numerous op class of any edit segment —
    # an unbounded collect here reintroduces the driver OOM that ceiling
    # exists to prevent
    rows = (
        batch.filter(F.col("op").isin(*verb_ops))
        .select("txid", "op", "path", "dst", "replication")
        .orderBy("txid")
        .limit(MAX_DRIVER_FOLD_OPS + 1)
        .collect()
    )
    if len(rows) > MAX_DRIVER_FOLD_OPS:
        raise ValueError(
            f"edit micro-batch carries more than {MAX_DRIVER_FOLD_OPS} "
            "quota-relevant ops; refusing the driver-side fold — replay "
            "with smaller segments or raise replay.MAX_DRIVER_FOLD_OPS"
        )
    ops = [r.asDict() for r in rows]
    # Per-op byte charge: block-byte sum x carried replication (default 1),
    # aggregated DISTRIBUTEDLY then semi-joined to the bounded op list —
    # the payload table scales with the changelog, the collect with the
    # batch.
    charges: dict[int, int] = {}
    if blocks is not None and ops:
        txids = batch.sparkSession.createDataFrame(
            [(o["txid"],) for o in ops], "txid long"
        )
        charges = {
            r["txid"]: int(r["b"])
            for r in blocks.join(F.broadcast(txids), "txid", "left_semi")
            .groupBy("txid")
            .agg(F.sum("num_bytes").alias("b"))
            .collect()
        }

    def charge(o: dict) -> int:
        return (o.get("replication") or 1) * charges.get(o["txid"], 0)

    tracked = _tracked_paths(quotas, ops, ds_quotas)
    live, exists, nbytes, psize = _initial_counts(state, tracked)
    rejections: list[QuotaRejection] = []

    # Index structures keep the fold near-linear in |ops| (a naive
    # every-tracked-path sweep per op is O(ops x tracked) — quadratic in a
    # segment where most op paths are distinct):
    # - containment of a path WITHIN tracked x  <=>  x is an ancestor
    #   prefix of the path — O(depth) dict probes;
    # - tracked paths WITHIN a subtree p — a bisect range scan over the
    #   sorted tracked list ([p+"/", p+"0") plus p itself; "0" = "/"+1).
    import bisect

    tracked_sorted = sorted(tracked)

    def ancestors_in_tracked(p: str) -> list[str]:
        out = []
        if p in tracked:
            out.append(p)
        i = p.find("/", 1)
        while i != -1:
            a = p[:i]
            if a in tracked:
                out.append(a)
            i = p.find("/", i + 1)
        return out

    def tracked_within(p: str) -> list[str]:
        lo = bisect.bisect_left(tracked_sorted, p + "/")
        hi = bisect.bisect_left(tracked_sorted, p + "0")
        out = tracked_sorted[lo:hi]
        if p in tracked:
            out.append(p)
        return out

    def compose(s: str, d: str, x: str) -> str:
        return s + x[len(d):]

    def violation(
        anc, ns_delta: int, ds_delta: int
    ) -> tuple[str, str] | None:
        """Deepest quota'd ancestor in ``anc`` the mutation would overflow.

        verifyQuota (INodeDirectoryWithQuota.java:151-162) gates on EITHER
        delta being positive, then checks BOTH dimensions against the
        updated counts — so a directory seeded already over one quota
        rejects growth in the other dimension too (zero-delta included).
        At one dir NS is reported before DS (NSQuotaExceededException
        throws before the diskspace check)."""
        if ns_delta <= 0 and ds_delta <= 0:
            return None
        bad = [
            (x, "NS") for x in anc
            if x in quotas and live[x] + ns_delta > quotas[x]
        ] + [
            (x, "DS") for x in anc
            if x in ds_quotas and nbytes[x] + ds_delta > ds_quotas[x]
        ]
        if not bad:
            return None
        return max(bad, key=lambda t: (len(t[0]), t[1] == "NS"))

    def reject(txid, op, p, hit) -> None:
        x, kind = hit
        limit = quotas[x] if kind == "NS" else ds_quotas[x]
        used = live[x] if kind == "NS" else nbytes[x]
        rejections.append(QuotaRejection(txid, op, p, x, kind, limit, used))

    for o in ops:
        op, p, dst, txid = o["op"], o["path"], o.get("dst"), o["txid"]
        if op in _CREATE_OPS:
            if exists.get(p, False):
                continue  # already present: no new entry, no charge
            b = charge(o)
            anc = ancestors_in_tracked(p)
            hit = violation(anc, 1, b)
            if hit:
                reject(txid, op, p, hit)
                continue
            for x in anc:
                live[x] += 1
                nbytes[x] += b
            exists[p] = True
            if p in tracked:
                psize[p] = b
        elif op == "OP_CLOSE":
            # close finalizes the block list: the path's size becomes the
            # op's charge; only a GROWTH is quota-checked (shrink frees)
            if not exists.get(p, False):
                continue
            delta = charge(o) - psize.get(p, 0)
            anc = ancestors_in_tracked(p)
            if delta > 0:
                hit = violation(anc, 0, delta)
                if hit:
                    reject(txid, op, p, hit)
                    continue
            for x in anc:
                nbytes[x] += delta
            if p in tracked:
                psize[p] += delta
        elif op == "OP_DELETE":
            r = live.get(p, 0)
            if r == 0:
                continue
            b = nbytes.get(p, 0)
            # p is always tracked (op paths are), so the ancestor loop
            # zeroes live[p]/nbytes[p] itself and the subtree loop flips
            # exists[p]/psize[p] — no trailing special-case needed
            for x in ancestors_in_tracked(p):
                live[x] -= r
                nbytes[x] -= b
            for x in tracked_within(p):
                if x != p:
                    live[x] = 0
                    nbytes[x] = 0
                exists[x] = False
                psize[x] = 0
        elif op == "OP_CONCAT_DELETE":
            # concat removes exactly its SOURCE path (a file — the merge's
            # _REMOVE_OPS treats it the same way, never as a subtree kill);
            # ignoring it here made the fold blind to in-batch frees the
            # merge applies, rejecting creates the reference's sequential
            # loader would accept
            if not exists.get(p, False):
                continue
            pb = psize.get(p, 0)
            for x in ancestors_in_tracked(p):
                live[x] -= 1
                nbytes[x] -= pb
            exists[p] = False
            psize[p] = 0
        elif op == "OP_RENAME" and dst:
            s_cnt = live.get(p, 0)
            if s_cnt == 0 or live.get(dst, 0) > 0:
                continue  # empty source / occupied destination: no-op
            s_bytes = nbytes.get(p, 0)
            anc_s = set(ancestors_in_tracked(p))
            anc_d = set(ancestors_in_tracked(dst))
            hit = violation(anc_d - anc_s, s_cnt, s_bytes)
            if hit:
                reject(txid, op, p, hit)
                continue
            in_src = tracked_within(p)  # includes p itself when tracked
            pre_live = {x: live.get(x, 0) for x in in_src}
            pre_bytes = {x: nbytes.get(x, 0) for x in in_src}
            pre_psize = {x: psize.get(x, 0) for x in in_src}
            pre_exists = {x: exists.get(x, False) for x in in_src}
            for x in anc_s - anc_d:
                live[x] -= s_cnt
                nbytes[x] -= s_bytes
            for x in anc_d - anc_s:
                live[x] += s_cnt
                nbytes[x] += s_bytes
            for x in in_src:
                live[x] = 0
                nbytes[x] = 0
                psize[x] = 0
                exists[x] = False
            for x in tracked_within(dst):
                if x == dst:
                    continue  # handled by the ancestor delta (live[dst]+=S)
                c = compose(p, dst, x)
                live[x] = pre_live.get(c, live.get(c, 0))
                nbytes[x] = pre_bytes.get(c, nbytes.get(c, 0))
                psize[x] = pre_psize.get(c, psize.get(c, 0))
                exists[x] = pre_exists.get(c, exists.get(c, False))
            if dst in tracked:
                exists[dst] = pre_exists.get(p, exists.get(p, False))
                psize[dst] = pre_psize.get(p, psize.get(p, 0))
    return rejections


def apply_edits_batch_enforcing(
    state: DataFrame,
    batch: DataFrame,
    quotas: dict[str, int],
    ds_quotas: dict[str, int] | None = None,
    blocks: DataFrame | None = None,
) -> tuple[DataFrame, list[QuotaRejection]]:
    """``apply_edits_batch`` with quota enforcement: verify, withhold the
    rejected ops (anti-join on txid), merge the rest. Returns
    (new_state, rejections) — callers log the rejections where the
    reference would have thrown QuotaExceededException."""
    rejections = verify_quota_batch(state, batch, quotas, ds_quotas, blocks)
    if rejections:
        spark = batch.sparkSession
        rej = spark.createDataFrame(
            [(r.txid,) for r in rejections], "txid long"
        )
        batch = batch.join(F.broadcast(rej), "txid", "left_anti")
    return apply_edits_batch(state, batch), rejections


# ----------------------------------------------------------- driver gate
# t1b: the quota-enforcement semantics under the driver's hash oracle, not
# just pytest. Scope chosen to be EXACTLY SQL-expressible so the fold's
# sequential accept/reject logic gets hash-checked: a creates-only segment
# (one group-commit batch, txid <= _T1B_TXID_CAP) verified against
# DISJOINT per-user-directory quotas derived from the batch itself (every
# '/ev/u<k>' with k % 5 == 0 gets ns_quota = _T1B_QUOTA; the namespace
# state contributes nothing under /ev, so initial usage is zero). With
# disjoint dirs, creates-only and empty initial usage, the sequential
# semantics collapse to a closed form the oracle states with two windows:
# a create is rejected iff its path's FIRST occurrence ranks beyond the
# dir's capacity among first-occurrences (repeat creates of an ACCEPTED
# path are exists-no-ops; repeats of a rejected path re-check a dir that
# is full forever, since nothing frees space in a creates-only batch).

_T1B_QUOTA = 3
_T1B_TXID_CAP = 4096  # one segment — the group-commit batch boundary


@register(
    "t1b_quota_rejections",
    oracle=f"""
WITH qcr AS (
  SELECT txid, op, path, '/ev/' || split_part(path, '/', 3) AS quota_dir
  FROM edits
  WHERE op IN ('OP_ADD', 'OP_MKDIR', 'OP_SYMLINK')
    AND txid <= {_T1B_TXID_CAP}
    AND CAST(substr(split_part(path, '/', 3), 2) AS BIGINT) % 5 = 0
),
qfc AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY path ORDER BY txid) AS pn
  FROM qcr
),
qfirsts AS (
  SELECT path, ROW_NUMBER() OVER (PARTITION BY quota_dir ORDER BY txid) AS rk
  FROM qfc WHERE pn = 1
)
SELECT c.txid, c.op, c.path, c.quota_dir,
       CAST({_T1B_QUOTA} AS BIGINT) AS ns_quota,
       CAST({_T1B_QUOTA} AS BIGINT) AS used
FROM qcr c JOIN qfirsts f ON f.path = c.path
WHERE f.rk > {_T1B_QUOTA}
""",
    doc="Quota enforcement under the driver's hash gate "
    "(FSDirectory.verifyQuota:1564-1605 as the T1 replay applies it): run "
    "the REAL verify_quota_batch driver fold over one creates-only edit "
    "segment with per-user-directory namespace quotas and emit every "
    "rejection (txid, path, violated dir, quota, usage at refusal). The "
    "oracle restates the sequential accept/reject process in closed form "
    "— valid exactly because the gated scope has disjoint quota dirs, "
    "creates only, and zero initial usage, so 'rejected' == 'first "
    "occurrence ranks beyond capacity' — which makes this a genuine "
    "cross-engine check of the fold's ordering, repeat-create no-op, and "
    "capacity logic. Scale: initial usage counts are one distributed "
    "broadcast-join aggregation over the namespace; the sequential part "
    "folds one bounded segment (the reference loader is the same "
    "single-threaded loop); quota dirs are an admin-bounded set.",
)
def t1b_quota_rejections(e) -> DataFrame:
    from ..registry import eager_cache

    return eager_cache(e, "t1b_quota", lambda: _t1b_run(e))


# ----------------------------------------------------------- driver gate
# t1c: the DS (byte) quota dimension under the driver's hash oracle. Scope:
# one creates-only segment restricted to the FIRST OP_ADD per path (both
# engines state the same restriction), per-user-directory byte quotas on
# the k % 5 == 3 dirs. With disjoint dirs, distinct paths, and zero
# initial usage under /ev, the sequential semantics are a CONDITIONAL
# prefix scan — accept while the accumulated accepted bytes + this op's
# charge fit, reject (without accumulating) otherwise — which unlike the
# ns case is NOT a rank threshold: a large op can reject while a later
# small op still fits. The oracle states that scan EXACTLY as a recursive
# CTE stepping per rank within each dir (DuckDB executes all dirs
# breadth-first per step), so the fold's byte accounting, replication
# multiplier, and skip-on-reject behavior are all hash-checked.

_T1C_DS_QUOTA = 256 * 1048576  # 256 MiB per user directory
_T1C_TXID_CAP = 4096


@register(
    "t1c_ds_quota_rejections",
    oracle=f"""
WITH t1c_scoped AS (
  SELECT txid, path, quota_dir, charge,
         ROW_NUMBER() OVER (PARTITION BY quota_dir ORDER BY txid) AS rk
  FROM (
    SELECT e.txid, e.path,
           '/ev/' || split_part(e.path, '/', 3) AS quota_dir,
           CAST(COALESCE(e.replication, 1) AS BIGINT) * bb.b AS charge,
           ROW_NUMBER() OVER (PARTITION BY e.path ORDER BY e.txid) AS pn
    FROM edits e
    JOIN (SELECT txid, CAST(SUM(num_bytes) AS BIGINT) AS b
          FROM edit_blocks GROUP BY txid) bb ON bb.txid = e.txid
    WHERE e.op = 'OP_ADD' AND e.txid <= {_T1C_TXID_CAP}
      AND CAST(substr(split_part(e.path, '/', 3), 2) AS BIGINT) % 5 = 3
  ) WHERE pn = 1
),
t1c_fold AS (
  SELECT quota_dir, CAST(0 AS BIGINT) AS rk, CAST(0 AS BIGINT) AS acc
  FROM (SELECT DISTINCT quota_dir FROM t1c_scoped)
  UNION ALL
  SELECT s.quota_dir, s.rk,
         CASE WHEN f.acc + s.charge > {_T1C_DS_QUOTA} THEN f.acc
              ELSE f.acc + s.charge END AS acc
  FROM t1c_fold f
  JOIN t1c_scoped s ON s.quota_dir = f.quota_dir AND s.rk = f.rk + 1
)
SELECT s.txid, 'OP_ADD' AS op, s.path, s.quota_dir,
       CAST({_T1C_DS_QUOTA} AS BIGINT) AS ds_quota,
       f.acc AS used_bytes
FROM t1c_scoped s
JOIN t1c_fold f ON f.quota_dir = s.quota_dir AND f.rk = s.rk - 1
WHERE f.acc + s.charge > {_T1C_DS_QUOTA}
""",
    doc="Diskspace (byte) quota enforcement under the driver's hash gate "
    "(FSDirectory.verifyQuota:1564-1605 checks the dsCount "
    "INodeDirectoryWithQuota.java:91-111 caches beside nsCount; the "
    "OP_ADD byte payload is the Block[] the op carries, "
    "FSEditLogLoader.java:181-479, modeled as the edit_blocks side "
    "table): run the REAL verify_quota_batch driver fold with per-user-"
    "directory byte quotas over one creates-only first-occurrence-per-"
    "path segment and emit every rejection with the byte usage at "
    "refusal. The oracle restates the sequential accept/reject byte scan "
    "as a per-directory recursive CTE — exact because the gated scope "
    "has disjoint dirs, distinct paths, and zero initial usage — so the "
    "charge arithmetic (block-byte sum x carried replication), the "
    "skip-on-reject accumulator, and the ordering are all cross-engine "
    "checked. Scale: the payload aggregation is distributed; the "
    "sequential part folds one bounded segment (the reference loader is "
    "the same single-threaded loop); quota dirs are an admin-bounded "
    "set.",
)
def t1c_ds_quota_rejections(e) -> DataFrame:
    from ..registry import eager_cache

    return eager_cache(e, "t1c_quota", lambda: _t1c_run(e))


def _t1c_run(e) -> DataFrame:
    from pyspark.sql import Window

    spark = e["edits"].sparkSession
    user_seg = F.split("path", "/").getItem(2)
    adds = e["edits"].filter(
        (F.col("op") == "OP_ADD")
        & (F.col("txid") <= _T1C_TXID_CAP)
        & (F.expr("CAST(substr(split(path, '/')[2], 2) AS BIGINT) % 5 = 3"))
    )
    scoped = (
        adds.withColumn(
            "pn",
            F.row_number().over(
                Window.partitionBy("path").orderBy("txid")
            ),
        )
        .filter(F.col("pn") == 1)
        .drop("pn")
    )
    quota_rows = (
        scoped.select(F.concat(F.lit("/ev/"), user_seg).alias("d"))
        .distinct()
        .collect()
    )
    ds_quotas = {r["d"]: _T1C_DS_QUOTA for r in quota_rows}
    state = e["inodes"].select(
        "path", F.lit(True).alias("exists"), "length"
    )
    rejections = verify_quota_batch(
        state, scoped, {}, ds_quotas=ds_quotas, blocks=e["edit_blocks"]
    )
    return spark.createDataFrame(
        [
            (r.txid, r.op, r.path, r.quota_dir, r.limit, r.used)
            for r in rejections
        ],
        "txid long, op string, path string, quota_dir string,"
        " ds_quota long, used_bytes long",
    )


def _t1b_run(e) -> DataFrame:
    spark = e["edits"].sparkSession
    batch = e["edits"].filter(
        F.col("op").isin(*_CREATE_OPS) & (F.col("txid") <= _T1B_TXID_CAP)
    )
    user_dir = F.concat(F.lit("/ev/"), F.split("path", "/").getItem(2))
    quota_rows = (
        batch.select(user_dir.alias("d"))
        .filter(
            F.expr("CAST(substr(split(d, '/')[2], 2) AS BIGINT) % 5 = 0")
        )
        .distinct()
        .collect()
    )
    quotas = {r["d"]: _T1B_QUOTA for r in quota_rows}
    state = e["inodes"].select("path", F.lit(True).alias("exists"))
    rejections = verify_quota_batch(state, batch, quotas)
    return spark.createDataFrame(
        [
            (r.txid, r.op, r.path, r.quota_dir, r.limit, r.used)
            for r in rejections
        ],
        "txid long, op string, path string, quota_dir string,"
        " ns_quota long, used long",
    )
