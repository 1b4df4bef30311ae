"""Query registry: the single catalog the driver contract is served from.

Every SURVEY.md §2 operator registers here as

- a name (stable key; the catalog serves queries in registration order),
- a builder ``(spark, sf_dir) -> DataFrame`` implemented with the DataFrame
  API over the entity model,
- an optional DuckDB oracle SQL string (full standalone statement; the
  entity CTE prelude from ``entities.oracle_prelude()`` is prepended by the
  helper below). ``tests/test_queries.py`` hash-matches every query
  against it, or row-checks one registered with ``oracle=None`` (a
  genuinely non-SQL-expressible op).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from contextlib import contextmanager
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from .entities import load_entities, oracle_prelude

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Query:
    name: str
    fn: Callable[[dict[str, DataFrame]], DataFrame]  # entities -> result
    oracle: str | None  # operator SQL (entity CTEs prepended automatically)
    doc: str = ""


_REGISTRY: dict[str, Query] = {}

# Entity views are re-registered per (app, sf_dir) at most once.
_loaded: dict[tuple[str, str], dict[str, DataFrame]] = {}


def register(name: str, oracle: str | None = None, doc: str = ""):
    def deco(fn):
        _REGISTRY[name] = Query(name=name, fn=fn, oracle=oracle, doc=doc)
        return fn

    return deco


def _entities(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    key = (spark.sparkContext.applicationId, sf_dir)
    if key not in _loaded:
        _loaded[key] = load_entities(spark, sf_dir)
    return _loaded[key]


# Operator pins, memoized per (session, sf_dir, tag): lazy cache() loses
# the race in multi-branch DAGs within one action (the pin must
# materialize eagerly), but an un-memoized eager pin leaks one pinned
# frame PER INVOCATION in a long-lived session. Memoizing bounds the pinned
# state to one entry per operator per scale factor — and lets operators
# sharing an intermediate (e.g. the shingle table) reuse each other's work.
# LRU-capped: a long-lived session cycling many (app, sf_dir, tag) combos
# (multi-SF certification loops) evicts+unpersists the coldest pin instead
# of accumulating executor storage without bound. The cap must exceed the
# per-SF working set (the distinct tags one full catalog pass touches,
# ~40 in r8) with headroom: LRU under a cyclic access pattern one entry
# LONGER than capacity misses on EVERY access — observed r8 as a 2.4x
# warm-bench inflation when the tag count crossed the old cap of 32 (the
# pinned drains re-ran each pass). 192 holds two SFs' working sets with
# headroom (62 call sites x2 — tests/test_registry_cache.py audits the
# AST count against the cap); the pinned frames are queue/dimension/
# model-sized, so storage stays far below executor memory.
_CACHED: dict[tuple[str, str, str], DataFrame] = {}
_CACHED_MAX = 192

_RAW_PLANS = False  # see raw_plans


@contextmanager
def raw_plans():
    """Plan inspection: while active, :func:`eager_cache` returns the raw
    derivation unpinned and :func:`queries` builds fresh plans.

    The plan-pin tests certify scale properties INSIDE pinned derivations
    (range-sharded kernels, broadcast sides); lineage truncation hides
    those from the composed query's .explain(), so the pins inspect the
    derivation with pinning off — the pin is an orthogonal
    materialization choice, not part of the operator's shape."""
    global _RAW_PLANS
    old = _RAW_PLANS
    _RAW_PLANS = True
    try:
        yield
    finally:
        _RAW_PLANS = old


def _past_corpus_budget(e: dict, source: str) -> bool:
    """True when the SOURCE table's on-disk parquet size exceeds the
    validated SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES (default 256 MiB).
    An unknown source (test frames) is under budget."""
    try:
        src_bytes = os.path.getsize(
            os.path.join(str(e.get("__sf_dir__", "?")), f"{source}.parquet")
        )
    except OSError:
        return False
    raw = os.environ.get(
        "SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES", str(256 * 1024 * 1024)
    )
    try:
        return src_bytes > int(raw)
    except ValueError:
        raise ValueError(
            "SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES must be an integer, "
            f"got {raw!r}"
        ) from None


def eager_cache(
    e: dict,
    tag: str,
    build: Callable[[], DataFrame],
    *,
    source: str | None = None,
) -> DataFrame:
    """The operator pin: ``build()`` runs only on a memo MISS and its frame
    is pinned once per (session, sf_dir, tag). Building only on a miss
    matters because constructing a frame can itself run jobs (the CC loop
    runs join+agg actions per round) or hundreds of py4j calls. The key's
    applicationId comes from the active session — NOT from probing
    ``build()``, which would run the build just to derive the key.

    The pin is ``localCheckpoint(eager=True)``: one eager materialization
    plus lineage truncation, so a composed query re-analyzes a ~10-node
    LogicalRDD scan instead of the full derivation (r11: j10's
    construction alone took 1.2 s over the W2 queue's 700+-node tree).
    Storage matches cache() (MEMORY_AND_DISK); a pin whose blocks are
    lost fails the query rather than recomputing.

    ``source="documents"``/``"embeddings"`` marks a CORPUS-SCALE frame
    (O(corpus tokens): exploded shingle/posting/span tables, pair grids)
    that cannot be held per session at 100 TB. It pins only while the
    source table's parquet is within SPARK_GRAFT_CORPUS_PIN_BUDGET_BYTES
    (default 256 MiB: far above the fixtures, far below production); past
    it the raw derivation is returned and each consumer recomputes from
    the parquet inputs."""
    if _RAW_PLANS or (source is not None and _past_corpus_budget(e, source)):
        return build()
    session = SparkSession.getActiveSession()
    if session is None:  # fall back to any entity frame's session
        session = next(
            df for df in e.values() if isinstance(df, DataFrame)
        ).sparkSession
    key = (
        session.sparkContext.applicationId,
        str(e.get("__sf_dir__", "?")),
        tag,
    )
    if key not in _CACHED:
        df = build()
        # a build may pin this very tag itself (ivftrain's loop pins its
        # sibling tags): serve that pin rather than pinning a second copy
        if key not in _CACHED:
            while len(_CACHED) >= _CACHED_MAX:
                _evict(*next(iter(_CACHED)))
            _CACHED[key] = df.localCheckpoint(eager=True)
    _CACHED[key] = _CACHED.pop(key)  # move-to-end: mark recently used
    return _CACHED[key]


def evict(spark: SparkSession, sf_dir: str, tag: str | None = None) -> None:
    """Unpersist this session's ``tag`` pin at ``sf_dir`` (when a tag is
    given) and drop the (session, sf_dir)'s prepared plans. An unpersisted
    checkpoint pin cannot recompute (its lineage is truncated), so any
    prepared plan that embeds it is dead: construction re-runs and
    re-pins on the next invocation. Evicting a drain gate's result tag
    makes its next invocation drain for real."""
    _evict(spark.sparkContext.applicationId, sf_dir, tag)


def _evict(app: str, sf_dir: str, tag: str | None) -> None:
    """:func:`evict` by application id (the LRU holds keys, not sessions;
    a cold key's session may already be stopped)."""
    pinned = _CACHED.pop((app, sf_dir, tag), None)
    if pinned is not None:
        try:
            pinned.unpersist()
        except Exception:
            pass  # session may already be stopped; eviction still happened
    for k in [k for k in _QUERY_PLANS if k[:2] == (app, sf_dir)]:
        del _QUERY_PLANS[k]


def _import_operator_modules() -> None:
    # import for side effect: each module registers its queries
    from . import hftp  # noqa: F401  (s5: driver-gated data source scan)
    from .operators import admin, audit, blocks, cluster, events, namespace, relational  # noqa: F401
    from .pipeline import ann, bpetrain, corpus, curation, dedup, ivfpq, ivftrain, multimodal, pq, privacy, quality, similarity, text  # noqa: F401
    from .streaming import checkpoint, dedup as sdedup, enrich, joins, leases, liveness, pending, quota, rates, sessions, tokens  # noqa: F401  (t14/t17-t26 + t1b/t1c/t2c: driver-gated streaming execution)


# Prepared-plan memo: the LAZY DataFrame each query builds, keyed per
# (session, sf_dir, query). Construction is pure py4j expression building
# — hundreds of JVM round-trips per query, re-paid on every invocation of
# a catalog that is rebuilt per bench pass (r11 phase-split: 0.2-0.9 s of
# the warm wall per query was construction+analysis, ~30% of the catalog
# total). A DataFrame is a PLAN, not a result: every action on the memoized
# frame re-executes the full computation from the parquet inputs (minus the
# operator pins, which are a separate, pre-existing materialization choice),
# so nothing result-like is cached here — this is a prepared-statement
# cache, the same thing a long-lived query service keeps per session.
_QUERY_PLANS: dict[tuple[str, str, str], DataFrame] = {}


def queries() -> dict[str, QueryFn]:
    _import_operator_modules()
    out: dict[str, QueryFn] = {}
    for name, q in _REGISTRY.items():

        def make(q: Query) -> QueryFn:
            def run(spark: SparkSession, sf_dir: str) -> DataFrame:
                if _RAW_PLANS:  # plan inspection: fresh raw build
                    return q.fn(_entities(spark, sf_dir))
                key = (spark.sparkContext.applicationId, sf_dir, q.name)
                got = _QUERY_PLANS.get(key)
                if got is None:
                    got = q.fn(_entities(spark, sf_dir))
                    _QUERY_PLANS[key] = got
                return got

            run.__doc__ = q.doc
            return run

        out[name] = make(q)
    return out


def oracle_sql() -> dict[str, str]:
    _import_operator_modules()
    # RECURSIVE on the merged WITH: harmless for the non-recursive entity
    # CTEs, and lets an operator oracle (d_near_dup_clusters' transitive
    # closure) declare a recursive CTE after the merge below strips its own
    # WITH keyword.
    prelude = oracle_prelude().replace("WITH ", "WITH RECURSIVE ", 1)
    out = {}
    for name, q in _REGISTRY.items():
        if q.oracle is None:
            continue
        sql = q.oracle.strip()
        # operator SQL may open its own WITH clause; merge it into the
        # entity-CTE prelude ("WITH a AS (...)\n" + "WITH b AS ..." -> ", b AS ...")
        if sql.upper().startswith("WITH"):
            sql = "," + sql[4:]
        out[name] = prelude + sql
    return out
