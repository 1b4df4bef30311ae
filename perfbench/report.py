"""Turns one run's raw record into the reported metrics."""

from __future__ import annotations

from stats import median, quantile, tail_ok
from tracing import has_ancestor, self_times

# The end-to-end metrics of the result line (and of BENCHMARK.json).
END_TO_END = {
    "setup_s": "s",
    "cold_pass_s": "s",
    "warm_pass_s": "s",
    "warm_query_p50_s": "s",
    "warm_query_p90_s": "s",
}
# Printed beside them but not bounded: too unsteady between runs.
PRINTED = {"peak_rss_mb": "MB"}

_SPARK = ("jobs", "stages", "tasks", "task_s", "task_cpu_s", "gc_s",
          "shuffle_read_mb", "shuffle_write_mb", "spill_mb",
          "single_task_stages", "stage_skew_p90", "python_mb")

# Per-layer metrics every workload reports (a zero is a real count here).
PER_LAYER = {
    "session.start_s": "s",
    "registry.catalog_s": "s",
    "entities.load_s": "s",
    "entities.cached_mb": "MB",
    "registry.pin_builds": "count",
    "registry.pin_hits": "count",
    "registry.warm_pin_builds": "count",
    "registry.pin_build_s": "s",
    "registry.pinned_mb": "MB",
    "registry.plan_hits": "count",
    "query.cold.construct_s": "s",
    "query.cold.exec_s": "s",
    "query.warm.construct_s": "s",
    "query.warm.exec_s": "s",
    "streaming.stage_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.planning_ms": "ms",
    "streaming.get_batch_ms": "ms",
    "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.state_commit_ms": "ms",
    "streaming.state_rows": "count",
    "streaming.state_mb": "MB",
    **{f"spark.{ph}.{k}": ("count" if k in ("jobs", "stages", "tasks", "single_task_stages")
                           else "ratio" if k == "stage_skew_p90"
                           else "MB" if k.endswith("_mb") else "s")
       for ph in ("cold", "warm") for k in _SPARK},
    "trace.wall_s": "s",
    "trace.residual_s": "s",
}


def phase_windows(passes: list[dict]) -> tuple[dict, dict]:
    """The (start, end) epoch span and the pass count of the cold and the
    timed warm phase."""
    spans: dict[str, tuple[float, float]] = {}
    counts: dict[str, int] = {}
    for p in passes:
        if p["kind"] not in ("cold", "warm"):
            continue
        a, b = spans.get(p["kind"], (p["start"], p["end"]))
        spans[p["kind"]] = (min(a, p["start"]), max(b, p["end"]))
        counts[p["kind"]] = counts.get(p["kind"], 0) + 1
    return spans, counts


def end_to_end(rec: dict, rss: list[tuple]) -> tuple[dict, dict]:
    """The end-to-end metrics and a description of their samples."""
    cold = [p for p in rec["passes"] if p["kind"] == "cold"]
    warm = [p for p in rec["passes"] if p["kind"] == "warm"]
    # A warm query's latency: each query's median over the warm passes (one
    # GC pause does not move it), then the quantile across queries, each
    # query weighted equally as the closed loop issues them.
    per_query = [median([p["queries"][q] for p in warm]) for q in warm[0]["queries"]]
    end = warm[-1]["end"]
    peak = max((s[1] + s[2] + s[3] for s in rss if s[0] <= end), default=0.0)
    m = {
        "setup_s": rec["setup_s"],
        "cold_pass_s": cold[0]["wall_s"],
        "warm_pass_s": median([p["wall_s"] for p in warm]),
        "warm_query_p50_s": quantile(per_query, 0.5),
        "warm_query_p90_s": quantile(per_query, 0.9),
        "peak_rss_mb": peak,
    }
    n = len(warm) * len(per_query)
    info = {"warm_passes": len(warm), "warm_samples": n, "p90_tail_ok": tail_ok(n, 0.9)}
    return m, info


def _phase(spans: list[dict], i: int) -> str | None:
    p = spans[i]["parent"]
    while p is not None:
        if spans[p]["name"].startswith("pass."):
            return spans[p]["name"][5:]
        p = spans[p]["parent"]
    return None


def per_layer(rec: dict, rss: list[tuple], e2e: dict) -> tuple[dict, dict, dict]:
    """(metrics listed in PER_LAYER, detail metrics, absent-with-reason)."""
    spans = rec["spans"]
    selfs = self_times(spans)
    windows, passes = phase_windows(rec["passes"])
    m: dict[str, float] = {
        "session.start_s": rec["session_start_s"],
        "registry.catalog_s": rec["catalog_s"],
        "registry.plan_hits": rec["plan_hits"],
        "entities.cached_mb": rec["storage_end"]["entities"],
        "registry.pinned_mb": rec["storage_end"]["pins"],
    }
    by_self: dict[str, float] = {}
    for s, st in zip(spans, selfs):
        by_self[s["name"]] = by_self.get(s["name"], 0.0) + st
    m["entities.load_s"] = sum(
        s["end"] - s["start"] for s in spans if s["name"] == "entities.load")
    m["streaming.stage_s"] = sum(
        s["end"] - s["start"] for i, s in enumerate(spans)
        if s["name"] == "streaming.stage" and not has_ancestor(spans, i, "streaming.stage"))
    pins = [(i, s) for i, s in enumerate(spans) if s["name"] == "registry.pin"]
    m["registry.pin_builds"] = sum(1 for _, s in pins if s.get("built"))
    m["registry.pin_hits"] = sum(1 for _, s in pins if not s.get("built"))
    m["registry.warm_pin_builds"] = sum(
        1 for i, s in pins if s.get("built") and _phase(spans, i) == "warm")
    m["registry.pin_build_s"] = sum(
        s["end"] - s["start"] for i, s in pins
        if s.get("built") and not has_ancestor(spans, i, "registry.pin"))
    for ph in ("cold", "warm"):
        n = max(1, passes[ph])
        for part in ("construct", "exec"):
            m[f"query.{ph}.{part}_s"] = sum(
                st for i, (s, st) in enumerate(zip(spans, selfs))
                if s["name"] == f"query.{part}" and _phase(spans, i) == ph) / n
    stream = dict(rec["streaming"])
    detail = {k: stream.pop(k) for k in ("streaming.batch_p50_ms", "streaming.batch_p90_ms",
                                         "streaming.trigger_ms") if k in stream}
    m.update(stream)
    m.update(rec["spark"])
    for ph in passes:
        a, b = windows[ph]
        m[f"spark.{ph}.python_mb"] = max((s[3] for s in rss if a <= s[0] <= b), default=0.0)
    wall = rec["setup_s"] + sum(p["wall_s"] for p in rec["passes"])
    covered = sum(selfs)
    m["trace.wall_s"] = wall
    m["trace.residual_s"] = wall - covered
    # Detail: self time per layer, per-module pass times, per-gate batches.
    for name, v in sorted(by_self.items()):
        detail[f"self.{name}_s"] = v
    mods: dict[str, float] = {}
    for i, s in enumerate(spans):
        if s["name"] == "query" and _phase(spans, i) in passes:
            ph = _phase(spans, i)
            key = s["module"].split(".", 1)[1] + f".{ph}_s"
            mods[key] = mods.get(key, 0.0) + (s["end"] - s["start"]) / max(1, passes[ph])
    detail.update(sorted(mods.items()))
    detail["streaming.batches_by_query"] = rec["batches_by_query"]
    detail["streaming.listener_complete"] = rec["listener_complete"]
    detail["registry.plan_hits_cold"] = rec["plan_hits_cold"]
    detail["streaming.stage_builds"] = rec["stage_builds"]
    for k in ("cold_pass_s", "warm_pass_s", "warm_query_p50_s", "warm_query_p90_s"):
        detail[f"traced.{k}"] = e2e[k]
    absent = dict(rec["absent"])
    absent["entities.materialize_s"] = (
        "entity frames are lazy cache() views that fill inside the first "
        "queries' jobs; the benchmark cannot split that from query execution "
        "without issuing an action of its own")
    for k in absent:
        m.pop(k, None)
    return {k: v for k, v in m.items() if k in PER_LAYER}, detail, absent
