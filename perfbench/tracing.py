"""Tracing for the per-layer run: spans, public-function wrappers, the
streaming listener, RDD storage figures and the Spark event log.

Everything here observes the engine from outside, through names the
package exports. A wrapped function that no longer exists is reported as
absent with the reason; its metrics are never reported as zero.
"""

from __future__ import annotations

import contextlib
import functools
import importlib
import json
import os
import re
import sys
import threading
import time

from stats import median, percentile

PKG = "hadoop_hdfs_spark"


class Tracer:
    """In-memory span recorder. Spans nest by call order on one thread."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.qid: str | None = None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "start": self.clock(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "qid": self.qid,
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = self.clock()
            self._stack.pop()


class NullTracer:
    """Same surface as :class:`Tracer`; records nothing."""

    qid = None

    def span(self, name: str, **attrs):
        return contextlib.nullcontext({})


def self_times(spans: list[dict]) -> list[float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = []
    for i, s in enumerate(spans):
        covered, cur_a, cur_b = 0.0, None, None
        for a, b in sorted(children.get(i, [])):
            a, b = max(a, s["start"]), min(b, s["end"])
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out.append((s["end"] - s["start"]) - covered)
    return out


def has_ancestor(spans: list[dict], i: int, prefix: str) -> bool:
    p = spans[i]["parent"]
    while p is not None:
        if spans[p]["name"].startswith(prefix):
            return True
        p = spans[p]["parent"]
    return False


# (module, attribute, layer, metrics it feeds)
WRAP_POINTS = (
    ("entities", "load_entities", "entities.load", ("entities.load_s",)),
    ("registry", "eager_cache", "registry.pin", ()),
    ("registry", "eager_cache_thunk", "registry.pin", ()),
    ("registry", "corpus_pin", "registry.pin", ()),
    ("streaming.staging", "staged_dir", "streaming.stage", ("streaming.stage_s",)),
)
PIN_METRICS = ("registry.pin_builds", "registry.pin_hits", "registry.pin_build_s")


class Wrappers:
    """Wraps the package's public layer entry points with spans. Install
    before the operator modules import, so their ``from ..registry import``
    bindings pick up the wrapped functions."""

    def __init__(self, tracer: Tracer, pkg: str = PKG):
        self.tracer = tracer
        self.pkg = pkg
        self.absent: dict[str, str] = {}
        self.pins_seen: dict[int, object] = {}  # id -> frame (kept alive)
        self.pin_tags: list[str] = []
        self.stage_builds = 0

    def install(self) -> None:
        pin_points = 0
        for mod_name, attr, layer, metrics in WRAP_POINTS:
            full = f"{self.pkg}.{mod_name}"
            try:
                mod = importlib.import_module(full)
                orig = getattr(mod, attr)
            except (ImportError, AttributeError) as e:
                reason = f"{full}.{attr} not found ({type(e).__name__})"
                for m in metrics:
                    self.absent[m] = reason
                continue
            if layer == "registry.pin":
                pin_points += 1
                wrapped = self._pin(orig)
            elif layer == "streaming.stage":
                wrapped = self._stage(orig)
            else:
                wrapped = self._plain(orig, layer)
            # Replace the function and every re-export of it (registry
            # imports load_entities by name).
            for m in list(sys.modules.values()):
                if getattr(m, "__name__", "").startswith(self.pkg):
                    for k, v in list(vars(m).items()):
                        if v is orig:
                            setattr(m, k, wrapped)
        if pin_points == 0:
            for m in PIN_METRICS:
                self.absent[m] = f"no pin entry point found in {self.pkg}.registry"

    def _plain(self, orig, layer):
        @functools.wraps(orig)
        def wrapped(*a, **k):
            with self.tracer.span(layer):
                return orig(*a, **k)

        return wrapped

    def _pin(self, orig):
        @functools.wraps(orig)
        def wrapped(e, tag, *a, **k):
            # eager_cache_thunk and corpus_pin delegate to each other with
            # the same tag: that is one pin, recorded once.
            if self.pin_tags and self.pin_tags[-1] == tag:
                return orig(e, tag, *a, **k)
            self.pin_tags.append(tag)
            try:
                with self.tracer.span("registry.pin", tag=tag) as rec:
                    out = orig(e, tag, *a, **k)
            finally:
                self.pin_tags.pop()
            # A pin is built the first time its frame is handed out; a hit
            # hands out a frame seen before.
            rec["built"] = id(out) not in self.pins_seen
            self.pins_seen.setdefault(id(out), out)
            return out

        return wrapped

    def _stage(self, orig):
        @functools.wraps(orig)
        def wrapped(sf_dir, tag, build, *a, **k):
            def counted_build(*ba, **bk):
                self.stage_builds += 1
                return build(*ba, **bk)

            with self.tracer.span("streaming.stage", tag=tag):
                return orig(sf_dir, tag, counted_build, *a, **k)

        return wrapped


class BatchListener:
    """Collects every micro-batch's progress, attributed to the query that
    was running when the stream started (onQueryStarted is synchronous)."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.owner: dict[str, str | None] = {}
        self.progress: list[dict] = []
        self.terminated: set[str] = set()
        self._lock = threading.Lock()

    def register(self, spark) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):
                with outer._lock:
                    outer.owner[str(event.id)] = outer.tracer.qid

            def onQueryProgress(self, event):
                p = json.loads(event.progress.json)
                with outer._lock:
                    outer.progress.append(p)

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                with outer._lock:
                    outer.terminated.add(str(event.id))

        spark.streams.addListener(_L())

    def drain(self, timeout_s: float = 20.0) -> bool:
        """Wait until every started stream has reported termination."""
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                if set(self.owner) <= self.terminated:
                    return True
            time.sleep(0.05)
        return False

    def metrics(self) -> dict[str, float]:
        b = self.progress
        dur = lambda k: sum(p.get("durationMs", {}).get(k, 0) for p in b)  # noqa: E731
        ops = [op for p in b for op in p.get("stateOperators", [])]
        last_ops: dict[tuple, dict] = {}
        for p in b:
            for j, op in enumerate(p.get("stateOperators", [])):
                last_ops[(p["id"], j)] = op
        trig = [p.get("durationMs", {}).get("triggerExecution", 0) for p in b]
        out = {
            "streaming.batches": len(b),
            "streaming.input_rows": sum(p.get("numInputRows", 0) for p in b),
            "streaming.planning_ms": dur("queryPlanning"),
            "streaming.get_batch_ms": dur("getBatch"),
            "streaming.add_batch_ms": dur("addBatch"),
            "streaming.wal_commit_ms": dur("walCommit"),
            "streaming.commit_offsets_ms": dur("commitOffsets"),
            "streaming.trigger_ms": sum(trig),
            "streaming.state_commit_ms": sum(op.get("commitTimeMs", 0) for op in ops),
            "streaming.state_rows": sum(
                op.get("numRowsTotal", 0) for op in last_ops.values()
            ),
            "streaming.state_mb": sum(
                op.get("memoryUsedBytes", 0) for op in last_ops.values()
            ) / 2**20,
        }
        if trig:
            out["streaming.batch_p50_ms"] = median(trig)
            out["streaming.batch_p90_ms"] = percentile(trig, 0.9)
        return out

    def batches_by_query(self) -> dict[str, int]:
        out: dict[str, int] = {}
        for p in self.progress:
            q = self.owner.get(p["id"]) or "?"
            out[q] = out.get(q, 0) + 1
        return out


def storage_mb(spark) -> dict[str, float]:
    """Spark's RDD storage info, split by how the data was persisted.

    ``DataFrame.cache()`` names its RDD after the cached plan; the entity
    model is cached that way. ``localCheckpoint`` (the operator pins) leaves
    the RDD unnamed, so Spark reports its class name (``...RDD``)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    ent = pin = 0
    for info in infos:
        size = info.memSize() + info.diskSize()
        if re.fullmatch(r"\w*RDD", str(info.name())):
            pin += size
        else:
            ent += size
    return {"entities": ent / 2**20, "pins": pin / 2**20}


def _event_lines(log_dir: str):
    """Lines of the single application's event log, whether Spark wrote one
    file or a rolling directory of numbered ``events_<n>_*`` parts."""
    apps = os.listdir(log_dir)
    if len(apps) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, got {apps}")
    path = os.path.join(log_dir, apps[0])
    if os.path.isdir(path):
        parts = sorted((f for f in os.listdir(path) if f.startswith("events_")),
                       key=lambda f: int(f.split("_")[1]))
        files = [os.path.join(path, f) for f in parts]
    else:
        files = [path]
    for p in files:
        with open(p) as f:
            yield from f


def event_log_metrics(log_dir: str, windows: dict[str, tuple[float, float]],
                      passes: dict[str, int]) -> dict[str, float]:
    """Spark counters per phase from the event log. ``windows`` maps a
    phase to its (start, end) epoch seconds; a stage belongs to the phase
    its submission falls in. Counters are divided by the phase's pass count
    so warm figures are per pass."""
    jobs, stages, tasks = [], {}, {}
    for line in _event_lines(log_dir):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs.append(ev["Submission Time"])
        elif kind == "SparkListenerStageCompleted":
            si = ev["Stage Info"]
            key = (si["Stage ID"], si.get("Stage Attempt ID", 0))
            stages[key] = {"submit": si.get("Submission Time", 0),
                           "tasks": si.get("Number of Tasks", 0)}
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            key = (ev["Stage ID"], ev.get("Stage Attempt ID", 0))
            sr = tm.get("Shuffle Read Metrics", {})
            sw = tm.get("Shuffle Write Metrics", {})
            tasks.setdefault(key, []).append({
                "dur": (ti["Finish Time"] - ti["Launch Time"]) / 1e3,
                "cpu": tm.get("Executor CPU Time", 0) / 1e9,
                "gc": tm.get("JVM GC Time", 0) / 1e3,
                "sr": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                "sw": sw.get("Shuffle Bytes Written", 0),
                "spill": tm.get("Disk Bytes Spilled", 0),
            })
    out: dict[str, float] = {}
    for phase, (a, b) in windows.items():
        n = max(1, passes.get(phase, 1))
        inw = lambda ms: a * 1e3 <= ms <= b * 1e3  # noqa: E731
        st = {k: v for k, v in stages.items() if inw(v["submit"])}
        ts = [t for k in st for t in tasks.get(k, [])]
        skews = []
        for k in st:
            durs = [t["dur"] for t in tasks.get(k, [])]
            if len(durs) >= 2 and median(durs) > 0:
                skews.append(max(durs) / median(durs))
        p = f"spark.{phase}."
        out[p + "jobs"] = sum(1 for ms in jobs if inw(ms)) / n
        out[p + "stages"] = len(st) / n
        out[p + "tasks"] = len(ts) / n
        out[p + "task_s"] = sum(t["dur"] for t in ts) / n
        out[p + "task_cpu_s"] = sum(t["cpu"] for t in ts) / n
        out[p + "gc_s"] = sum(t["gc"] for t in ts) / n
        out[p + "shuffle_read_mb"] = sum(t["sr"] for t in ts) / 2**20 / n
        out[p + "shuffle_write_mb"] = sum(t["sw"] for t in ts) / 2**20 / n
        out[p + "spill_mb"] = sum(t["spill"] for t in ts) / 2**20 / n
        out[p + "single_task_stages"] = sum(1 for v in st.values() if v["tasks"] == 1) / n
        out[p + "stage_skew_p90"] = percentile(skews, 0.9) if skews else 1.0
    return out
