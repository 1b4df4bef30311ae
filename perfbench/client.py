"""The measured process: one closed-loop client issuing queries through the
engine's public surface, one after another.

    get_spark -> registry.queries() -> qs[name](spark, sf_dir)
              -> .write.format("noop")  (materializes every column)

A run is a cold pass in a fresh session, an untimed warm-up pass that also
fetches every result, then warm passes until the run's seconds are spent,
then an untimed check of every result against its oracle. ``run.py``
starts this file with a JSON config and reads the JSON result it writes;
nothing else passes between them.
"""

from __future__ import annotations

import hashlib
import json
import os
import pickle
import random
import sys
import time
import traceback

from tracing import BatchListener, NullTracer, Tracer, Wrappers, event_log_metrics, storage_mb

import workloads
from report import phase_windows

# Warm passes still speed up for the first few passes (JIT). One untimed
# warm-up pass, then at least three timed ones so that no converging pass
# sets the median. The warm-up pass runs the same plans but collects their
# results for the check instead of writing them to the noop sink, so the
# check does not run every query once more.
WARMUP_PASSES = 1
MIN_WARM_PASSES = 3


def result_digest(pdf) -> str:
    """Order-insensitive digest of a result: columns sorted by name, rows
    sorted as text."""
    cols = sorted(pdf.columns)
    rows = sorted(repr(tuple(r)) for r in pdf[cols].itertuples(index=False))
    return hashlib.sha256(("|".join(cols) + "\n" + "\n".join(rows)).encode()).hexdigest()


class Client:
    def __init__(self, cfg: dict):
        self.cfg = cfg
        self.tracer = Tracer() if cfg["trace"] else NullTracer()
        self.out: dict = {"passes": [], "failures": {}}
        self.last_frame: dict[str, object] = {}
        self.results: dict[str, object] = {}
        self.plan_hits = 0

    # -- setup ---------------------------------------------------------
    def setup(self) -> None:
        t = self.tracer
        with t.span("setup"):
            from hadoop_hdfs_spark import registry

            self.registry = registry
            self.modules: dict[str, str] = {}
            register = registry.register

            def recording_register(name, *a, **k):
                deco = register(name, *a, **k)

                def inner(fn):
                    self.modules[name] = fn.__module__
                    return deco(fn)

                return inner

            registry.register = recording_register
            if self.cfg["trace"]:
                self.wrappers = Wrappers(t)
                self.wrappers.install()
            from hadoop_hdfs_spark.session import get_spark

            with t.span("session.start"):
                a = time.perf_counter()
                self.spark = get_spark("perfbench")
                self.spark.sparkContext.setLogLevel("ERROR")
                self.spark.range(1).count()
                self.out["session_start_s"] = time.perf_counter() - a
            with t.span("registry.catalog"):
                a = time.perf_counter()
                self.qs = registry.queries()
                self.out["catalog_s"] = time.perf_counter() - a
            registry.register = register
        self.out["setup_s"] = time.time() - self.cfg["spawn_epoch"]
        self.out["cpus"] = self.spark.sparkContext.defaultParallelism

    # -- timed passes --------------------------------------------------
    def issue(self, name: str, kind: str) -> float:
        t = self.tracer
        t.qid = name
        a = time.perf_counter()
        try:
            with t.span("query", kind=kind, module=self.modules[name]):
                with t.span("query.construct"):
                    df = self.qs[name](self.spark, self.cfg["sf_dir"])
                with t.span("query.exec"):
                    if kind == "warmup":
                        self.results[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
        except Exception:  # a failing query is counted, named and skipped
            self.out["failures"].setdefault(name, traceback.format_exc(limit=3))
            df = None
        dt = time.perf_counter() - a
        t.qid = None
        if df is not None and self.last_frame.get(name) is df:
            self.plan_hits += 1
        self.last_frame[name] = df
        return dt

    def run_pass(self, kind: str, order: list[str]) -> dict:
        rec = {"kind": kind, "start": time.time(), "queries": {}}
        a = time.perf_counter()
        with self.tracer.span(f"pass.{kind}"):
            for n in order:
                rec["queries"][n] = self.issue(n, kind)
        rec["wall_s"] = time.perf_counter() - a
        rec["end"] = time.time()
        self.out["passes"].append(rec)
        return rec

    def measure(self) -> None:
        cfg = self.cfg
        self.names = workloads.selected(cfg["workload"], self.modules)
        self.out["queries"] = self.names
        # The seed sets the query order; every pass issues that order.
        order = random.Random(cfg["seed"]).sample(self.names, len(self.names))
        self.run_pass("cold", order)
        if cfg["trace"]:
            self.out["plan_hits_cold"] = self.plan_hits
        order = [n for n in order if n not in workloads.COLD_ONLY]
        for _ in range(WARMUP_PASSES):
            self.run_pass("warmup", order)
        a = time.perf_counter()
        warm = 0
        while warm < MIN_WARM_PASSES or time.perf_counter() - a < cfg["seconds"]:
            self.run_pass("warm", order)
            warm += 1
        if cfg["trace"]:
            self.out["storage_end"] = storage_mb(self.spark)
            self.out["plan_hits"] = self.plan_hits

    # -- untimed correctness -------------------------------------------
    def check(self) -> None:
        from hadoop_hdfs_spark.testing import compare_frames, duckdb_connect

        oracles = self.registry.oracle_sql()
        cache = os.path.join(self.cfg["cache_dir"], "oracle", self.cfg["digest"])
        os.makedirs(cache, exist_ok=True)
        con = None
        for name in self.names:
            if name in self.out["failures"]:
                continue
            try:
                got = self.results.pop(name, None)
                if got is None:  # a cold-only gate: a memo read
                    got = self.qs[name](self.spark, self.cfg["sf_dir"]).toPandas()
                if name in oracles:
                    sql = oracles[name]
                    key = hashlib.sha256(sql.encode()).hexdigest()[:12]
                    path = os.path.join(cache, f"{name}.{key}.pkl")
                    if os.path.exists(path):
                        with open(path, "rb") as f:
                            want = pickle.load(f)
                    else:
                        if con is None:
                            con = duckdb_connect(self.cfg["sf_dir"])
                        want = con.execute(sql).fetchdf()
                        with open(path + ".tmp", "wb") as f:
                            pickle.dump(want, f)
                        os.replace(path + ".tmp", path)
                    compare_frames(got, want)
                else:
                    # No oracle: the result must repeat on every run of
                    # this input.
                    path = os.path.join(cache, f"{name}.digest")
                    d = result_digest(got)
                    if os.path.exists(path):
                        with open(path) as f:
                            if f.read() != d:
                                raise AssertionError("result digest changed between runs")
                    else:
                        with open(path, "w") as f:
                            f.write(d)
            except Exception:  # a mismatch is counted and named
                self.out["failures"][name] = traceback.format_exc(limit=3)
        if con is not None:
            con.close()

    # -- traced extras -------------------------------------------------
    def finish_trace(self) -> None:
        if not self.cfg["trace"]:
            return
        t = self.tracer
        self.out["spans"] = t.spans
        self.out["absent"] = self.wrappers.absent
        self.out["stage_builds"] = self.wrappers.stage_builds
        self.out["listener_complete"] = self.listener.drain()
        self.out["streaming"] = self.listener.metrics()
        self.out["batches_by_query"] = self.listener.batches_by_query()


def main() -> int:
    with open(sys.argv[1]) as f:
        cfg = json.load(f)
    sys.path.insert(0, cfg["root"])
    c = Client(cfg)
    c.setup()
    if cfg["trace"]:
        c.listener = BatchListener(c.tracer)
        c.listener.register(c.spark)
    try:
        c.measure()
    except workloads.CoverageError as e:
        print(f"coverage check failed: {e}", file=sys.stderr)
        c.spark.stop()
        return 3
    c.finish_trace()
    a = time.perf_counter()
    c.check()
    c.out["check_s"] = time.perf_counter() - a
    c.spark.stop()
    if cfg["trace"]:
        windows, counts = phase_windows(c.out["passes"])
        c.out["spark"] = event_log_metrics(cfg["event_log_dir"], windows, counts)
    with open(cfg["out"], "w") as f:
        json.dump(c.out, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
