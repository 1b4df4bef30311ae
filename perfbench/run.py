"""Benchmark entry point.

    python3 perfbench/run.py --workload hdfs_meta --seed 1 --seconds 8 --trace 0

Run from the repository root. Gives the run a private ``/tmp`` (a fresh
directory in the checkout, bound over ``/tmp`` in a mount namespace of its
own, removed afterwards), generates the seeded inputs, starts one measured
process (``client.py``) on them, samples the resident memory of its process
tree, waits for every process it started to end, and prints the metrics.
The last line of standard output is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
the per-layer ones. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SYSTEM_TMP = "/tmp"
# Set in the re-run that sees the private /tmp; names its directory.
PRIVATE_TMP_ENV = "PERFBENCH_PRIVATE_TMP"
# The measured process is killed past this: a run must end within 180 s.
RUN_LIMIT_S = 170
sys.path.insert(0, HERE)

import report  # noqa: E402
import workloads  # noqa: E402


def proc_table() -> dict[int, tuple[int, str, int]]:
    """pid -> (ppid, comm, rss bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        r = stat.rfind(")")
        fields = stat[r + 2:].split()
        out[int(d)] = (int(fields[1]), stat[stat.find("(") + 1:r], int(fields[21]) * page)
    return out


def descendants(root: int, table: dict) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        if p in table:
            out.append(p)
        todo.extend(kids.get(p, []))
    return out


class TreeSampler(threading.Thread):
    """Samples (time, driver MB, JVM MB, Python-worker MB) of a process
    tree every 0.2 s and remembers every pid it saw."""

    def __init__(self, root: int):
        super().__init__(daemon=True)
        self.root = root
        self.samples: list[tuple[float, float, float, float]] = []
        self.seen: set[int] = set()
        self.stop_evt = threading.Event()

    def run(self) -> None:
        while not self.stop_evt.is_set():
            table = proc_table()
            tree = descendants(self.root, table)
            self.seen.update(tree)
            drv = jvm = wrk = 0
            java = {p for p in tree if table[p][1] == "java"}
            under_java = {q for j in java for q in descendants(j, table)} - java
            for p in tree:
                rss = table[p][2] / 2**20
                if p == self.root:
                    drv += rss
                elif p in java:
                    jvm += rss
                elif p in under_java:
                    wrk += rss
                else:
                    drv += rss
            self.samples.append((time.time(), drv, jvm, wrk))
            self.stop_evt.wait(0.2)


def reap(pids: set[int], timeout_s: float = 15.0) -> None:
    """Wait for every pid to end; kill what is still running after the
    timeout."""
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        alive = {p for p in pids if os.path.exists(f"/proc/{p}")}
        if not alive:
            return
        time.sleep(0.1)
    for p in pids:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    deadline = time.monotonic() + 5
    while time.monotonic() < deadline and any(os.path.exists(f"/proc/{p}") for p in pids):
        time.sleep(0.1)


def tmp_entries(tmp_dir: str = SYSTEM_TMP) -> set[str]:
    try:
        return set(os.listdir(tmp_dir))
    except OSError:
        return set()


def held_open(paths: list[str]) -> set[str]:
    """The paths some live process has open (a descriptor, its working
    directory or its root) at or below them."""
    held = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        links = [f"/proc/{pid}/cwd", f"/proc/{pid}/root"]
        try:
            links += [f"/proc/{pid}/fd/{fd}" for fd in os.listdir(f"/proc/{pid}/fd")]
        except OSError:
            pass
        for link in links:
            try:
                target = os.readlink(link)
            except OSError:
                continue
            for p in paths:
                if target == p or target.startswith(p + "/"):
                    held.add(p)
    return held


def remove_new_tmp(before: set[str], since: float, tmp_dir: str = SYSTEM_TMP) -> list[str]:
    """Fallback when the run could not get a private /tmp: remove what the
    run left in the shared one. An entry is removed only if it is new since
    the run started, owned by this user, changed since then, and no live
    process holds it open (every process of the run has ended by now, so a
    holder belongs to someone else)."""
    new = []
    for name in sorted(tmp_entries(tmp_dir) - before):
        p = os.path.join(tmp_dir, name)
        try:
            st = os.lstat(p)
        except OSError:
            continue
        if st.st_uid == os.getuid() and st.st_ctime >= since - 1:
            new.append(p)
    held = held_open(new)
    removed = []
    for p in new:
        if p in held:
            continue
        if os.path.isdir(p) and not os.path.islink(p):
            shutil.rmtree(p, ignore_errors=True)
        else:
            try:
                os.remove(p)
            except OSError:
                pass
        removed.append(os.path.basename(p))
    return removed


def private_tmp_cmd(tmp: str, argv: list[str]) -> list[str]:
    """``argv`` run in a mount namespace of its own with ``tmp`` bound over
    /tmp (a user namespace too when not root)."""
    flags = ["--mount", "--propagation", "private"]
    if os.getuid() != 0:
        flags.append("--map-root-user")
    return ["unshare", *flags, "sh", "-c", 'mount --bind "$0" /tmp && exec "$@"', tmp, *argv]


def run_with_private_tmp() -> int | None:
    """Re-run this command with a private /tmp, and remove it afterwards.
    Returns the re-run's exit code, or None when this system cannot make a
    private /tmp."""
    tmp = os.path.join(WORK, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    proc = None
    try:
        try:
            probe = subprocess.run(private_tmp_cmd(tmp, ["true"]), capture_output=True)
        except OSError:  # no unshare
            return None
        if probe.returncode != 0:
            return None
        proc = subprocess.Popen(
            private_tmp_cmd(tmp, [sys.executable, os.path.abspath(__file__), *sys.argv[1:]]),
            env={**os.environ, PRIVATE_TMP_ENV: tmp},
        )
        return proc.wait()
    finally:
        if proc is not None and proc.poll() is None:  # interrupted: let the re-run clean up
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def main() -> int:
    signal.signal(signal.SIGTERM, _terminate)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "hadoop_hdfs_spark")):
        print(f"perfbench: no hadoop_hdfs_spark package under {ROOT}", file=sys.stderr)
        return 2
    private = os.environ.get(PRIVATE_TMP_ENV)
    if private is None:
        code = run_with_private_tmp()
        if code is not None:
            return code
        print(f"perfbench: no private {SYSTEM_TMP} on this system (unshare failed); "
              f"removing what the run leaves in the shared one", file=sys.stderr)
    sys.path.insert(0, ROOT)
    import gen

    t_start = time.time()
    before = None if private else tmp_entries()
    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        inputs = gen.generate(WORK, args.seed)
        gen_s = time.time() - t_start
        rec, samples = measure(args, inputs, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        removed = [] if private else remove_new_tmp(before, t_start)
    if rec is None:
        return 1
    rec["gen_s"], rec["total_s"] = gen_s, time.time() - t_start
    return emit(args, rec, samples, inputs, removed)


def measure(args, inputs: dict, run_dir: str):
    for sub in ("tmp", "spark-local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    cfg = {
        "root": ROOT,
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "sf_dir": inputs["sf_dir"],
        "digest": inputs["digest"],
        "cache_dir": WORK,
        "event_log_dir": os.path.join(run_dir, "events"),
        "out": os.path.join(run_dir, "result.json"),
    }
    extra = [f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={tmp}"]
    if args.trace:
        extra += ["spark.eventLog.enabled=true",
                  f"spark.eventLog.dir=file://{cfg['event_log_dir']}",
                  "spark.eventLog.compress=false"]
    env = dict(os.environ)
    env.update({
        "SPARK_GRAFT_CPUS": str(os.cpu_count() or 1),
        "SPARK_GRAFT_EXTRA_CONF": ";".join(extra),
        "SPARK_GRAFT_BLOB_DIR": inputs["blob"],
        "SPARK_GRAFT_GIF_DIR": inputs["gif"],
        "SPARK_GRAFT_PNG_DIR": inputs["png"],
        "SPARK_GRAFT_WAV_DIR": inputs["wav"],
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "TMPDIR": tmp,
    })
    cfg_path = os.path.join(run_dir, "config.json")
    log_path = os.path.join(run_dir, "client.log")
    cfg["spawn_epoch"] = time.time()
    with open(cfg_path, "w") as f:
        json.dump(cfg, f)
    with open(log_path, "w") as log:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "client.py"), cfg_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        sampler = TreeSampler(proc.pid)
        sampler.start()
        code = None
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            pass
        finally:
            if code is None:  # timed out or interrupted: stop the tree
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
            sampler.stop_evt.set()
            sampler.join()
            reap(sampler.seen)
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-4000:]
        why = "timed out" if code is None else f"exited with {code}"
        print(f"perfbench: measured process {why}\n{tail}", file=sys.stderr)
        return None, None
    with open(cfg["out"]) as f:
        return json.load(f), sampler.samples


def emit(args, rec: dict, samples: list, inputs: dict, removed: list[str]) -> int:
    e2e, info = report.end_to_end(rec, samples)
    attempted = len(rec["queries"])
    failed = len(rec["failures"])
    print(f"workload={args.workload} seed={args.seed} "
          f"local[{rec['cpus']}] queries={attempted} input={inputs['digest']} "
          f"warm_passes={info['warm_passes']} warm_samples={info['warm_samples']}"
          + ("" if info["p90_tail_ok"] else " (fewer than 100: p90 is read across"
             " per-query medians, not with 10 samples beyond it)"))
    for k, unit in {**report.END_TO_END, **report.PRINTED}.items():
        print(f"  {k:<20} {e2e[k]:12.4f} {unit}")
    print(f"  {'error_rate':<20} {failed / attempted:12.4f} ratio "
          f"({failed} of {attempted} queries raised or missed their oracle)")
    for name, err in rec["failures"].items():
        print(f"  FAILED {name}: {err.strip().splitlines()[-1]}")
    print(f"  run wall {rec['total_s']:.1f} s: inputs {rec['gen_s']:.1f} s, "
          f"untimed check {rec['check_s']:.1f} s")
    if removed:
        print(f"  removed from {SYSTEM_TMP} after the run: {len(removed)} entries")
    if args.trace:
        layer, detail, absent = report.per_layer(rec, samples, e2e)
        print("trace_detail " + json.dumps(detail, sort_keys=True))
        if absent:
            print("trace_absent " + json.dumps(absent, sort_keys=True))
        metrics = {k: {"value": layer[k], "unit": report.PER_LAYER[k]}
                   for k in report.PER_LAYER if k in layer}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in report.END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
