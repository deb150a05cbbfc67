#!/usr/bin/env python3
"""Knowledge-graph benchmark: one workload, one fresh process, one session.

    python3 perfbench/run.py --workload kg_build --seed 1 --seconds 16 --trace 0

Run from the root of a source checkout. The run makes its inputs from
``--seed``, starts one SparkSession at ``local[nproc - 1]``, sets the
workload up, then runs rounds of it closed loop until ``--seconds`` have
passed, checking every round's outputs outside the timed region. The last
stdout line is the result JSON: with ``--trace 0`` the end-to-end metrics
named in ``BENCHMARK.json``, with ``--trace 1`` its per-layer metrics.
The line before it holds the detail: environment stamp, input sizes and
properties, step timings with sample counts, and check notes.

With ``--trace 1`` the Spark event log is on and every round also makes
the extra calls that split layers apart. After the cold round and one
untraced warm-up round, traced and untraced rounds alternate (traced
first), so ``trace.overhead_s``, the median traced round minus the median
untraced one over those rounds, carries no linear warm-up trend.
Per-layer numbers come from the traced rounds. Spans are written to
``.perfbench/traces/`` at exit.

Exit codes: 0 done (the result says whether every check passed),
1 no cold and warm round completed, 2 the engine package is not
importable, 3 another Spark JVM is running.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import json
import os
import platform
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

WORKLOAD_NAMES = ("kg_build", "kg_serve")


def other_spark_jvms() -> list[int]:
    """Pids of running Spark JVMs (drivers or executors)."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd or b"org.apache.spark.executor" in cmd:
            found.append(int(pid))
    return found


def process_tree(root_pid: int) -> set[int]:
    """``root_pid`` and all its live descendants."""
    parent: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier += kids
    return tree


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants: pages
    shared between forked Python workers count once in total, not once per
    process."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


def cpu_steal_s() -> float:
    """Host-wide CPU time stolen from this machine by the hypervisor."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


class MemorySampler(threading.Thread):
    """Peak PSS of this process tree (driver JVM and Python workers)."""

    def __init__(self, interval: float = 0.5):
        super().__init__(daemon=True)
        self.interval = interval
        self.peak = 0
        self._stop_evt = threading.Event()

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, tree_pss_bytes(os.getpid()))
            self._stop_evt.wait(self.interval)

    def stop(self) -> None:
        self._stop_evt.set()
        self.join(timeout=10)


def env_stamp(seed: int, cores: int) -> dict:
    import pyarrow
    import pyspark

    commit = None
    head = os.path.join(ROOT, ".git", "HEAD")
    if os.path.isfile(head):
        with open(head) as f:
            ref = f.read().strip()
        commit = ref
        if ref.startswith("ref: "):
            ref_file = os.path.join(ROOT, ".git", ref[5:])
            if os.path.isfile(ref_file):
                with open(ref_file) as f:
                    commit = f.read().strip()
    digest = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(ROOT, "tab2neo_spark", "**", "*.py"), recursive=True)):
        with open(path, "rb") as f:
            digest.update(os.path.relpath(path, ROOT).encode() + b"\0" + f.read())
    return {"git_commit": commit, "source_sha256": digest.hexdigest()[:16],
            "nproc": os.cpu_count(), "cores_used": cores, "spark": pyspark.__version__,
            "pyarrow": pyarrow.__version__, "python": platform.python_version(), "seed": seed}


def stop_session(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None) if gateway is not None else None
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def summarize_steps(rounds: list[dict]) -> dict:
    """Median of every step over the rounds, with its sample count; a step
    given as a list of per-call seconds is pooled over the rounds."""
    pooled: dict[str, list[float]] = {}
    for r in rounds:
        for k, v in r["steps"].items():
            pooled.setdefault(k, []).extend(v if isinstance(v, list) else [v])
    return {k: {"median": statistics.median(v), "n": len(v)} for k, v in sorted(pooled.items())}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")  # seeds key numpy generators and id ranges

    try:
        import tab2neo_spark
    except ImportError as e:
        print(f"perfbench: the engine package is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if os.path.dirname(os.path.dirname(os.path.abspath(tab2neo_spark.__file__))) != ROOT:
        print(f"perfbench: tab2neo_spark comes from {tab2neo_spark.__file__}, not from {ROOT}",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jvms = other_spark_jvms()
    if jvms:
        print(f"perfbench: refusing to start, Spark JVMs already running: {jvms}", file=sys.stderr)
        return 3

    import spans
    import workloads

    work = os.path.join(ROOT, ".perfbench", "work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # one core stays free for the JIT compiler, GC and the Python driver
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    conf = {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    event_dir = os.path.join(work, "eventlog")
    if args.trace:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": event_dir,
                     "spark.eventLog.compress": "false"})

    from tab2neo_spark.session import get_spark

    sampler = MemorySampler()
    sampler.start()
    steal0 = cpu_steal_s()
    spark = None
    try:
        t_session = time.time()
        spark = get_spark(app_name=f"perfbench-{args.workload}", cores=cores,
                          extra_conf=conf)
        session_s = time.time() - t_session
        tracer = spans.Tracer(spark.sparkContext, traced_run=bool(args.trace))
        if args.trace:
            tracer.record("session.get_spark", t_session, t_session + session_s)
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed, tracer)

        # set-up several times; the median rep plus the session start is setup_s
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            w.setup()
            reps.append(time.perf_counter() - t0)
        setup_s = session_s + statistics.median(reps)

        attempted = failed = 0
        errors: list[str] = []
        cold = None
        warm: list[dict] = []
        traced_s: list[float] = []
        plain_s: list[float] = []
        # round 0 is the cold round; the window of warm rounds starts after
        # it and holds at least one warm round (traced: a warm-up, then
        # traced, untraced, traced)
        min_rounds = 5 if args.trace else 2
        i = 0
        while i < min_rounds or time.perf_counter() - t_window < args.seconds:
            traced = bool(args.trace) and i >= 2 and i % 2 == 0
            tracer.enabled = traced
            attempted += w.ops
            try:
                out = w.round(i)
            except Exception:
                failed += w.ops
                errors.append(traceback.format_exc(limit=4))
                print(errors[-1], file=sys.stderr)
                out = None
            tracer.enabled = False
            if out is None:
                w.recover(i)
            else:
                bad = w.check(i, out)
                failed += len(bad)
                errors += [f"round {i}: {b} output check failed" for b in bad]
                w.reset(i)
                if i == 0:
                    cold = out
                else:
                    warm.append(out)
                    if i >= 2:
                        (traced_s if traced else plain_s).append(out["round_s"])
            if i == 0:
                t_window = time.perf_counter()
            i += 1
        window_s = time.perf_counter() - t_window
    finally:
        if spark is not None:
            stop_session(spark)
        sampler.stop()

    if cold is None or not warm:
        print("perfbench: no cold and warm round completed; nothing to report", file=sys.stderr)
        return 1
    detail = {
        "workload": args.workload, "env": env_stamp(args.seed, cores), "inputs": w.inputs,
        "properties": w.notes, "session_s": session_s, "setup_reps_s": reps,
        "window_s": window_s, "warm_rounds": len(warm), "cpu_steal_s": cpu_steal_s() - steal0,
        "peak_pss_mb": sampler.peak / 2**20, "first_round_s": cold["round_s"],
        "first_steps": summarize_steps([cold]),
        "warm_steps": summarize_steps(warm), "errors": errors[:20],
    }

    if args.trace:
        log = spans.read_event_log(event_dir)
        measures = spans.span_measures(tracer.spans, log, cores)
        os.makedirs(os.path.join(ROOT, ".perfbench", "traces"), exist_ok=True)
        with open(os.path.join(ROOT, ".perfbench", "traces",
                               f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump({"spans": tracer.spans, "measures": measures}, f)
        values = spans.layer_values(measures)
        values["trace.overhead_s"] = (statistics.median(traced_s) - statistics.median(plain_s)
                                      if traced_s and plain_s else 0.0)
        metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        values = {"setup_s": setup_s, "round_s": statistics.median(r["round_s"] for r in warm)}
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
