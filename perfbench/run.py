"""Benchmark of the spark_glove_spark engine.

    python3 perfbench/run.py --workload glove_train --seed 1 --seconds 6 --trace 0

Run from the root of a checkout. The inputs are generated from the seed
before the clock starts; then the engine is set up ``SETUP_ROUNDS``
times (a fresh SparkContext each round), warmed up with the workload's
``WARMUP_OPS`` ops, and timed for ``--seconds`` seconds and at least
``MIN_TIMED_OPS`` ops. Every op's output is checked. The last line of standard output is the result as JSON; the
line before it records the host, versions, inputs and per-op figures.

With ``--trace 1`` the run also turns on Spark's event log, records
spans around calls into the package, makes the single-layer calls of
the workload, and prints the per-layer table; the spans are written to
``.perfbench_out/`` when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

import procfs  # noqa: E402
from tracing import Tracer, fold_event_log  # noqa: E402
from workloads import WORKLOADS, CheckFailed  # noqa: E402

SETUP_ROUNDS = 3
# Each workload runs WARMUP_OPS untimed ops first. Op times still fall after
# the first warm op (JIT, codegen caches); the info line says whether the
# first timed op was within PLATEAU of the last warm-up.
PLATEAU = 0.15
# Timing runs for --seconds and at least MIN_TIMED_OPS ops, so that every run
# of a workload on a given host takes its median over the same op indices.
MIN_TIMED_OPS = 2
RSS_OPS = 1  # peak RSS is sampled over this many timed ops, whatever the run length

END_TO_END = {"setup_s": "s", "op_cpu_ms": "ms", "peak_rss_mb": "MB"}

# (metric, unit, layer, end-to-end metric a gain there should move)
PER_LAYER = [
    # Wall time per op and throughput, printed by every run on its info line.
    # They are not bounded end to end: on a shared 4-core host, CPU steal
    # spread them by a quarter to a half over ten seeds.
    ("op.wall_p50_ms", "ms", "whole op", "none: moves with host CPU steal"),
    ("op.work_per_s", "1/s", "whole op", "none: moves with host CPU steal"),
    ("session.start_ms", "ms", "session", "setup_s"),
    ("sources.read_ms", "ms", "sources.tables", "setup_s"),
    ("glove.vocab_ms", "ms", "glove.trainer", "op_cpu_ms on glove_train"),
    ("glove.cooc_ms", "ms", "operators.cooccurrence", "op_cpu_ms on glove_train"),
    ("glove.x_cells", "count", "operators.cooccurrence", "op_cpu_ms on glove_train"),
    ("glove.iter_ms", "ms", "glove.trainer", "op_cpu_ms on glove_train"),
    ("glove.loss_final", "loss", "glove.trainer", "none: must repeat exactly"),
    ("spark.persistent_rdds", "count", "glove.trainer", "peak_rss_mb on glove_train"),
    ("dedup.prefix_filter_ms", "ms", "operators.dedup", "curate lanes (not an op here)"),
    ("dedup.pairs_kept", "count", "operators.dedup", "none: must repeat exactly"),
    ("txlog.append_ms", "ms", "sources.txlog", "streaming lanes (not an op here)"),
    ("txlog.append_calls", "count", "sources.txlog", "streaming lanes (not an op here)"),
    ("txlog.merge_ms", "ms", "sources.txlog", "streaming lanes (not an op here)"),
    ("txlog.merge_calls", "count", "sources.txlog", "streaming lanes (not an op here)"),
    ("txlog.commits", "count", "sources.txlog", "none: must repeat exactly"),
    ("txlog.bytes_written", "bytes", "sources.txlog", "streaming lanes (not an op here)"),
    ("txlog.tmp_leak_mb", "MB", "sources.txlog", "none yet: temp-dir leak baseline"),
    ("streaming.epochs", "count", "streaming.jobs", "none: must repeat exactly"),
    ("streaming.epoch_ms", "ms", "streaming.jobs", "streaming lanes (not an op here)"),
    ("ann.build_ms", "ms", "operators.ann", "setup_s on ann_search"),
    ("ann.probe_ms", "ms", "operators.ann", "op_cpu_ms on ann_search"),
    ("ann.recall_at_10", "ratio", "operators.ann", "none: must stay above its floor"),
    ("spark.jobs", "count", "engine", "op_cpu_ms"),
    ("spark.stages", "count", "engine", "op_cpu_ms"),
    ("spark.tasks", "count", "engine", "op_cpu_ms"),
    ("spark.shuffle_read_mb", "MB", "engine", "op_cpu_ms"),
    ("spark.shuffle_write_mb", "MB", "engine", "op_cpu_ms"),
    ("spark.spill_mb", "MB", "engine", "op_cpu_ms, peak_rss_mb"),
    ("spark.gc_ms", "ms", "engine", "peak_rss_mb, op_cpu_ms"),
    ("spark.executor_cpu_ms", "ms", "engine", "op_cpu_ms"),
    ("spark.unattributed_jobs", "count", "engine", "none: job-attribution baseline, whole run"),
    ("host.steal_ms", "ms", "host", "none: explains wall-time spread"),
    ("trace.overhead_ms", "ms", "benchmark", "none: traced minus untraced op.wall_p50_ms"),
]


def _median(xs):
    return float(statistics.median(xs)) if xs else 0.0


class Run:
    def __init__(self, args, work_dir: str):
        self.args = args
        self.wl = WORKLOADS[args.workload]()
        self.dirs = {k: os.path.join(work_dir, k) for k in ("inputs", "tmp", "local", "events")}
        for d in self.dirs.values():
            os.makedirs(d)
        self.me = os.getpid()
        self.spark = None
        self.tracer = Tracer()
        self.attempted = self.failed = 0
        self.layer: dict[str, float] = {}

    def launch_env(self) -> None:
        """Environment every Spark process of the run inherits: one task
        thread per core, private temp and shuffle dirs, no progress bar,
        and in a traced run Spark's event log."""
        conf = ["--conf", "spark.ui.showConsoleProgress=false"]
        if self.args.trace:
            conf += ["--conf", "spark.eventLog.enabled=true",
                     "--conf", "spark.eventLog.rolling.enabled=false",
                     "--conf", "spark.eventLog.compress=false",
                     "--conf", f"spark.eventLog.dir=file://{self.dirs['events']}"]
        os.environ.update(
            SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
            SPARK_GRAFT_DRIVER_MEM="2g",
            TMPDIR=self.dirs["tmp"],
            SPARK_LOCAL_DIRS=self.dirs["local"],
            PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
            PYSPARK_SUBMIT_ARGS=" ".join(conf + ["pyspark-shell"]),
        )
        tempfile.tempdir = self.dirs["tmp"]

    def op(self, i: int, timed: bool) -> tuple[float, float, float]:
        """One op: (wall ms, process-tree CPU ms, steal ms)."""
        self.attempted += 1
        pids = procfs.descendants(self.me)
        cpu0, steal0 = procfs.cpu_seconds(pids), procfs.steal_seconds()
        t = time.perf_counter()
        try:
            with self.tracer.span("op", op=i, timed=timed):
                result = self.wl.op(self.spark, self.tracer)
            wall = time.perf_counter() - t
            pids = sorted(set(pids) | set(procfs.descendants(self.me)))
            cpu = procfs.cpu_seconds(pids) - cpu0
            self.wl.check(result)
        except CheckFailed as e:
            print(f"op {i}: check failed: {e}", file=sys.stderr)
            self.failed += 1
        except Exception:  # an op that raises is a failed op; keep measuring
            traceback.print_exc()
            self.failed += 1
            wall, cpu = time.perf_counter() - t, 0.0
        return wall * 1e3, cpu * 1e3, (procfs.steal_seconds() - steal0) * 1e3

    def execute(self) -> dict:
        a, wl, tr = self.args, self.wl, self.tracer
        inputs = wl.prepare(a.seed, self.dirs["inputs"])
        self.launch_env()

        t0 = time.perf_counter()
        import pyspark

        from spark_glove_spark.session import get_spark

        setup_s, session_ms, read_ms, build_ms = [], [], [], []
        for r in range(SETUP_ROUNDS):
            if r:
                t0 = time.perf_counter()
                tr.sc = None
                self.spark.stop()
            with tr.span("setup", round=r):
                with tr.span("session.start") as ss:
                    self.spark = get_spark()
                if a.trace:
                    tr.sc = self.spark.sparkContext
                n0 = len(tr.spans)
                wl.setup(self.spark, tr)
            setup_s.append(time.perf_counter() - t0)
            session_ms.append(ss.ms)
            for s in tr.spans[n0:]:
                {"sources.read": read_ms, "ann.build": build_ms}.get(s.name, []).append(s.ms)
        self.layer.update({"session.start_ms": session_ms[0], "sources.read_ms": _median(read_ms),
                           "ann.build_ms": _median(build_ms)})

        walls, cpus, steals, warm = [], [], [], []
        with procfs.RssSampler(self.me) as rss:
            for i in range(wl.WARMUP_OPS):
                warm.append(self.op(i, timed=False)[0])
            t_start = time.perf_counter()
            while len(walls) < MIN_TIMED_OPS or time.perf_counter() - t_start < a.seconds:
                if len(walls) < RSS_OPS:
                    rss.active.set()
                w, c, s = self.op(wl.WARMUP_OPS + len(walls), timed=True)
                rss.active.clear()
                walls.append(w), cpus.append(c), steals.append(s)
        result = {
            "setup_s": _median(setup_s),
            "op_cpu_ms": _median(cpus),
            "peak_rss_mb": rss.peak / 2**20,
        }
        self.layer["op.wall_p50_ms"] = _median(walls)
        self.layer["op.work_per_s"] = wl.work() * len(walls) / (sum(walls) / 1e3)
        self.info = {
            "workload": wl.name, "seed": a.seed, "nproc": len(os.sched_getaffinity(0)),
            "pyspark": pyspark.__version__,
            "java": self.spark.sparkContext._jvm.System.getProperty("java.version"),
            "inputs": inputs, "setup_s": setup_s, "warmup_ms": warm,
            "warmup_plateau": abs(walls[0] - warm[-1]) <= PLATEAU * walls[0],
            "op_ms": walls,
            "op_cpu_ms": cpus, "steal_ms": steals,
            "wall_p50_ms": self.layer["op.wall_p50_ms"], "work_per_s": self.layer["op.work_per_s"],
            "fail_ratio": self.failed / self.attempted, **wl.quality(),
        }
        if a.trace:
            self.trace_layers(steals)
        return result

    def trace_layers(self, steals: list[float]) -> None:
        tr, wl = self.tracer, self.wl
        timed_ops = [s for s in tr.spans if s.name == "op" and s.attrs.get("timed")]
        op_ms = _median([s.ms for s in timed_ops])
        # RDDs still cached after the timed ops (each fit leaves some behind)
        self.layer["spark.persistent_rdds"] = self.spark.sparkContext._jsc.getPersistentRDDs().size()
        if hasattr(wl, "layer_probes"):
            self.attempted += 1  # the layer calls are checked like an op
            try:
                self.layer.update(wl.layer_probes(self.spark, tr, op_ms))
            except CheckFailed as e:
                print(f"layer calls: check failed: {e}", file=sys.stderr)
                self.failed += 1
        self.layer["ann.probe_ms"] = _median(
            [s.ms for s in tr.spans if s.name == "ann.probe" and s.op in {o.op for o in timed_ops}]
        )
        q = wl.quality()
        self.layer["glove.loss_final"] = q.get("loss_final") or 0.0
        self.layer["ann.recall_at_10"] = q.get("recall_at_10") or 0.0
        self.layer["host.steal_ms"] = _median(steals)
        self.stop_spark()  # flushes the event log
        # every top-level call after set-up: warm-up and timed ops, layer calls
        calls = [s for s in tr.spans if s.parent is None and s.name != "setup"]
        folded = fold_event_log(self.dirs["events"], calls)
        for key in next(iter(folded.values())):
            self.layer[f"spark.{key}"] = _median([folded[s.id][key] for s in timed_ops])
        self.layer["spark.unattributed_jobs"] = sum(
            folded[s.id]["unattributed_jobs"] for s in calls
        )
        untraced = _saved_p50(self.args.workload)
        wall = self.layer["op.wall_p50_ms"]
        self.layer["trace.overhead_ms"] = wall - untraced if untraced else 0.0
        self.info["untraced_wall_p50_ms"] = untraced
        selfs = tr.self_ms()
        names = sorted({s.name for s in tr.spans})
        self.info["span_self_ms"] = {
            n: round(sum(selfs[s.id] for s in tr.spans if s.name == n), 3) for n in names
        }
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        path = os.path.join(ROOT, ".perfbench_out",
                            f"trace-{self.args.workload}-{self.args.seed}.json")
        tr.dump(path, {"info": self.info, "spark_per_call": folded})
        self.info["trace_file"] = os.path.relpath(path, ROOT)

    def stop_spark(self) -> None:
        """Stop Spark, its JVM and the JVM's Python workers, and wait
        until every one has exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        kids = procfs.descendants(self.me)
        gw = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.time() + 30
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def _saved_p50(workload: str) -> float | None:
    """Median op wall time of the untraced runs of ``workload`` recorded in
    this checkout, for the tracing overhead."""
    path = os.path.join(ROOT, ".perfbench_out", f"untraced-{workload}.json")
    try:
        with open(path) as f:
            return _median(json.load(f)) or None
    except FileNotFoundError:
        return None


def _save_p50(workload: str, p50: float) -> None:
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    path = os.path.join(ROOT, ".perfbench_out", f"untraced-{workload}.json")
    try:
        with open(path) as f:
            xs = json.load(f)
    except FileNotFoundError:
        xs = []
    with open(path, "w") as f:
        json.dump(xs + [p50], f)


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    # The engine is built from this checkout's source; without it there
    # is nothing to measure and no result is printed.
    sys.path.insert(0, ROOT)
    import spark_glove_spark  # noqa: F401

    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    run = Run(args, work_dir)
    try:
        metrics = run.execute()
    finally:
        run.stop_spark()
        shutil.rmtree(work_dir, ignore_errors=True)

    if args.trace:
        print(f"per-layer metrics, workload {args.workload}:")
        for name, unit, layer, moves in PER_LAYER:
            print(f"  {name:24} {run.layer.get(name, 0.0):>14.3f} {unit:6} {layer:24} {moves}")
        print("span self time (ms):")
        for name, ms in run.info["span_self_ms"].items():
            print(f"  {name:24} {ms:>14.3f}")
        out = {name: {"value": run.layer.get(name, 0.0), "unit": unit}
               for name, unit, _, _ in PER_LAYER}
    else:
        _save_p50(args.workload, run.layer["op.wall_p50_ms"])
        out = {k: {"value": v, "unit": END_TO_END[k]} for k, v in metrics.items()}
    print(json.dumps({"perfbench": run.info}))
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
