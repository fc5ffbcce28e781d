"""One probe for bench entries: min-of-N timing, interleaved A/B, the
cores x scale rung, and physical-plan dumps.

    python tools/probe.py solo [--reps 3] [ENTRY ...]
    python tools/probe.py ab --arm NAME:CONF=V[,CONF=V...] --arm ... [--rounds 6] [ENTRY ...]
    python tools/probe.py ab --arm NAME:CHECKOUT_DIR --arm ... [--rounds 6] [ENTRY ...]
    python tools/probe.py rung [--cpus 2,4] [--reps 2] [ENTRY ...]
    python tools/probe.py plan OUT_DIR [ENTRY ...]

An ENTRY is a registered query name or one of bench.py's two GloVe
entries; the default is bench.py's whole suite (``bench.HEADLINE`` plus
the two GloVe entries). Entries run the way bench.py times them: a
query's frame goes to the noop sink, the fit counts its vectors.

For every entry run, each subcommand prints the Spark work behind the
wall: jobs, stages, tasks, shuffle read/write, spill and executor CPU.
Each run is one top-level span of perfbench/tracing.py's ``Tracer``
(whose job group tags the run's jobs), and ``fold_event_log`` folds
the session's event log onto those spans.

* ``solo`` times each entry ``--reps`` times and reports the minimum.
* ``ab`` runs the arms interleaved for ``--rounds`` rounds, reversing
  the arm order every round, and reports per arm the min, median and
  interquartile range. An arm is either runtime session confs, set in
  this process before each run, or a checkout, whose code runs in one
  process of its own for the whole A/B.
* ``rung`` writes a 10x replica of the data (disjoint keys, document
  text salted per copy) into the temp dir, where later rungs reuse it,
  times the entries in a fresh process per CPU count and scale, and
  prints the 10x/1x and core ratios.
* ``plan`` writes each entry's ``explain("formatted")`` to
  ``OUT_DIR/<entry>.txt``.

The data directory comes from $SPARK_GRAFT_SF_DIR and the core count
from $SPARK_GRAFT_CPUS, as for bench.py.
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

from pyspark.sql import functions as F

TOOL = os.path.abspath(__file__)
REPO = os.path.dirname(os.path.dirname(TOOL))
sys.path.insert(0, os.path.join(REPO, "perfbench"))

from tracing import GROUP_PREFIX, Tracer, fold_event_log  # noqa: E402

GLOVE = ("glove_cooc_build_w10", "glove_fit_d50_w10_it5")
COLUMNS = ("jobs", "stages", "tasks", "shuffle_read_mb", "shuffle_write_mb",
           "spill_mb", "executor_cpu_ms")
MARK = "PROBE "  # prefix of the machine-readable lines child processes print


def frame(spark, sf_dir: str, name: str):
    """The frame bench.py drains for ``name``; for the GloVe fit, the
    fitted vectors (the fit itself runs here)."""
    from spark_glove_spark import api
    from spark_glove_spark.glove import Glove
    from spark_glove_spark.operators.cooccurrence import cooccurrence_matrix
    from spark_glove_spark.sources import table

    if name not in GLOVE:
        return api.REGISTRY[name].fn(spark, sf_dir)
    docs = table(spark, sf_dir, "documents")
    if name == "glove_cooc_build_w10":
        return cooccurrence_matrix(docs, window=10)
    return Glove(dim=50, window=10, iterations=5, min_count=5, seed=42).fit(docs).vectors


def default_entries() -> list[str]:
    from bench import HEADLINE

    return [*HEADLINE, *GLOVE]


class Probe:
    """Runs entries on one session, one top-level span per run."""

    def __init__(self, spark, sf_dir: str):
        from spark_glove_spark.sources import table

        self.spark, self.sf_dir = spark, sf_dir
        self.sc = spark.sparkContext
        self.tracer = Tracer(self.sc)
        table(spark, sf_dir, "region").count()  # JVM + parquet-footer warm-up, as in bench.py

    def run(self, name: str, label: str = ""):
        with self.tracer.span(label + name) as s:
            df = frame(self.spark, self.sf_dir, name)
            if name == "glove_fit_d50_w10_it5":
                df.count()
            else:
                df.write.mode("overwrite").format("noop").save()
        return s

    def layers(self) -> dict[int, dict]:
        """Per span id, the Spark work of its jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()  # flushes the event log too
        conf = self.sc.getConf()
        if conf.get("spark.eventLog.enabled", "false") == "true":
            log_dir = conf.get("spark.eventLog.dir").removeprefix("file://")
            return fold_event_log(log_dir, self.tracer.spans)
        # a session without an event log: counts from the status tracker
        st = self.sc.statusTracker()
        out = {}
        for s in self.tracer.spans:
            jobs = [st.getJobInfo(j) for j in st.getJobIdsForGroup(f"{GROUP_PREFIX}{s.id}")]
            stages = [st.getStageInfo(i) for j in jobs if j for i in j.stageIds]
            done = [x for x in stages if x and x.numCompletedTasks]
            out[s.id] = {"jobs": len(jobs), "stages": len(done),
                         "tasks": sum(x.numCompletedTasks for x in done)}
        return out


@contextlib.contextmanager
def session(app: str):
    """The package's session, writing Spark's event log to a private dir."""
    log_dir = tempfile.mkdtemp(prefix="probe_events_")
    confs = {"spark.eventLog.enabled": "true", "spark.eventLog.dir": f"file://{log_dir}",
             "spark.eventLog.compress": "false", "spark.eventLog.rolling.enabled": "false",
             "spark.ui.showConsoleProgress": "false"}
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [f"--conf {k}={v}" for k, v in confs.items()] + ["pyspark-shell"])
    from spark_glove_spark.session import get_spark

    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        yield spark
    finally:
        spark.stop()
        shutil.rmtree(log_dir, ignore_errors=True)


def summary(runs: list[tuple[int, float]], layers: dict[int, dict]) -> dict:
    """Walls of ``runs`` ((span id, wall s) pairs) and the Spark work of
    the fastest one."""
    best = min(runs, key=lambda r: r[1])
    return {"walls": [round(w, 3) for _, w in runs], **layers.get(best[0], {})}


def row(name: str, rec: dict) -> str:
    walls = rec["walls"]
    q1, med, q3 = (statistics.quantiles(walls, n=4, method="inclusive")
                   if len(walls) > 1 else walls * 3)
    work = " ".join(f"{k}={round(rec[k], 2)}" for k in COLUMNS if k in rec)
    return (f"{name:34s} min={min(walls):7.3f} med={med:7.3f} iqr={q3 - q1:6.3f}"
            f"  {work}  reps={walls}")


def emit(obj) -> None:
    print(MARK + json.dumps(obj), flush=True)


def read_mark(stream) -> dict:
    for line in stream:
        if line.startswith(MARK):
            return json.loads(line[len(MARK):])
    raise RuntimeError("probe child exited without a result")


# ---------------------------------------------------------------- solo / plan


def solo(probe: Probe, names: list[str], reps: int) -> dict[str, dict]:
    runs = {n: [(s.id, s.ms / 1e3) for s in (probe.run(n) for _ in range(reps))]
            for n in names}
    layers = probe.layers()
    return {n: summary(r, layers) for n, r in runs.items()}


def plan(probe: Probe, names: list[str], out: str) -> dict[str, dict]:
    os.makedirs(out, exist_ok=True)
    runs = {}
    for name in names:
        with probe.tracer.span(name) as s:
            df = frame(probe.spark, probe.sf_dir, name)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("formatted")
        with open(os.path.join(out, f"{name}.txt"), "w") as f:
            f.write(buf.getvalue())
        runs[name] = [(s.id, s.ms / 1e3)]
    layers = probe.layers()
    return {n: summary(r, layers) for n, r in runs.items()}


def serve(probe: Probe) -> None:
    """Child side of a checkout arm: run each entry named on stdin once,
    then report the Spark work of every run when stdin closes."""
    for line in sys.stdin:
        s = probe.run(line.strip())
        emit([s.id, s.ms / 1e3])
    emit(probe.layers())


# ------------------------------------------------------------------------ ab


class ConfArm:
    def __init__(self, name: str, probe: Probe, confs: dict[str, str]):
        self.name, self.probe, self.confs = name, probe, confs
        self.source = probe  # conf arms share one process's spans

    def run(self, entry: str) -> tuple[int, float]:
        for k, v in self.confs.items():
            self.probe.spark.conf.set(k, v)
        s = self.probe.run(entry, label=f"{self.name}:")
        return s.id, s.ms / 1e3

    def finish(self) -> dict[int, dict]:
        return self.probe.layers()


class CheckoutArm:
    def __init__(self, name: str, checkout: str):
        self.name, self.source = name, self
        self.proc = subprocess.Popen(
            [sys.executable, TOOL, "serve", "--code", os.path.abspath(checkout)],
            cwd=checkout, stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)

    def run(self, entry: str) -> tuple[int, float]:
        self.proc.stdin.write(entry + "\n")
        self.proc.stdin.flush()
        sid, wall = read_mark(self.proc.stdout)
        return sid, wall

    def finish(self) -> dict[int, dict]:
        self.proc.stdin.close()
        layers = read_mark(self.proc.stdout)
        self.proc.wait()
        return {int(k): v for k, v in layers.items()}


def parse_arm(spec: str, probe: Probe) -> ConfArm | CheckoutArm:
    """``NAME:CONF=V,CONF=V`` (runtime session confs) or ``NAME:DIR``
    (a checkout)."""
    name, _, body = spec.partition(":")
    if "=" in body:
        return ConfArm(name, probe, dict(kv.split("=", 1) for kv in body.split(",")))
    return CheckoutArm(name, body)


def ab(arms: list, names: list[str], rounds: int) -> dict[str, dict[str, dict]]:
    runs: dict[tuple[str, str], list] = {}
    for r in range(rounds):
        # a fixed order lets the second arm ride the first arm's warm-up
        for arm in arms if r % 2 == 0 else arms[::-1]:
            for name in names:
                runs.setdefault((arm.name, name), []).append(arm.run(name))
    layers: dict = {}  # span ids are per process: fold each process once
    for arm in arms:
        if arm.source not in layers:
            layers[arm.source] = arm.finish()
    return {name: {arm.name: summary(runs[(arm.name, name)], layers[arm.source])
                   for arm in arms} for name in names}


# ---------------------------------------------------------------------- rung

# table -> columns that must stay DISJOINT across copies (entity keys);
# every other column replicates verbatim.
OFFSETS = {
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
    "region": [],
    "nation": [],
    "customer": ["c_custkey"],
}
STRIDE = 1_000_000_000
# table -> text columns salted per copy (see tenfold)
SALTED = {"documents": ["text"]}


def salted(text, rep):
    """``text`` with its space-separated tokens reordered by
    xxhash64(token, position, rep); copy 0 verbatim."""
    keyed = F.transform(
        F.split(text, " "),
        lambda t, i: F.struct(F.xxhash64(t, i, rep).alias("k"), t.alias("t")),
    )
    shuffled = F.array_join(F.transform(F.array_sort(keyed), lambda s: s["t"]), " ")
    return F.when(rep == 0, text).otherwise(shuffled)


def tenfold(df, name: str):
    """Table ``name`` replicated 10x with disjoint key offsets (join
    multiplicities, per-user group sizes and per-doc shapes are kept,
    not multiplied) into 32 partitions; tiny dimension tables are
    copied once. Document text is salted per copy: a verbatim copy
    would give every document 9 exact clones, and the curate lanes'
    dedup would drop ~90% of the rung. Reordering keeps each
    document's tokens, length and stopword ratio (quality filters pass
    the same documents) and keeps duplicates inside a copy, while
    copies share almost no shingles."""
    keys = OFFSETS[name]
    if not keys:
        return df.coalesce(1)
    reps = df.crossJoin(df.sparkSession.range(10).select(F.col("id").alias("rep")))
    rep = F.col("rep")

    def copy(c: str):
        if c in keys:
            return (F.col(c) + rep * STRIDE).alias(c)
        if c in SALTED.get(name, ()):
            return salted(F.col(c), rep).alias(c)
        return F.col(c)

    return reps.select(*[copy(c) for c in df.columns]).repartition(32)


def replicate(sf_dir: str, out: str) -> None:
    from spark_glove_spark.sources import table

    todo = [n for n in OFFSETS if not os.path.exists(os.path.join(out, f"{n}.parquet"))]
    if not todo:
        return
    with session("probe_replicate") as spark:
        for name in todo:
            dst = os.path.join(out, f"{name}.parquet")
            tenfold(table(spark, sf_dir, name), name).write.parquet(dst)


def child_solo(names: list[str], reps: int, sf_dir: str, cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir, SPARK_GRAFT_CPUS=str(cpus))
    proc = subprocess.run([sys.executable, TOOL, "solo", "--reps", str(reps), *names],
                          env=env, stdout=subprocess.PIPE, text=True, check=True)
    return read_mark(io.StringIO(proc.stdout))


def rung(names: list[str], sf_dir: str, cpus: list[int], reps: int) -> None:
    replica = os.path.join(tempfile.gettempdir(),
                           "probe_10x_" + os.path.basename(sf_dir.rstrip("/")))
    replicate(sf_dir, replica)
    print(f"10x replica: {replica}")
    scales = {"1x": sf_dir, "10x": replica}
    res = {(c, s): child_solo(names, reps, d, c) for c in cpus for s, d in scales.items()}
    for (c, s), recs in res.items():
        for name, rec in recs.items():
            print(row(f"{name} cpus={c} {s}", rec))
    lo, hi = min(cpus), max(cpus)
    for name in names:
        best = {k: min(v[name]["walls"]) for k, v in res.items()}
        scale = "  ".join(f"10x/1x@{c}={best[(c, '10x')] / best[(c, '1x')]:.2f}" for c in cpus)
        cores = "  ".join(f"{lo}/{hi}cpus@{s}={best[(lo, s)] / best[(hi, s)]:.2f}" for s in scales)
        print(f"{name:34s} {scale}  {cores}")


# ---------------------------------------------------------------------- main


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("solo", help="min-of-N timing per entry")
    p.add_argument("--reps", type=int, default=3)
    p = sub.add_parser("ab", help="interleaved A/B of conf sets or checkouts")
    p.add_argument("--arm", action="append", required=True)
    p.add_argument("--rounds", type=int, default=6)
    p = sub.add_parser("rung", help="cores x scale ratios on a 10x replica")
    n = len(os.sched_getaffinity(0))
    p.add_argument("--cpus", default=f"{max(1, n // 2)},{n}")
    p.add_argument("--reps", type=int, default=2)
    p = sub.add_parser("plan", help="dump each entry's formatted physical plan")
    p.add_argument("out")
    p = sub.add_parser("serve", help="child process of a checkout arm")
    p.add_argument("--code", required=True)
    for p in sub.choices.values():
        p.add_argument("entries", nargs="*")
    args = ap.parse_args()
    code = args.code if args.cmd == "serve" else REPO
    # the package is imported here and by Spark's Python workers
    sys.path.insert(0, code)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [code, os.environ.get("PYTHONPATH")]))
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to a generated sf directory")
    names = args.entries or default_entries()

    if args.cmd == "rung":
        rung(names, sf_dir, [int(c) for c in args.cpus.split(",")], args.reps)
        return
    with session(f"probe_{args.cmd}") as spark:
        probe = Probe(spark, sf_dir)
        if args.cmd == "serve":
            serve(probe)
            return
        if args.cmd == "ab":
            arms = [parse_arm(a, probe) for a in args.arm]
            for name, by_arm in ab(arms, names, args.rounds).items():
                for arm, rec in by_arm.items():
                    print(row(f"{name} [{arm}]", rec))
            return
        recs = (solo(probe, names, args.reps) if args.cmd == "solo"
                else plan(probe, names, args.out))
    for name, rec in recs.items():
        print(row(name, rec))
    emit(recs)


if __name__ == "__main__":
    main()
