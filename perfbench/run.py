"""Product-level benchmark for the spark-kg engine.

    python3 perfbench/run.py --workload kg_materialize --seed 1 --seconds 2 --trace 0

Run from the root of a checkout.  One closed-loop client: each run starts
when the previous one has committed its output.  The invocation

1. writes the workload's inputs from ``--seed`` (before Spark starts);
2. builds the session with ``session.get_spark`` on ``local[<cores>]`` and
   makes the first, cold run — together ``setup_s``;
3. checks that run against the DuckDB oracles of ``__spark_entry__``;
4. repeats warm runs for ``--seconds``, and at least the workload's
   ``min_runs``, each into a fresh output directory, each checked against
   the cold run's order-free digest;
5. with ``--trace 1``, after a single untraced warm run (the reference
   for the tracing overhead), restarts the session with the event log on,
   makes one traced run and then calls each layer through its public
   function under ``setJobDescription("<call>")``, and rolls the log up
   per call (``ledger.py``).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.  Host-window
probes from the start and the end of the invocation are printed on the
line before it and stored with the spans in ``.perfbench/<run>/report.json``.
See perfbench/README.md for the metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import host  # noqa: E402  (benchmark-local modules, standard library + NumPy)
import ledger  # noqa: E402

WORKLOADS = ("kg_materialize", "curation")
# per-call ledger statistics reported as per-layer metrics, with units
CALL_STATS = (("s", "s"), ("jobs", "count"), ("tasks", "count"), ("task_run_s", "s"),
              ("task_cpu_s", "s"), ("shuffle_write_mb", "MB"), ("core_util", "ratio"))
COUNTS = (("sources.input_partitions", "count"), ("tokenize.rows", "count"),
          ("linking.dict_rows", "count"), ("linking.mentions", "count"), ("linking.edges", "count"),
          ("linking.dangling", "count"), ("linking.resolved_ratio", "ratio"), ("linking.broadcast", "count"),
          ("materialize.files", "count"), ("materialize.output_mb", "MB"), ("dedup.lsh_candidates", "count"),
          ("dedup.lsh_verified", "count"), ("dedup.verify_ratio", "ratio"), ("export.shards", "count"))


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory; written
    out with the report when the invocation ends."""

    def __init__(self, sc=None):
        self.sc = sc  # set: every span also labels the Spark jobs it starts
        self.t0 = time.perf_counter()
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id = 0

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        rec = {"name": name, "run": self.run_id, "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self.t0, "end": None}
        self.spans.append(rec)
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobDescription(name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self.t0
            self._stack.pop()
            if self.sc is not None:
                self.sc.setJobDescription(self.spans[self._stack[-1]]["name"] if self._stack else None)

    def self_times(self) -> list[dict]:
        """Each span's duration minus the part its children cover."""
        out = []
        for i, s in enumerate(self.spans):
            kids = sorted((c["start"], c["end"]) for c in self.spans if c["parent"] == i)
            covered, edge = 0.0, s["start"]
            for a, b in kids:
                a = max(a, edge)
                if b > a:
                    covered += b - a
                    edge = b
            out.append({**s, "s": s["end"] - s["start"], "self_s": s["end"] - s["start"] - covered})
        return out


def configure_env(work: str, cores: int, driver_mem: str) -> None:
    """Environment for the session and its Python workers; set before
    pyspark is imported."""
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # workers are started by the JVM outside this interpreter: without the
    # checkout on PYTHONPATH they fail with ModuleNotFoundError
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = driver_mem
    os.environ["SPARK_GRAFT_MASTER"] = f"local[{cores}]"
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)


def start_spark(work: str, eventlog: str | None):
    from obsidian_parser_spark.session import get_spark

    # a fixed heap (-Xms = -Xmx): adaptive heap sizing otherwise moves GC
    # work between runs and between invocations
    java_opts = f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} -Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    conf = {"spark.driver.extraJavaOptions": java_opts,
            "spark.ui.showConsoleProgress": "false"}
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        # zstd is the default codec and no zstandard module is installed
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": "file://" + eventlog,
                     "spark.eventLog.compress": "false"})
    spark = get_spark(extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm() -> None:
    """Stop the session and the JVM behind it, and wait for the JVM to
    exit (its Python workers exit with it)."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        gw.proc.stdin.close()
        gw.proc.wait(timeout=120)
        SparkContext._gateway = SparkContext._jvm = None


def release_storage(spark) -> None:
    """Drop what earlier runs left cached or checkpointed, as a fresh job
    would start with; not timed."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
    spark.sparkContext._jvm.System.gc()


class Session:
    """One workload's runs on one Spark session: timing, metering, checks."""

    def __init__(self, wl, work: str, tracer: Tracer):
        self.wl, self.work, self.tracer = wl, work, tracer
        self.attempted = 0
        self.failed: set[str] = set()  # runs that raised or produced wrong output
        self.problems: list[str] = []
        self.first = None
        self.runs: list[dict] = []  # per-run timings, for the report

    def run(self, spark, tag: str, name: str = "run"):
        """One timed run into a fresh directory; returns (seconds, meter,
        outcome) or None when it raised."""
        out = os.path.join(self.work, "out", tag)
        shutil.rmtree(out, ignore_errors=True)
        release_storage(spark)
        self.attempted += 1
        self.tracer.run_id += 1
        try:
            with host.TreeMeter() as meter, self.tracer.span(name):
                t = time.perf_counter()
                outcome = self.wl.run(spark, out)
                dt = time.perf_counter() - t
        except Exception:
            traceback.print_exc()
            self.failed.add(tag)
            self.problems.append(f"{tag}: raised")
            return None
        self.runs.append({"tag": tag, "s": dt, "cpu_s": meter.cpu_s, "peak_rss_mb": meter.peak_rss_mb})
        if self.first is None:
            self.first = outcome
        elif outcome.digest != self.first.digest:
            self.failed.add(tag)
            self.problems.append(f"{tag}: digest {outcome.digest!r} != first run {self.first.digest!r}")
        return dt, meter, outcome

    def checked(self, tag: str, check) -> None:
        """Record the problems ``check`` found in the output of run ``tag``."""
        if check.problems:
            self.failed.add(tag)
            self.problems += [f"{tag}: {p}" for p in check.problems]


def measure(wl, work: str, seconds: float, min_runs: int) -> tuple[Session, dict, object]:
    """Untraced runs: setup (session + cold run), oracle check, warm loop."""
    tracer = Tracer()
    s = Session(wl, work, tracer)
    t = time.perf_counter()
    with tracer.span("setup"):
        with tracer.span("get_spark"):
            spark = start_spark(work, None)
        cold = s.run(spark, "cold")
    setup_s = time.perf_counter() - t
    if cold is None:
        raise RuntimeError("the cold run failed: " + "; ".join(s.problems))
    s.checked("cold", wl.check_oracle(os.path.join(work, "out", "cold"), cold[2]))
    # a fixed least number of warm runs per workload (about 10 s of work),
    # so that invocations on a fast and a slow host do not measure
    # different points of the JIT warm-up curve
    warm = []
    t = time.perf_counter()
    while len(warm) < min_runs or time.perf_counter() - t < seconds:
        r = s.run(spark, f"warm{len(warm)}")
        if r is None:
            break
        warm.append(r)
    if not warm:
        raise RuntimeError("no warm run completed: " + "; ".join(s.problems))
    run_s = statistics.median(r[0] for r in warm)
    o = warm[0][2]
    metrics = {
        "setup_s": (setup_s, "s"),
        "run_s": (run_s, "s"),
        "docs_per_s": (o.docs / run_s, "1/s"),
        "triples_per_s": (o.triples / run_s, "1/s"),
        "cpu_s": (statistics.median(r[1].cpu_s for r in warm), "s"),
        "peak_rss_mb": (statistics.median(r[1].peak_rss_mb for r in warm), "MB"),
        "output_mb": (statistics.median(r[2].output_bytes for r in warm) / 1e6, "MB"),
    }
    return s, metrics, spark


def traced(wl, spark, work: str, s: Session, cores: int, run_s: float) -> tuple[dict, list]:
    """Per-layer metrics: one traced whole run, then each layer call, on a
    session with the event log on; rolled up per job description."""
    from workloads import WORKLOADS as ALL

    spark.stop()  # the JVM stays up: the traced run is a warm run too
    eventlog = os.path.join(work, "eventlog")
    spark = start_spark(work, eventlog)
    s.tracer.sc = spark.sparkContext
    r = s.run(spark, "traced", name=wl.whole)
    if r is None:
        raise RuntimeError("the traced run failed: " + "; ".join(s.problems))
    s.tracer.run_id += 1
    release_storage(spark)
    counts, check = wl.layers(spark, s.tracer.span, os.path.join(work, "out", "traced"))
    s.checked("traced", check)
    spark.sparkContext.setJobDescription(None)
    stop_jvm()
    rows = ledger.ledger(eventlog)
    spans = {sp["name"]: sp for sp in s.tracer.self_times() if sp["run"] >= s.tracer.run_id - 1}
    metrics = {}
    for call in sorted({c for w in ALL.values() for c in w.calls}):
        w = rows.get(call)
        sec = spans[call]["s"] if call in spans else 0.0
        vals = {"s": sec, "jobs": w.jobs if w else 0, "tasks": w.tasks if w else 0,
                "task_run_s": w.task_run_s if w else 0.0, "task_cpu_s": w.task_cpu_s if w else 0.0,
                "shuffle_write_mb": w.shuffle_write_mb if w else 0.0,
                "core_util": (w.task_run_s / (sec * cores)) if w and sec else 0.0}
        for stat, unit in CALL_STATS:
            metrics[f"{call}.{stat}"] = (vals[stat], unit)
    for name, unit in COUNTS:
        metrics[name] = (counts.get(name, 0), unit)
    metrics["trace.overhead_s"] = (r[0] - run_s, "s")
    metrics["trace.stages"] = (sum(w.stages for w in rows.values()), "count")
    table = [{"description": d, **w.as_dict()} for d, w in sorted(rows.items())]
    return metrics, table


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "obsidian_parser_spark", "session.py")):
        print(f"perfbench: no engine sources under {ROOT}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, cores, host.driver_mem())
    probes = {"start": host.probe(cores)}

    import workloads

    t = time.perf_counter()
    wl = workloads.WORKLOADS[args.workload](work, args.seed)
    prepare_s = time.perf_counter() - t
    try:
        # a traced invocation needs one untraced warm run, as the
        # reference for the tracing overhead
        s, metrics, spark = measure(wl, work, 0 if args.trace else args.seconds, 1 if args.trace else wl.min_runs)
        table = []
        if args.trace:
            metrics, table = traced(wl, spark, work, s, cores, metrics["run_s"][0])
    finally:
        stop_jvm()
    probes["end"] = host.probe(cores)

    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "cores": cores,
              "prepare_s": prepare_s, "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
              "problems": s.problems, "runs": s.runs, "host_window": probes, "ledger": table,
              "spans": s.tracer.self_times()}
    with open(os.path.join(work, "report.json"), "w") as f:
        json.dump(report, f, indent=1, default=str)
    shutil.rmtree(os.path.join(work, "out"), ignore_errors=True)
    for name, (value, unit) in metrics.items():
        print(f"{args.workload}\t{name}\t{value:.6g}\t{unit}")
    for prob in s.problems:
        print(f"CHECK FAILED: {prob}")
    print(json.dumps({"host_window": probes}))
    print(json.dumps({
        "correct": not s.problems,
        "attempted": s.attempted,
        "failed": len(s.failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    # every process started under this one, the JVM's Python workers too,
    # is stopped and waited for before the benchmark exits, on every path
    host.become_subreaper()
    # a SIGTERM (a caller's timeout) unwinds through the cleanup below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        code = main(sys.argv[1:])
    finally:
        left = host.stop_children()
        if left:
            print(f"perfbench: stopped {len(left)} leftover process(es): {left}", file=sys.stderr)
    sys.exit(code)
