"""Decompose the 4 -> 16 scaling residual by PHASE (VERDICT r4 item 5).

The N -> 4N gate job (BENCH_SCALE_MODE) is one composite pipeline; this
script runs the SAME work split into its three phases, each timed
separately at local[N] and local[4N] (taskset-pinned subprocesses exactly
like bench_scaling.py), so the residual efficiency loss can be attributed
to a named stage instead of guessed:

  phase 1  tokenize+persist  - Arrow mapInPandas over every document
                               (Python workers; embarrassingly parallel)
  phase 2  alias dictionary  - candidate explode + first-wins dedup
                               (one shuffle over ~2 rows/doc)
  phase 3  edge resolution   - mention explode + dict join + count
                               (join strategy chosen by the planner)

Prints one JSON line per (cpus, phase) plus a summary with per-phase
efficiency and the same spin-loop hardware ceiling bench_scaling uses.

Usage: python scripts/scaling_stage_analysis.py [sf_dir] [N] [4N]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PHASE_SCRIPT = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
from obsidian_parser_spark.plans.pipeline import GraphBuildOptions, build_graph

cpus = int(sys.argv[1])
sf_dir = sys.argv[2]
spark = (
    SparkSession.builder.master(f"local[{{cpus}}]")
    .config("spark.sql.shuffle.partitions", str(max(cpus * 2, 8)))
    .config("spark.driver.memory", "16g")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.read.parquet(sf_dir)
docs.count()  # warm input listing/footers
# warm the python worker pool (bench.py does the same)
spark.range(1000).selectExpr("id").toPandas()

opts = GraphBuildOptions()
phases = {{}}
for rnd in range(2):  # run 1 pays JIT; keep best per phase
    spark.catalog.clearCache()
    g = build_graph(spark.read.parquet(sf_dir), opts)
    t0 = time.perf_counter()
    g.nodes.count()          # materializes the persisted tokenize stage
    t1 = time.perf_counter()
    g.alias_dict.count()     # dict shuffle on top of cached notes
    t2 = time.perf_counter()
    n = g.edges.count()      # resolution join + tag branch
    t3 = time.perf_counter()
    for k, v in (("tokenize", t1 - t0), ("dict", t2 - t1), ("edges", t3 - t2)):
        phases[k] = min(phases.get(k, 1e9), v)
print("PHASES " + json.dumps({{"cpus": cpus, "triples": n,
                               "phases": {{k: round(v, 2) for k, v in phases.items()}}}}))
spark.stop()
"""


def spin_ceiling(n_small: int, n_big: int) -> float:
    spin = "n=0\nfor i in range(30_000_000): n+=i*i\n"

    def tput(nproc: int) -> float:
        t0 = time.time()
        ps = [
            subprocess.Popen(
                ["taskset", "-c", f"0-{nproc - 1}", sys.executable, "-c", spin]
            )
            for _ in range(nproc)
        ]
        for p in ps:
            p.wait()
        return nproc / (time.time() - t0)

    return (tput(n_big) / tput(n_small)) / (n_big // n_small)


def run(cpus: int, sf_dir: str) -> dict:
    script = PHASE_SCRIPT.format(repo=REPO)
    out = subprocess.run(
        ["taskset", "-c", f"0-{cpus - 1}", sys.executable, "-c", script,
         str(cpus), sf_dir],
        capture_output=True, text=True, timeout=1800, cwd=REPO,
    )
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"phase run at {cpus} failed")
    line = [l for l in out.stdout.splitlines() if l.startswith("PHASES ")][-1]
    return json.loads(line[len("PHASES "):])


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, "data", "vault", "sf1"
    )
    n_small = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    n_big = int(sys.argv[3]) if len(sys.argv) > 3 else 16
    ratio = n_big // n_small
    small = run(n_small, sf_dir)
    big = run(n_big, sf_dir)
    ceiling = spin_ceiling(n_small, n_big)
    per_phase = {
        k: round((small["phases"][k] / big["phases"][k]) / ratio, 3)
        for k in small["phases"]
    }
    t_s = sum(small["phases"].values())
    t_b = sum(big["phases"].values())
    print(json.dumps({
        "metric": "scaling_phase_decomposition",
        "sf_dir": sf_dir,
        "n_small": n_small, "n_big": n_big,
        "phases_small_sec": small["phases"],
        "phases_big_sec": big["phases"],
        "efficiency_per_phase": per_phase,
        "efficiency_total": round((t_s / t_b) / ratio, 3),
        "hw_ceiling_efficiency": round(ceiling, 3),
        "triples": big["triples"],
    }))


if __name__ == "__main__":
    main()
