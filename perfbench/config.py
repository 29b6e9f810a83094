"""Benchmark sizes and the environment every run pins.

Sizes are fixed here, not by the command line, so every run of a
workload does the same work per operation; `--seconds` only sets how
many operations fit in the measured window.
"""

from __future__ import annotations

import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SIZES = {
    "search_docs": 5000,  # sf0.1's documents row count
    "search_vecs": 2000,  # sf0.1's embeddings row count
    "search_rounds": 6,  # warm-up + timed rounds generated (more than a run sends)
    "curate_docs": 2400,  # raw docs per ingest_curate pass
    "curate_warmup_docs": 200,  # the untimed warm-up pass
}


def run_root() -> str:
    """Scratch area for one checkout (inputs, index dirs, Spark local
    dirs, trace files). Listed in the repo's .gitignore."""
    return os.path.join(ROOT, ".perfbench_runs")


def pin_env(run_dir: str) -> None:
    """Environment that must be set before the JVM and its Python
    workers start:
    - PYTHONPATH: workers import `neural_search_spark` by module path
      (ingest's Arrow UDFs fail with ModuleNotFoundError otherwise when
      the benchmark is started from outside the checkout root);
    - SPARK_GRAFT_CPUS = nproc (the engine's default of 32 threads
      oversubscribes a small box);
    - SPARK_LOCAL_DIRS inside the checkout;
    - a 1g driver heap instead of the engine's 8g default: with 8g the
      JVM grows its heap at GC-dependent moments and peak RSS varies by
      ~30% between runs of the same work (README.md, "Environment");
    - temp dirs inside the run dir."""
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["OMP_NUM_THREADS"] = "1"
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # temp files of the launcher, the JVM and the workers stay in the run dir
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
