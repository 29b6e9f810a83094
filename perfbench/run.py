#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload search_mix --seed 1 --seconds 20 --trace 0

Builds the workload's inputs from `--seed`, sets up, measures for
`--seconds`, checks every output, and prints one JSON line as the last
line of stdout: `correct`, `attempted`, `failed` and `metrics` — the
end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. Diagnostics go to stderr. Run from the root of
a checkout; everything it writes stays under `.perfbench_runs/`.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import config  # noqa: E402

WORKLOADS = ("search_mix", "ingest_curate")
TIME_LIMIT_S = 170  # the run must end within 180 s


class Ctx:
    """What a workload module sees: session, tracer, seed, window, dirs."""

    def __init__(self, args, run_dir: str):
        from spans import Tracer

        self.workload = args.workload
        self.seed = args.seed
        self.seconds = args.seconds
        self.run_dir = run_dir
        self.tracer = Tracer(bool(args.trace))
        self.spark = None
        self.ops = None
        self.inputs: dict = {}
        self.models_probe = None

    def log(self, msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _process_age_s() -> float:
    """Seconds since this process started (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {TIME_LIMIT_S} s")


def _terminate(_sig, _frame):
    raise SystemExit(143)  # unwinds through main's finally: Spark stops


def _stop_spark(ctx: Ctx) -> None:
    """Stop the session, then the JVM, and wait for every child to end."""
    import box

    kids = [p for p in box.process_tree() if p != os.getpid()]
    t0 = time.perf_counter()
    try:
        from pyspark import SparkContext

        if ctx.spark is not None:
            ctx.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=30)
    finally:
        deadline = time.time() + 20
        while kids and time.time() < deadline:
            kids = [p for p in kids if os.path.exists(f"/proc/{p}") and not _zombie(p)]
            time.sleep(0.1)
        for p in kids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        ctx.log(f"stopped in {time.perf_counter() - t0:.1f} s ({len(kids)} processes killed)")


def _zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True


def _bench_spec() -> dict:
    with open(os.path.join(config.ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_process0 = time.perf_counter() - _process_age_s()
    signal.signal(signal.SIGALRM, _timeout)
    signal.signal(signal.SIGTERM, _terminate)
    signal.alarm(TIME_LIMIT_S)

    spec = _bench_spec()
    run_dir = os.path.join(config.run_root(), f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(run_dir)
    config.pin_env(run_dir)
    sys.path.insert(1, config.ROOT)
    ctx = Ctx(args, run_dir)
    try:
        return _run(ctx, spec, t_process0)
    finally:
        signal.alarm(0)
        _stop_spark(ctx)
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(ctx: Ctx, spec: dict, t_process0: float) -> int:
    import neural_search_spark  # noqa: F401  (fail fast outside a checkout)

    import box
    from spans import ModelsProbe, SparkOps

    mod = importlib.import_module(ctx.workload)
    t0 = time.perf_counter()
    ctx.inputs = mod.make_inputs(ctx)
    gen_s = time.perf_counter() - t0

    from neural_search_spark.session import get_spark

    with ctx.tracer.span("session.get_spark"):
        ctx.spark = get_spark(f"perfbench-{ctx.workload}")
    ctx.spark.sparkContext.setLogLevel("ERROR")
    ctx.ops = SparkOps(ctx.spark, ctx.tracer)
    ctx.models_probe = ModelsProbe(ctx.tracer)
    state = mod.setup(ctx)
    # set-up = process start → first timed operation, less the
    # benchmark's own input generation
    setup_s = time.perf_counter() - t_process0 - gen_s
    res = mod.run(ctx, state)
    e2e = dict(res["e2e"], setup_s=setup_s)
    layers = None
    if ctx.tracer.enabled:
        layers = mod.layers(ctx, state, res)
        layers["session.get_spark_s"] = sum(ctx.tracer.durations("session.get_spark"))
    rss = box.peak_rss_by_process()
    e2e["peak_rss_mb"] = sum(mb for _name, mb in rss)
    ctx.log("peak rss MB by process: " + ", ".join(f"{n} {mb:.0f}" for n, mb in rss))
    weather = box.weather(ctx.spark)
    ctx.log(f"weather {json.dumps(weather)}")

    names = [m["name"] for m in spec["end_to_end"]] if not ctx.tracer.enabled else [m["name"] for m in spec["per_layer"]]
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    values = e2e if not ctx.tracer.enabled else layers
    unknown = sorted(set(values) - set(names))
    if unknown:
        ctx.log(f"metrics missing from BENCHMARK.json: {unknown}")
    record = {
        "workload": ctx.workload,
        "seed": ctx.seed,
        "trace": int(ctx.tracer.enabled),
        "e2e": e2e,
        "layers": layers,
        "weather": weather,
        "attempted": res["attempted"],
        "failed": res["failed"],
    }
    _save_record(ctx, record)
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {n: {"value": float(values.get(n, 0.0)), "unit": units[n]} for n in names},
    }
    print(json.dumps(result), flush=True)
    return 0


def _save_record(ctx: Ctx, record: dict) -> None:
    """Keep the run's numbers; a traced run also writes its spans and the
    tracing overhead against the untraced run of the same seed."""
    out = os.path.join(config.run_root(), "results")
    os.makedirs(out, exist_ok=True)
    stem = f"{ctx.workload}-seed{ctx.seed}"
    if ctx.tracer.enabled:
        try:
            with open(os.path.join(out, f"{stem}-trace0.json")) as f:
                base = json.load(f)["e2e"]
            record["tracing_overhead"] = {k: record["e2e"][k] - base[k] for k in base}
            ctx.log(f"tracing overhead (traced - untraced): {json.dumps(record['tracing_overhead'])}")
        except FileNotFoundError:
            ctx.log("no untraced run of this workload and seed yet; tracing overhead not computed")
        ctx.tracer.write(os.path.join(out, f"{stem}-spans.json"), {"record": record})
    with open(os.path.join(out, f"{stem}-trace{record['trace']}.json"), "w") as f:
        json.dump(record, f)


if __name__ == "__main__":
    sys.exit(main())
