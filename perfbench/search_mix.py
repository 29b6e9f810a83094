"""search_mix: a closed loop of stratified search requests, one client.

Set-up builds the index into a fresh per-run directory with
`save_index(..., with_positional=True, with_chunks=True)`, loads it and
attaches it to an `Engine`, then sends the first round of the request
stream (one request of every class) untimed: each plan shape's first
request costs more, and the JVM is still warming up. The timed loop then
sends the rest of the stream one request at a time, in whole rounds;
each request is `Engine.search(...)` followed by `.collect()`. Every
response, warm-up included, is checked.
"""

from __future__ import annotations

import os
import time

import checks
import gen
from config import SIZES
from spans import spark_means
from stats import dir_bytes, median, percentile


def setup(ctx) -> dict:
    from neural_search_spark import catalog
    from neural_search_spark.operators import pq as PQ
    from neural_search_spark.plans.compiler import Engine
    from neural_search_spark.sources import index_store as IS

    spark, tr = ctx.spark, ctx.tracer
    corpus_dir = os.path.join(ctx.run_dir, "corpus")
    docs = catalog.table(spark, corpus_dir, "documents")
    embs = catalog.table(spark, corpus_dir, "embeddings")
    # index-time models: the first IVF_CELLS stored vectors as the coarse
    # quantizer, the first PQ_CODEBOOK_K as PQ codebooks (no training)
    first = embs.orderBy("vec_id").limit(gen.IVF_CELLS).collect()
    centroids = [(i, [float(x) for x in r["embedding"]]) for i, r in enumerate(first)]
    books = PQ.sample_codebooks(embs, k=gen.PQ_CODEBOOK_K)
    index_dir = os.path.join(ctx.run_dir, "index")
    with tr.span("sources.index_store.save_index"):
        IS.save_index(
            spark, docs, embs, index_dir,
            ivf_centroids=centroids, pq_codebooks=books,
            with_positional=True, with_chunks=True,
        )
    with tr.span("sources.index_store.load_index"):
        bundle = IS.load_index(spark, index_dir)
    engine = Engine(spark, corpus_dir)
    with tr.span("plans.compiler.attach_index"):
        engine.attach_index(bundle)
    warm = []
    for req in ctx.inputs["requests"][: len(gen.REQUEST_CLASSES)]:
        try:
            rows = engine.search(req["query"], req["pipeline"]).collect()
        except Exception as e:  # a raising request is a failed operation
            ctx.log(f"warm-up request {req['rid']} ({req['cls']}) raised: {e!r}")
            rows = None
        warm.append((req, rows, {}))
    return {"engine": engine, "index_dir": index_dir, "corpus_dir": corpus_dir, "warm": warm}


def make_inputs(ctx) -> dict:
    corpus_dir = os.path.join(ctx.run_dir, "corpus")
    return {"requests": gen.write_search(ctx.seed, corpus_dir, SIZES)}


def _one(ctx, engine, req) -> tuple[list, dict]:
    """Send one request; returns (rows, timings in seconds)."""
    tr, t = ctx.tracer, {}
    t0 = time.perf_counter()
    if not tr.enabled:
        rows = engine.search(req["query"], req["pipeline"]).collect()
        t["total"] = time.perf_counter() - t0
        return rows, t
    with tr.span("request", cls=req["cls"], rid=req["rid"]) as sp:
        with tr.span("plans.compiler.search"):
            df = engine.search(req["query"], req["pipeline"])
        t1 = time.perf_counter()
        sp["construct_jobs"] = len(ctx.spark.sparkContext.statusTracker().getJobIdsForGroup(tr.op_id))
        with tr.span("spark.plan"):
            df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        with tr.span("spark.exec"):
            rows = df.collect()
        t3 = time.perf_counter()
    t.update(total=t3 - t0, construct=t1 - t0, plan=t2 - t1, exec=t3 - t2, construct_jobs=sp["construct_jobs"])
    return rows, t


def run(ctx, state) -> dict:
    engine, warm = state["engine"], state["warm"]
    n_cls = len(gen.REQUEST_CLASSES)
    stream = ctx.inputs["requests"]
    reqs = stream[len(warm) : n_cls * SIZES["search_rounds"]]
    done: list[tuple[dict, list | None, dict]] = []
    ctx.models_probe.active = True
    t_start = time.perf_counter()
    deadline = t_start + ctx.seconds
    # whole rounds only, so every class has the same count: start
    # another round while at least half a round of the window is left
    for i, req in enumerate(reqs):
        if i and i % n_cls == 0:
            now = time.perf_counter()
            mean_round = (now - t_start) / (i // n_cls)
            if deadline - now < 0.5 * mean_round:
                break
        with ctx.ops.op("request") as spark_totals:
            try:
                rows, t = _one(ctx, engine, req)
            except Exception as e:  # a raising request is a failed operation
                ctx.log(f"request {req['rid']} ({req['cls']}) raised: {e!r}")
                rows, t = None, {}
        t["spark"] = spark_totals
        done.append((req, rows, t))
        ctx.log(f"request {req['rid']} {req['cls']}: {t.get('total', float('nan')):.3f} s")
    elapsed = time.perf_counter() - t_start
    ctx.models_probe.active = False
    if len(done) == len(reqs):
        ctx.log("request stream exhausted before the deadline; raise search_rounds")

    verdict = checks.search(ctx, engine, state["corpus_dir"], warm + done)
    lat = [t["total"] for (_req, _rows, t), ok in zip(done, verdict["ok"][len(warm) :]) if ok]
    ctx.log(f"search_mix: {len(done)} requests in {elapsed:.2f} s, {len(lat)} correct")
    e2e = {
        "latency_p50_ms": 1000 * percentile(lat, 50),
        "latency_p75_ms": 1000 * percentile(lat, 75),
        # closed loop, one client: completed requests / timed wall time
        "throughput_per_s": len(lat) / elapsed,
        "recall": verdict["recall"],
        "bytes_per_doc": dir_bytes(state["index_dir"]) / SIZES["search_docs"],
    }
    return {
        "attempted": len(warm) + len(done),
        "failed": verdict["failed"],
        "correct": verdict["failed"] == 0 and verdict["global_ok"],
        "e2e": e2e,
        "done": done,
    }


def layers(ctx, state, res) -> dict:
    """Per-layer metrics from the traced run's spans and Spark totals."""
    tr = ctx.tracer
    done = [d for d in res["done"] if d[1] is not None]
    out = {
        "sources.index_store.save_index_s": sum(tr.durations("sources.index_store.save_index")),
        "sources.index_store.load_index_s": sum(tr.durations("sources.index_store.load_index")),
        "sources.index_store.bytes_written": float(dir_bytes(state["index_dir"])),
        "plans.compiler.attach_index_s": sum(tr.durations("plans.compiler.attach_index")),
        "plans.compiler.search_ms": 1000 * median([t["construct"] for _r, _x, t in done]),
        "plans.compiler.search_jobs": sum(t["construct_jobs"] for _r, _x, t in done) / len(done),
        "models.encode_query_ms": 1000 * median(tr.durations("models.encode_query")),
        "models.encode_query_calls": tr.counts["models.encode_query_calls"] / len(done),
        "spark.plan_ms": 1000 * median([t["plan"] for _r, _x, t in done]),
        "spark.exec_ms": 1000 * median([t["exec"] for _r, _x, t in done]),
    }
    hits = sum(len(rows) for _r, rows, _t in done)
    out.update(spark_means([t["spark"] for _r, _x, t in done], hits))
    for cls in gen.REQUEST_CLASSES:
        ts = [t for r, _x, t in done if r["cls"] == cls]
        out[f"search.{cls}.construct_ms"] = 1000 * median([t["construct"] for t in ts]) if ts else 0.0
        out[f"search.{cls}.exec_ms"] = 1000 * median([t["plan"] + t["exec"] for t in ts]) if ts else 0.0
    return out
