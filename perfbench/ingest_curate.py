"""ingest_curate: the write path, raw documents to a searchable index.

One pass over a batch of raw documents runs, in order:
1. curation: `pii_redact`, then
   `CurationPipeline().quality().lang().length().repetition().dedup("exact")`,
   written as parquet;
2. near-dup: `near_dup_survivors` over the curated docs, survivors written;
3. ingest: `ingest_pipeline` with a dense `fixed_token` field on `text`
   and a sparse `max_ratio` field on `title`, written as parquet;
4. index: `save_index(..., with_positional=True, with_chunks=True)`.

Set-up runs one untimed pass over a small batch, so the timed passes do
not pay the session's one-off costs (JIT, Python worker start).
"""

from __future__ import annotations

import os
import shutil
import time

import checks
import gen
from config import SIZES
from spans import spark_means
from stats import dir_bytes, median, percentile

PHASES = [
    ("pipeline.curation", "curated"),
    ("operators.dedup.near_dup_survivors", "survivors"),
    ("sources.ingest.ingest_pipeline", "ingested"),
    ("sources.index_store.save_index", "index"),
]


def make_inputs(ctx) -> dict:
    path, truth = gen.write_curate(ctx.seed, ctx.run_dir, SIZES["curate_docs"])
    wpath, wtruth = gen.write_curate(ctx.seed, ctx.run_dir, SIZES["curate_warmup_docs"], "curate_warmup")
    return {"path": path, "truth": truth, "warmup": (wpath, wtruth)}


def redacted(spark, src: str):
    from pyspark.sql import functions as F

    from neural_search_spark.functions import text as T

    return spark.read.parquet(src).withColumn("text", T.pii_redact(F.col("text")))


def curation_pipeline():
    from neural_search_spark.pipeline import CurationPipeline

    return CurationPipeline().quality(0.6).lang(["en"]).length(min_tokens=10).repetition(0.2).dedup("exact")


class LshProbe:
    """Traced run only: wraps `lsh_candidate_pairs` and the signature
    pipeline that calls it, so the candidate pairs of a pass can be
    counted afterwards and verified with `jaccard_verify`."""

    def __init__(self):
        from neural_search_spark.operators import dedup as D

        self.D, self.reps, self.cands = D, None, None
        sig, cands = D.minhash_lsh_dedup_sig, D.lsh_candidate_pairs

        def sig_probe(docs, *a, **kw):
            self.reps = docs
            return sig(docs, *a, **kw)

        def cands_probe(*a, **kw):
            self.cands = cands(*a, **kw)
            return self.cands

        D.minhash_lsh_dedup_sig, D.lsh_candidate_pairs = sig_probe, cands_probe

    def counts(self) -> dict:
        verified = self.D.jaccard_verify(self.cands, self.D.shingle_sets(self.reps))
        return {"lsh_candidates": self.cands.count(), "lsh_verified": verified.count()}


def _pass(ctx, src: str, out: str) -> dict:
    """One pass; returns seconds per phase."""
    from neural_search_spark.operators.dedup import near_dup_survivors
    from neural_search_spark.sources import index_store as IS
    from neural_search_spark.sources.ingest import SemanticFieldConfig, ingest_pipeline

    spark, tr = ctx.spark, ctx.tracer
    path = {d: os.path.join(out, d) for _n, d in PHASES}
    times = {}

    def phase(name, fn):
        t0 = time.perf_counter()
        with tr.span(name):
            fn()
        times[name] = time.perf_counter() - t0

    def curate():
        curation_pipeline().apply(redacted(spark, src)).write.parquet(path["curated"])

    def near_dup():
        cur = spark.read.parquet(path["curated"])
        keep = near_dup_survivors(cur).where("doc_id = survivor_id").select("doc_id")
        cur.join(keep, "doc_id", "left_semi").write.parquet(path["survivors"])

    def ingest():
        fields = [
            SemanticFieldConfig("text", mode="dense", chunking="fixed_token", chunk_param=64),
            SemanticFieldConfig("title", mode="sparse", prune="max_ratio", prune_param=0.1),
        ]
        ingest_pipeline(spark.read.parquet(path["survivors"]), fields).write.parquet(path["ingested"])

    def index():
        docs = spark.read.parquet(path["ingested"])
        IS.save_index(spark, docs, None, path["index"], with_positional=True, with_chunks=True)

    for (name, _d), fn in zip(PHASES, (curate, near_dup, ingest, index)):
        phase(name, fn)
    return times


def setup(ctx) -> dict:
    wpath, wtruth = ctx.inputs["warmup"]
    out = os.path.join(ctx.run_dir, "warmup-pass")
    _pass(ctx, wpath, out)
    problems, _recall = checks.batch_pass(out, wtruth, SIZES["curate_warmup_docs"])
    shutil.rmtree(out, ignore_errors=True)
    return {"warmup_problems": problems, "lsh": LshProbe() if ctx.tracer.enabled else None}


def run(ctx, state) -> dict:
    n = SIZES["curate_docs"]
    passes = []
    failed = 0
    deadline = time.perf_counter() + ctx.seconds
    # whole passes only: start another only while a whole pass (the
    # median so far) still fits in the window, so the pass count does
    # not flip between one and two as box load moves the pass time
    while not passes or deadline - time.perf_counter() >= median([p["secs"] for p in passes]):
        out = os.path.join(ctx.run_dir, f"pass-{len(passes)}")
        with ctx.ops.op("pass") as spark_totals:
            t0 = time.perf_counter()
            try:
                phases = _pass(ctx, ctx.inputs["path"], out)
            except Exception as e:  # a raising pass is a failed operation
                ctx.log(f"pass {len(passes)} raised: {e!r}")
                phases = None
            secs = time.perf_counter() - t0
        # checks and clean-up stay outside the deadline
        deadline_shift = time.perf_counter()
        problems, recall = checks.batch_pass(out, ctx.inputs["truth"], n) if phases else (["raised"], 0.0)
        if problems:
            failed += 1
            ctx.log(f"pass {len(passes)} failed its checks: {problems}")
        p = {"secs": secs, "phases": phases, "recall": recall, "spark": spark_totals}
        p["bytes"] = {d: dir_bytes(os.path.join(out, d)) for _n, d in PHASES}
        p["survivors"] = _rows(os.path.join(out, "survivors"))
        if state["lsh"] and phases and not passes:
            p.update(state["lsh"].counts())  # untimed, first pass only
        passes.append(p)
        shutil.rmtree(out, ignore_errors=True)
        deadline += time.perf_counter() - deadline_shift
    lat = [p["secs"] for p in passes]
    last = passes[-1]
    ctx.log(f"ingest_curate: {len(passes)} passes of {n} docs, {lat}")
    e2e = {
        "latency_p50_ms": 1000 * median(lat),
        "latency_p75_ms": 1000 * percentile(lat, 75),
        "throughput_per_s": n * len(passes) / sum(lat),
        "recall": median([p["recall"] for p in passes]),
        # ingest + index bytes per document the ingest took in
        "bytes_per_doc": (last["bytes"]["ingested"] + last["bytes"]["index"]) / max(1, last["survivors"]),
    }
    return {
        "attempted": len(passes),
        "failed": failed,
        "correct": failed == 0 and not state["warmup_problems"],
        "e2e": e2e,
        "done": passes,
    }


def _rows(path: str) -> int:
    import pyarrow.dataset as ds

    return ds.dataset(path, format="parquet").count_rows() if os.path.isdir(path) else 0


def layers(ctx, state, res) -> dict:
    passes = [p for p in res["done"] if p["phases"]]
    out = {}
    for name, d in PHASES:
        out[f"{name}_s"] = median([p["phases"][name] for p in passes])
    out["sources.ingest.bytes_written"] = float(median([p["bytes"]["ingested"] for p in passes]))
    out["sources.index_store.bytes_written"] = float(median([p["bytes"]["index"] for p in passes]))
    out["operators.dedup.lsh_candidates"] = float(passes[0].get("lsh_candidates", 0))
    out["operators.dedup.lsh_verified"] = float(passes[0].get("lsh_verified", 0))
    hits = sum(p["survivors"] for p in passes)
    out.update(spark_means([p["spark"] for p in passes], hits))
    report = curation_pipeline().survival_report(redacted(ctx.spark, ctx.inputs["path"]))
    for stage, rows in report:
        out[f"pipeline.survivors.{stage.replace(':', '_')}"] = float(rows)
    return out
