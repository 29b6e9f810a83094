"""Output checks. Every timed operation that fails one counts as failed.

search_mix (per request): the right row count, scores that never
increase, ids that exist in the corpus, filter/collapse semantics; the
`dense` class's top-10 equals a numpy cosine top-10 over
`embeddings.parquet`; replaying the first requests after the loop
returns identical rows. ANN recall@10 against the exact variant of the
same request is computed here too, untimed.

ingest_curate (per pass): no planted exact duplicate survives, no two
survivors share md5(text), no PII regex matches remain, survivors ≤
input; one ingest row per survivor, every chunk embedding has the
stored dimension, postings rows equal a DuckDB count of distinct
(doc, token) pairs and the `dfs` sum equals the postings rows.
"""

from __future__ import annotations

import copy
import hashlib
import os
import re

import duckdb
import numpy as np
import pyarrow.parquet as pq

import gen

TOL = 1e-9


class Corpus:
    def __init__(self, corpus_dir: str):
        d = pq.read_table(os.path.join(corpus_dir, "documents.parquet")).to_pydict()
        self.id_set = set(d["doc_id"])
        self.lang = dict(zip(d["doc_id"], d["lang"]))
        self.source = dict(zip(d["doc_id"], d["source"]))
        self.padded = [f" {t} " for t in d["text"]]
        self.tokens = {i: set(t.split()) for i, t in zip(d["doc_id"], d["text"])}
        e = pq.read_table(os.path.join(corpus_dir, "embeddings.parquet")).to_pydict()
        self.vec_ids = np.asarray(e["vec_id"])
        emb = np.asarray(e["embedding"], dtype=np.float64)
        self.unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)

    def any_token(self, q: str) -> list[int]:
        qs = set(q.split())
        return [i for i, toks in self.tokens.items() if toks & qs]

    def phrase_hits(self, phrase: str) -> int:
        p = f" {phrase} "
        return sum(1 for t in self.padded if p in t)

    def cosines(self, qv: list[float]) -> np.ndarray:
        q = np.asarray(qv, dtype=np.float64)
        return self.unit @ (q / np.linalg.norm(q))

    def ivf_cell_sizes(self, qv: list[float]) -> int:
        """Docs in the IVF_NPROBE cells closest to qv (the index's coarse
        quantizer is the first IVF_CELLS stored vectors)."""
        cents = self.unit[np.argsort(self.vec_ids)[: gen.IVF_CELLS]]
        assign = np.argmax(self.unit @ cents.T, axis=1)
        q = np.asarray(qv, dtype=np.float64)
        probe = np.argsort(-(cents @ (q / np.linalg.norm(q))), kind="stable")[: gen.IVF_NPROBE]
        return int(np.isin(assign, probe).sum())


def _body(req: dict) -> dict:
    return next(iter(req["query"].values()))


def _query_words(req: dict) -> str:
    b = _body(req)
    if "hybrid" in req["query"]:
        return b["queries"][1]["match"]["query"]
    if "bool" in req["query"]:
        return b["must"][0]["match"]["query"]
    return b.get("query_text") or b.get("query")


def _expected_rows(corpus: Corpus, req: dict, qv) -> tuple[int, int]:
    """(min, max) row count a correct response has."""
    cls = req["cls"]
    if cls in ("sparse", "sparse_seismic", "match", "rerank_highlight"):
        n = min(gen.K, len(corpus.any_token(_query_words(req))))
        return n, n
    if cls == "phrase":
        n = min(gen.K, corpus.phrase_hits(_body(req)["query"]))
        return n, n
    if cls == "dense_ivf":
        n = min(gen.K, corpus.ivf_cell_sizes(qv))
        return n, n
    if cls in ("bool_filter", "hybrid_rrf_collapse"):
        return 1, gen.K
    return gen.K, gen.K


def check_response(corpus: Corpus, req: dict, rows: list, qv) -> str | None:
    """None when the response is right, else what is wrong."""
    cls = req["cls"]
    ids = [r["doc_id"] for r in rows]
    lo, hi = _expected_rows(corpus, req, qv)
    if not lo <= len(rows) <= hi:
        return f"{len(rows)} rows, expected {lo}..{hi}"
    if any(i not in corpus.id_set for i in ids):
        return "unknown doc id"
    if len(set(ids)) != len(ids):
        return "duplicate doc id"
    if cls == "mmr":
        if [r["mmr_rank"] for r in rows] != list(range(len(rows))):
            return "mmr ranks out of order"
    else:
        scores = [r["score"] for r in rows]
        if any(b > a + TOL * max(1.0, abs(a)) for a, b in zip(scores, scores[1:])):
            return "scores increase"
    if cls in ("dense_filter", "bool_filter") and any(corpus.lang[i] != "en" for i in ids):
        return "filter not applied"
    if cls == "bool_filter":
        words = set(_query_words(req).split())
        if any(not (corpus.tokens[i] & words) for i in ids):
            return "must clause not matched"
    if cls == "hybrid_rrf_collapse" and len({corpus.source[i] for i in ids}) != len(ids):
        return "collapse kept two docs of one source"
    if cls == "rerank_highlight" and any("highlighted" not in r.asDict() for r in rows):
        return "no highlight field"
    return None


def check_dense_exact(corpus: Corpus, rows: list, qv) -> str | None:
    """The dense class's top-10 equals the numpy cosine top-10."""
    cos = corpus.cosines(qv)
    order = np.lexsort((corpus.vec_ids, -cos))[: gen.K]
    kth = cos[order[-1]]
    pos = {int(v): j for j, v in enumerate(corpus.vec_ids)}
    for r in rows:
        c = cos[pos[r["doc_id"]]]
        if abs(c - r["score"]) > 1e-6:
            return f"score {r['score']} != numpy cosine {c}"
        if c < kth - TOL:
            return "doc outside the numpy top-10"
    if len(rows) != len(order):
        return "top-10 size differs from numpy"
    return None


def _same_rows(a: list, b: list) -> bool:
    if [r["doc_id"] for r in a] != [r["doc_id"] for r in b]:
        return False
    key = "mmr_rank" if a and "mmr_rank" in a[0].asDict() else "score"
    return all(abs(x[key] - y[key]) <= TOL * max(1.0, abs(x[key])) for x, y in zip(a, b))


def exact_variant(req: dict) -> dict:
    """The same request without its ANN method."""
    q = copy.deepcopy(req["query"])
    next(iter(q.values())).pop("method", None)
    return q


def search(ctx, engine, corpus_dir: str, done: list, replay: int = 2) -> dict:
    """Check every response; returns per-request ok flags, the failure
    count, global checks and ANN recall@10 over every ANN request sent."""
    from neural_search_spark import models

    corpus = Corpus(corpus_dir)
    ok = []
    for req, rows, _t in done:
        if rows is None:
            ok.append(False)
            continue
        body = _body(req)
        if "vector" in body:
            qv = body["vector"]
        else:
            qv = models.encode_query(engine.default_model_id, _query_words(req), "QUERY")
        why = check_response(corpus, req, rows, qv)
        if why is None and req["cls"] == "dense":
            why = check_dense_exact(corpus, rows, qv)
        if why:
            ctx.log(f"request {req['rid']} ({req['cls']}) failed its check: {why}")
        ok.append(why is None)
    replayed = 0
    for n, (req, rows, _t) in enumerate(done):
        if replayed == replay:
            break
        if rows is None:
            continue
        again = engine.search(req["query"], req["pipeline"]).collect()
        replayed += 1
        if not _same_rows(rows, again):
            ctx.log(f"request {req['rid']} ({req['cls']}) replayed different rows")
            ok[n] = False
    recalls = []
    for req, rows, _t in done:
        if req["cls"] in gen.ANN_CLASSES and rows is not None:
            exact = engine.search(exact_variant(req), req["pipeline"]).collect()
            want = {r["doc_id"] for r in exact}
            recalls.append(len(want & {r["doc_id"] for r in rows}) / max(1, len(want)))
    return {
        "ok": ok,
        "failed": ok.count(False),
        "global_ok": replayed > 0 and bool(recalls),
        "recall": float(np.mean(recalls)) if recalls else 0.0,
    }


# -- ingest_curate ----------------------------------------------------------

PII_RES = [re.compile(p) for p in (gen.PII_EMAIL_RE, gen.PII_IPV4_RE, gen.PII_PHONE_RE)]


def _pq(path: str) -> str:
    return os.path.join(path, "*.parquet")


def batch_pass(pass_dir: str, truth: dict, n_input: int) -> tuple[list[str], float]:
    """(problems, near-dup recall) of one ingest_curate pass."""
    problems: list[str] = []
    con = duckdb.connect()
    try:
        surv = con.sql(f"SELECT doc_id, text FROM read_parquet('{_pq(os.path.join(pass_dir, 'survivors'))}')").fetchall()
        ids = {i for i, _t in surv}
        if len(surv) > n_input:
            problems.append("more survivors than input docs")
        if any(d in ids for d, _s in truth["exact_dups"]):
            problems.append("a planted exact duplicate survived")
        if len({hashlib.md5(t.encode()).hexdigest() for _i, t in surv}) != len(surv):
            problems.append("two survivors share md5(text)")
        if any(r.search(t) for _i, t in surv for r in PII_RES):
            problems.append("PII left in a survivor")
        if any(s not in ids for _d, s, _j in truth["near_dups"]) or any(s not in ids for _d, s in truth["exact_dups"]):
            problems.append("the source of a planted duplicate was dropped")
        recall = sum(1 for d, _s, _j in truth["near_dups"] if d not in ids) / len(truth["near_dups"])

        ing = _pq(os.path.join(pass_dir, "ingested"))
        ing_ids = [r[0] for r in con.sql(f"SELECT doc_id FROM read_parquet('{ing}')").fetchall()]
        if len(ing_ids) != len(surv) or set(ing_ids) != ids:
            problems.append("ingest output is not one row per survivor")
        bad_dim = con.sql(
            f"SELECT count(*) FROM (SELECT unnest(text_semantic_info.chunks) AS c "
            f"FROM read_parquet('{ing}')) WHERE len(c.embedding) != {gen.DIM}"
        ).fetchone()[0]
        if bad_dim:
            problems.append(f"{bad_dim} chunk embeddings without dim {gen.DIM}")
        idx = os.path.join(pass_dir, "index")
        postings = con.sql(f"SELECT count(*) FROM read_parquet('{_pq(os.path.join(idx, 'postings'))}')").fetchone()[0]
        pairs = con.sql(
            f"SELECT count(*) FROM (SELECT DISTINCT doc_id, tok FROM (SELECT doc_id, "
            f"unnest(regexp_split_to_array(text, '\\s+')) AS tok FROM read_parquet('{ing}')) WHERE tok != '')"
        ).fetchone()[0]
        if postings != pairs:
            problems.append(f"postings rows {postings} != distinct (doc, token) pairs {pairs}")
        dfs = con.sql(f"SELECT sum(df) FROM read_parquet('{_pq(os.path.join(idx, 'dfs'))}')").fetchone()[0]
        if dfs != postings:
            problems.append(f"dfs sum {dfs} != postings rows {postings}")
    finally:
        con.close()
    return problems, recall
