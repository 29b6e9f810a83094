"""Seeded input generator for the benchmark.

Everything a workload feeds the engine is made here, from `--seed`
alone, before any timed region starts: the same seed gives
byte-identical parquet files and an identical request stream.

- `search_corpus`: a retrieval corpus (`documents` + `embeddings`)
  whose constants are measured on sf0.1 (README.md, "Search corpus").
- `search_requests`: the stratified search_mix request stream — an
  equal count of each request class, in seed-shuffled order, with
  query text drawn from the corpus vocabulary.
- `curate_corpus`: raw documents for ingest_curate with planted exact
  duplicates, near-duplicates (3-shingle Jaccard recorded per pair),
  boilerplate-repetition docs, short docs and PII spans, plus the
  ground-truth label file. A `text` field feeds the dense semantic
  field and a `title` field the sparse one.

Self-check (generates every input twice and compares bytes):

    python3 perfbench/gen.py --seed 7
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import sys
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64  # the stored embedding dim the default query model expects
N_LABELS = 10
N_SOURCES = 20
LANGS = ["en", "de", "fr", "es", "zh"]
# search corpus constants, measured on sf0.1's documents.parquet: its
# 30 words (besides the "dup" marker) each make 3.3% of the tokens, 5.0%
# of its docs end in "dup", and its lang shares are these
SF_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table the value vector window"
).split()
SF_LANG_P = [0.412, 0.140, 0.148, 0.149, 0.151]
NEAR_DUP_SHARE = 0.05
# curate corpus languages (a choice, not a measurement)
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
# the curation pipeline's stopword list (functions/text.py EN_STOPWORDS
# is the engine's; these are plain English words the generator mixes in)
STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "it", "on"]
SHINGLE_N = 3
# what the planted PII spans look like (the checks' patterns)
PII_EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.]+\.[a-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}(?:\.\d{1,3}){3}\b"
PII_PHONE_RE = r"\+\d{1,2}-\d{3}-\d{3}-\d{4}"
NEAR_DUP_MIN_JACCARD = 0.5  # the dedup threshold planted pairs must clear

# independent random streams per input, so changing one input's shape
# never shifts another's draws
_STREAM = {"search": 1, "requests": 2, "curate": 3, "curate_warmup": 4}

REQUEST_CLASSES = [
    "dense",
    "dense_filter",
    "dense_ivf",
    "dense_pq",
    "sparse",
    "sparse_seismic",
    "match",
    "phrase",
    "bool_filter",
    "hybrid_minmax",
    "hybrid_rrf_collapse",
    "rerank_highlight",
    "mmr",
]
# classes whose recall@10 is measured against the same request without
# its ANN method
ANN_CLASSES = ("dense_ivf", "dense_pq", "sparse_seismic")
IVF_CELLS = 16
IVF_NPROBE = 4
PQ_CODEBOOK_K = 64
K = 10


def _rng(seed: int, stream: str) -> np.random.Generator:
    return np.random.default_rng([int(seed), _STREAM[stream]])


def _vocab(rng: np.random.Generator, n: int) -> list[str]:
    """n distinct lowercase pseudo-words (2-4 consonant-vowel syllables)."""
    cons, vows = list("bcdfghklmnprstvz"), list("aeiou")
    seen: set[str] = set(STOPWORDS)
    out: list[str] = []
    while len(out) < n:
        k = int(rng.integers(2, 5))
        w = "".join(cons[rng.integers(len(cons))] + vows[rng.integers(len(vows))] for _ in range(k))
        if w not in seen:
            seen.add(w)
            out.append(w)
    return out


def _zipf_p(n: int, s: float = 1.05) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1) ** s
    return p / p.sum()


class _Words:
    """Zipf-distributed content words with stopwords mixed in."""

    def __init__(self, rng: np.random.Generator, n_vocab: int, stop_rate: float = 0.15):
        self.rng = rng
        self.vocab = np.array(_vocab(rng, n_vocab))
        self.cdf = np.cumsum(_zipf_p(n_vocab))
        self.cdf[-1] = 1.0
        self.stop_rate = stop_rate

    def draw(self, n: int) -> list[str]:
        words = self.vocab[np.searchsorted(self.cdf, self.rng.random(n), side="right")]
        stops = self.rng.random(n) < self.stop_rate
        picks = self.rng.integers(len(STOPWORDS), size=n)
        return [STOPWORDS[j] if s else str(w) for w, s, j in zip(words, stops, picks)]


def _docs_table(ids, texts, langs, sources, extra: dict | None = None) -> pa.Table:
    cols = {
        "doc_id": pa.array(ids, pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array(sources, pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }
    cols.update(extra or {})
    return pa.table(cols)


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


# -- search_mix -------------------------------------------------------------


def search_corpus(seed: int, n_docs: int, n_vecs: int) -> tuple[pa.Table, pa.Table]:
    """(documents, embeddings) with the shape measured on sf0.1 (see
    README.md, "Search corpus"): every text is 10-99 tokens drawn
    uniformly from a 30-word vocabulary; NEAR_DUP_SHARE of the docs
    copy another doc's text and append the token "dup" (two copies of one
    source are then exact duplicates); langs are iid with SF_LANG_P;
    source is `src{doc_id % 20}`. Only the first `n_vecs` docs have an
    embedding: an isotropic unit 64-dim float32 vector with a uniform
    label in 0..9 that carries no structure."""
    rng = _rng(seed, "search")
    vocab = np.array(SF_VOCAB)
    texts = [" ".join(vocab[rng.integers(len(vocab), size=int(n))]) for n in rng.integers(10, 100, size=n_docs)]
    dups = np.flatnonzero(rng.random(n_docs) < NEAR_DUP_SHARE)
    bases = np.setdiff1d(np.arange(n_docs), dups)
    for i, src in zip(dups, rng.choice(bases, size=len(dups))):
        texts[int(i)] = texts[int(src)] + " dup"
    langs = rng.choice(LANGS, size=n_docs, p=SF_LANG_P).tolist()
    ids = np.arange(n_docs, dtype=np.int64)
    sources = [f"src{i % N_SOURCES}" for i in ids]
    raw = rng.normal(size=(n_vecs, DIM))
    embs = (raw / np.linalg.norm(raw, axis=1, keepdims=True)).astype(np.float32)
    labels = rng.integers(N_LABELS, size=n_vecs)
    docs = _docs_table(ids, texts, langs, sources)
    emb_t = pa.table(
        {
            "vec_id": pa.array(ids[:n_vecs], pa.int64()),
            "embedding": pa.array(list(embs), pa.list_(pa.float32())),
            "label": pa.array(labels.astype(np.int32), pa.int32()),
        }
    )
    return docs, emb_t


def _request(cls: str, q: str, q2: str, phrase: str, vec: list[float]) -> tuple[dict, dict | None]:
    """(query, pipeline) of one request class. Text queries go through the
    query encoder; the ANN classes send a vector."""
    if cls == "dense":
        return {"neural": {"query_text": q, "k": K}}, None
    if cls == "dense_filter":
        return {"neural": {"query_text": q, "k": K, "filter": {"term": {"lang": "en"}}}}, None
    if cls == "dense_ivf":
        m = {"name": "ivf", "ncells": IVF_CELLS, "nprobe": IVF_NPROBE}
        return {"neural": {"vector": vec, "k": K, "method": m}}, None
    if cls == "dense_pq":
        m = {"name": "pq", "codebook_k": PQ_CODEBOOK_K, "shortlist": 100}
        return {"neural": {"vector": vec, "k": K, "method": m}}, None
    if cls == "sparse":
        return {"neural_sparse": {"query_text": q2, "k": K}}, None
    if cls == "sparse_seismic":
        m = {"name": "seismic"}
        return {"neural_sparse": {"query_text": q2, "k": K, "method": m}}, None
    if cls == "match":
        return {"match": {"field": "text", "query": q2, "k": K}}, None
    if cls == "phrase":
        return {"match_phrase": {"field": "text", "query": phrase, "k": K}}, None
    if cls == "bool_filter":
        return {
            "bool": {
                "must": [{"match": {"field": "text", "query": q2}}],
                "filter": [{"term": {"lang": "en"}}],
            }
        }, None
    hybrid = {
        "hybrid": {
            "queries": [{"neural": {"query_text": q}}, {"match": {"field": "text", "query": q2}}],
            "pagination_depth": 50,
        }
    }
    if cls == "hybrid_minmax":
        return hybrid, {
            "normalization": {"technique": "min_max"},
            "combination": {"technique": "arithmetic_mean", "weights": [0.4, 0.6]},
        }
    if cls == "hybrid_rrf_collapse":
        return hybrid, {
            "normalization": {"technique": "rrf"},
            "combination": {"technique": "rrf"},
            "collapse": {"field": "source"},
        }
    if cls == "rerank_highlight":
        return {"match": {"field": "text", "query": q2, "k": K}}, {
            "rerank": {"type": "by_field", "target_field": "n_chars"},
            "highlight": {"query_text": q2},
        }
    if cls == "mmr":
        return {"neural": {"query_text": q, "k": K}}, {"mmr": {"candidates": 30, "lambda": 0.5}}
    raise ValueError(cls)


def _request_for(rng: np.random.Generator, cls: str, texts: list[str], embs: np.ndarray) -> dict:
    toks = texts[int(rng.integers(len(texts)))].split()
    content = [t for t in toks if t not in STOPWORDS]
    pick = rng.choice(len(content), size=3, replace=False)
    q = " ".join(content[i] for i in pick[:2])
    q2 = " ".join(content[i] for i in pick)
    plen = int(rng.integers(2, 4))
    start = int(rng.integers(len(toks) - plen + 1))
    phrase = " ".join(toks[start : start + plen])
    # kNN query vector from the corpus distribution: a stored vector
    # plus noise ("more like this document")
    vec = embs[int(rng.integers(len(embs)))] + 0.3 * rng.normal(size=DIM) / np.sqrt(DIM)
    query, pipeline = _request(cls, q, q2, phrase, [round(float(x), 6) for x in vec])
    return {"cls": cls, "query": query, "pipeline": pipeline}


def search_requests(seed: int, docs: pa.Table, embs: pa.Table, rounds: int) -> list[dict]:
    """Stratified stream: `rounds` consecutive rounds, each holding one
    request of every class in a seed-shuffled order, so any whole number
    of rounds has equal class counts. Query words are drawn from the
    documents' own text (so every match has hits); phrases are 2-3
    consecutive tokens of a random document."""
    rng = _rng(seed, "requests")
    texts = docs.column("text").to_pylist()
    vecs = np.asarray(embs.column("embedding").to_pylist(), dtype=np.float64)
    stream = []
    for _ in range(rounds):
        for i in rng.permutation(len(REQUEST_CLASSES)):
            req = _request_for(rng, REQUEST_CLASSES[int(i)], texts, vecs)
            stream.append(dict(req, rid=len(stream)))
    return stream


# -- curate_dedup -----------------------------------------------------------


def shingles(text: str, n: int = SHINGLE_N) -> set[str]:
    t = text.lower().split()
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb)


def _near_dup(rng: np.random.Generator, words: _Words, toks: list[str]) -> tuple[str, float]:
    """Edit a few scattered tokens until 3-shingle Jaccard lands in
    [0.6, 0.9]; returns (text, jaccard)."""
    src = " ".join(toks)
    while True:
        out = list(toks)
        n_edits = max(1, int(len(toks) * rng.uniform(0.015, 0.05)))
        for pos in rng.choice(len(toks), size=n_edits, replace=False):
            out[int(pos)] = words.draw(1)[0]
        text = " ".join(out)
        j = jaccard(src, text)
        if 0.6 <= j <= 0.9:
            return text, j


def _pii(rng: np.random.Generator) -> tuple[str, str]:
    kind = ["email", "ipv4", "phone"][int(rng.integers(3))]
    if kind == "email":
        user = "".join(rng.choice(list("abcdefghijklmnopqrstuvwxyz"), size=6))
        return kind, f"{user}.{int(rng.integers(100))}@mail{int(rng.integers(9))}.example.com"
    if kind == "ipv4":
        return kind, ".".join(str(int(x)) for x in rng.integers(1, 255, size=4))
    d = rng.integers(10, size=10)
    return kind, f"+{int(rng.integers(1, 99))}-{''.join(map(str, d[:3]))}-{''.join(map(str, d[3:6]))}-{''.join(map(str, d[6:]))}"


def _clean(toks: list[str]) -> bool:
    """A planted-duplicate source must survive curation: at least 50
    tokens and 10% stopwords (the quality score is then 1.0, far above
    the 0.6 gate) and no 3-gram repeated over 10% of the windows (the
    repetition gate drops above 20%)."""
    grams = [" ".join(toks[i : i + SHINGLE_N]) for i in range(len(toks) - SHINGLE_N + 1)]
    top = max(grams.count(g) for g in set(grams))
    stops = sum(t in STOPWORDS for t in toks)
    return len(toks) >= 50 and stops >= 0.1 * len(toks) and top <= 0.1 * len(grams)


def curate_corpus(seed: int, n_docs: int, stream: str = "curate") -> tuple[pa.Table, dict]:
    """(documents, truth). Ids of planted copies are larger than their
    source's, so the min-id keeper rule keeps the source. Sources are
    clean docs that pass every curation stage with margin (`_clean`)."""
    rng = _rng(seed, stream)
    words = _Words(rng, 5000)
    n_exact = n_docs // 20
    n_near = n_docs // 20
    n_rep = n_docs // 50
    n_short = n_docs // 50
    n_base = n_docs - n_exact - n_near - n_rep - n_short
    texts: list[str] = []
    langs: list[str] = []
    pii_docs: dict[int, list[list]] = {}
    clean: list[int] = []
    for i in range(n_base):
        toks = words.draw(int(rng.integers(30, 120)))
        lang = LANGS[int(rng.choice(len(LANGS), p=LANG_P))]
        if rng.random() < 0.1:
            spans = []
            for _ in range(int(rng.integers(1, 3))):
                kind, val = _pii(rng)
                toks.insert(int(rng.integers(len(toks) + 1)), val)
                spans.append([kind, val])
            pii_docs[i] = spans
        elif lang == "en" and _clean(toks):
            clean.append(i)
        texts.append(" ".join(toks))
        langs.append(lang)
    picks = rng.choice(clean, size=n_exact + n_near, replace=False)
    exact_pairs, near_pairs = [], []
    for src in picks[:n_exact]:
        exact_pairs.append([len(texts), int(src)])
        texts.append(texts[src])
        langs.append("en")
    for src in picks[n_exact:]:
        text, j = _near_dup(rng, words, texts[src].split())
        near_pairs.append([len(texts), int(src), round(j, 6)])
        texts.append(text)
        langs.append("en")
    rep_ids = []
    for _ in range(n_rep):
        unit = words.draw(int(rng.integers(3, 6)))
        rep_ids.append(len(texts))
        texts.append(" ".join(unit * int(rng.integers(8, 20))))
        langs.append("en")
    short_ids = []
    for _ in range(n_short):
        short_ids.append(len(texts))
        texts.append(" ".join(words.draw(int(rng.integers(3, 8)))))
        langs.append("en")
    sources = [f"src{i}" for i in rng.integers(N_SOURCES, size=len(texts))]
    titles = [" ".join(words.draw(int(n))) for n in rng.integers(4, 12, size=len(texts))]
    order = rng.permutation(len(texts))  # row order is not id order
    docs = _docs_table(
        [int(i) for i in order],
        [texts[i] for i in order],
        [langs[i] for i in order],
        [sources[i] for i in order],
        {"title": pa.array([titles[i] for i in order], pa.string())},
    )
    truth = {
        "n_docs": len(texts),
        "exact_dups": exact_pairs,  # [dup_id, source_id]
        "near_dups": near_pairs,  # [dup_id, source_id, 3-shingle jaccard]
        "repetition": rep_ids,
        "short": short_ids,
        "pii": {str(k): v for k, v in sorted(pii_docs.items())},
    }
    return docs, truth


# -- writing + self-check ---------------------------------------------------


def write_search(seed: int, out_dir: str, sizes: dict) -> list[dict]:
    docs, embs = search_corpus(seed, sizes["search_docs"], sizes["search_vecs"])
    _write(docs, os.path.join(out_dir, "documents.parquet"))
    _write(embs, os.path.join(out_dir, "embeddings.parquet"))
    reqs = search_requests(seed, docs, embs, sizes["search_rounds"])
    with open(os.path.join(out_dir, "requests.json"), "w") as f:
        json.dump(reqs, f, sort_keys=True)
    return reqs


def write_curate(seed: int, out_dir: str, n_docs: int, stream: str = "curate") -> tuple[str, dict]:
    docs, truth = curate_corpus(seed, n_docs, stream)
    path = os.path.join(out_dir, f"{stream}_docs.parquet")
    _write(docs, path)
    with open(os.path.join(out_dir, f"{stream}_truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return path, truth


def write_all(seed: int, out_dir: str, sizes: dict) -> None:
    write_search(seed, os.path.join(out_dir, "search"), sizes)
    write_curate(seed, out_dir, sizes["curate_docs"])


def digest_dir(path: str) -> dict[str, str]:
    out = {}
    for root, _dirs, files in os.walk(path):
        for name in sorted(files):
            p = os.path.join(root, name)
            with open(p, "rb") as f:
                out[os.path.relpath(p, path)] = hashlib.sha256(f.read()).hexdigest()
    return out


def selfcheck(seed: int, scratch: str, sizes: dict) -> bool:
    """Same seed → byte-identical inputs; another seed → different ones;
    planted near-duplicates clear the dedup threshold."""
    a, b, c = (tempfile.mkdtemp(dir=scratch) for _ in range(3))
    write_all(seed, a, sizes)
    write_all(seed, b, sizes)
    write_all(seed + 1, c, sizes)
    da, db, dc = digest_dir(a), digest_dir(b), digest_dir(c)
    with open(os.path.join(a, "curate_truth.json")) as f:
        truth = json.load(f)
    ok_pairs = all(j >= NEAR_DUP_MIN_JACCARD for _d, _s, j in truth["near_dups"])
    return da == db and da != dc and ok_pairs and len(da) == 5


def main(argv: list[str] | None = None) -> int:
    from config import SIZES, run_root

    ap = argparse.ArgumentParser(description="Check that a seed gives byte-identical inputs.")
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)
    scratch = os.path.join(run_root(), "gen-selfcheck")
    os.makedirs(scratch, exist_ok=True)
    try:
        ok = selfcheck(args.seed, scratch, SIZES)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
    print("gen selfcheck:", "ok" if ok else "FAILED")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
