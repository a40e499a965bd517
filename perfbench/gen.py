"""Seeded input generation for the benchmark workloads.

Everything the engine sees is made here from ``--seed`` with numpy and
pyarrow — never with Spark — so the engine under test does not build its
own inputs. The same seed gives byte-identical files; each purpose draws
from its own ``numpy`` stream (``rng(seed, purpose)``), so adding a new
purpose never shifts the inputs of another.

Tables follow the shape of the engine's ``documents`` / ``embeddings`` /
``events`` tables (``crawler_spark.sources.tables``) at sf0.1: 5000
documents, 2000 64-d embeddings, 100k events. Ingest files follow
``crawler_spark.schemas.FETCHED``.
"""

from __future__ import annotations

import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIMS = 64
STOPWORDS = ["the", "of", "and", "to", "in", "a", "is", "that"]
_SYLLABLES = ["ka", "lo", "mi", "ne", "ru", "ta", "vo", "shi", "pe", "da",
              "gri", "zu", "fa", "ho", "qui", "ber"]
# 256 content words (every 2- and 3-syllable pattern over a fixed list,
# in a fixed order) plus the stopwords the curation funnel's quality
# rule looks for. Rank in this list is the word's Zipf rank.
VOCAB = STOPWORDS + [
    a + b + c
    for a in _SYLLABLES[:8] for b in _SYLLABLES[8:] for c in ("", "n", "s", "x")
][:248]
EVENT_TYPES = ["view", "click", "purchase", "error", "search"]
LANGS = ["en", "de", "fr", "zh", "es"]


def rng(seed: int, purpose: str) -> np.random.Generator:
    """Independent stream per (seed, purpose)."""
    return np.random.default_rng([int(seed), zlib.crc32(purpose.encode())])


def zipf_ranks(r: np.random.Generator, n: int, size: int, s: float = 1.1) -> np.ndarray:
    """``size`` ranks in ``[0, n)`` with P(rank k) ∝ 1/(k+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return r.choice(n, size=size, p=p / p.sum())


def _texts(r: np.random.Generator, n: int) -> list[str]:
    lengths = r.integers(12, 48, size=n)
    words = zipf_ranks(r, len(VOCAB), int(lengths.sum()), s=0.9)
    out, pos = [], 0
    for ln in lengths:
        out.append(" ".join(VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def _write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def documents_table(texts: list[str], r: np.random.Generator) -> pa.Table:
    n = len(texts)
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in r.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i % 50}" for i in range(n)], pa.string()),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def embeddings_table(vecs: np.ndarray, labels: np.ndarray) -> pa.Table:
    flat = pa.array(vecs.astype(np.float32).ravel())
    emb = pa.ListArray.from_arrays(
        pa.array(np.arange(0, vecs.size + 1, vecs.shape[1], dtype=np.int32)), flat)
    return pa.table({
        "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32)),
    })


def _clustered(r: np.random.Generator, n: int, n_clusters: int = 16) -> tuple[np.ndarray, np.ndarray]:
    centers = r.normal(size=(n_clusters, DIMS))
    labels = r.integers(0, n_clusters, size=n)
    return centers[labels] + 1.2 * r.normal(size=(n, DIMS)), labels


def events_table(r: np.random.Generator, n: int, n_users: int) -> pa.Table:
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(t0 + r.integers(0, 30 * 86_400 * 10**6, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(zipf_ranks(r, n_users, n, s=0.6).astype(np.int64)),
        "event_type": pa.array([EVENT_TYPES[i] for i in r.integers(0, len(EVENT_TYPES), n)],
                               pa.string()),
        "value": pa.array(np.round(r.uniform(0, 200, size=n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, size=n)], pa.string()),
    })


def write_corpus(out_dir: str, seed: int, purpose: str, n_docs: int = 5000,
                 n_vecs: int = 2000, n_events: int = 100_000,
                 n_users: int = 2000, dup_share: float = 0.0) -> str:
    """Write documents/embeddings/events parquet under ``out_dir``.

    ``dup_share`` > 0 appends that share of near-duplicates: text
    variants of earlier documents with one or two words replaced, and
    embedding copies perturbed by ~1 % noise (cosine ≈ 0.99 to the
    original). Duplicates get fresh ids after the originals, and their
    documents and vectors stay aligned (``doc_id == vec_id``) so the
    semantic search join keeps meaning."""
    r = rng(seed, purpose)
    texts = _texts(r, n_docs)
    vecs, labels = _clustered(r, n_vecs)
    if dup_share > 0:
        nd = int(n_docs * dup_share)
        src = r.integers(0, n_docs, size=nd)
        for i in src:
            words = texts[i].split()
            for _ in range(int(r.integers(1, 3))):
                words[int(r.integers(0, len(words)))] = VOCAB[int(r.integers(0, len(VOCAB)))]
            texts.append(" ".join(words))
        nv = int(n_vecs * dup_share)
        vsrc = r.integers(0, n_vecs, size=nv)
        noise = r.normal(size=(nv, DIMS))
        copies = vecs[vsrc] + 0.01 * np.linalg.norm(vecs[vsrc], axis=1, keepdims=True) \
            * noise / np.sqrt(DIMS)
        vecs = np.concatenate([vecs, copies])
        labels = np.concatenate([labels, labels[vsrc]])
    _write(documents_table(texts, r), os.path.join(out_dir, "documents.parquet"))
    _write(embeddings_table(vecs, labels), os.path.join(out_dir, "embeddings.parquet"))
    _write(events_table(r, n_events, n_users), os.path.join(out_dir, "events.parquet"))
    return out_dir


# ------------------------------------------------------------------ search
RANKED = ("semantic_search", "rag_chat")
# One deck of twenty requests: 13 cheap (65 %), 7 ranked (35 %). Each
# deck is shuffled by the seed, so every 20 requests hold the same mix;
# the p50 then sits 15 points inside the cheap class and the p80 15
# points inside the ranked one, away from the boundary between them.
DECK = ["web_pages"] * 5 + ["knn_topk_ivf"] * 4 + ["dashboard_analytics"] * 4 \
    + ["semantic_search"] * 4 + ["rag_chat"] * 3
RANKED_PER_DECK = sum(k in RANKED for k in DECK)


def zipf_query(r: np.random.Generator) -> str:
    """One or two query terms, Zipf-drawn over the content words, so
    popular queries repeat."""
    n_terms = 1 + int(r.random() < 0.4)
    ranks = zipf_ranks(r, len(VOCAB) - len(STOPWORDS), n_terms, s=1.1)
    return " ".join(VOCAB[len(STOPWORDS) + int(k)] for k in ranks)


def search_requests(seed: int, n: int, purpose: str = "search.requests") -> list[dict]:
    """The seeded request sequence: ``n`` requests, in whole decks."""
    r = rng(seed, purpose)
    out: list[dict] = []
    while len(out) < n:
        for kind in r.permutation(DECK):
            req = {"kind": str(kind)}
            if kind != "dashboard_analytics":
                req["query"] = zipf_query(r)
            if kind == "web_pages":
                req["sort_by"] = ("doc_id", "n_chars")[int(r.integers(0, 2))]
                req["sort_order"] = ("asc", "desc")[int(r.integers(0, 2))]
                req["offset"] = 10 * int(r.integers(0, 4))
                req["query"] = req["query"].split()[0]
            out.append(req)
    return out


# ------------------------------------------------------------------ ingest
def file_sizes(r: np.random.Generator, n_files: int) -> list[int]:
    """Pages per file: the ``n_files`` stratified quantiles of a
    lognormal (median 60, clipped to 10..600), in seeded order — every
    cycle of files carries the same size mix, only the order varies."""
    q = (np.arange(n_files) + 0.5) / n_files
    from statistics import NormalDist

    z = np.array([NormalDist().inv_cdf(float(x)) for x in q])
    sizes = np.clip(np.round(60 * np.exp(1.0 * z)), 10, 600).astype(int)
    return [int(s) for s in r.permutation(sizes)]


def render_html(title: str, text: str) -> bytes:
    return (f"<html><head><title>{title}</title>"
            f'<meta name="description" content="{title}"></head>'
            f"<body><p>{text}</p></body></html>").encode()


class IngestFeed:
    """Seeded stream of FETCHED-schema files.

    Each file mixes fresh pages, ~20 % re-crawls of urls landed by
    earlier files of the same feed (changed body: a new revision
    suffix), and ~5 % failures — half fetch errors, half unsupported
    content types — on fresh urls that never reappear. ``expected``
    tracks what the landed table and the dead letter must hold."""

    def __init__(self, seed: int, purpose: str, files_per_cycle: int = 6,
                 recrawl_share: float = 0.2, error_share: float = 0.05):
        self.r = rng(seed, purpose)
        self.tag = purpose.replace(".", "-")
        self.files_per_cycle = files_per_cycle
        self.recrawl_share = recrawl_share
        self.error_share = error_share
        self._sizes: list[int] = []
        self._next_id = 0
        self.landed: dict[str, str] = {}   # url -> expected content
        self.revision: dict[str, int] = {}
        self.dead: set[str] = set()
        self.n_files = 0

    def _url(self, i: int) -> str:
        return f"http://site{i % 40}.{self.tag}.example/page/{i}"

    def next_file(self) -> pa.Table:
        if not self._sizes:
            self._sizes = file_sizes(self.r, self.files_per_cycle)
        n = self._sizes.pop(0)
        self.n_files += 1
        n_err = int(round(n * self.error_share))
        n_re = min(int(round(n * self.recrawl_share)), len(self.landed))
        recrawl = (self.r.choice(sorted(self.landed), size=n_re, replace=False).tolist()
                   if n_re else [])
        texts = _texts(self.r, n - n_re)
        rows = []
        for url in recrawl:
            rev = self.revision[url] + 1
            self.revision[url] = rev
            base = self.landed[url].rsplit(" revision ", 1)[0]
            rows.append((url, base, rev))
        for t in texts:
            rows.append((self._url(self._next_id), t, 0))
            self._next_id += 1
        urls, ctypes, bodies, errors = [], [], [], []
        for j, (url, text, rev) in enumerate(rows):
            urls.append(url)
            if rev == 0 and j >= len(rows) - n_err:
                if j % 2:
                    ctypes.append(None)
                    bodies.append(None)
                    errors.append("timeout")
                else:
                    ctypes.append("application/octet-stream")
                    bodies.append(b"\x00\x01")
                    errors.append(None)
                self.dead.add(url)
                continue
            content = f"{text} revision {rev}"
            ctypes.append("text/html; charset=utf-8")
            bodies.append(render_html(f"page {url.rsplit('/', 1)[1]}", content))
            errors.append(None)
            self.landed[url] = content
            self.revision.setdefault(url, rev)
        order = self.r.permutation(len(urls))
        return pa.table({
            "url": pa.array([urls[i] for i in order], pa.string()),
            "content_type": pa.array([ctypes[i] for i in order], pa.string()),
            "body": pa.array([bodies[i] for i in order], pa.binary()),
            "fetch_error": pa.array([errors[i] for i in order], pa.string()),
        })
