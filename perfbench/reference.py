"""Independent Python/numpy references the benchmark checks outputs against.

Each function restates a public operator's documented semantics without
Spark: brute-force top-k by certainty (``operators/similarity.py``),
Okapi BM25 in integer micro-scores and weighted reciprocal-rank fusion
(``operators/search.py``), token-budgeted context packing
(``operators/context.py``), and the MinHash-LSH -> connected-components
-> keep/drop decision table of the registry's ``near_dup_dedup`` oracle
(``queries_catalog.py``), transcribed stage for stage from its DuckDB SQL.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import defaultdict

import numpy as np

from vectordb_data_ingestion_spark.operators.dedup import minhash_params


def half_up(x: float) -> int:
    """Spark's ``round`` (HALF_UP) for non-negative doubles."""
    return math.floor(x + 0.5)


_WS = re.compile(r"[ \x09-\x0D]+")


class VectorReference:
    """Brute-force retrieval over the exact vectors written to the sink."""

    def __init__(self, ids, vectors, texts, n_tokens):
        self.ids = np.asarray(ids)
        self.m = np.asarray(vectors, dtype=np.float64)
        self.norms = np.linalg.norm(self.m, axis=1)
        self.texts = list(texts)
        self.n_tokens = np.asarray(n_tokens)
        self.row = {int(i): r for r, i in enumerate(self.ids)}
        self.postings: dict[str, dict[int, int]] = defaultdict(dict)
        self.dl = np.zeros(len(self.ids), dtype=np.int64)
        for r, text in enumerate(self.texts):
            toks = text.lower().split()
            self.dl[r] = len(toks)
            for t in toks:
                p = self.postings[t]
                p[r] = p.get(r, 0) + 1
        self.avgdl = float(self.dl.sum()) / len(self.dl)

    def certainties(self, q) -> np.ndarray:
        qv = np.asarray(q, dtype=np.float64)
        qn = np.linalg.norm(qv)
        if qn == 0:
            return np.full(len(self.ids), -1.0)
        cos = (self.m @ qv[:, None])[:, 0] / (self.norms * qn)
        return np.round((1.0 + cos) / 2.0, 6)

    def topk(self, q, k: int, threshold: float) -> list[tuple[int, float]]:
        cert = self.certainties(q)
        idx = np.nonzero(cert >= threshold)[0]
        order = idx[np.lexsort((self.ids[idx], -cert[idx]))][:k]
        return [(int(self.ids[r]), float(cert[r])) for r in order]

    def bm25(self, terms: list[str], k: int, k1: float = 1.2,
             b: float = 0.75) -> list[int]:
        n = len(self.ids)
        scores: dict[int, int] = defaultdict(int)
        for t in sorted({t.lower() for t in terms}):
            post = self.postings.get(t, {})
            df = len(post)
            idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
            for r, tf in post.items():
                denom = tf + k1 * ((1.0 - b) + b * self.dl[r] / self.avgdl)
                scores[r] += half_up(idf * (tf * (k1 + 1.0)) / denom * 1e6)
        ranked = sorted(scores, key=lambda r: (-scores[r], self.ids[r]))
        return [int(self.ids[r]) for r in ranked[:k]]

    def hybrid(self, terms: list[str], q, k: int, alpha: float = 0.5,
               k_rrf: int = 60) -> list[int]:
        dense = [i for i, _ in self.topk(q, 2 * k, 0.0)]
        keyword = self.bm25(terms, 2 * k)
        fused: dict[int, int] = defaultdict(int)
        for w, ranked in ((alpha, dense), (1.0 - alpha, keyword)):
            for rank, i in enumerate(ranked, start=1):
                fused[i] += half_up(w * 1e6 / (k_rrf + rank))
        return sorted(fused, key=lambda i: (-fused[i], i))[:k]

    def context(self, q, k: int, threshold: float,
                max_tokens: int) -> tuple[str, int, int] | None:
        """``(context, n_chunks, n_tokens)``, or None when no hit clears
        the threshold (the operator then returns no row)."""
        hits = self.topk(q, k, threshold)
        if not hits:
            return None
        texts, used = [], 0
        for rank, (i, _) in enumerate(hits, start=1):
            r = self.row[i]
            n = int(self.n_tokens[r])
            # the best hit always fits; later ones while the budget holds
            if rank > 1 and used + n > max_tokens:
                break
            texts.append(self.texts[r])
            used += n
        return "\n\n".join(texts), len(texts), used


def expected_chunks(texts, chunk_size: int) -> int:
    """Chunk rows ``build_chunk_table`` makes of ``texts``: clean
    (``functions/text.clean_text``), split on whitespace, one chunk per
    ``chunk_size`` words and at least one per document."""
    total = 0
    for text in texts:
        t = re.sub(r"[\n\r]|[^\x00-\x7F]", "", text)
        t = re.sub(r"\\[rnt]?", "", t)
        t = re.sub(r"[ \x09-\x0D\x1C-\x1F]+", " ", t)
        total += len(range(0, max(len(_WS.sub(" ", t).split(" ")), 1), chunk_size))
    return total


# --- near-duplicate decision table ----------------------------------------

_P32 = 1 << 32


def shingles(text: str, n: int = 3) -> list[str]:
    words = _WS.sub(" ", text).split(" ")
    grams = [
        " ".join(words[i : i + n]) for i in range(max(len(words) - n, 0) + 1)
    ]
    return list(dict.fromkeys(grams))


def _md5_32(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def near_dup_pairs(docs: list[tuple[int, str]], num_hashes: int = 16,
                   bands: int = 4, shingle_n: int = 3,
                   threshold: float = 0.5) -> set[tuple[int, int]]:
    """MinHash signatures -> banded buckets -> exact-Jaccard verified
    pairs ``(id_a, id_b)`` with ``id_a < id_b``."""
    params = np.asarray(minhash_params(num_hashes), dtype=np.int64)
    rows = num_hashes // bands
    sh: dict[int, set[str]] = {}
    buckets: dict[tuple[int, str], list[int]] = defaultdict(list)
    for doc_id, text in docs:
        grams = shingles(text, shingle_n)
        sh[doc_id] = set(grams)
        h = np.asarray([_md5_32(g) for g in grams], dtype=np.int64)
        sig = ((h[:, None] * params[:, 0] + params[:, 1]) % _P32).min(axis=0)
        for band in range(bands):
            key = "_".join(str(v) for v in sig[band * rows : (band + 1) * rows])
            buckets[(band, hashlib.md5(key.encode()).hexdigest())].append(doc_id)
    cand = {
        (a, b)
        for ids in buckets.values() if len(ids) > 1
        for a in ids for b in ids if a < b
    }
    micro = half_up(threshold * 1e6)
    return {
        (a, b) for a, b in cand
        if half_up(len(sh[a] & sh[b]) / len(sh[a] | sh[b]) * 1e6) >= micro
    }


def components(pairs) -> dict[int, int]:
    """``node -> smallest id reachable`` over the undirected pair graph."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def near_dup_decisions(docs: list[tuple[int, str]]) -> dict[int, tuple[int, bool]]:
    """``doc_id -> (component, is_dup)`` for every corpus row."""
    comp = components(near_dup_pairs(docs))
    return {
        d: (comp.get(d, d), comp.get(d, d) != d) for d, _ in docs
    }


def exact_dedup_keep(docs: list[tuple[int, str]]) -> set[int]:
    keep: dict[str, int] = {}
    for d, text in docs:
        keep[text] = min(d, keep.get(text, d))
    return set(keep.values())
