"""``llm_curation``: the north-star extension path. Python-worker and
kernel heavy; it makes no commits.

The input is a seeded corpus: documents with a heavy-tailed length, a
planted share of near-duplicates (one or two token substitutions in a
copy of a longer document), some punctuation-heavy documents, and
integer-valued float vectors in clusters.
Phase 1 (dedup): a ``texts.quality_score`` filter, then
``dedup.minhash_near_dup_pairs`` and ``dedup.simhash_near_dup_pairs``.
Phase 2 (search): exact ``similarity.topk_cosine_bruteforce`` and
approximate ``similarity.lsh_bucket_topk``.

The vectors hold small integers, so every dot product and norm is exact
in double precision and the numpy reference reproduces the engine's
cosines bit for bit; ties are broken by id on both sides.
"""

from __future__ import annotations

import hashlib
import os
import re

import numpy as np

import common
from common import Op, check

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it")
JACCARD_THRESHOLD = 0.7
MAX_HAMMING = 3
TOP_K = 10


class LlmCuration:
    name = "llm_curation"
    ITER_S = 4.0  # nominal seconds per iteration (4 cores)

    def __init__(self, spark, workdir: str, seed: int, tiny: bool):
        self.spark = spark
        self.dir = workdir
        self.seed = seed
        self.n_docs = 120 if tiny else 600
        self.n_vecs = 150 if tiny else 800
        self.n_queries = 4 if tiny else 16
        self.dim = 32
        self.files = 2 if tiny else 4
        self.recall: dict[str, float] = {}

    # ---- inputs and model -------------------------------------------------
    def setup(self) -> None:
        rng = np.random.default_rng(self.seed)
        self._make_docs(rng)
        self._make_vectors(rng)
        os.makedirs(self.dir, exist_ok=True)
        self.docs_path = os.path.join(self.dir, "docs.parquet")
        self.vecs_path = os.path.join(self.dir, "vectors.parquet")
        self.queries_path = os.path.join(self.dir, "queries.parquet")
        import pyarrow as pa

        emb = pa.list_(pa.float32())
        common.write_parquet(self.docs_path, {
            "doc_id": np.arange(self.n_docs, dtype=np.int64), "text": self.texts}, self.files)
        common.write_parquet(self.vecs_path, {
            "vec_id": np.arange(self.n_vecs, dtype=np.int64),
            "embedding": pa.array(self.vecs.astype(np.float32).tolist(), emb)}, self.files)
        common.write_parquet(self.queries_path, {
            "vec_id": np.array(self.query_ids, dtype=np.int64),
            "embedding": pa.array(self.vecs[self.query_ids].astype(np.float32).tolist(), emb)})

    def _make_docs(self, rng) -> None:
        vocab: list[str] = []
        seen = set(STOPWORDS)
        letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
        while len(vocab) < 3000:
            w = "".join(rng.choice(letters, int(rng.integers(3, 9))))
            if w not in seen:
                seen.add(w)
                vocab.append(w)
        n = self.n_docs
        lengths = np.clip(np.exp(rng.normal(3.4, 0.8, n)).astype(int), 4, 400)
        docs: list[list[str]] = []
        dup_of: dict[int, int] = {}
        for i in range(n):
            base = int(rng.integers(0, i)) if i > 0 else -1
            if (base >= 0 and rng.random() < 0.15 and len(docs[base]) >= 30
                    and base not in dup_of and base not in dup_of.values()):
                toks = list(docs[base])
                k = max(1, len(toks) // 40)
                for pos in rng.choice(len(toks) // 3, k, replace=False) * 3:
                    toks[pos] = vocab[int(rng.integers(0, len(vocab)))]
                dup_of[i] = base
            else:
                toks = [
                    STOPWORDS[int(rng.integers(0, len(STOPWORDS)))] if rng.random() < 0.12
                    else vocab[int(rng.integers(0, len(vocab)))]
                    for _ in range(int(lengths[i]))
                ]
                if rng.random() < 0.1:  # punctuation-heavy: fails the quality filter
                    toks = [t + "?!" if j % 2 else t for j, t in enumerate(toks)]
            docs.append(toks)
        self.texts = [" ".join(t) for t in docs]
        toks = [_tokens(t) for t in self.texts]
        self.shingles = [_shingles(t) for t in toks]
        signs: dict[str, np.ndarray] = {}
        self.sigs = np.array([_simhash(t, signs) for t in toks], dtype=np.uint64)
        self.quality = [_quality(t, tk) for t, tk in zip(self.texts, toks)]
        self.kept = [i for i, q in enumerate(self.quality) if q >= 70]
        self.planted = {
            (min(a, b), max(a, b)) for a, b in dup_of.items()
            if _jaccard(self.shingles[a], self.shingles[b]) >= JACCARD_THRESHOLD
        }
        self.simhash_pairs = _hamming_pairs(self.sigs, MAX_HAMMING)

    def _make_vectors(self, rng) -> None:
        n, d = self.n_vecs, self.dim
        centers = rng.integers(-6, 7, (max(4, n // 25), d))
        vecs = centers[rng.integers(0, len(centers), n)] + rng.integers(-2, 3, (n, d))
        for i in np.flatnonzero(~vecs.any(axis=1)):  # cosine needs a nonzero norm
            vecs[i, 0] = 1
        self.vecs = vecs.astype(np.float64)
        self.query_ids = sorted(int(q) for q in rng.choice(n, self.n_queries, replace=False))
        self.exact_topk = _topk_reference(self.vecs, self.query_ids, TOP_K)

    # ---- one closed-loop iteration ----------------------------------------
    def ops(self) -> list[Op]:
        from pyspark.sql import functions as F

        from airflow_postgres_csv_spark.functions.texts import quality_score
        from airflow_postgres_csv_spark.operators import dedup, similarity

        spark = self.spark

        def docs():
            return spark.read.parquet(self.docs_path)

        def vecs():
            return spark.read.parquet(self.vecs_path)

        def queries():
            return spark.read.parquet(self.queries_path)

        def quality():
            return (
                docs().select("doc_id", quality_score("text"))
                .filter(F.col("quality") >= 70)
                .agg(F.count(F.lit(1)), F.sum("doc_id"), F.sum("quality"))
                .collect()[0]
            )

        def verify_quality(row):
            want = (len(self.kept), sum(self.kept), sum(self.quality[i] for i in self.kept))
            check(tuple(row) == want, f"quality filter {tuple(row)} != {want}")

        return [
            Op("texts.quality_score", 1, quality, verify_quality),
            Op("dedup.minhash_near_dup_pairs", 1,
               lambda: dedup.minhash_near_dup_pairs(
                   docs(), threshold=JACCARD_THRESHOLD).collect(),
               self._verify_minhash),
            Op("dedup.simhash_near_dup_pairs", 1,
               lambda: dedup.simhash_near_dup_pairs(docs(), max_hamming=MAX_HAMMING).collect(),
               self._verify_simhash),
            Op("similarity.topk_cosine_bruteforce", 2,
               lambda: similarity.topk_cosine_bruteforce(vecs(), queries(), k=TOP_K).collect(),
               self._verify_exact_topk),
            Op("similarity.lsh_bucket_topk", 2,
               lambda: similarity.lsh_bucket_topk(
                   vecs(), queries(), k=TOP_K, n_planes=8, n_tables=2, dim=self.dim).collect(),
               self._verify_lsh),
        ]

    # ---- checks -------------------------------------------------------------
    def _verify_minhash(self, rows) -> None:
        pairs = set()
        for r in rows:
            a, b = r["id_a"], r["id_b"]
            check(a < b and (a, b) not in pairs, f"pair ({a}, {b}) malformed or repeated")
            j = _jaccard(self.shingles[a], self.shingles[b])
            check(j >= JACCARD_THRESHOLD, f"pair ({a}, {b}) has Jaccard {j:.3f}")
            check(abs(r["jaccard"] - j) < 1e-9, f"pair ({a}, {b}) reports {r['jaccard']} != {j}")
            pairs.add((a, b))
        self.recall["dedup.minhash_near_dup_pairs.recall"] = _share(self.planted, pairs)

    def _verify_simhash(self, rows) -> None:
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in rows}
        check(len(got) == len(rows), "repeated SimHash pair")
        # four 16-bit banks: every pair within Hamming 3 shares a bank, so
        # the operator is exact and must return precisely the model's pairs
        check(got == self.simhash_pairs,
              f"SimHash pairs differ from the model ({len(got)} vs {len(self.simhash_pairs)})")
        self.recall["dedup.simhash_near_dup_pairs.recall"] = _share(self.planted, set(got))

    def _verify_exact_topk(self, rows) -> None:
        got = _by_query(rows)
        check(got == self.exact_topk, "exact top-k differs from the numpy reference")

    def _verify_lsh(self, rows) -> None:
        got = _by_query(rows)
        hits = 0
        for q, res in got.items():
            check(q in self.exact_topk and len(res) <= TOP_K, f"query {q}: bad result set")
            want = self.exact_topk[q]
            cos = _cosines(self.vecs, q, [nb for nb, _ in res])
            check(all(c == w for (_, c), w in zip(res, cos)), f"query {q}: wrong cosine")
            check(res == sorted(res, key=lambda t: (-t[1], t[0])), f"query {q}: misordered")
            check(all(nb != q for nb, _ in res), f"query {q}: returned itself")
            hits += len({nb for nb, _ in res} & {nb for nb, _ in want})
        self.recall["similarity.lsh_bucket_topk.recall"] = hits / (TOP_K * len(self.exact_topk))


# ---- the model: Python re-statements of the engine's definitions ----------
def _tokens(text: str) -> list[str]:
    """``texts.tokens``: lowercase, collapse whitespace, trim, split."""
    return re.sub(r"\s+", " ", text.lower()).strip().split(" ")


def _shingles(toks: list[str], n: int = 3) -> frozenset:
    if len(toks) < n:
        return frozenset()
    return frozenset(" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1))


def _jaccard(a: frozenset, b: frozenset) -> float:
    common = len(a & b)
    union = len(a) + len(b) - common
    return common / union if union else 0.0


def _simhash(toks: list[str], signs: dict) -> int:
    """``dedup.simhash_bits``: bit b is the sign of the sum over tokens of
    +-1 by bit ``b % 4`` of hex nibble ``b // 4`` of md5(token).
    ``signs`` caches each token's +-1 vector."""
    total = np.zeros(64, dtype=np.int64)
    for t in toks:
        v = signs.get(t)
        if v is None:
            h = hashlib.md5(t.encode()).hexdigest()
            v = signs[t] = np.array(
                [1 if (int(h[b // 4], 16) >> (b % 4)) & 1 else -1 for b in range(64)])
        total += v
    return int(sum(1 << b for b in range(64) if total[b] > 0))


def _hamming_pairs(sigs: np.ndarray, max_d: int) -> dict:
    out = {}
    for i in range(len(sigs) - 1):
        x = sigs[i + 1:] ^ sigs[i]
        d = np.zeros(len(x), dtype=np.int64)
        for shift in range(0, 64, 8):
            d += _POP8[((x >> np.uint64(shift)) & np.uint64(255)).astype(np.int64)]
        for j in np.flatnonzero(d <= max_d):
            out[(i, i + 1 + int(j))] = int(d[j])
    return out


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _quality(text: str, toks: list[str]) -> int:
    """``texts.quality_score``: length band, punctuation ratio, stopwords."""
    punct = len(re.sub(r"[A-Za-z0-9\s]", "", text)) / len(text)
    stop = sum(t in STOPWORDS for t in toks) / len(toks)
    return 40 * (100 <= len(text) <= 5000) + 30 * (punct < 0.10) + 30 * (stop > 0.01)


def _cosines(vecs: np.ndarray, q: int, ids: list[int]) -> list[float]:
    """Cosine as the engine folds it: dot / sqrt(|a|^2 * |b|^2)."""
    x = vecs[ids]
    dots = x @ vecs[q]
    return list(dots / np.sqrt((x * x).sum(axis=1) * (vecs[q] @ vecs[q])))


def _topk_reference(vecs: np.ndarray, query_ids: list[int], k: int) -> dict:
    out = {}
    ids = list(range(len(vecs)))
    for q in query_ids:
        cos = _cosines(vecs, q, ids)
        ranked = sorted((c_id for c_id in ids if c_id != q), key=lambda i: (-cos[i], i))
        out[q] = [(i, cos[i]) for i in ranked[:k]]
    return out


def _by_query(rows) -> dict:
    got: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        got.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    return got


def _share(want: set, got: set) -> float:
    return len(want & got) / len(want) if want else 1.0
