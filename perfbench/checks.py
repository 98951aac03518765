"""Expected outputs, computed without Spark, and the comparisons.

- index_build: the 26 letter files rendered in pure Python from the
  paper's semantics: split on space/tab/newline, strip non-letters,
  lowercase, distinct per document, 1-based manifest ids, rows ordered
  df desc then word asc, each row ``word:[id id ...]``.
- neardup: the registry's own DuckDB oracle SQL for
  ``dedup_minhash_lsh_pairs`` and ``dedup_ngram_jaccard``, run over a
  ``documents`` view of the generated parquet.
- serve: an independent Python BM25 with the engine's rounding contract
  (per-term score rounded to 8 dp and summed exactly, total rounded to
  4 dp; ties by doc_id), and exact numpy cosine for the ANN responses.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import re
import string
from collections import Counter
from decimal import ROUND_HALF_UP, Decimal

import numpy as np

_SPLIT = re.compile(r"[ \t\n]+")
_NON_ALPHA = re.compile(r"[^A-Za-z]")
BM25_K1, BM25_B, BM25_K = 1.2, 0.75, 5
ANN_K = 10


def words(text: str) -> list[str]:
    """Cleaned tokens in document order."""
    out = []
    for tok in _SPLIT.split(text):
        w = _NON_ALPHA.sub("", tok).lower()
        if w:
            out.append(w)
    return out


def read_corpus(manifest: str) -> list[str]:
    base = os.path.dirname(manifest)
    with open(manifest, encoding="utf-8") as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    texts = []
    for p in lines[1 : int(lines[0]) + 1]:
        with open(os.path.join(base, p), encoding="utf-8") as fh:
            texts.append(fh.read())
    return texts


# ---- index_build ----


def letter_files(texts: list[str]) -> dict[str, bytes]:
    postings: dict[str, list[int]] = {}
    for doc_id, text in enumerate(texts, start=1):
        for w in set(words(text)):
            postings.setdefault(w, []).append(doc_id)
    out = {}
    for letter in string.ascii_lowercase:
        rows = sorted(
            ((w, sorted(ids)) for w, ids in postings.items() if w[0] == letter),
            key=lambda r: (-len(r[1]), r[0]),
        )
        body = "".join(f"{w}:[{' '.join(map(str, ids))}]\n" for w, ids in rows)
        out[letter] = body.encode("utf-8")
    return out


def letter_digests(files: dict[str, bytes]) -> dict[str, str]:
    return {k: hashlib.sha256(v).hexdigest() for k, v in files.items()}


def read_letter_digests(out_dir: str) -> dict[str, str]:
    """Digest of each ``{letter}.txt`` the program wrote (absent = None)."""
    got = {}
    for letter in string.ascii_lowercase:
        p = os.path.join(out_dir, f"{letter}.txt")
        if os.path.exists(p):
            with open(p, "rb") as fh:
                got[letter] = hashlib.sha256(fh.read()).hexdigest()
        else:
            got[letter] = None
    return got


def letter_mismatches(expected: dict[str, str], got: dict[str, str]) -> list[str]:
    return [k for k in string.ascii_lowercase if expected.get(k) != got.get(k)]


# ---- neardup ----


def neardup_expected(documents_parquet: str) -> tuple[set, dict]:
    """(candidate pairs, {pair: jaccard}) from the registry's oracles."""
    import duckdb

    from parallel_map_reduce_spark.registry import all_queries

    specs = all_queries()
    con = duckdb.connect()
    try:
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{documents_parquet}'")
        cand = {
            (int(a), int(b))
            for a, b in con.sql(specs["dedup_minhash_lsh_pairs"].oracle).fetchall()
        }
        jac = {
            (int(a), int(b)): float(j)
            for a, b, j in con.sql(specs["dedup_ngram_jaccard"].oracle).fetchall()
        }
    finally:
        con.close()
    return cand, jac


def neardup_ok(got_cand, got_jac, cand: set, jac: dict) -> bool:
    if {tuple(p) for p in got_cand} != cand or len(got_cand) != len(cand):
        return False
    got = {(a, b): j for a, b, j in got_jac}
    return got.keys() == jac.keys() and all(
        abs(got[k] - jac[k]) <= 1e-12 for k in jac
    )


# ---- serve ----


class Bm25:
    """The corpus's BM25 statistics, built from the generated files."""

    def __init__(self, texts: list[str]):
        self.tf: dict[str, dict[int, int]] = {}
        self.dl: dict[int, int] = {}
        for doc_id, text in enumerate(texts, start=1):
            ws = words(text)
            if not ws:
                continue
            self.dl[doc_id] = len(ws)
            for w, c in Counter(ws).items():
                self.tf.setdefault(w, {})[doc_id] = c
        self.n = len(self.dl)
        self.avgdl = sum(self.dl.values()) / self.n

    def requests(self, seed: int, count: int) -> list[list[str]]:
        """Two-term queries: one term from the common df band (top 2% of
        the vocabulary by df) and one from the rare band (df 2..5)."""
        rng = random.Random(seed)
        by_df = sorted(self.tf, key=lambda w: (-len(self.tf[w]), w))
        common = by_df[: max(1, len(by_df) // 50)]
        rare = [w for w in by_df if 2 <= len(self.tf[w]) <= 5]
        return [[rng.choice(common), rng.choice(rare)] for _ in range(count)]

    def rank(self, terms: list[str], k: int = BM25_K) -> list[tuple[int, float, int]]:
        scores: dict[int, Decimal] = {}
        for w in sorted(set(terms)):
            posting = self.tf.get(w, {})
            df = len(posting)
            idf = math.log(1.0 + (self.n - df + 0.5) / (df + 0.5))
            for doc_id, tf in posting.items():
                part = (tf * (BM25_K1 + 1)) / (
                    tf
                    + BM25_K1 * ((1 - BM25_B) + BM25_B * self.dl[doc_id] / self.avgdl)
                )
                s = _round_half_up(idf * part, 8)
                scores[doc_id] = scores.get(doc_id, Decimal(0)) + s
        ranked = sorted(
            ((d, float(_round_half_up(float(s), 4))) for d, s in scores.items()),
            key=lambda r: (-r[1], r[0]),
        )
        return [(d, s, i + 1) for i, (d, s) in enumerate(ranked[:k])]


def _round_half_up(x: float, dp: int) -> Decimal:
    return Decimal(repr(x)).quantize(Decimal(1).scaleb(-dp), rounding=ROUND_HALF_UP)


def bm25_ok(got: list, want: list) -> bool:
    return len(got) == len(want) and all(
        g[0] == w[0] and g[2] == w[2] and abs(g[1] - w[1]) <= 1.5e-4
        for g, w in zip(got, want)
    )


def load_vectors(path: str) -> np.ndarray:
    import pyarrow.parquet as pq

    t = pq.read_table(path)
    emb = t.column("embedding").combine_chunks().flatten().to_numpy()
    return emb.reshape(t.num_rows, -1)


def ann_exact(emb: np.ndarray, qid: int, k: int = ANN_K) -> list[int]:
    """Exact cosine top-k vec_ids (1-based) for query ``qid``, self excluded."""
    q = emb[qid - 1]
    cos = emb @ q / (np.linalg.norm(emb, axis=1) * np.linalg.norm(q))
    cos[qid - 1] = -np.inf
    order = np.lexsort((np.arange(len(cos)), -cos))
    return [int(i) + 1 for i in order[:k]]


def ann_ok(rows: list, emb: np.ndarray, qid: int) -> bool:
    """A valid ANN response: at most k distinct non-self neighbours,
    ranked 1.. by exact cosine (descending), each cosine correct."""
    if len(rows) > ANN_K or [r[3] for r in rows] != list(range(1, len(rows) + 1)):
        return False
    q = emb[qid - 1]
    prev = math.inf
    seen = set()
    for query_id, vec_id, cos, _ in rows:
        if query_id != qid or vec_id == qid or vec_id in seen:
            return False
        seen.add(vec_id)
        v = emb[vec_id - 1]
        exact = float(v @ q / (np.linalg.norm(v) * np.linalg.norm(q)))
        if abs(cos - exact) > 1e-9 or cos > prev + 1e-12:
            return False
        prev = cos
    return True
