"""Worker-side pieces shared by the engine's Arrow kernels.

The ``mapInArrow`` kernels in ``operators/`` replicate JVM expressions
bit for bit (the DuckDB oracles hash-check them). What they share lives
here once: the ASCII tokenizer and shingler, a bounded md5 memo, and
the dimension-by-dimension dot and norm folds of ``functions/vector``
(``dot``, ``l2_norm``), which the driver-side replicas in
``operators/similarity.py`` use too.

No pyspark import: ``operators/__init__`` registers this module with
cloudpickle to be pickled by value, so each kernel closure carries the
helpers it calls and a Python worker needs no import path to the
package.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np

# Split contract: ONLY space / tab / newline (reference src/tema1.cpp:144).
TOKEN_SPLIT_REGEX = "[ \t\n]+"
# Normalize contract: strip non-ASCII-letters, lowercase (src/tema1.cpp:88-99).
NON_ALPHA_REGEX = "[^A-Za-z]"

# NON_ALPHA_REGEX widened to keep the separators: one pass strips
# every token of the text at once.
_STRIP_RE = re.compile(r"[^A-Za-z \t\n]")
_SPLIT_RE = re.compile(TOKEN_SPLIT_REGEX)


def ascii_words(text: str | None) -> list[str]:
    """Cleaned tokens in document order, empties dropped: the Python
    twin of ``dedup.clean_words_array``. The JVM splits, then strips
    and lowercases each token; stripping the whole text first is
    equivalent because removal never touches a separator. Lowering
    AFTER the strip only sees ASCII, as in the engine; lowering first
    would mint ASCII letters from "İ" and the Kelvin sign."""
    if not text:
        return []
    return [w for w in _SPLIT_RE.split(_STRIP_RE.sub("", text).lower()) if w]


def distinct_shingles(words: list[str], k: int) -> set[str]:
    """The distinct k-token shingles of ``words``, each ' '-joined like
    ``array_join(slice(words, i, k), ' ')``; empty below k words."""
    return {" ".join(words[i : i + k]) for i in range(len(words) - k + 1)}


# One entry cap for every per-task md5 memo. Keys past the cap are
# hashed but not stored, so the cap changes the hit rate, never a value.
# Worst-case memory per task at the cap, measured on CPython 3.11 (a
# dict slot plus an int value is ~61 B, ~110 B with a 32-char hex
# value; a str key is 49 B plus its length):
#   - winnowing, 8-char grams, int values:                  ~31 MB
#   - minhash, 3-token shingles (~20 chars), int values:    ~34 MB
#   - repeated substrings, 12-token grams (~70 chars), hex: ~60 MB
# Corpora of unusually long tokens add their longer keys on top.
MD5_MEMO_CAP = 1 << 18


def md5_memo(full_hex: bool = False):
    """A per-task md5 memo ``hashes(keys) -> list``: per str key (hashed
    as UTF-8), the 32-bit prefix ``int(md5[:8], 16)`` — the dedup
    family's ``conv(substring(md5(k), 1, 8), 16, 10)`` — or, with
    ``full_hex``, the whole hex digest. Build one inside a kernel's
    partition function, so a retried task starts afresh, and call it
    once per document."""
    cap = MD5_MEMO_CAP
    memo: dict[str, int | str] = {}

    def hashes(keys) -> list:
        out = []
        for key in keys:
            h = memo.get(key)
            if h is None:
                d = hashlib.md5(key.encode("utf-8"))
                h = d.hexdigest() if full_hex else int.from_bytes(d.digest()[:4], "big")
                if len(memo) < cap:
                    memo[key] = h
            out.append(h)
        return out

    return hashes


def embedding_matrix(col) -> np.ndarray:
    """(n, dim) float64 matrix of a non-empty Arrow list column."""
    return np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)


def fold_dot(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """(n, m) row dots ``a[i] . b[j]`` summed one dimension at a time,
    left to right from 0.0 — the ``dot`` fold's order, so every double
    equals the JVM's (a BLAS matmul re-associates the sum)."""
    acc = np.zeros((a.shape[0], b.shape[0]))
    for i in range(a.shape[1]):
        acc = acc + a[:, i : i + 1] * b[:, i]
    return acc


def fold_norms(x: np.ndarray) -> np.ndarray:
    """Row L2 norms: the sqrt of each row's squares summed in
    ``fold_dot``'s order, so every double equals ``l2_norm``'s."""
    acc = np.zeros(x.shape[0])
    for i in range(x.shape[1]):
        acc = acc + x[:, i] * x[:, i]
    return np.sqrt(acc)


def centroid_scorer(cent_rows):
    """cid-ascending (centroid_id, vector, l2 norm) triples →
    ``(cids, nearest)``; ``nearest(embs, nrm)`` is each row's index into
    ``cids`` of the highest ``dot / (nrm * c_nrm)`` cosine. np.argmax
    takes the FIRST max, max_by's (c_cos, -centroid_id) tie-break; a
    NaN cosine (zero norm) is 'greatest' under both orders, so both
    pick the lowest such cid."""
    cids = np.array([c[0] for c in cent_rows], dtype=np.int32)
    cmat = np.array([c[1] for c in cent_rows], dtype=np.float64)
    cnrm = np.array([c[2] for c in cent_rows], dtype=np.float64)

    def nearest(embs: np.ndarray, nrm: np.ndarray) -> np.ndarray:
        cos = fold_dot(embs, cmat) / (nrm[:, None] * cnrm[None, :])
        return np.argmax(cos, axis=1)

    return cids, nearest


def pq_codes(x: np.ndarray, books) -> np.ndarray:
    """(n, m) int32 PQ codes of the rows of ``x``: per subspace s, the
    index of the ``books[s]`` row nearest to ``x``'s s-th subslice by
    squared distance. Each distance is folded one dimension at a time
    from 0.0 and np.argmin takes the FIRST minimum, so a code is the
    lowest index among equal distances."""
    n = x.shape[0]
    codes = np.empty((n, len(books)), dtype=np.int32)
    for s, book in enumerate(books):
        cs = np.asarray(book, dtype=np.float64)
        w = cs.shape[1]
        xs = x[:, s * w : (s + 1) * w]
        d = np.zeros((n, cs.shape[0]))
        for i in range(w):
            diff = xs[:, i : i + 1] - cs[None, :, i]
            d = d + diff * diff
        codes[:, s] = np.argmin(d, axis=1)
    return codes
