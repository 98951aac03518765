"""Seeded input generator for the benchmark.

Every input is a pure function of ``(seed, sizes)``: the program under
test only ever sees the files written here.

- corpus: disjoint runs of consecutive lines cut from
  ``refdata/reference_corpus.parquet`` (real English chapters, so the
  vocabulary is Zipf-shaped), sampled without replacement until a byte
  budget is met. Run lengths are log-normal, which gives a spread of
  document sizes. Written as one whole-text file per document plus the
  reference's manifest format (first line N, then N paths).
- neardup: the same generator, plus planted near-duplicates: copies of
  a share of the base documents with a small share of their tokens
  replaced. The planted (original, copy) pairs are the ground truth.
  Landed as a ``documents(doc_id, text)`` parquet file.
- vectors: a 64-d Gaussian mixture, written with pyarrow so no
  ``spark.createDataFrame`` call sits inside a timed window.

Run ``python3 perfbench/gen.py <seed> <out_dir> [workload]`` to write the
inputs and print their digest.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REFERENCE_CORPUS = os.path.join("refdata", "reference_corpus.parquet")

# Sizes are fixed per workload (never derived from the seed), so the
# seed changes content but not the amount of work.
CORPUS_BYTES = 1_500_000
SERVE_CORPUS_BYTES = 300_000  # serving touches little of it per request
NEARDUP_BASE_BYTES = 600_000
NEARDUP_SHARE = 0.2  # share of base documents that get a planted copy
NEARDUP_EDIT = 0.02  # share of a copy's tokens replaced
VECTORS = 5_000
DIM = 64
MIXTURE = 24
RUN_LINES_MEDIAN = 12  # log-normal run length (lines) per document


def _source_lines(root: str) -> list[str]:
    table = pq.read_table(os.path.join(root, REFERENCE_CORPUS), columns=["text"])
    lines: list[str] = []
    for text in table.column("text").to_pylist():
        lines.extend(text.split("\n"))
    return lines


def _documents(rng: random.Random, lines: list[str], budget: int) -> list[str]:
    """Cut the line stream into disjoint runs, then draw runs without
    replacement until ``budget`` bytes are reached. Disjoint runs keep
    accidental overlap between documents out of the near-dup workload."""
    runs: list[tuple[int, int]] = []
    i = 0
    while i < len(lines):
        n = max(3, min(400, int(rng.lognormvariate(np.log(RUN_LINES_MEDIAN), 0.8))))
        runs.append((i, min(len(lines), i + n)))
        i += n
    rng.shuffle(runs)
    docs: list[str] = []
    total = 0
    for a, b in runs:
        text = "\n".join(lines[a:b]) + "\n"
        if not text.strip():
            continue
        docs.append(text)
        total += len(text.encode("utf-8"))
        if total >= budget:
            break
    return docs


def write_corpus(seed: int, root: str, out: str, budget: int = CORPUS_BYTES) -> dict:
    """Whole-text files plus a manifest; returns the input description."""
    rng = random.Random(seed)
    docs = _documents(rng, _source_lines(root), budget)
    doc_dir = os.path.join(out, "docs")
    os.makedirs(doc_dir, exist_ok=True)
    names = []
    for i, text in enumerate(docs):
        name = f"doc{i:05d}.txt"
        with open(os.path.join(doc_dir, name), "w", encoding="utf-8") as fh:
            fh.write(text)
        names.append(os.path.join("docs", name))
    manifest = os.path.join(out, "manifest.txt")
    with open(manifest, "w", encoding="utf-8") as fh:
        fh.write(f"{len(names)}\n" + "".join(n + "\n" for n in names))
    return {
        "manifest": manifest,
        "docs": len(docs),
        "input_bytes": sum(len(t.encode("utf-8")) for t in docs),
    }


def write_neardup(seed: int, root: str, out: str) -> dict:
    """documents.parquet with planted near-duplicates; returns the
    description including the planted (doc_a < doc_b) pairs."""
    rng = random.Random(seed)
    lines = _source_lines(root)
    base = _documents(rng, lines, NEARDUP_BASE_BYTES)
    vocab = sorted({w for t in base for w in t.split()})
    texts = list(base)
    planted_src = rng.sample(range(len(base)), int(len(base) * NEARDUP_SHARE))
    for src in planted_src:
        toks = base[src].split(" ")
        for j in range(len(toks)):
            if rng.random() < NEARDUP_EDIT:
                toks[j] = rng.choice(vocab)
        texts.append(" ".join(toks))
    ids = list(range(1, len(texts) + 1))
    rng.shuffle(ids)
    planted = sorted(
        tuple(sorted((ids[src], ids[len(base) + k])))
        for k, src in enumerate(planted_src)
    )
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "documents.parquet")
    pq.write_table(
        pa.table(
            {"doc_id": pa.array(ids, pa.int64()), "text": pa.array(texts, pa.string())}
        ),
        path,
    )
    return {
        "documents": path,
        "docs": len(texts),
        "input_bytes": sum(len(t.encode("utf-8")) for t in texts),
        "planted": [list(p) for p in planted],
    }


def write_vectors(seed: int, out: str) -> dict:
    """embeddings(vec_id BIGINT, embedding ARRAY<DOUBLE>) parquet."""
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(MIXTURE, DIM))
    labels = rng.integers(0, MIXTURE, size=VECTORS)
    emb = centers[labels] + 0.45 * rng.normal(size=(VECTORS, DIM))
    os.makedirs(out, exist_ok=True)
    path = os.path.join(out, "embeddings.parquet")
    flat = pa.array(emb.reshape(-1), pa.float64())
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(1, VECTORS + 1), pa.int64()),
                "embedding": pa.ListArray.from_arrays(
                    pa.array(np.arange(0, VECTORS * DIM + 1, DIM), pa.int32()), flat
                ),
            }
        ),
        path,
        row_group_size=2048,
    )
    return {"embeddings": path, "vectors": VECTORS, "dim": DIM, "input_bytes": emb.nbytes}


def generate(seed: int, root: str, out: str, workload: str) -> dict:
    """Write ``workload``'s inputs under ``out``; returns their description."""
    if workload == "index_build":
        return {"corpus": write_corpus(seed, root, os.path.join(out, "corpus"))}
    if workload == "neardup":
        return {"neardup": write_neardup(seed, root, os.path.join(out, "neardup"))}
    if workload == "serve":
        return {
            "corpus": write_corpus(seed, root, os.path.join(out, "corpus"), SERVE_CORPUS_BYTES),
            "vectors": write_vectors(seed, os.path.join(out, "vectors")),
        }
    raise ValueError(f"unknown workload {workload!r}")


def tree_digest(out: str) -> str:
    """sha256 over every generated file's relative path and bytes.
    Parquet files carry no timestamps, so equal inputs give equal bytes."""
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(out)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, out).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


if __name__ == "__main__":
    seed, out = int(sys.argv[1]), sys.argv[2]
    workloads = sys.argv[3:] or ["index_build", "neardup", "serve"]
    for w in workloads:
        generate(seed, os.getcwd(), os.path.join(out, w), w)
        print(json.dumps({"workload": w, "digest": tree_digest(os.path.join(out, w))}))
