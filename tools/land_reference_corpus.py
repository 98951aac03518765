"""Land the reference's 355-chapter corpus as (doc_id, text) parquet.

Gives ``reference_corpus_index`` a driver-visible DuckDB oracle: the
gate's hash compare needs the corpus queryable from SQL, and manifest
order is NOT filename-sort order (``chapter_10`` sorts before
``chapter_2``), so a ``read_text(glob)`` + ``row_number() OVER (ORDER BY
filename)`` oracle would misnumber documents. This script assigns
1-based doc ids by walking the manifest with a plain Python loop
(reference ``src/tema1.cpp:353`` semantics), deliberately independent of
the Spark manifest source it serves as the oracle for.

Idempotent: re-run refreshes the parquet. The output is committed to the
repo (the corpus is 6.4 MB of public-domain text; parquet is smaller) so
the oracle works regardless of whether the driver's DuckDB pass runs
before the Spark pass. Where the reference checkout is absent, the
tests' ``reference_manifest`` fixture (``tests/conftest.py``) also
rebuilds a stand-in manifest and its chapter files from this parquet,
so re-landing it changes what those tests read.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

MANIFEST = "/root/reference/checker/test.txt"
OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "refdata",
    "reference_corpus.parquet",
)


def land(manifest: str = MANIFEST, out: str = OUT) -> str:
    base = os.path.dirname(os.path.abspath(manifest))
    with open(manifest, encoding="utf-8") as fh:
        lines = [ln.strip() for ln in fh.read().splitlines() if ln.strip()]
    n = int(lines[0])
    rels = lines[1 : 1 + n]
    ids, texts = [], []
    for i, rel in enumerate(rels, start=1):
        with open(os.path.join(base, rel), encoding="utf-8", errors="replace") as fh:
            texts.append(fh.read())
        ids.append(i)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array(ids, pa.int64()),
                "text": pa.array(texts, pa.string()),
            }
        ),
        out,
        compression="zstd",
    )
    return out


if __name__ == "__main__":
    print(land())
