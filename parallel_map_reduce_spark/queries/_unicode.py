"""Shared scoping of the committed multi-script UTF-8 fixture
(refdata/unicode_fixture.parquet, tools/gen_unicode_fixture.py).

Every unicode-contract entry scopes the 2,000-doc fixture to the sf's
documents via ``doc_id % 2000`` (so every sf exercises all scripts:
sf0.001/0.01 ship doc_ids 0..499 — a plain IN join would always pick
the same quarter of the fixture). The Spark join and the oracle's CTE
live HERE once (review r14: three copy-pasted scoping blocks in two
files would let the entries' Spark sides silently diverge from each
other under a future scoping change)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import REFDATA_DIR, load_table, read_parquet

UNICODE_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "unicode_fixture.parquet")

# DuckDB CTE mirroring scoped_unicode_docs — interpolate as
# f"WITH {UDOCS_CTE}, ..." and select from `udocs`.
UDOCS_CTE = f"""udocs AS (
    SELECT doc_id, text, script
    FROM read_parquet('{UNICODE_FIXTURE_PARQUET}')
    WHERE doc_id % 2000 IN (SELECT doc_id % 2000 FROM documents)
)"""


def scoped_unicode_docs(
    spark: SparkSession, sf_dir: str, cols: tuple[str, ...] = ("doc_id", "text")
) -> DataFrame:
    """The fixture scoped to the sf's documents (broadcast semi-join
    on doc_id % 2000), projected to ``cols``."""
    fixture = read_parquet(spark, UNICODE_FIXTURE_PARQUET)
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    return fixture.join(
        F.broadcast(ids), fixture["doc_id"] % 2000 == ids["fid"]
    ).select(*cols)


NFC_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "nfc_fixture.parquet")

# DuckDB CTE mirroring scoped_nfc_docs (r15 NFC contract —
# tools/gen_nfc_fixture.py).
NDOCS_CTE = f"""ndocs AS (
    SELECT doc_id, text
    FROM read_parquet('{NFC_FIXTURE_PARQUET}')
    WHERE doc_id % 2000 IN (SELECT doc_id % 2000 FROM documents)
)"""


def scoped_nfc_docs(
    spark: SparkSession, sf_dir: str, cols: tuple[str, ...] = ("doc_id", "text")
) -> DataFrame:
    """The NFC fixture scoped to the sf's documents (broadcast
    semi-join on doc_id % 2000), projected to ``cols``."""
    fixture = read_parquet(spark, NFC_FIXTURE_PARQUET)
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    return fixture.join(
        F.broadcast(ids), fixture["doc_id"] % 2000 == ids["fid"]
    ).select(*cols)
