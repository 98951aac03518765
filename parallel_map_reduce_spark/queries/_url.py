"""Shared scoping of the committed URL fixture
(refdata/url_fixture.parquet, tools/gen_url_fixture.py) — the same
``doc_id % 2000`` discipline as the unicode/html/nfc fixtures."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import REFDATA_DIR, load_table, read_parquet

URL_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "url_fixture.parquet")

# DuckDB CTE mirroring scoped_url_docs.
UDOCS_URL_CTE = f"""urldocs AS (
    SELECT doc_id, url
    FROM read_parquet('{URL_FIXTURE_PARQUET}')
    WHERE doc_id % 2000 IN (SELECT doc_id % 2000 FROM documents)
)"""


def scoped_url_docs(
    spark: SparkSession, sf_dir: str, cols: tuple[str, ...] = ("doc_id", "url")
) -> DataFrame:
    """The fixture scoped to the sf's documents (broadcast semi-join
    on doc_id % 2000), projected to ``cols``."""
    fixture = read_parquet(spark, URL_FIXTURE_PARQUET)
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    return fixture.join(
        F.broadcast(ids), fixture["doc_id"] % 2000 == ids["fid"]
    ).select(*cols)
