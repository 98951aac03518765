"""Shared scoping of the committed HTML fixture
(refdata/html_fixture.parquet, tools/gen_html_fixture.py) — the same
``doc_id % 2000`` discipline as the unicode fixture (queries/_unicode.py):
every sf exercises the full piece-template cycle, and the Spark join
and the oracle CTE live here ONCE so entries cannot silently diverge."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.catalog import REFDATA_DIR, load_table, read_parquet

HTML_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "html_fixture.parquet")

# DuckDB CTE mirroring scoped_html_docs — interpolate as
# f"WITH {HDOCS_CTE}, ..." and select from `hdocs`.
HDOCS_CTE = f"""hdocs AS (
    SELECT doc_id, html
    FROM read_parquet('{HTML_FIXTURE_PARQUET}')
    WHERE doc_id % 2000 IN (SELECT doc_id % 2000 FROM documents)
)"""


def scoped_html_docs(
    spark: SparkSession, sf_dir: str, cols: tuple[str, ...] = ("doc_id", "html")
) -> DataFrame:
    """The fixture scoped to the sf's documents (broadcast semi-join
    on doc_id % 2000), projected to ``cols``."""
    fixture = read_parquet(spark, HTML_FIXTURE_PARQUET)
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    return fixture.join(
        F.broadcast(ids), fixture["doc_id"] % 2000 == ids["fid"]
    ).select(*cols)
