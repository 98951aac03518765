"""Retrieval queries (operators/search.py) with DuckDB oracles.

Phrase search is oracled by an INDEPENDENT formulation (adjacent-seq
self-join) rather than a transcription of the positional-array
algorithm — agreement between the two is the semantic proof. BM25's
oracle mirrors the formula with the same 4-dp rounding (ln is not
correctly-rounded across libms)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import search as SE
from ..registry import register
from ..sources.catalog import load_table, read_parquet
from ._sql import ORDERED_WORDS_CTE

PHRASE = ("table", "hash")
BM25_TERMS = ("table", "hash", "spark")


@register(
    "search_positional_index",
    oracle=f"""
WITH {ORDERED_WORDS_CTE}
SELECT word, doc_id,
       array_to_string(list(seq ORDER BY seq), ',') AS positions_str,
       COUNT(*)::BIGINT AS tf
FROM ordered_words
GROUP BY word, doc_id
""",
    doc="Positional inverted index: sorted 1-based token positions per "
    "(word, doc) — ONE shuffle (the canonical index build), positions "
    "held as an array, never rows. The phrase-query-capable extension "
    "of the reference's posting lists (src/tema1.cpp:194-210). "
    "operators/search.py:positional_index.",
    tags=("search", "reference-extension", "index"),
)
def search_positional_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    idx = SE.positional_index(load_table(spark, sf_dir, "documents"))
    return idx.select(
        "word",
        "doc_id",
        F.array_join(
            F.transform("positions", lambda p: p.cast("string")), ","
        ).alias("positions_str"),
        "tf",
    )


@register(
    "search_phrase",
    oracle=f"""
WITH {ORDERED_WORDS_CTE}
SELECT a.doc_id, COUNT(*)::BIGINT AS n_matches
FROM ordered_words a JOIN ordered_words b
  ON a.doc_id = b.doc_id AND b.seq = a.seq + 1
WHERE a.word = '{PHRASE[0]}' AND b.word = '{PHRASE[1]}'
GROUP BY a.doc_id
""",
    doc=f"Exact phrase search ('{' '.join(PHRASE)}') via the positional "
    "index: per-doc ARRAY intersection of shifted position lists — no "
    "positional self-join row blowup; the doc-wise inner joins "
    "pre-filter to documents containing every term. Oracle is the "
    "independent adjacent-seq self-join formulation. "
    "operators/search.py:phrase_search.",
    tags=("search", "phrase", "custom-operator"),
)
def search_phrase(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.phrase_search(load_table(spark, sf_dir, "documents"), PHRASE)


def _bm25_oracle() -> str:
    terms = ", ".join(f"'{t}'" for t in BM25_TERMS)
    k1, b = SE.BM25_K1, SE.BM25_B
    return f"""
WITH {ORDERED_WORDS_CTE},
dl AS (SELECT doc_id, COUNT(*) AS dl FROM ordered_words GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, word, COUNT(*) AS tf
    FROM ordered_words WHERE word IN ({terms})
    GROUP BY doc_id, word
),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word)
SELECT tf.doc_id,
       ROUND(SUM(
           ln(1.0 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
           * (tf.tf * ({k1} + 1)) / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / corpus.avgdl))
       ), 4) AS score
FROM tf
JOIN df USING (word)
JOIN dl ON dl.doc_id = tf.doc_id
CROSS JOIN corpus
GROUP BY tf.doc_id
"""


@register(
    "search_bm25",
    oracle=_bm25_oracle(),
    doc=f"BM25 ranked retrieval for query {list(BM25_TERMS)}: scores "
    "every matching document from the index's own statistics (tf, df, "
    "doc length) plus a 1-row broadcast corpus aggregate (N, avgdl). "
    "Lucene-style always-positive idf; 4-dp rounding on both sides "
    "since ln is not correctly-rounded across libms. "
    "operators/search.py:bm25_scores.",
    tags=("search", "ranking", "bm25"),
)
def search_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.bm25_scores(load_table(spark, sf_dir, "documents"), BM25_TERMS)


# A small fixed query workload for the multi-query serving entry — the
# batch shape a retrieval service sees. Terms chosen to hit the corpus
# vocabulary at different selectivities.
BM25_QUERY_BATCH: dict[str, tuple[str, ...]] = {
    "q_infra": ("table", "hash", "spark"),
    "q_data": ("data", "stream"),
    "q_mixed": ("table", "data", "model"),
    "q_rare": ("spark", "model"),
}
_MULTI_K = 5


def _bm25_multi_oracle() -> str:
    k1, b = SE.BM25_K1, SE.BM25_B
    q_rows = sorted(
        {(qid, t) for qid, ts in BM25_QUERY_BATCH.items() for t in ts}
    )
    values = ",\n        ".join(f"('{q}', '{t}')" for q, t in q_rows)
    all_terms = sorted({t for _, t in q_rows})
    terms_list = ", ".join(f"'{t}'" for t in all_terms)
    return f"""
WITH {ORDERED_WORDS_CTE},
queries(query, word) AS (
    VALUES {values}
),
dl AS (SELECT doc_id, COUNT(*) AS dl FROM ordered_words GROUP BY doc_id),
corpus AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dl),
tf AS (
    SELECT doc_id, word, COUNT(*) AS tf FROM ordered_words
    WHERE word IN ({terms_list})
    GROUP BY doc_id, word
),
df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
per_term AS (
    SELECT q.query, tf.doc_id,
           CAST(ROUND(
               ln(1.0 + (corpus.n_docs - df.df + 0.5) / (df.df + 0.5))
               * (tf.tf * ({k1} + 1)) / (tf.tf + {k1} * (1 - {b} + {b} * dl.dl / corpus.avgdl))
           , 8) AS DECIMAL(18,8)) AS s
    FROM tf
    JOIN queries q USING (word)
    JOIN df USING (word)
    JOIN dl ON dl.doc_id = tf.doc_id
    CROSS JOIN corpus
),
per_qd AS (
    SELECT query, doc_id, ROUND(CAST(SUM(s) AS DOUBLE), 4) AS score
    FROM per_term GROUP BY query, doc_id
)
SELECT query, doc_id, score, rank FROM (
    SELECT query, doc_id, score,
           ROW_NUMBER() OVER (PARTITION BY query
                              ORDER BY score DESC, doc_id ASC) AS rank
    FROM per_qd
) WHERE rank <= {_MULTI_K}
"""


@register(
    "search_bm25_multi",
    oracle=_bm25_multi_oracle(),
    doc=f"Multi-query BM25 top-{_MULTI_K} serving: a {len(BM25_QUERY_BATCH)}-"
    "query batch ranked from ONE statistics build — index-side tf/df/dl "
    "computed once, the (word -> queries) batch a map literal, so adding "
    "queries never adds corpus passes (the retrieval-service shape; at "
    "100 TB the stats are the persisted index artifact). Per-term "
    "scores rounded to 8 dp and summed as DECIMAL (order-free — with "
    "multiple terms per query, float-sum ordering is a real hazard); "
    "ties score desc, doc_id asc. operators/search.py:bm25_topk_multi.",
    tags=("search", "ranking", "bm25", "topk"),
)
def search_bm25_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    return SE.bm25_topk_multi(
        load_table(spark, sf_dir, "documents"), BM25_QUERY_BATCH, k=_MULTI_K
    )


_BM25_BUCKETS = 16


def _bm25_index_tables(spark: SparkSession, sf_dir: str):
    """The persisted BM25 index for a corpus version: the full-
    vocabulary (word, doc_id, tf) table as a 16-bucket hash-bucketed
    file set on ``word`` (built once into the atomic artifact cache,
    re-registered per session via bucketed DDL — the graph-edge /
    ANN-store serving split), plus the (doc_id, dl) length table as a
    plain parquet artifact. Serving a query batch then bucket-PRUNES
    the tf scan to the query terms' buckets (an IN-filter on the bucket
    column reaches the scan as SelectedBucketsCount) and never
    re-tokenizes the corpus."""
    import os

    from ..operators.layout import ensure_bucketed_table
    from ..sources.artifact_cache import ensure_artifact, source_key

    tag = os.path.basename(sf_dir.rstrip("/")).lower().replace(".", "_")
    key = source_key("bm25idx", sf_dir, "documents.parquet")
    tf_table = ensure_bucketed_table(
        spark,
        f"pmrs_bm25_tf_{tag}",
        "pmrs_bm25_index",
        key,
        lambda: SE.corpus_term_frequencies(load_table(spark, sf_dir, "documents")),
        "word",
        _BM25_BUCKETS,
    )

    def build_dl(tmp: str) -> None:
        SE.doc_lengths(load_table(spark, sf_dir, "documents")).write.mode(
            "overwrite"
        ).parquet(os.path.join(tmp, "dl"))

    dl_dir = ensure_artifact("pmrs_bm25_dl", key, build_dl)
    return spark.table(tf_table), read_parquet(spark, os.path.join(dl_dir, "dl"))


@register(
    "search_bm25_served",
    oracle=_bm25_multi_oracle(),
    doc="The production twin of search_bm25_multi — the promise in its "
    "doc ('at 100 TB the stats are the persisted index artifact') made "
    "real: the same query batch ranked from a PERSISTED index — the "
    "full-vocabulary tf table hash-bucketed on word (built once per "
    "corpus version, re-registered per session via bucketed DDL) plus "
    "a parquet doc-length table. Serving bucket-prunes the tf scan to "
    "the query terms' buckets (SelectedBucketsCount pinned in "
    "tests/test_search.py) and never re-tokenizes the corpus; scores "
    "are bit-identical to the build-fresh path (same DECIMAL per-term "
    "reduction), so the oracle is shared verbatim. "
    "operators/search.py:bm25_rank_batch.",
    tags=("search", "ranking", "bm25", "topk", "serving", "index"),
)
def search_bm25_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    tf, dl = _bm25_index_tables(spark, sf_dir)
    return SE.bm25_rank_batch(tf, dl, BM25_QUERY_BATCH, k=_MULTI_K)
