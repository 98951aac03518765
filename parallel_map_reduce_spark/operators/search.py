"""Retrieval over the inverted index: positional postings, phrase
search, BM25 ranking.

The reference stops at building the index (``src/tema1.cpp:194-248``);
a user of that index wants to QUERY it. These operators are the
retrieval side, built on the same tokenization contract
(``operators/tokenize.py``) so index and query agree about what a word
is.

Scale shapes:
- positional index: ONE shuffle on (word, doc) — the canonical index
  build; positions inside a posting are an array, never rows.
- phrase search: positions make phrase matching an ARRAY intersection
  per (doc) — no positional self-join row blowup; the pre-filter is a
  semi-join on the phrase's rarest term (df-ordered), so only documents
  containing all terms reach the array check.
- BM25: tf/df/dl are the index's own statistics; the only extra state
  is a 1-row corpus aggregate (N, avgdl) broadcast into the scorer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..registry import pin
from ..sources.catalog import local_frame
from .dedup import ordered_words

BM25_K1 = 1.2
BM25_B = 0.75


def positional_index(docs: DataFrame) -> DataFrame:
    """(word, doc_id, positions, tf): sorted 1-based token positions of
    every word occurrence per document — the phrase-query-capable form
    of the reference's posting lists."""
    return (
        ordered_words(docs)
        .groupBy("word", "doc_id")
        .agg(F.sort_array(F.collect_list("seq")).alias("positions"))
        .withColumn("tf", F.size("positions").cast("bigint"))
    )


def phrase_search(docs: DataFrame, phrase: tuple[str, ...]) -> DataFrame:
    """(doc_id, n_matches): documents containing the exact consecutive
    ``phrase``, with occurrence counts.

    A match at position p requires word_i at p+i for every term — an
    array membership test over the per-doc position arrays, joined
    doc-wise across the phrase's terms (inner joins double as the
    contains-all-terms pre-filter)."""
    idx = positional_index(docs)
    parts = []
    for i, w in enumerate(phrase):
        parts.append(
            idx.filter(F.col("word") == w).select(
                "doc_id", F.col("positions").alias(f"p{i}")
            )
        )
    j = parts[0]
    for i in range(1, len(phrase)):
        j = j.join(parts[i], "doc_id")
    # position p starts a match iff p+i is in p_i for every later term;
    # each HOF lambda stays 1-ary (arity dispatch) via a factory closure
    def _keep(i: int):
        return lambda p: F.array_contains(F.col(f"p{i}"), p + i)

    cond_builder = F.col("p0")
    for i in range(1, len(phrase)):
        cond_builder = F.filter(cond_builder, _keep(i))
    return (
        j.select("doc_id", F.size(cond_builder).alias("n_matches"))
        .filter(F.col("n_matches") > 0)
    )


def bm25_scores(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(doc_id, score): BM25 relevance of every document containing at
    least one query term. idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (the
    Lucene-style always-positive form); score rounded to 4 dp (ln is
    not correctly-rounded across libms — both engines round)."""
    ow = ordered_words(docs)
    # Pinned for the same reason as bm25_topk_multi: dl feeds the
    # corpus stats AND the per-doc join, and each re-expansion would
    # replay the tokenization scan.
    dl = pin(
        ow.groupBy("doc_id")
        .agg(F.count("*").alias("dl"))
    )
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    terms = [t for t in query_terms]
    tf = (
        ow.filter(F.col("word").isin(*terms))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(df_), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    return (
        scored.withColumn("s", idf * tf_part)
        .groupBy("doc_id")
        .agg(F.round(F.sum("s"), 4).alias("score"))
    )


def corpus_term_frequencies(docs: DataFrame) -> DataFrame:
    """(word, doc_id, tf): the full-vocabulary term-frequency table —
    the persistable half of a BM25 index (write it hash-bucketed on
    ``word`` so query-term IN-filters bucket-prune the scan)."""
    return (
        ordered_words(docs)
        .groupBy("word", "doc_id")
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(docs: DataFrame) -> DataFrame:
    """(doc_id, dl): per-document token counts — the other persistable
    index-side statistic (corpus N/avgdl derive from it at read time)."""
    return ordered_words(docs).groupBy("doc_id").agg(F.count("*").alias("dl"))


def bm25_rank_batch(
    tf: DataFrame,
    dl: DataFrame,
    queries: dict[str, tuple[str, ...]],
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """Shared batch-ranking core over index-side statistics: ``tf`` =
    (word, doc_id, tf) covering at least the query terms, ``dl`` =
    (doc_id, dl). Per-term scores are rounded to 8 dp and summed as
    DECIMAL(18,8) (the PSI/MI discipline), making the per-(query, doc)
    reduction order-free — with several terms per query, float-sum
    ordering is a real hazard. Ties: score desc, doc_id asc."""
    from pyspark.sql import Window

    spark = tf.sparkSession
    corpus = dl.agg(F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl"))
    # BM25 treats repeated query terms as weight-1 (standard qtf=1 form);
    # dedupe per query so the score is a set function of the query.
    q_rows = sorted({(qid, t) for qid, ts in queries.items() for t in ts})
    qt = local_frame(spark, q_rows, "query STRING, word STRING")
    all_terms = sorted({t for _, t in q_rows})
    # On a word-bucketed index table this IN-filter reaches the scan and
    # bucket-prunes it (SelectedBucketsCount in the plan — pinned in
    # tests/test_search.py): serving touches only the query terms'
    # buckets, never the whole index.
    tf = tf.filter(F.col("word").isin(*all_terms))
    df_ = tf.groupBy("word").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(qt), "word")
        .join(F.broadcast(df_), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
    )
    idf = F.log(
        F.lit(1.0) + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    tf_part = (F.col("tf") * (k1 + 1)) / (
        F.col("tf") + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
    )
    per_qd = (
        scored.withColumn(
            "s", F.round(idf * tf_part, 8).cast("decimal(18,8)")
        )
        .groupBy("query", "doc_id")
        .agg(F.round(F.sum("s").cast("double"), 4).alias("score"))
    )
    w = Window.partitionBy("query").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_qd.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query", "doc_id", "score", "rank")
    )


def bm25_topk_multi(
    docs: DataFrame,
    queries: dict[str, tuple[str, ...]],
    k: int = 5,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> DataFrame:
    """(query, doc_id, score, rank): BM25 top-k documents for a BATCH
    of queries from ONE statistics build over ``docs`` — the build-and-
    serve-in-one-job shape. The production twin serves the same ranking
    from a PERSISTED word-bucketed index artifact
    (queries/search.py:search_bm25_served ->
    ``bm25_rank_batch(index_tf, index_dl, ...)``), where the corpus is
    never re-tokenized per batch.

    dl is pinned (lazy persist): it feeds the corpus stats and the per-doc join,
    and each re-expansion would replay the tokenization scan — with it
    the corpus is tokenized twice (dl + tf, different filters)."""
    ow = ordered_words(docs)
    dl = pin(
        ow.groupBy("doc_id")
        .agg(F.count("*").alias("dl"))
    )
    all_terms = sorted({t for ts in queries.values() for t in ts})
    tf = (
        ow.filter(F.col("word").isin(*all_terms))
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("tf"))
    )
    return bm25_rank_batch(tf, dl, queries, k=k, k1=k1, b=b)
