"""Retrieval operators: phrase matching semantics on constructed docs."""

from __future__ import annotations

from parallel_map_reduce_spark.operators.search import bm25_scores, phrase_search


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id LONG, text STRING")


def test_phrase_three_terms_and_overlaps(spark):
    docs = _docs(
        spark,
        [
            (1, "a b c x a b c"),      # two disjoint matches of "a b c"
            (2, "a a a a"),            # overlapping matches of "a a a" -> 2
            (3, "a b x c"),            # no match (not adjacent)
            (4, "c b a"),              # no match (wrong order)
        ],
    )
    got = {r.doc_id: r.n_matches for r in phrase_search(docs, ("a", "b", "c")).collect()}
    assert got == {1: 2}
    got2 = {r.doc_id: r.n_matches for r in phrase_search(docs, ("a", "a", "a")).collect()}
    assert got2 == {2: 2}


def test_phrase_case_and_punct_normalized(spark):
    """The query goes through the same tokenization contract as the
    index: case folded, non-alpha stripped."""
    docs = _docs(spark, [(1, "The QUICK, brown fox!"), (2, "quick fox")])
    got = {r.doc_id: r.n_matches for r in phrase_search(docs, ("quick", "brown")).collect()}
    assert got == {1: 1}


def test_bm25_rare_term_outranks_common(spark):
    """A doc matching the rare term must outscore a doc matching only
    the ubiquitous term (idf dominance)."""
    docs = _docs(
        spark,
        [
            (1, "common rare"),
            (2, "common"),
            (3, "common"),
            (4, "common"),
        ],
    )
    scores = {r.doc_id: r.score for r in bm25_scores(docs, ("common", "rare")).collect()}
    assert scores[1] > scores[2] == scores[3] == scores[4]


def test_bm25_served_equals_fresh_build_and_bucket_prunes(spark, sf_dir):
    """The persisted-index serving path must return EXACTLY the fresh
    build's ranking (same DECIMAL per-term reduction → bit-identical
    scores), and its tf scans must bucket-prune to the query terms'
    buckets — the point of paying the word-bucketed layout at write
    time (SelectedBucketsCount strictly below the bucket count)."""
    import re

    from parallel_map_reduce_spark.queries.search import (
        BM25_QUERY_BATCH,
        _MULTI_K,
        _bm25_index_tables,
    )
    from parallel_map_reduce_spark.operators import search as SE
    from parallel_map_reduce_spark.sources.catalog import load_table

    tf, dl = _bm25_index_tables(spark, sf_dir)
    served = SE.bm25_rank_batch(tf, dl, BM25_QUERY_BATCH, k=_MULTI_K)
    fresh = SE.bm25_topk_multi(
        load_table(spark, sf_dir, "documents"), BM25_QUERY_BATCH, k=_MULTI_K
    )
    assert sorted(map(tuple, served.collect())) == sorted(
        map(tuple, fresh.collect())
    )
    plan = served._jdf.queryExecution().executedPlan().toString()
    counts = [
        int(m) for m in re.findall(r"SelectedBucketsCount: (\d+) out of", plan)
    ]
    assert counts, "index tf scan is not bucket-pruned:\n" + plan
    assert all(c < 16 for c in counts), counts


# --- bm25_rank_batch: corpus-stats memo, literal-path edges, served plan ---

TF_ROWS = [
    ("apple", 1, 3), ("apple", 2, 1), ("apple", 3, 2), ("apple", 6, 1),
    ("berry", 2, 2), ("berry", 4, 1), ("berry", 6, 3), ("cherry", 5, 4),
]
DL_ROWS = [(1, 10), (2, 4), (3, 7), (4, 12), (5, 6), (6, 9)]
# Same docs, other lengths: flips the order of the "apple" matches.
DL_ROWS_REWRITTEN = [(1, 40), (2, 3), (3, 7), (4, 5), (5, 6), (6, 2)]
QUERIES = {"qa": ("apple",), "qab": ("apple", "berry"), "qc": ("cherry", "zzz")}


def _py_bm25(tf_rows, dl_rows, queries, k=5):
    """Pure-Python BM25 with the operator's contract: df over the tf
    rows, (N, avgdl) over dl, qtf=1, ties score desc then doc_id asc."""
    import math
    from collections import Counter, defaultdict

    from parallel_map_reduce_spark.operators.search import BM25_B, BM25_K1

    dl = dict(dl_rows)
    n = len(dl)
    avgdl = sum(dl.values()) / n if n else None
    df = Counter(w for w, _, _ in tf_rows)
    out = []
    for q, terms in queries.items():
        acc = defaultdict(float)
        for w, d, t in tf_rows:
            if w in set(terms) and d in dl:
                idf = math.log(1.0 + (n - df[w] + 0.5) / (df[w] + 0.5))
                acc[d] += idf * (t * (BM25_K1 + 1)) / (
                    t + BM25_K1 * (1 - BM25_B + BM25_B * dl[d] / avgdl)
                )
        ranked = sorted(acc.items(), key=lambda kv: (-round(kv[1], 4), kv[0]))
        out += [(q, d, round(s, 4), r) for r, (d, s) in enumerate(ranked[:k], 1)]
    return sorted(out, key=lambda r: (r[0], r[3]))


def _assert_ranks(got_df, want):
    import pytest

    got = sorted((tuple(r) for r in got_df.collect()), key=lambda r: (r[0], r[3]))
    assert [(q, d, r) for q, d, _, r in got] == [(q, d, r) for q, d, _, r in want]
    for g, w in zip(got, want):
        assert g[2] == pytest.approx(w[2], abs=1e-4), (g, w)


def _write(spark, path, rows, schema):
    spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
        str(path)
    )
    return spark.read.parquet(str(path))


def _tf_dl(spark, tmp_path):
    tf = _write(spark, tmp_path / "tf", TF_ROWS, "word STRING, doc_id BIGINT, tf BIGINT")
    dl = _write(spark, tmp_path / "dl", DL_ROWS, "doc_id BIGINT, dl BIGINT")
    return tf, dl


def _stats_entries(dl):
    from parallel_map_reduce_spark.operators import search as SE

    return [v[1:] for v in SE._STATS_CACHE.values() if v[0].sameSemantics(dl)]


def test_bm25_stats_memo_misses_on_rewritten_dl(spark, tmp_path):
    """A dl rewritten in place keeps its plan (same semanticHash), but
    its files' stamps change: the next request misses the memo and ranks
    by the new lengths."""
    from parallel_map_reduce_spark.operators import search as SE

    tf, dl = _tf_dl(spark, tmp_path)
    _assert_ranks(SE.bm25_rank_batch(tf, dl, QUERIES), _py_bm25(TF_ROWS, DL_ROWS, QUERIES))
    assert _stats_entries(dl) == [(6, 8.0)]
    dl2 = _write(spark, tmp_path / "dl", DL_ROWS_REWRITTEN, "doc_id BIGINT, dl BIGINT")
    assert dl2.semanticHash() == dl.semanticHash()
    want = _py_bm25(TF_ROWS, DL_ROWS_REWRITTEN, QUERIES)
    assert want != _py_bm25(TF_ROWS, DL_ROWS, QUERIES)
    _assert_ranks(SE.bm25_rank_batch(tf, dl2, QUERIES), want)
    assert (6, 63 / 6) in _stats_entries(dl2)


def test_bm25_stats_memo_keeps_filtered_dl_apart(spark, tmp_path):
    """A filtered dl over the same files is another plan: it gets its
    own (N, avgdl), never the unfiltered entry's."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators import search as SE

    tf, dl = _tf_dl(spark, tmp_path)
    SE.bm25_rank_batch(tf, dl, QUERIES).collect()
    kept = [r for r in DL_ROWS if r[0] != 4]
    _assert_ranks(
        SE.bm25_rank_batch(tf, dl.filter(F.col("doc_id") != 4), QUERIES),
        _py_bm25(TF_ROWS, kept, QUERIES),
    )
    # and the unfiltered dl still ranks by its own stats
    _assert_ranks(SE.bm25_rank_batch(tf, dl, QUERIES), _py_bm25(TF_ROWS, DL_ROWS, QUERIES))


def test_bm25_stats_memo_skips_in_plan_dl(spark, tmp_path):
    """An in-plan dl (an aggregate over the documents, pinned as in
    bm25_topk_multi or not) reads files, but its rows are computed: it
    is aggregated on every call and never stored."""
    from parallel_map_reduce_spark.operators import search as SE
    from parallel_map_reduce_spark.registry import release_pins

    texts = {1: "apple apple berry", 2: "apple cherry cherry cherry", 3: "berry",
             4: "apple berry berry berry berry", 5: "cherry apple"}
    docs = _write(spark, tmp_path / "docs", sorted(texts.items()), "doc_id BIGINT, text STRING")
    tf_rows = sorted(
        (w, d, t.split().count(w)) for d, t in texts.items() for w in set(t.split())
    )
    dl_rows = [(d, len(t.split())) for d, t in texts.items()]
    want = _py_bm25(tf_rows, dl_rows, QUERIES)
    before = dict(SE._STATS_CACHE)
    try:
        _assert_ranks(SE.bm25_topk_multi(docs, QUERIES), want)
    finally:
        release_pins()
    dl = SE.doc_lengths(docs)
    assert dl.inputFiles()
    _assert_ranks(SE.bm25_rank_batch(SE.corpus_term_frequencies(docs), dl, QUERIES), want)
    assert SE._STATS_CACHE == before


def test_bm25_stats_memo_is_bounded(spark, tmp_path):
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators import search as SE

    tf, dl = _tf_dl(spark, tmp_path)
    for drop in range(1, 11):
        got = SE.bm25_rank_batch(tf, dl.filter(F.col("doc_id") != drop), QUERIES)
        assert len(SE._STATS_CACHE) <= 8
    _assert_ranks(got, _py_bm25(TF_ROWS, [r for r in DL_ROWS if r[0] != 10], QUERIES))
    assert len(SE._STATS_CACHE) == 8


def test_bm25_rank_batch_edge_cases(spark, tmp_path):
    """Out-of-vocabulary queries, an empty batch, an empty dl (avgdl is
    NULL, typed DOUBLE) and a term repeated inside a query (counts once)
    all keep the (query, doc_id, score, rank) schema."""
    from parallel_map_reduce_spark.operators import search as SE

    schema = "struct<query:string,doc_id:bigint,score:double,rank:int>"
    tf, dl = _tf_dl(spark, tmp_path)
    oov = {"q_oov": ("zzz", "yyy"), "qa": ("apple",)}
    got = SE.bm25_rank_batch(tf, dl, oov)
    assert got.schema.simpleString() == schema
    _assert_ranks(got, _py_bm25(TF_ROWS, DL_ROWS, {"qa": ("apple",)}))

    empty = SE.bm25_rank_batch(tf, dl, {})
    assert empty.schema.simpleString() == schema
    assert empty.collect() == []

    empty_dl = _write(spark, tmp_path / "dl_empty", [], "doc_id BIGINT, dl BIGINT")
    none = SE.bm25_rank_batch(tf, empty_dl, QUERIES)
    assert none.schema.simpleString() == schema
    assert none.collect() == []
    assert SE._corpus_stats(empty_dl) == (0, None)

    twice = SE.bm25_rank_batch(tf, dl, {"qab": ("apple", "berry", "apple")})
    _assert_ranks(twice, _py_bm25(TF_ROWS, DL_ROWS, {"qab": ("apple", "berry")}))
    assert [f.nullable for f in twice.schema.fields] == [True, True, True, False]


def test_bm25_served_request_plan(spark, sf_dir):
    """On a warm stats entry one served request over the word-bucketed
    tf and the parquet dl (a corpus within ONE_TASK_MAX_DOCS) is one
    job: one bucket-pruned tf scan, no exchange, no broadcast, no
    nested-loop join."""
    import re

    from parallel_map_reduce_spark.operators import search as SE
    from parallel_map_reduce_spark.queries.search import (
        BM25_QUERY_BATCH,
        _bm25_index_tables,
    )

    tf, dl = _bm25_index_tables(spark, sf_dir)
    SE.bm25_rank_batch(tf, dl, BM25_QUERY_BATCH).collect()  # warms the stats
    sc = spark.sparkContext
    group = "bm25-served-request"
    sc.setJobGroup(group, group)
    try:
        req = SE.bm25_rank_batch(tf, dl, BM25_QUERY_BATCH)
        plan = req._jdf.queryExecution().executedPlan().toString()
        req.collect()
    finally:
        sc.setJobGroup("bm25-served-idle", "idle")
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1
    assert "Exchange" not in plan, plan
    table = tf._jdf.queryExecution().analyzed().collectLeaves().head()
    name = table.catalogTable().get().identifier().table()
    scans = [ln for ln in plan.splitlines() if "FileScan" in ln and name in ln]
    assert len(scans) == 1, plan
    (buckets,) = re.findall(r"SelectedBucketsCount: (\d+) out of", scans[0])
    assert int(buckets) < 16
    assert "BroadcastNestedLoopJoin" not in plan


def test_bm25_rank_batch_exchanges_by_corpus_size(spark, tmp_path, monkeypatch):
    """Up to ONE_TASK_MAX_DOCS documents the request is one partition
    with no exchange; above it the sum exchanges on (query, doc_id) and
    the rank window on query. Both give the Python BM25's ranks."""
    import re

    from parallel_map_reduce_spark.operators import search as SE

    tf, dl = _tf_dl(spark, tmp_path)
    want = _py_bm25(TF_ROWS, DL_ROWS, QUERIES)

    def exchanges(got):
        # keys of each hash exchange, ids dropped; this tf is not
        # bucketed, so above the bound its df window adds one on word
        plan = got._jdf.queryExecution().executedPlan().toString()
        keys = re.findall(r"Exchange hashpartitioning\((.*?), \d+\)", plan)
        return sorted(k for k in (re.sub(r"#\d+L?", "", k) for k in keys) if k != "word")

    small = SE.bm25_rank_batch(tf, dl, QUERIES)
    assert "Exchange" not in small._jdf.queryExecution().executedPlan().toString()
    _assert_ranks(small, want)
    monkeypatch.setattr(SE, "ONE_TASK_MAX_DOCS", len(DL_ROWS) - 1)
    large = SE.bm25_rank_batch(tf, dl, QUERIES)
    assert exchanges(large) == ["query", "query, doc_id"]
    _assert_ranks(large, want)
