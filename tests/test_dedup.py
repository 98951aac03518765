"""Dedup operator contracts: zero-shuffle formulations and the shingle
df cap.

The round-2 rework replaced explode+window/distinct shuffles with array
higher-order projections; these tests pin (a) result equivalence against
the straightforward row formulations, and (b) the physical-plan property
the rework exists for — no Exchange where none is needed.
"""

from __future__ import annotations

import pytest

from parallel_map_reduce_spark.operators import dedup as D
from parallel_map_reduce_spark.operators.text_analysis import fingerprints
from parallel_map_reduce_spark.sources.catalog import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").cache()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_simhash_matches_exploded_reference(spark, docs):
    fast = {(r.doc_id, r.simhash) for r in D.simhash(docs).collect()}
    ref = {(r.doc_id, r.simhash) for r in D._simhash_exploded_reference(docs).collect()}
    assert fast == ref and len(fast) > 0


def test_simhash_plan_has_no_exchange(spark, docs):
    assert "Exchange" not in _plan(D.simhash(docs))


def test_fingerprints_plan_has_no_exchange(spark, docs):
    assert "Exchange" not in _plan(fingerprints(docs))


def test_doc_shingles_plan_has_no_exchange(spark, docs):
    """Shingling (incl. per-doc distinct) must be a pure projection."""
    assert "Exchange" not in _plan(D.doc_shingles(docs))


def test_minhash_zero_exchange(spark, docs):
    """Minhash signatures are a per-document function computed in one
    Arrow hop (r18 opt): zero shuffles, and only (doc_id, text) may
    cross the Python boundary."""
    plan = _plan(D.minhash_signatures(docs))
    assert "Exchange" not in plan
    assert "MapInArrow" in plan


def test_minhash_kernel_matches_aggregate_form(spark, docs):
    """The Arrow kernel is bit-identical to the JVM wide aggregate
    (``_minhash_agg``, the form the value-domain LSH path runs) over
    the JVM shingles (tokenize/md5/affine-min replica)."""
    agg_form = D._minhash_agg(D.doc_shingles(docs), "doc_id")
    kernel_form = D._minhash_wide(docs)
    assert agg_form.schema == kernel_form.schema
    assert kernel_form.exceptAll(agg_form).count() == 0
    assert agg_form.exceptAll(kernel_form).count() == 0
    assert kernel_form.count() > 0


def test_jaccard_cap_is_lossless_at_test_scale(spark, docs):
    capped = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in D.ngram_jaccard_pairs(docs, df_cap=D.JACCARD_SHINGLE_DF_CAP).collect()
    }
    uncapped = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in D.ngram_jaccard_pairs(docs, df_cap=None).collect()
    }
    assert capped == uncapped and len(capped) > 0


def test_ordered_words_sequence_contract(spark, docs):
    """seq is 1-based, dense, and in split order per document."""
    rows = D.ordered_words(docs.limit(20)).collect()
    by_doc: dict[int, list[int]] = {}
    for r in rows:
        by_doc.setdefault(r.doc_id, []).append(r.seq)
    for doc_id, seqs in by_doc.items():
        assert sorted(seqs) == list(range(1, len(seqs) + 1)), doc_id


def test_connected_components_chain_and_islands(spark):
    """Multi-hop chain (needs >1 propagation round), two islands, and
    min-id canonicalization — the semantics the recursive-CTE oracle
    checks on real pairs, pinned here on a constructed graph."""
    from parallel_map_reduce_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "doc_a BIGINT, doc_b BIGINT",
    )
    expected = {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10),
        (20, 20), (21, 20), (22, 20),
    }
    got = {(r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()}
    assert got == expected
    # Both adaptive paths must agree: the driver-local union-find
    # (default at this size) and the distributed propagation loop
    # (forced with local_cap=0 — the 100 TB shape).
    dist = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, local_cap=0).collect()
    }
    assert dist == expected


def test_connected_components_local_equals_distributed_random(spark):
    """Path equality on a generated graph big enough to have long
    chains, cycles, and singleton-free islands: the union-find path and
    the propagation loop must return identical rows (cluster_id is a
    pure graph property — min node id per component)."""
    import random

    from parallel_map_reduce_spark.operators.dedup import connected_components

    rng = random.Random(18)
    edges = [
        (rng.randrange(400), rng.randrange(400)) for _ in range(350)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, "doc_a BIGINT, doc_b BIGINT")
    local = {
        (r.doc_id, r.cluster_id) for r in connected_components(pairs).collect()
    }
    # max_iter must cover the graph diameter for the propagation loop
    # to reach the fixpoint (production callers' graphs are shallow
    # dedup clusters; this generated one has long chains).
    dist = {
        (r.doc_id, r.cluster_id)
        for r in connected_components(pairs, max_iter=400, local_cap=0).collect()
    }
    assert local == dist and len(local) > 100


@pytest.mark.parametrize("pairs_n, path", [(3, "driver"), (4, "loop")])
def test_connected_components_local_edge_cap_sides(spark, monkeypatch, pairs_n, path):
    """Both sides of CC_LOCAL_EDGE_CAP = N = 3: a chain of N pairs is 2N
    symmetrized edges and runs the driver union-find; N + 1 pairs is
    2N + 2 edges and runs the propagation loop. Labels are the same
    either way: every node joins the component of node 1."""
    calls = []
    cc_local = D._cc_local

    def spy(edge_rows):
        calls.append(1)
        return cc_local(edge_rows)

    monkeypatch.setattr(D, "CC_LOCAL_EDGE_CAP", 3)
    monkeypatch.setattr(D, "_cc_local", spy)
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, pairs_n + 1)], "doc_a BIGINT, doc_b BIGINT"
    )
    got = {(r.doc_id, r.cluster_id) for r in D.connected_components(pairs).collect()}
    assert got == {(i, 1) for i in range(1, pairs_n + 2)}
    assert len(calls) == (1 if path == "driver" else 0)


def test_connected_components_raises_when_unconverged(spark):
    """The distributed loop must refuse to return labels that are still
    changing: a 20-node chain needs 19 propagation rounds, so
    max_iter=3 raises instead of splitting the component."""
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 20)], "doc_a BIGINT, doc_b BIGINT"
    )
    with pytest.raises(RuntimeError, match="max_iter=3"):
        D.connected_components(pairs, max_iter=3, local_cap=0)


def test_fuzzy_value_pairs_guards_high_cardinality(spark):
    """The |V|^2 levenshtein join must REFUSE a high-cardinality domain
    (silently running quadratic on a big vocabulary is the failure
    mode) — callers are pointed at the char-shingle LSH path instead."""
    big = spark.range(100).selectExpr("concat('value_', id) AS name")
    with pytest.raises(ValueError, match="max_values"):
        D.fuzzy_value_pairs(big, "name", max_values=10)
    # At or under the cap the join proceeds normally.
    small = spark.createDataFrame(
        [("alpha",), ("alphb",), ("gamma",)], ["name"]
    )
    rows = D.fuzzy_value_pairs(small, "name", max_values=10).collect()
    assert [(r.val_a, r.val_b, r.dist) for r in rows] == [("alpha", "alphb", 1)]


def test_fuzzy_lsh_pairs_are_exact_subset_with_recall(spark, sf_dir):
    """The char-shingle LSH path must emit ONLY true pairs (precision
    1.0 — every candidate is levenshtein-verified) and recover most of
    the exact |V|^2 baseline's pairs (recall is the LSH trade; typo
    variants share most 3-grams, so the floor is high)."""
    parts = load_table(spark, sf_dir, "part")
    exact = {
        (r.val_a, r.val_b): r.dist
        for r in D.fuzzy_value_pairs(parts, "p_name").collect()
    }
    lsh = {
        (r.val_a, r.val_b): r.dist
        for r in D.fuzzy_value_pairs_lsh(parts, "p_name").collect()
    }
    assert set(lsh) <= set(exact)  # precision 1.0
    for k, d in lsh.items():
        assert exact[k] == d
    assert len(exact) > 0
    recall = len(lsh) / len(exact)
    assert recall >= 0.5, (recall, len(lsh), len(exact))


def test_fuzzy_lsh_pairs_match_oracle_on_edge_values(spark):
    """NULL, the empty string and 1-2 character values (shingled as the
    whole value) go through the same band core as long names: the
    Spark pairs equal the registered DuckDB oracle's, a NULL never
    pairs, and near-identical long values do."""
    import duckdb
    import pyarrow as pa

    from parallel_map_reduce_spark.registry import all_queries

    names = [
        None, "", "a", "b", "ab", "ba", "abc", "abd",
        "almond antique", "almond antiqua", "almond antique ",
        "blush thistle", "blush thistles", "Customer#000000001",
        "Customer#000000002", "Customer#000000012", "zz", "z",
    ]
    parts = spark.createDataFrame([(n,) for n in names], "p_name STRING")
    got = {
        (r.val_a, r.val_b, r.dist)
        for r in D.fuzzy_value_pairs_lsh(parts, "p_name").collect()
    }
    con = duckdb.connect()
    con.register("part", pa.table({"p_name": pa.array(names, pa.string())}))
    want = set(con.execute(all_queries()["part_name_fuzzy_pairs_lsh"].oracle).fetchall())
    assert got == want
    assert all(None not in pair for pair in got)
    assert ("almond antiqua", "almond antique", 1) in got


def test_jaccard_prefix_matches_brute_force(spark, docs):
    """Prefix filtering is LOSSLESS: the prefix-indexed join must return
    exactly the pairs the uncapped inverted-index join finds at or
    above tau (same shingle sets, same integer-exact jaccard)."""
    tau = D.PREFIX_JACCARD_TAU
    pref = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in D.jaccard_prefix_pairs(docs).collect()
    }
    brute = {
        (r.doc_a, r.doc_b, round(r.jaccard, 12))
        for r in D.ngram_jaccard_pairs(docs, df_cap=None).collect()
        if r.jaccard >= tau
    }
    assert pref == brute and len(pref) > 0


def test_jaccard_prefix_planted_identical_and_disjoint(spark):
    """Identical docs pair at jaccard 1.0; docs sharing no shingle never
    appear; a doc shorter than the shingle width is absent."""
    rows = [
        (1, "alpha beta gamma delta epsilon"),
        (2, "alpha beta gamma delta epsilon"),
        (3, "zeta eta theta iota kappa"),
        (4, "xi omicron"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {(r.doc_a, r.doc_b): r.jaccard for r in D.jaccard_prefix_pairs(df).collect()}
    assert got == {(1, 2): 1.0}


def test_leakage_split_clusters_and_convergence(spark, docs):
    """Leakage-guarded split contracts: (a) the fixed-round min-label
    clusters EQUAL the true connected components of the candidate graph
    (i.e. LEAK_ROUNDS >= diameter on this corpus — the convergence
    check the operator docstring tells you to re-run at new scales);
    (b) every cluster lands wholly in one split; (c) singleton docs are
    their own cluster; (d) all three splits are non-degenerate."""
    from parallel_map_reduce_spark.operators.curation import (
        leakage_guarded_split,
        minlabel_fixed_rounds,
    )

    pairs = D.minhash_lsh_candidates(docs)
    fixed = {
        (r.node, r.label) for r in minlabel_fixed_rounds(pairs).collect()
    }
    cc = {
        (r.doc_id, r.cluster_id) for r in D.connected_components(pairs).collect()
    }
    assert fixed == cc, "fixed-round labels diverge from true components"

    out = leakage_guarded_split(docs, pairs).collect()
    assert len(out) == docs.count()
    by_cluster: dict = {}
    for r in out:
        by_cluster.setdefault(r.cluster_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_cluster.values()), (
        "a near-dup cluster straddles splits"
    )
    edge_nodes = {n for n, _ in fixed}
    for r in out:
        if r.doc_id not in edge_nodes:
            assert r.cluster_id == r.doc_id
    splits = {r.split for r in out}
    assert splits == {"train", "val", "test"}
    n_train = sum(1 for r in out if r.split == "train")
    assert 0.6 * len(out) <= n_train <= 0.95 * len(out)


def test_repeated_substring_spans_planted(spark):
    """Plant a shared 14-token boilerplate block inside otherwise-unique
    documents: the detector must emit exactly one span per planted doc,
    covering exactly the boilerplate's token range (window merge is
    maximal — the span unions every overlapping repeated window), and
    docs with no repeated content must emit nothing."""
    from parallel_map_reduce_spark.operators.dedup import (
        SUBSTR_L,
        repeated_substring_spans,
    )

    boiler = " ".join(f"boiler{i}" for i in range(14))  # 14 > SUBSTR_L
    rows = [
        (1, "alpha beta " + boiler + " gamma delta epsilon zeta"),
        (2, "one two three four " + boiler + " five six"),
        (3, "totally unique text with no repetition anywhere at all here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id BIGINT, text STRING")
    out = {r.doc_id: r for r in repeated_substring_spans(docs, L=SUBSTR_L).collect()}
    assert set(out) == {1, 2}
    # doc 1: boiler occupies tokens 3..16 (1-based, after 2 lead tokens)
    assert (out[1].span_start, out[1].span_end) == (3, 16)
    # doc 2: after 4 lead tokens -> 5..18
    assert (out[2].span_start, out[2].span_end) == (5, 18)
    # windows per span: 14 - L + 1
    assert out[1].n_windows == 14 - SUBSTR_L + 1 == out[2].n_windows


def test_incremental_lsh_served_identical_to_inline(spark, sf_dir, docs):
    """The registered dedup_incremental_lsh serves the corpus side from
    the persisted sig-bucketed band table; the inline twin re-derives
    both sides. Row-identity between them is what keeps the inline
    DuckDB oracle valid for the served plan — and the served plan must
    actually serve: exactly two file scans (the src0 increment + the
    bucketed corpus table), the corpus scan bucketed, and no third scan
    that would betray a corpus re-shingle."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.queries.dedup import (
        INCR_SOURCE,
        ensure_corpus_band_table,
    )

    new = docs.filter(F.col("source") == INCR_SOURCE)
    corpus = docs.filter(F.col("source") != INCR_SOURCE)
    inline = {
        (r.new_doc, r.corpus_doc)
        for r in D.incremental_lsh_matches(new, corpus).collect()
    }
    # Unpersist the module's cached documents around the plan probe:
    # CacheManager substitutes the cached relation into ANY matching
    # read, and the InMemoryRelation rendering embeds the unfiltered
    # source scan, which would defeat the scan assertions below. The
    # trailing cache() re-marks it for the rest of the module (lazy).
    docs.unpersist()
    try:
        new_fresh = load_table(spark, sf_dir, "documents").filter(
            F.col("source") == INCR_SOURCE
        )
        served_df = D.incremental_lsh_matches_indexed(
            D.lsh_band_signatures(new_fresh),
            spark.table(ensure_corpus_band_table(spark, sf_dir)),
        )
        served = {(r.new_doc, r.corpus_doc) for r in served_df.collect()}
    finally:
        docs.cache()
    assert served == inline
    p = _plan(served_df)
    # AQE's final-plan string renders each scan twice (initial + final
    # plan), so assert on scan CONTENT: every scan that reads document
    # text must be the src0 increment — a text scan without the src0
    # filter would be a corpus re-shingle — and the corpus side must be
    # the bucketed band table.
    text_scans = [ln for ln in p.splitlines() if "FileScan" in ln and "text#" in ln]
    assert text_scans and all("src0" in ln for ln in text_scans), p
    assert "Bucketed: true" in p, p


def test_corpus_promote_append_equals_rebuild(spark, sf_dir, docs):
    """VERDICT r12 task 1: the promoted band table (version-0 files +
    src1 appended through the bucket spec) must be row-identical to a
    from-scratch derivation over the same logical corpus (source <>
    src0), and the served match join must keep the serving plan shape:
    the only text scan is the src0 increment, the corpus side a
    bucketed table scan."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.queries.dedup import (
        INCR_SOURCE,
        ensure_promoted_band_table,
    )

    table = ensure_promoted_band_table(spark, sf_dir)
    promoted_rows = [
        (r.doc_id, r.band, r.sig) for r in spark.table(table).collect()
    ]
    promoted = set(promoted_rows)
    # no duplicate rows: a faulty append (increment inserted twice,
    # base re-inserted) would survive a set compare (review r13)
    assert len(promoted_rows) == len(promoted)
    rebuilt = {
        (r.doc_id, r.band, r.sig)
        for r in D.lsh_band_signatures(
            docs.filter(F.col("source") != INCR_SOURCE)
        ).collect()
    }
    assert promoted == rebuilt and len(promoted) > 0

    docs.unpersist()  # keep the cached relation out of the plan probe
    try:
        new = load_table(spark, sf_dir, "documents").filter(
            F.col("source") == INCR_SOURCE
        )
        served = D.incremental_lsh_matches_indexed(
            D.lsh_band_signatures(new), spark.table(table)
        )
        served.collect()
    finally:
        docs.cache()
    p = _plan(served)
    text_scans = [
        ln for ln in p.splitlines() if "FileScan" in ln and "text#" in ln
    ]
    assert text_scans and all("src0" in ln for ln in text_scans), p
    assert "Bucketed: true" in p, p


def test_corpus_promote_chain_and_compaction(spark, sf_dir, docs):
    """A chain of promotions must stay row-identical to a full rebuild
    at every step (per-promotion cost is O(increment) — the corpus is
    never re-derived), and compact_bucketed_table must fold the
    accumulated per-promotion files back to one file per bucket without
    changing a row."""
    import os

    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.layout import (
        compact_bucketed_table,
        ensure_bucketed_append,
        ensure_bucketed_table,
    )
    from parallel_map_reduce_spark.sources.artifact_cache import (
        artifact_path,
        source_key,
    )

    n_buckets = 4
    base_srcs = ("src4", "src5", "src6")
    chain = ("src7", "src8", "src9")
    run_key = source_key("promote_chain", sf_dir, "documents.parquet")

    def bands_of(*sources):
        return D.lsh_band_signatures(
            docs.filter(F.col("source").isin(*sources))
        )

    key0 = f"{run_key}v0"
    ensure_bucketed_table(
        spark,
        "pmrs_test_chain_v0",
        "pmrs_test_chain",
        key0,
        lambda: bands_of(*base_srcs),
        "sig",
        n_buckets,
    )
    prev_dir = artifact_path("pmrs_test_chain", key0)
    covered = list(base_srcs)
    table = None
    for i, src in enumerate(chain, start=1):
        key = f"{run_key}v{i}"
        table = ensure_bucketed_append(
            spark,
            f"pmrs_test_chain_v{i}",
            "pmrs_test_chain",
            key,
            prev_dir,
            lambda s=src: bands_of(s),
            "sig",
            n_buckets,
        )
        prev_dir = artifact_path("pmrs_test_chain", key)
        covered.append(src)
        appended_rows = [
            (r.doc_id, r.band, r.sig) for r in spark.table(table).collect()
        ]
        appended = set(appended_rows)
        assert len(appended_rows) == len(appended), f"step {i} dup rows"
        rebuilt = {
            (r.doc_id, r.band, r.sig) for r in bands_of(*covered).collect()
        }
        assert appended == rebuilt and len(appended) > 0, f"step {i}"

    def n_parquet(d):
        return sum(1 for f in os.listdir(d) if f.endswith(".parquet"))

    n_before = n_parquet(prev_dir)
    compacted = compact_bucketed_table(
        spark,
        prev_dir,
        "pmrs_test_chain_compact",
        "pmrs_test_chain_c",
        f"{run_key}cp",
        "sig",
        n_buckets,
    )
    cdir = artifact_path("pmrs_test_chain_c", f"{run_key}cp")
    compacted_rows = [
        (r.doc_id, r.band, r.sig) for r in spark.table(compacted).collect()
    ]
    assert len(compacted_rows) == len(set(compacted_rows))
    assert set(compacted_rows) == {
        (r.doc_id, r.band, r.sig) for r in spark.table(table).collect()
    }
    # one file per non-empty bucket, and strictly fewer files than the
    # promotion chain accumulated
    assert n_parquet(cdir) <= n_buckets < n_before


def test_jaccard_cap_is_lossless_over_unicode_sized_shingles(spark, sf_dir):
    """The one pair path takes sized (doc_id, shingle, n) rows on both
    sides of the df cap: over the Unicode-tokenized multi-script
    fixture, capped == uncapped (the uncapped equi-self-join reads the
    set sizes from the rows, like the posting lists)."""
    from parallel_map_reduce_spark.queries._unicode import scoped_unicode_docs

    udocs = scoped_unicode_docs(spark, sf_dir)

    def pairs(df_cap):
        return {
            (r.doc_a, r.doc_b, round(r.jaccard, 12))
            for r in D.ngram_jaccard_pairs(
                udocs,
                df_cap=df_cap,
                sized_shingles=D.unicode_doc_sized_shingles(udocs),
            ).collect()
        }

    capped = pairs(D.JACCARD_SHINGLE_DF_CAP)
    assert capped == pairs(None) and len(capped) > 0


def _package_sources():
    import os

    pkg = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "parallel_map_reduce_spark",
    )
    for root, _, files in os.walk(pkg):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                yield os.path.relpath(path, pkg), open(path, encoding="utf-8").read()


def test_one_band_join_and_one_oracle_minhash():
    """The LSH family keeps one implementation per concept: one Spark
    (band, sig) equi-join (operators/dedup.py:_band_join), one oracle
    band join (queries/dedup.py:_band_join_sql) and one oracle minhash
    CTE (queries/dedup.py:_minhash_ctes)."""
    import re

    patterns = {
        "spark band join": re.compile(r'F\.col\("\w+\.sig"\)\s*==\s*F\.col\("\w+\.sig"\)'),
        "sql band join": re.compile(r"\b\w+\.sig\s*=\s*\w+\.sig\b"),
        "oracle minhash": re.compile(re.escape("MIN((s.a * h.hv + s.b) %")),
    }
    for label, pat in patterns.items():
        hits = [
            f"{rel}:{src.count(chr(10), 0, m.start()) + 1}"
            for rel, src in _package_sources()
            for m in pat.finditer(src)
        ]
        assert len(hits) == 1, (label, hits)
