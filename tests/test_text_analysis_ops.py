"""Contracts for the round-4 text/curation operators: PII redaction,
benchmark decontamination, and duplicated-passage fractions.

The corpus has no PII-shaped strings, so redact_patterns' default
pattern set is exercised here on constructed rows (the registry entry
``customer_pii_masked`` covers the cross-engine regexp semantics on
real data); decontamination and passage dedup get semantic checks on
hand-built corpora where the expected counts are countable by eye.
"""

from __future__ import annotations

import pytest

from parallel_map_reduce_spark.operators.dedup import (
    benchmark_overlap,
    duplicated_passages,
)
from parallel_map_reduce_spark.operators.text_analysis import (
    PII_PATTERNS,
    redact_patterns,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def pii_df(spark):
    rows = [
        (1, "mail bob.smith+x@example.co.uk and SSN 123-45-6789 today"),
        (2, "server at 10.0.255.7 called +1 (415) 555-0199 twice"),
        (3, "nothing sensitive here"),
        (4, "two mails: a@b.io c@d.org and ip 1.2.3.4"),
    ]
    return spark.createDataFrame(rows, ["id", "text"])


def test_redact_patterns_counts_and_masks(pii_df):
    out = {r.id: r for r in redact_patterns(pii_df, "text").collect()}
    assert out[1].n_email == 1 and out[1].n_ssn == 1
    assert "example.co.uk" not in out[1].text_redacted
    assert "123-45-6789" not in out[1].text_redacted
    assert out[2].n_ipv4 == 1 and out[2].n_phone == 1
    assert "10.0.255.7" not in out[2].text_redacted
    assert out[3].n_email == out[3].n_ssn == out[3].n_ipv4 == out[3].n_phone == 0
    assert out[3].text_redacted == "nothing sensitive here"
    assert out[4].n_email == 2 and out[4].n_ipv4 == 1
    assert "[PII]" in out[4].text_redacted


def test_redact_patterns_is_pure_projection(pii_df):
    # PII scrubbing must run at scan speed: no Exchange in the plan.
    assert "Exchange" not in _plan(redact_patterns(pii_df, "text"))


def test_default_patterns_cover_the_documented_set():
    assert set(PII_PATTERNS) == {"email", "ssn", "ipv4", "phone"}


@pytest.fixture(scope="module")
def mini_docs(spark):
    # doc 1 = eval doc; doc 2 copies its first 8 words (contaminated);
    # doc 3 shares nothing; doc 4 too short for any 8-gram.
    rows = [
        (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (2, "alpha beta gamma delta epsilon zeta eta theta XXX YYY"),
        (3, "one two three four five six seven eight nine ten"),
        (4, "tiny doc"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_benchmark_overlap_flags_the_copied_prefix(mini_docs):
    eval_docs = mini_docs.filter("doc_id = 1")
    cands = mini_docs.filter("doc_id != 1")
    out = {r.doc_id: r for r in benchmark_overlap(cands, eval_docs, k=8).collect()}
    assert set(out) == {2, 3, 4}
    # doc 2 has 3 distinct 8-grams; exactly 1 (the copied prefix) is in eval.
    assert out[2].n_shingles == 3 and out[2].n_hit == 1 and out[2].contaminated
    assert out[3].n_hit == 0 and not out[3].contaminated
    assert out[4].n_shingles == 0 and out[4].overlap == 0.0


def test_duplicated_passages_cross_doc_only(spark):
    # docs 1 and 2 share their first 4-token window; doc 1 repeats its
    # own window twice (within-doc multiplicity counts toward the
    # denominator but self-repeats alone aren't "duplicated").
    rows = [
        (1, "a b c d a b c d"),
        (2, "a b c d x y z w"),
        (3, "p q r s t u v w"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in duplicated_passages(docs, w=4).collect()}
    assert out[1].n_passages == 2 and out[1].n_dup_passages == 2
    assert out[2].n_passages == 2 and out[2].n_dup_passages == 1
    assert out[2].dup_ratio == 0.5
    assert out[3].n_dup_passages == 0 and out[3].dup_ratio == 0.0


def test_passage_dedup_clean_rebuild(spark):
    """Cross-doc duplicated windows are stripped from the rebuilt text;
    unique windows and the trailing partial window survive in order."""
    from parallel_map_reduce_spark.operators.dedup import passage_dedup_clean

    rows = [
        (1, "a b c d ua ub uc ud tailx"),
        (2, "a b c d x y z w"),
        (3, "p q r s t"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in passage_dedup_clean(docs, w=4).collect()}
    # doc 1: shared window dropped, unique window + tail kept in order
    assert out[1].clean_text == "ua ub uc ud tailx"
    assert out[1].n_kept == 1 and out[1].n_removed == 1
    # doc 2: shared window dropped, its unique window kept
    assert out[2].clean_text == "x y z w"
    # doc 3: one full window (unique) + partial tail — untouched
    assert out[3].clean_text == "p q r s t"
    assert out[3].n_removed == 0


def test_temperature_mix_flattens_toward_rare_langs(spark):
    """Temperature sampling (alpha=0.5) must (a) roughly preserve corpus
    size, (b) give rare languages a higher per-doc rate than common
    ones, while keeping common langs' rate below 1 and rare langs'
    above 1 — the flattening direction."""
    from parallel_map_reduce_spark.operators.curation import temperature_mix

    rows = [(i, "en" if i < 90 else "zh") for i in range(100)]
    docs = spark.createDataFrame(rows, ["doc_id", "lang"])
    out = temperature_mix(docs).groupBy("lang").count().collect()
    counts = {r.lang: r["count"] for r in out}
    total = sum(counts.values())
    assert 85 <= total <= 115, total  # ~corpus-size preserving
    # per-doc rates: en 90->~75 (downsampled), zh 10->~25 (oversampled)
    assert counts["en"] < 90
    assert counts["zh"] > 10


def test_chunk_documents_overlap_and_tail(spark):
    """Chunks slide by stride with w-stride overlap; the final partial
    window is kept; short docs yield exactly one chunk."""
    from parallel_map_reduce_spark.operators.text_analysis import chunk_documents

    toks = " ".join(f"w{i:03d}" for i in range(10))  # wNNN has letters+digits;
    # digits strip in cleaning -> all tokens become "w"? use letters only
    toks = " ".join(chr(97 + i % 26) * (i // 26 + 1) for i in range(10))
    docs = spark.createDataFrame(
        [(1, toks), (2, "alpha beta"), (3, "")], ["doc_id", "text"]
    )
    out = chunk_documents(docs, w=4, stride=3).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, {})[r.chunk_id] = r
    # doc 1: 10 tokens, w=4 s=3 -> chunks at 1-4, 4-7, 7-10 => 3 chunks
    assert sorted(by_doc[1]) == [0, 1, 2]
    c0, c1 = by_doc[1][0], by_doc[1][1]
    assert c0.n_tokens == 4 and c1.n_tokens == 4
    # overlap: last token of chunk k == first token of chunk k+1 (s=w-1? no:
    # overlap = w - stride = 1 token)
    assert c0.chunk_text.split()[-1] == c1.chunk_text.split()[0]
    # doc 2: shorter than w -> one chunk with all tokens
    assert sorted(by_doc[2]) == [0] and by_doc[2][0].chunk_text == "alpha beta"
    # doc 3: empty -> no chunks
    assert 3 not in by_doc


# ---- CMS heavy hitters ----


def test_cms_estimate_never_undercounts_and_bounds(spark, sf_dir):
    """The CMS invariant est >= exact must hold for EVERY vocabulary
    word (not just the reported top-N), and the average overestimate
    must respect the eps*N bound (eps = e/W) with wide margin at test
    scale."""
    import math

    from parallel_map_reduce_spark.operators import text_analysis as T
    from parallel_map_reduce_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    rows = T.cms_estimates(docs).collect()  # no truncation
    assert rows and all(r.est_tf >= r.exact_tf for r in rows)
    n_total = sum(r.exact_tf for r in rows)
    eps = math.e / T.CMS_W
    # Markov-style sanity: mean overestimate far under the per-row bound.
    mean_over = sum(r.overestimate for r in rows) / len(rows)
    assert mean_over <= eps * n_total


def test_cms_topn_contains_true_heaviest(spark, sf_dir):
    """With D=4 rows the true heaviest words must surface in the
    top-N report (CMS can overestimate light words but never
    underestimates heavy ones)."""
    from parallel_map_reduce_spark.operators import text_analysis as T
    from parallel_map_reduce_spark.sources.catalog import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, sf_dir, "documents")
    top = {r.word for r in T.cms_heavy_hitters(docs, topn=T.CMS_TOPN).collect()}
    truth = {
        r.word
        for r in T._words(docs)
        .groupBy("word")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("word"))
        .limit(5)
        .collect()
    }
    assert truth <= top


# ---- n-gram novelty ----


def test_novelty_planted_copy_chain(spark):
    """First occurrence owns its grams: an exact copy of an earlier doc
    has novelty 0, the original 1.0, and a short doc yields NULL."""
    base = "one two three four five six seven eight nine ten eleven twelve"
    rows = [(1, base), (2, base), (3, "totally different words " * 3), (4, "tiny")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    from parallel_map_reduce_spark.operators.text_analysis import novelty_ngrams

    got = {r.doc_id: r for r in novelty_ngrams(df).collect()}
    assert got[1].novelty == 1.0 and got[1].n_grams > 0
    assert got[2].novelty == 0.0 and got[2].n_grams == got[1].n_grams
    assert got[3].novelty == 1.0
    assert got[4].n_grams == 0 and got[4].novelty is None


def test_doc_similarity_nonvacuous_at_every_tested_sf(spark):
    """VERDICT r10 task 3: an oracle match on an EMPTY result proves
    nothing. The corpus-scaled df cap must yield pairs at every sf the
    harness tests — pin both scales so a future cap change cannot
    silently re-introduce the vacuous match."""
    from parallel_map_reduce_spark.operators.text_analysis import (
        doc_similarity_tfidf,
    )
    from parallel_map_reduce_spark.sources.catalog import load_table

    for sf_dir, lo, hi in (
        ("/root/testdata/sf0.01", 1, 50_000),
        ("/root/testdata/sf0.1", 1, 500_000),
    ):
        n = doc_similarity_tfidf(load_table(spark, sf_dir, "documents")).count()
        assert lo <= n <= hi, f"{sf_dir}: {n} pairs (vacuous or degenerate)"


def _letters(i: int) -> str:
    """A distinct all-letter word per integer (the tokenizer keeps letters only)."""
    out = ""
    while True:
        out += chr(ord("a") + i % 26)
        i //= 26
        if not i:
            return "filler" + out


def _similar_pairs(spark, texts, **kw):
    from parallel_map_reduce_spark.operators.text_analysis import (
        doc_similarity_tfidf,
    )

    docs = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id BIGINT, text STRING")
    return {(r.doc_a, r.doc_b) for r in doc_similarity_tfidf(docs, **kw).collect()}


def test_doc_similarity_fixed_df_cap_is_inclusive(spark):
    """Fixed-cap form (df_cap_pct=None): a term at df == cap scores its
    pairs, a term at df == cap + 1 leaves the vector space."""
    texts = ["alpha"] * 3 + ["beta"] * 4
    got = _similar_pairs(spark, texts, df_cap=3, df_cap_pct=None)
    assert got == {(1, 2), (1, 3), (2, 3)}


def test_doc_similarity_percent_df_cap_bound(spark):
    """Percentage form with the defaults: the effective cap is
    greatest(DOC_SIM_DF_CAP, ceil(DOC_SIM_DF_CAP_PCT% of n_docs)), so
    60 at n_docs = 500 and 61 at 501. Terms at df 60, 61 and 62 each
    live alone in their documents (cosine 1 between any two of them);
    the rest of the corpus is one distinct filler word per document."""
    from itertools import combinations

    from parallel_map_reduce_spark.operators.text_analysis import (
        DOC_SIM_DF_CAP,
        DOC_SIM_DF_CAP_PCT,
    )

    assert (DOC_SIM_DF_CAP, DOC_SIM_DF_CAP_PCT) == (60, 12)
    texts = ["theta"] * 60 + ["zeta"] * 61 + ["eta"] * 62
    texts += [_letters(i) for i in range(501 - len(texts))]
    theta = set(combinations(range(1, 61), 2))
    zeta = set(combinations(range(61, 122), 2))
    assert _similar_pairs(spark, texts[:500]) == theta
    assert _similar_pairs(spark, texts) == theta | zeta


def test_unicode_tokenize_letters_only_all_scripts(spark):
    """The Unicode tokenization mode (r14 contract extension): every
    token from the committed multi-script fixture is a non-empty
    lowercase run of Unicode letters, and the fixture actually
    exercises Latin, Greek, Cyrillic, Han, Arabic, and Hebrew — plus
    regeneration determinism of the generator formulas."""
    import sys
    import unicodedata

    sys.path.insert(0, "/root/repo/tools")
    import gen_unicode_fixture as G

    from parallel_map_reduce_spark.operators.tokenize import unicode_tokenize

    docs = spark.read.parquet("/root/repo/refdata/unicode_fixture.parquet")
    assert docs.count() == G.N_DOCS
    # generator determinism: the committed rows ARE the formulas
    sample = {r.doc_id: (r.text, r.script) for r in docs.limit(50).collect()}
    for d, (text, script) in sample.items():
        assert G.doc_text(d) == (text, script), d

    toks = [r.token for r in unicode_tokenize(docs).collect()]
    assert len(toks) > 10_000
    scripts_seen = set()
    for t in toks:
        assert t and t == t.lower(), t
        for ch in t:
            assert unicodedata.category(ch).startswith("L"), (t, ch)
        name = unicodedata.name(t[0], "")
        for script in ("GREEK", "CYRILLIC", "CJK", "ARABIC", "HEBREW",
                       "LATIN", "HANGUL", "HIRAGANA", "KATAKANA"):
            if name.startswith(script):
                scripts_seen.add(script)
    assert {"GREEK", "CYRILLIC", "CJK", "ARABIC", "HEBREW", "LATIN"} <= scripts_seen


def test_unicode_script_profile_counts_and_tiebreak(spark):
    """Script counts on known strings, argmax dominance, and the fixed
    tie-break order (list order wins on equal counts)."""
    from parallel_map_reduce_spark.operators.text_analysis import (
        unicode_script_profile,
    )

    rows = [
        (1, "café straße", "x"),        # pure latin
        (2, "λογος κοσμος", "x"),       # pure greek
        (3, "мир 数据", "x"),            # cyrillic 3 vs cjk 2 -> cyrillic
        (4, "ab αβ", "x"),              # 2 vs 2 tie -> latin (order)
        (5, "سلام שלום", "x"),          # rtl only
    ]
    df = spark.createDataFrame(rows, "doc_id LONG, text STRING, home STRING")
    got = {
        r.doc_id: (r.n_latin, r.n_greek, r.n_cyrillic, r.n_cjk, r.n_rtl,
                   r.script_id, r.home)
        for r in unicode_script_profile(df, keep=("home",)).collect()
    }
    assert got[1] == (10, 0, 0, 0, 0, "latin", "x")
    assert got[2] == (0, 11, 0, 0, 0, "greek", "x")
    assert got[3] == (0, 0, 3, 2, 0, "cyrillic", "x")
    assert got[4] == (2, 2, 0, 0, 0, "latin", "x")
    assert got[5] == (0, 0, 0, 0, 8, "rtl", "x")


def test_line_repetition_signals_hand_computed(spark):
    """The line-level Gopher rules on a hand-built doc: 5 nonempty
    lines of which 'dup' appears 3x (excess 2), two identical
    paragraphs out of three; char fractions follow the same excess
    definition. CR and edge-whitespace are trimmed; blank lines drop."""
    from parallel_map_reduce_spark.operators.text_analysis import (
        line_repetition_signals,
    )

    text = "dup\r\n dup \nunique one\n\ndup\nunique two\n\ndup\r\n dup "
    # lines (trimmed, nonempty): dup, dup, unique one, dup, unique two,
    #   dup, dup -> n=7, distinct=3, excess=4
    # chars: 3*5 + 10 + 10 = wait: dup=3 chars x5 occurrences + 10 + 10
    #   total = 15+20 = 35; distinct = 3+10+10 = 23 -> (35-23)/35
    # paragraphs (split \n\n, trimmed): "dup\r\n dup \nunique one",
    #   "dup\nunique two", "dup\r\n dup " -> all distinct after trim?
    #   p1 = "dup\r\n dup \nunique one" (inner ws kept), p3 = "dup\r\n dup"
    #   -> distinct: 3, excess 0
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = line_repetition_signals(df).collect()[0]
    assert r.n_lines == 7
    assert r.dup_line_frac == round(4 / 7, 4)
    assert r.dup_line_char_frac == round((35 - 23) / 35, 4)
    assert r.n_paragraphs == 3
    assert r.dup_para_frac == 0.0
    assert r.dup_para_char_frac == 0.0


def test_line_repetition_reference_corpus_nontrivial(
    spark, sf_dir, reference_manifest, monkeypatch
):
    """The entry must not be vacuous: the reference corpus has real
    paragraph structure and at least some duplicated lines (chapter
    headings, blank-trimmed runs). The corpus is the real manifest where
    it exists, else the committed copy (see ``reference_manifest``)."""
    from parallel_map_reduce_spark.queries import core

    monkeypatch.setattr(core, "_REF_MANIFEST", reference_manifest)
    rows = core.text_line_repetition(spark, sf_dir).collect()
    assert len(rows) == 355
    assert sum(1 for r in rows if r.n_paragraphs > 1) > 200
    assert any(r.dup_line_frac > 0 for r in rows)
