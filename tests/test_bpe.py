"""BPE training: exact-match contract vs an independent reference.

The distributed trainer (pair explode + groupBy per round over the
vocab-sized symbol table) must produce the SAME merge sequence as the
textbook single-machine algorithm (Sennrich et al. 2016) run on the
same word frequencies — same pairs, same order, same counts. The
reference below is a deliberately naive dict-and-loop implementation
sharing no code with the operator, so a bug in either side breaks the
comparison. Both break frequency ties (left, right) ascending.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from parallel_map_reduce_spark.operators.text_analysis import (
    BPE_END,
    bpe_segment,
    bpe_train,
)
from parallel_map_reduce_spark.operators.tokenize import TOKEN_SPLIT_REGEX

DOCS = [
    (1, "low low low lower lower newest newest newest newest"),
    (2, "newest newest widest widest widest wide wide new"),
    (3, "lowest lowest newest wider wider low low new new new"),
]


def _ref_word_freqs(docs):
    freqs: dict[str, int] = {}
    for _, text in docs:
        for tok in re.split("[ \t\n]+", text):
            w = "".join(c for c in tok if c.isalpha()).lower()
            if w:
                freqs[w] = freqs.get(w, 0) + 1
    return freqs


def _ref_bpe(freqs: dict[str, int], n_merges: int):
    """Textbook BPE: symbol lists per word, count adjacent pairs,
    merge the (freq DESC, pair ASC) winner, repeat."""
    words = {w: list(w) + [BPE_END] for w in freqs}
    merges = []
    for rank in range(1, n_merges + 1):
        counts: dict[tuple[str, str], int] = {}
        for w, syms in words.items():
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freqs[w]
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        (a, b), c = best
        if c < 2:
            break
        merges.append((rank, a, b, a + b, c))
        for w, syms in words.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            words[w] = out
    return merges, words


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id BIGINT, text STRING")


def test_bpe_train_matches_reference_exactly(spark, docs_df):
    n = 12
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_freq)
        for r in bpe_train(docs_df, n_merges=n).orderBy("rank").collect()
    ]
    exp, _ = _ref_bpe(_ref_word_freqs(DOCS), n)
    assert got == exp and len(got) == n


def test_bpe_train_tokenization_contract_matches_operator(spark, docs_df):
    """The reference's word extraction must equal the operator's
    (_words): same split regex, same cleaning — otherwise the merge
    comparison tests the wrong corpus."""
    ref = _ref_word_freqs(DOCS)
    got = {
        r.word: r.freq
        for r in docs_df.select(
            F.explode(F.split("text", TOKEN_SPLIT_REGEX)).alias("tok")
        )
        .select(
            F.lower(F.regexp_replace("tok", "[^A-Za-z]", "")).alias("word")
        )
        .filter(F.length("word") > 0)
        .groupBy("word")
        .count()
        .withColumnRenamed("count", "freq")
        .collect()
    }
    assert got == ref


def test_bpe_segment_roundtrip_and_reference_equality(spark, docs_df):
    n = 12
    merges_rows = bpe_train(docs_df, n_merges=n).orderBy("rank").collect()
    merges = [(r.left, r.right) for r in merges_rows]
    seg = {r.word: r.subwords.split(" ") for r in bpe_segment(docs_df, merges).collect()}
    _, ref_words = _ref_bpe(_ref_word_freqs(DOCS), n)
    assert seg == ref_words
    # Round-trip: concatenated subwords reconstruct word + end marker.
    for w, syms in seg.items():
        assert "".join(syms) == w + BPE_END


def test_unicode_bpe_matches_pure_python_replica(spark, sf_dir):
    """The former parity twin, kept as pytest evidence since the entry
    gained its DuckDB oracle (r15): the unicodedata-based replica
    shares no execution path or tokenizer implementation with the
    entry, so identity still verifies tokenization + the merge
    sequence + the fold segmentation through an implementation the
    oracle does not use."""
    from parallel_map_reduce_spark.queries.text_analysis import (
        text_unicode_bpe,
    )
    from parallel_map_reduce_spark.queries.twins import (
        unicode_bpe_python_replica,
    )

    got = {tuple(r) for r in text_unicode_bpe(spark, sf_dir).collect()}
    ref = {tuple(r) for r in unicode_bpe_python_replica(spark, sf_dir).collect()}
    assert got == ref and len(got) > 0


def test_bpe_train_distributed_path_matches_reference_exactly(spark, docs_df):
    """local_cap=0 forces the per-round distributed loop (the 100 TB
    shape); its merge sequence must equal the reference — and therefore
    the driver-local path the adaptive cap picks for small vocabs."""
    n = 12
    got = [
        (r.rank, r.left, r.right, r.merged, r.pair_freq)
        for r in bpe_train(docs_df, n_merges=n, local_cap=0)
        .orderBy("rank")
        .collect()
    ]
    exp, _ = _ref_bpe(_ref_word_freqs(DOCS), n)
    assert got == exp and len(got) == n


def test_bpe_shared_vocab_segment_equals_selfbuilt(spark, docs_df):
    """bpe_segment(vocab=...) over the shared bpe_vocab_syms frame must
    return exactly the rows of the self-built form."""
    from parallel_map_reduce_spark.operators.text_analysis import bpe_vocab_syms

    n = 12
    vocab = bpe_vocab_syms(docs_df)
    merges_rows = bpe_train(docs_df, n_merges=n, vocab=vocab).orderBy("rank").collect()
    merges = [(r.left, r.right) for r in merges_rows]
    a = {tuple(r) for r in bpe_segment(docs_df, merges, vocab=vocab).collect()}
    b = {tuple(r) for r in bpe_segment(docs_df, merges).collect()}
    assert a == b and len(a) > 0


def test_bpe_local_cap_is_inclusive(spark, docs_df, monkeypatch):
    """A vocabulary of exactly ``local_cap`` rows trains on the driver
    (``_bpe_train_local``); one row more than the cap takes the
    distributed loop. Both give the reference's merges."""
    from parallel_map_reduce_spark.operators import text_analysis as TA

    calls = []
    local = TA._bpe_train_local

    def spy(vocab, n_merges):
        calls.append(len(vocab))
        return local(vocab, n_merges)

    monkeypatch.setattr(TA, "_bpe_train_local", spy)
    n_vocab = len(_ref_word_freqs(DOCS))

    def merges(cap):
        return [
            tuple(r)
            for r in bpe_train(docs_df, n_merges=12, local_cap=cap)
            .orderBy("rank")
            .collect()
        ]

    at_cap = merges(n_vocab)
    assert calls == [n_vocab]
    below = merges(n_vocab - 1)
    assert calls == [n_vocab]
    exp, _ = _ref_bpe(_ref_word_freqs(DOCS), 12)
    assert at_cap == below == exp
