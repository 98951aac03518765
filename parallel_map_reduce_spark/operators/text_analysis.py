"""Text-analysis operators (north-star extension, SURVEY.md §2.3).

Language-ID (stopword-hit heuristic), quality scoring, token counting
(whitespace + BPE-ish regex), and document fingerprinting. Everything is
built-in Column expressions — per-row compute with no shuffle, so these
run at scan speed inside whole-stage codegen at any scale.

Constants are module-level so the DuckDB oracle SQL (queries/
text_analysis.py) interpolates the SAME stopword lists and regexes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_i32
from ..kernels import ascii_words, md5_memo
from ..registry import pin
from ..sources.catalog import local_frame
from .tokenize import TOKEN_SPLIT_REGEX, clean_word_col

# BPE-ish token regex: letter runs, digit runs, single non-space symbols.
BPE_TOKEN_REGEX = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n]"

# Tiny deterministic stopword profiles for language ID. Order matters:
# ties resolve to the first language in LANG_ORDER with the max hits.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "a", "that", "it", "for"),
    "de": ("der", "die", "und", "das", "ist", "nicht", "ein", "mit", "von", "zu"),
    "fr": ("le", "la", "et", "les", "des", "est", "une", "dans", "que", "pour"),
    "es": ("el", "la", "de", "que", "los", "es", "una", "con", "por", "para"),
}
LANG_ORDER = ("en", "de", "fr", "es")

EN_STOPWORDS = LANG_STOPWORDS["en"]


def _words(docs: DataFrame) -> DataFrame:
    """(doc_id, word) cleaned tokens WITH multiplicity (tf semantics)."""
    return (
        docs.select("doc_id", F.explode(F.split("text", TOKEN_SPLIT_REGEX)).alias("tok"))
        .select("doc_id", clean_word_col("tok").alias("word"))
        .filter(F.length("word") > 0)
    )


def token_counts(docs: DataFrame) -> DataFrame:
    """(doc_id, n_ws_tokens, n_bpe_tokens, n_chars): whitespace tokens
    (non-empty splits) and BPE-ish regex tokens. Pure projections —
    column-pruned scan reads only (doc_id, text)."""
    ws = F.size(F.filter(F.split("text", TOKEN_SPLIT_REGEX), lambda x: F.length(x) > 0))
    # regexp_extract_all defaults to group 1; our regex has no capture
    # group, so wrap it and ask for group 0 (whole-match semantics, same
    # as the DuckDB oracle's regexp_extract_all).
    bpe = F.size(F.regexp_extract_all("text", F.lit("(" + BPE_TOKEN_REGEX + ")"), 0))
    return docs.select(
        "doc_id",
        ws.cast("bigint").alias("n_ws_tokens"),
        bpe.cast("bigint").alias("n_bpe_tokens"),
        F.length("text").cast("bigint").alias("n_chars"),
    )


def _clean_words_arr() -> F.Column:
    """Cleaned non-empty word array (tf semantics, order preserved)."""
    cleaned = F.transform(F.split("text", TOKEN_SPLIT_REGEX), lambda t: clean_word_col(t))
    return F.filter(cleaned, lambda w: F.length(w) > 0)


def quality_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, alpha_ratio, stopword_ratio, mean_token_len,
    quality): heuristic quality features + a composite score.

    Zero-shuffle: every per-document stat is an array fold over the
    cleaned word array (size / filter+size / aggregate) — the previous
    explode→groupBy→join formulation paid two shuffles for stats that
    are pure per-row arithmetic. All ratios are integer-count divisions →
    bit-identical across engines.
    """
    stop_arr = F.array(*[F.lit(s) for s in EN_STOPWORDS])
    words = _clean_words_arr()
    j = docs.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        F.length(F.regexp_replace("text", "[^A-Za-z]", "")).alias("n_alpha"),
        F.size(words).alias("n_tokens"),
        F.size(F.filter(words, lambda w: F.array_contains(stop_arr, w))).alias("n_stop"),
        F.aggregate(words, F.lit(0), lambda acc, w: acc + F.length(w)).alias("sum_word_len"),
    )
    alpha_ratio = F.when(F.col("n_chars") > 0, F.col("n_alpha") / F.col("n_chars")).otherwise(
        F.lit(0.0)
    )
    stop_ratio = F.when(F.col("n_tokens") > 0, F.col("n_stop") / F.col("n_tokens")).otherwise(
        F.lit(0.0)
    )
    mean_len = F.when(
        F.col("n_tokens") > 0, F.col("sum_word_len") / F.col("n_tokens")
    ).otherwise(F.lit(0.0))
    quality = alpha_ratio * 0.5 + stop_ratio * 0.3 + F.least(mean_len / 10.0, F.lit(1.0)) * 0.2
    return j.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        alpha_ratio.alias("alpha_ratio"),
        stop_ratio.alias("stopword_ratio"),
        mean_len.alias("mean_token_len"),
        quality.alias("quality"),
    )


def lang_id(docs: DataFrame) -> DataFrame:
    """(doc_id, pred_lang, lang): stopword-profile language ID. Hit counts
    per language over the token multiset; argmax with LANG_ORDER
    tie-break; zero hits → 'und' (undetermined — e.g. the zh docs, whose
    CJK text cleans to nothing under the ASCII contract).

    Zero-shuffle: each language's hit count is filter+size over the word
    array (was explode → groupBy → join back, two shuffles)."""
    words = _clean_words_arr()

    def _hits(code: str) -> F.Column:
        # factory closure: HOF lambdas must stay 1-ary (a 2-ary lambda is
        # dispatched as the (element, index) form)
        arr = F.array(*[F.lit(s) for s in LANG_STOPWORDS[code]])
        return F.size(F.filter(words, lambda w: F.array_contains(arr, w))).alias(
            f"hits_{code}"
        )

    hit_cols = [_hits(code) for code in LANG_ORDER]
    out = docs.select("doc_id", "lang", *hit_cols)
    best = F.greatest(*[F.col(f"hits_{c}") for c in LANG_ORDER])
    pred = F.when(best == 0, F.lit("und"))
    for code in LANG_ORDER:  # first max in LANG_ORDER wins ties
        pred = pred.when(F.col(f"hits_{code}") == best, F.lit(code))
    return out.select("doc_id", pred.otherwise(F.lit("und")).alias("pred_lang"), "lang")


WINNOW_K = 8  # character k-gram length
WINNOW_W = 4  # winnowing window (hashes per window)


def _winnow_fn(k: int, w: int):
    """Arrow-batch kernel factory for ``winnowing_fingerprints``: per
    document, hash every k-char gram (md5-derived 32-bit, the dedup
    family hash), take the min of each w-hash window, and emit the
    sorted distinct selection — the whole per-position pipeline in one
    Python hop (guide §4.2). Exactness:

    - gram hash: ``md5_memo``'s 32-bit prefix == conv(substring(md5,
      1, 8), 16, 10) — integer-exact.
    - the normalized text is ``ascii_words`` re-joined with ' ', the
      JVM array projection it replaces; it is pure ASCII, so Spark's
      code-point length/substring equal byte offsets.
    - distinct gram hashes are computed once per distinct gram
      (np.unique over the uint64 gram view when k == 8, plus the
      per-task memo) — the JVM expression re-hashed every position.
    - rows with no gram (len < k) or no window (grams < w) emit
      (0, ''), matching the when()-guarded empty arrays they replace.

    numpy/pyarrow imports live in the closure (guide §4.5)."""

    def fn(it):
        import numpy as np
        import pyarrow as pa
        from numpy.lib.stride_tricks import sliding_window_view

        hashes = md5_memo()
        for batch in it:
            if batch.num_rows == 0:
                continue
            texts = batch.column("text").to_pylist()
            out_n: list[int] = []
            out_t: list[str] = []
            for text in texts:
                s = " ".join(ascii_words(text))
                if not s or len(s) < k:
                    out_n.append(0)
                    out_t.append("")
                    continue
                n_grams = len(s) - k + 1
                if k == 8:  # gram fits one uint64 word
                    b = np.frombuffer(s.encode("ascii"), dtype=np.uint8)
                    gu = (
                        sliding_window_view(b, k)
                        .copy()
                        .view(np.uint64)
                        .ravel()
                    )
                    _, first, inv = np.unique(
                        gu, return_index=True, return_inverse=True
                    )
                    uh = np.array(
                        hashes(s[i : i + k] for i in first), dtype=np.int64
                    )
                    hs = uh[inv]
                else:
                    hs = np.array(
                        hashes(s[i : i + k] for i in range(n_grams)),
                        dtype=np.int64,
                    )
                if len(hs) < w:
                    out_n.append(0)
                    out_t.append("")
                    continue
                fps = np.unique(sliding_window_view(hs, w).min(axis=1))
                out_n.append(len(fps))
                out_t.append(" ".join(map(str, fps.tolist())))
            yield pa.record_batch(
                [
                    batch.column("doc_id"),
                    pa.array(out_n, type=pa.int64()),
                    pa.array(out_t, type=pa.string()),
                ],
                names=["doc_id", "n_fingerprints", "fingerprints"],
            )

    return fn


def winnowing_fingerprints(docs: DataFrame, k: int = WINNOW_K, w: int = WINNOW_W) -> DataFrame:
    """(doc_id, n_fingerprints, fingerprints): rolling-hash document
    fingerprints via winnowing (Schleimer/Wilkerson/Aiken, SIGMOD 2003 —
    the MOSS algorithm; public).

    Over the normalized text: hash every k-char gram (rolling window),
    then keep the minimum hash of each w-hash window; the distinct set of
    selected hashes is the fingerprint. Guarantees every match of length
    ≥ k+w-1 shares a fingerprint, at ~2/(w+1) sample rate.

    The whole pipeline — normalization, per-position md5, sliding-min
    selection — runs in ONE Arrow hop (r18 opt, guide §4.2: the r17
    form paid an interpreted CodegenFallback transform per token AND
    per position plus a JVM md5 per gram; the kernel normalizes with
    two C-regex passes, hashes each DISTINCT gram once, and vectorizes
    the window mins). Zero shuffle, scan-speed, same md5-derived
    32-bit hash as the dedup family so the DuckDB oracle reproduces it
    exactly; values bit-identical (integer-exact hashing, the shared
    ``ascii_words`` tokenizer — _winnow_fn). Only (doc_id, text) crosses the
    Python boundary.
    """
    return docs.select("doc_id", "text").mapInArrow(
        _winnow_fn(k, w),
        "doc_id bigint, n_fingerprints bigint, fingerprints string",
    )


def tfidf(docs: DataFrame) -> DataFrame:
    """(doc_id, word, tf, df, tfidf): classic tf-idf over the corpus.

    tf = one shuffle on (doc_id, word); df derives from tf (already
    word-keyed, so the second agg re-uses the shuffle output); the corpus
    size joins in as a broadcast 1-row aggregate. The tf↔df join keys on
    word — vocabulary-sized, so AQE picks broadcast vs shuffle by size.
    tfidf is rounded to 4 decimals on both engine sides (ln is not
    IEEE-correctly-rounded across libms).
    """
    toks = _words(docs)
    tf = toks.groupBy("doc_id", "word").agg(F.count("*").alias("tf"))
    dfc = tf.groupBy("word").agg(F.count("*").alias("df"))
    n_docs = docs.select(F.count("*").alias("n_docs"))
    return (
        tf.join(dfc, "word")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "word",
            F.col("tf").cast("bigint").alias("tf"),
            F.col("df").cast("bigint").alias("df"),
            F.round(
                F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
            ).alias("tfidf"),
        )
    )


def fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, fingerprint, norm_text_prefix): md5 digest of the
    normalized token stream (order-preserving), the canonical content
    fingerprint for exact-after-normalization dedup.

    Zero-shuffle: the normalized text is an array projection
    (transform/filter/array_join on the split array) — no explode, no
    window, no re-aggregation. Runs at scan speed inside codegen."""
    cleaned = F.transform(F.split("text", TOKEN_SPLIT_REGEX), lambda t: clean_word_col(t))
    norm_text = F.array_join(F.filter(cleaned, lambda w: F.length(w) > 0), " ")
    return docs.select(
        "doc_id",
        F.md5(norm_text).alias("fingerprint"),
        F.substring(norm_text, 1, 40).alias("norm_text_prefix"),
    )


def _ngrams(words: F.Column, k: int) -> F.Column:
    """Order-preserving k-gram strings ('w1 w2 ... wk') from a word
    array, as a pure array projection. Empty array when the doc has
    fewer than k words (the sequence() guard matters: Spark's
    sequence(a, b) with b < a yields a DESCENDING range, not empty)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(words) - (k - 1)),
        lambda i: F.array_join(F.slice(words, i, k), " "),
    )
    return F.when(F.size(words) >= k, grams).otherwise(
        F.array().cast("array<string>")
    )


def repetition_signals(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, top_word_frac, top_bigram_frac,
    dup_bigram_frac, dup_trigram_frac): Gopher-style repetition quality
    signals (Rae et al. 2021 §A1.1: top-n-gram fraction, duplicate
    n-gram fraction) over the cleaned token stream.

    Zero-shuffle: every signal is an array fold over the per-doc word
    array — distinct counts via array_distinct, top-frequency via a
    distinct×filter product that is O(u·n) in the DOC's own length,
    bounded per row regardless of corpus size. All fractions are
    integer-count divisions → bit-identical across engines. (The
    reference's per-doc word loop, src/tema1.cpp:142-166, is the same
    per-document locality this projection preserves.)

    Line-level duplicate signals (Gopher's other half) are intentionally
    not computed: the corpus stores documents as single-line normalized
    text, so they would be vacuously zero for every row.
    """

    def top_freq(arr: F.Column) -> F.Column:
        counts = F.transform(
            F.array_distinct(arr),
            lambda g: F.size(F.filter(arr, lambda x: x == g)),
        )
        return F.coalesce(F.array_max(counts), F.lit(0))

    def frac(num: F.Column, den: F.Column) -> F.Column:
        return F.when(den > 0, num / den.cast("double")).otherwise(F.lit(0.0))

    staged = docs.select("doc_id", _clean_words_arr().alias("words")).select(
        "doc_id",
        "words",
        _ngrams(F.col("words"), 2).alias("big"),
        _ngrams(F.col("words"), 3).alias("tri"),
    )
    n_words = F.size("words")
    n_big, n_tri = F.size("big"), F.size("tri")
    return staged.select(
        "doc_id",
        n_words.cast("bigint").alias("n_tokens"),
        frac(top_freq(F.col("words")), n_words).alias("top_word_frac"),
        frac(top_freq(F.col("big")), n_big).alias("top_bigram_frac"),
        frac(n_big - F.size(F.array_distinct("big")), n_big).alias("dup_bigram_frac"),
        frac(n_tri - F.size(F.array_distinct("tri")), n_tri).alias("dup_trigram_frac"),
    )


def line_repetition_signals(docs: DataFrame) -> DataFrame:
    """(doc_id, n_lines, dup_line_frac, dup_line_char_frac,
    n_paragraphs, dup_para_frac, dup_para_char_frac): the LINE-level
    half of the Gopher repetition rules (Rae et al. 2021 §A1.1 —
    duplicate line / paragraph fractions by count and by character
    mass), the half ``repetition_signals`` documents as intentionally
    absent over the single-line ``documents`` table. Run it on text
    with real line structure (the reference corpus — 355 book chapters
    with blank-line paragraph breaks).

    Contract: lines = '\\n'-split elements, btrim'd of space/tab/CR,
    empties dropped; paragraphs = '\\n\\n'-split elements, same trim
    (a paragraph keeps its INTERNAL single newlines — identity is the
    trimmed raw block). dup_*_frac = EXCESS occurrences over distinct
    (0.0 for a fully-distinct doc); dup_*_char_frac = the same in
    character mass. Integer counts, one 4-dp-rounded division each
    (the repo's cross-engine float policy).

    Zero-shuffle: every signal is an array fold over the per-doc
    split — array_distinct + two aggregate() sums per level, bounded
    by the DOC's own length. Partition-parallel at any corpus size."""
    trim_chars = " \t\r"

    def pieces(sep: str) -> F.Column:
        return F.filter(
            F.transform(
                F.split(F.col("text"), sep),
                lambda x: F.btrim(x, F.lit(trim_chars)),
            ),
            lambda x: F.length(x) > 0,
        )

    def char_sum(arr: F.Column) -> F.Column:
        return F.aggregate(
            arr, F.lit(0).cast("bigint"), lambda a, x: a + F.length(x)
        )

    def stats(arr: F.Column, prefix: str, n_alias: str) -> list[F.Column]:
        n = F.size(arr)
        nd = F.size(F.array_distinct(arr))
        ct = char_sum(arr)
        cd = char_sum(F.array_distinct(arr))
        frac = F.when(n > 0, F.round((n - nd) / n, 4)).otherwise(F.lit(0.0))
        cfrac = F.when(ct > 0, F.round((ct - cd) / ct, 4)).otherwise(
            F.lit(0.0)
        )
        return [
            n.cast("bigint").alias(n_alias),
            frac.alias(f"dup_{prefix}_frac"),
            cfrac.alias(f"dup_{prefix}_char_frac"),
        ]

    staged = docs.select(
        "doc_id",
        pieces("\n").alias("lines"),
        pieces("\n\n").alias("paras"),
    )
    return staged.select(
        "doc_id",
        *stats(F.col("lines"), "line", "n_lines"),
        *stats(F.col("paras"), "para", "n_paragraphs"),
    )


def bigram_counts(docs: DataFrame) -> DataFrame:
    """(bigram, tf, df): corpus-wide LM bigram count table — total
    occurrences (tf) and containing-document count (df) per bigram.

    Plan: the per-doc bigram array is a zero-shuffle projection
    (_ngrams), then ONE shuffle keyed by the bigram does both counts —
    df via two-phase distinct-doc counting inside the same aggregation.
    Bigram keys distribute like text n-grams (Zipfian); at 100 TB the
    partial (map-side) count absorbs the head tokens' skew before the
    exchange, which is why tf uses count(*) + partial agg rather than
    collecting postings.

    The word array is STAGED through a select before _ngrams sees it:
    _ngrams references its input 3x, and handing it the raw clean-words
    expression subtree makes Catalyst duplicate the per-token regexp
    cleaning per reference — measured 10x slower at sf0.1 than
    referencing the bound column."""
    staged = docs.select("doc_id", _clean_words_arr().alias("words"))
    pairs = staged.select(
        "doc_id", F.explode(_ngrams(F.col("words"), 2)).alias("bigram")
    )
    return pairs.groupBy("bigram").agg(
        F.count("*").cast("bigint").alias("tf"),
        F.countDistinct("doc_id").cast("bigint").alias("df"),
    )


# ---- PII / pattern redaction ----

# Dialect-portable regexes (identical semantics in Java regex and RE2:
# no backreferences, no lookaround). Patterns run sequentially in dict
# order, each counting and replacing what the EARLIER patterns left —
# so an IP address is counted by 'ipv4' once and is no longer visible
# to the looser 'phone' digit-run pattern. Order the dict most-specific
# first.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ssn": r"[0-9]{3}-[0-9]{2}-[0-9]{4}",
    "ipv4": r"[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}",
    "phone": r"\+?[0-9][0-9()\-. ]{7,}[0-9]",
}


def redact_patterns(
    df: DataFrame,
    col: str,
    patterns: dict[str, str] | None = None,
    token: str = "[PII]",
) -> DataFrame:
    """All input columns + ``<col>_redacted`` and per-pattern match
    counts ``n_<name>``: regex scrubbing for PII before a corpus ships
    to training — emails, SSNs, IPs, phones by default.

    Scale shape: a pure per-row projection (regexp_replace +
    regexp_extract_all chains, all JVM codegen) — ZERO shuffles, runs
    at scan speed; the counts exist so a downstream audit can
    aggregate redaction rates without re-scanning the raw text.
    Patterns count-then-replace sequentially in dict order, so each
    match is attributed to exactly ONE pattern (the first that sees
    it) and the counts sum to the number of redactions made."""
    pats = PII_PATTERNS if patterns is None else patterns
    out = df
    redacted = F.col(col)
    for name, pat in pats.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all(redacted, F.lit(f"({pat})"), 0)).cast("bigint"),
        )
        redacted = F.regexp_replace(redacted, pat, token)
    return out.withColumn(f"{col}_redacted", redacted)


def vocab_growth(docs: DataFrame) -> DataFrame:
    """(doc_id, cum_tokens, vocab_size): the Heaps-law vocabulary-growth
    curve — for each document in doc_id order, the cumulative cleaned-
    token count and the cumulative DISTINCT-word count up to and
    including it. The standard corpus-health diagnostic for a training
    set (sub-linear growth = natural text; near-linear = id/noise
    contamination).

    Scale shape: "cumulative distinct" never materializes running sets —
    each word's first_doc = min(doc_id) (one word-keyed exchange with
    partial min), so a doc's novel-word count is a plain aggregate, and
    the running totals are ranking.global_cumsum's range-bucket prefix
    decomposition: per-doc rows only, no single-partition window at any
    corpus size."""
    from .dedup import clean_words_array
    from .ranking import global_cumsum

    wa = clean_words_array(docs)
    per_doc_tokens = wa.select(
        "doc_id", F.size("words").cast("bigint").alias("n_tokens")
    )
    words = wa.select("doc_id", F.explode("words").alias("word"))
    new_words = (
        words.groupBy("word")
        .agg(F.min("doc_id").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_new"))
    )
    # Pinned (per-doc rows, r18 opt, guide §5): global_cumsum references
    # its input THREE times (the percentile-boundary job, the per-bucket
    # sums job, and the final windowed output) — unpinned, each
    # reference re-ran both corpus aggregations and the join, i.e. six
    # corpus scans per materialize instead of two.
    base = pin(
        per_doc_tokens.join(new_words, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce("n_new", F.lit(0)).cast("bigint").alias("n_new"),
        )
    )
    return global_cumsum(base, "doc_id", ["n_tokens", "n_new"]).select(
        "doc_id",
        F.col("n_tokens_cum").alias("cum_tokens"),
        F.col("n_new_cum").alias("vocab_size"),
    )


def lm_perplexity_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, n_bigrams, avg_nll, ppl): CCNet-style language-model
    quality scoring — each document's average negative log2-likelihood
    and perplexity under a Laplace-smoothed corpus bigram LM
    (P(w2|w1) = (c(w1 w2)+1) / (c(w1)+V)). Low-perplexity docs read
    like the corpus; high-perplexity docs are noise/ids — the classic
    LM quality filter, self-trained here instead of external-model
    scored.

    Plan: bigram instances join the corpus bigram table (one
    bigram-keyed exchange), the context word joins the unigram table
    (one word-keyed exchange), the 1-row (V) scalar broadcasts, and
    the per-doc reduction keys on doc_id. At 100 TB the LM tables are
    the artifact to prune to a top-M vocabulary and BROADCAST, turning
    both fact exchanges into map-side hash probes.

    Cross-engine determinism: each bigram's nll is rounded to 6 dp and
    summed as DECIMAL (exact, order-free); the final avg/perplexity
    are one division + one pow on that exact sum, rounded to 4 dp —
    the q14 discipline."""
    staged = docs.select("doc_id", _clean_words_arr().alias("words"))
    # Pinned (vocab-sized): the unigram table is referenced by
    # the V scalar AND the context join — without the pin each
    # reference re-runs the word aggregation over the corpus.
    unic = pin(
        staged.select(F.explode("words").alias("word"))
        .groupBy("word")
        .agg(F.count("*").cast("bigint").alias("cw"))
    )
    voc = unic.agg(F.count("*").cast("bigint").alias("v"))
    # Pinned (r17 opt): the bigram-instance frame feeds the corpus
    # bigram table AND the scored join — without the pin each
    # reference re-ran the tokenize+ngram explode over the corpus
    # (a second full scan at 100 TB; locally ~ −5%).
    grams = pin(
        staged.select(
            "doc_id", F.explode(_ngrams(F.col("words"), 2)).alias("bigram")
        )
    )
    bic = grams.groupBy("bigram").agg(F.count("*").cast("bigint").alias("c"))
    w1 = F.split("bigram", " ")[0]
    scored = (
        grams.join(bic, "bigram")
        .withColumn("w1", w1)
        .join(unic.select(F.col("word").alias("w1"), "cw"), "w1")
        .crossJoin(F.broadcast(voc))
        .select(
            "doc_id",
            F.round(
                -F.log2(
                    (F.col("c") + 1).cast("double")
                    / (F.col("cw") + F.col("v")).cast("double")
                ),
                6,
            )
            .cast("decimal(18,6)")
            .alias("nll"),
        )
    )
    per_doc = scored.groupBy("doc_id").agg(
        F.sum("nll").alias("s"), F.count("*").cast("bigint").alias("n")
    )
    avg = F.col("s").cast("double") / F.col("n")
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_bigrams"),
            F.when(F.coalesce("n", F.lit(0)) > 0, F.round(avg, 4))
            .otherwise(F.lit(0.0))
            .alias("avg_nll"),
            F.when(
                F.coalesce("n", F.lit(0)) > 0,
                F.round(F.pow(F.lit(2.0), avg), 4),
            )
            .otherwise(F.lit(1.0))
            .alias("ppl"),
        )
    )


CHUNK_W = 64  # tokens per chunk
CHUNK_STRIDE = 48  # tokens between chunk starts (overlap = W - STRIDE)


def chunk_documents(
    docs: DataFrame, w: int = CHUNK_W, stride: int = CHUNK_STRIDE
) -> DataFrame:
    """(doc_id, chunk_id, chunk_text, n_tokens): overlapping token-window
    chunking — the retrieval/embedding preprocessing step (chunk w
    tokens, slide by stride, so consecutive chunks share w-stride
    tokens of context). The final window is whatever remains (>= 1
    token); a document shorter than w yields exactly one chunk.

    Pure array projection over the cleaned word array — chunk
    extraction never shuffles; at 100 TB this runs at scan speed and
    the output feeds the embedding UDF / ANN index builders
    downstream."""
    from .dedup import clean_words_array

    wa = clean_words_array(docs)
    n = F.size("words")
    # number of chunks: 1 + ceil(max(n - w, 0) / stride), at least 1
    # when the doc has any tokens
    n_chunks = F.when(
        n <= 0, F.lit(0)
    ).otherwise(
        F.lit(1) + F.ceil((F.greatest(n - w, F.lit(0))) / F.lit(stride)).cast("int")
    )
    chunks = F.transform(
        F.sequence(F.lit(0), n_chunks - 1),
        lambda i: F.struct(
            i.cast("bigint").alias("chunk_id"),
            F.slice("words", i * stride + 1, w).alias("toks"),
        ),
    )
    exploded = wa.select(
        "doc_id", F.explode(F.when(n_chunks > 0, chunks)).alias("c")
    )
    return exploded.select(
        "doc_id",
        F.col("c.chunk_id").alias("chunk_id"),
        F.array_join(F.col("c.toks"), " ").alias("chunk_text"),
        F.size(F.col("c.toks")).cast("bigint").alias("n_tokens"),
    )


# --- BPE subword vocabulary training (Sennrich, Haddow & Birch, ACL
# 2016, "Neural Machine Translation of Rare Words with Subword Units";
# the merge loop below is the standard algorithm re-expressed as
# DataFrame ops) -------------------------------------------------------

BPE_END = "</w>"  # end-of-word marker symbol
BPE_N_MERGES = 24
BPE_CKPT_EVERY = 6  # checkpoint the vocab-sized symbol table every K merges
# Driver-local training threshold (r18 opt, guide §3.1's broadcast-
# threshold discipline applied to an iterative loop): once the
# (word, freq, syms) table is MATERIALIZED, a bounded take tells us
# whether the whole vocabulary is driver-metadata-sized; below the cap
# the merge loop runs as the textbook single-machine algorithm in ONE
# job instead of one TakeOrdered job per merge batch — the per-round
# argmax chain at small vocab is pure scheduler latency (measured
# 5.4 s of 16 tiny actions over a 31-row table at sf0.1). Past the cap
# (a 100 TB corpus vocabulary) the distributed per-round loop below is
# the only shape that works, and the bounded take cost one job. The
# cap bounds BOTH memory (64k rows of short strings, the
# QUERY_BATCH_CAP class) and driver CPU (merges x rows x word length).
BPE_LOCAL_VOCAB_CAP = 65536


def bpe_vocab_syms(docs: DataFrame, words: DataFrame | None = None) -> DataFrame:
    """(word, freq, syms): the corpus word-frequency table with initial
    BPE character symbols, localCheckpoint-ed (vocab-sized). The ONE
    corpus pass BPE training needs; callers that both train and segment
    share this frame so the corpus is scanned once, not once per phase."""
    return (
        (words if words is not None else _words(docs))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .select("word", "freq", _char_syms("word").alias("syms"))
        .localCheckpoint(eager=True)
    )


def _apply_merge_local(syms: list[str], a: str, b: str, ab: str) -> list[str]:
    """Driver-side replica of ``_merge_pair_expr``'s greedy
    left-to-right non-overlapping fold: append each symbol unless it
    closes the pair with the output's last element."""
    out: list[str] = []
    for s in syms:
        if out and out[-1] == a and s == b:
            out[-1] = ab
        else:
            out.append(s)
    return out


def _bpe_train_local(
    vocab: list[tuple[int, list[str]]], n_merges: int
) -> list[tuple[int, str, str, str, int]]:
    """The textbook Sennrich merge loop over a driver-local
    (freq, syms) vocabulary — the exact algorithm the distributed
    per-round loop implements (same pair counting by summed word freq,
    same (count DESC, left ASC, right ASC) argmax — Python tuple order
    on str equals Spark's UTF8 binary order for valid code points —
    same ``c >= 2`` stop, same greedy fold application), so the merge
    sequence is identical by construction; tests/test_bpe.py pins both
    paths against an independent reference."""
    words = [(int(freq), list(syms)) for freq, syms in vocab]
    merges: list[tuple[int, str, str, str, int]] = []
    while len(merges) < n_merges:
        counts: dict[tuple[str, str], int] = {}
        for freq, syms in words:
            for i in range(len(syms) - 1):
                p = (syms[i], syms[i + 1])
                counts[p] = counts.get(p, 0) + freq
        if not counts:
            break
        (a, b), c = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if c < 2:
            break
        ab = a + b
        merges.append((len(merges) + 1, a, b, ab, c))
        words = [
            (freq, _apply_merge_local(syms, a, b, ab)) for freq, syms in words
        ]
    return merges


def _char_syms(word_col: str) -> F.Column:
    """word -> its character symbols + the end-of-word marker. The
    (?!^) lookahead split emits a trailing '' that must be filtered."""
    chars = F.filter(F.split(F.col(word_col), "(?!^)"), lambda s: s != "")
    return F.concat(chars, F.array(F.lit(BPE_END)))


def _merge_pair_expr(syms_col: str | F.Column, a: str, b: str, ab: str) -> F.Column:
    """Greedy left-to-right non-overlapping replacement of adjacent
    (a, b) with ab, as a fold: append each symbol unless it closes the
    pair with the accumulator's last element. Matches the reference
    algorithm's scan exactly (in 'aaa', pair (a,a) merges once)."""
    return F.aggregate(
        syms_col,
        F.array().cast("array<string>"),
        lambda acc, s: F.when(
            (F.size(acc) > 0)
            & (F.element_at(acc, -1) == F.lit(a))
            & (s == F.lit(b)),
            F.concat(F.slice(acc, F.lit(1), F.size(acc) - 1), F.array(F.lit(ab))),
        ).otherwise(F.concat(acc, F.array(s))),
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_N_MERGES,
    words: DataFrame | None = None,
    vocab: DataFrame | None = None,
    local_cap: int | None = None,
) -> DataFrame:
    """(rank, left, right, merged, pair_freq): the first ``n_merges``
    BPE merges learned from the corpus, in order.

    Scale shape — the reason this is distributable at all: the corpus
    is touched ONCE (word-frequency count, one shuffle); every merge
    round then runs over the |vocab|-sized (freq, syms) table — pair
    explode + one partial-aggregated groupBy per round, with only the
    winning pair (one row) reaching the driver, exactly the
    metadata-sized collect discipline of train_ivf_centroids. The
    symbol table is localCheckpoint'ed every BPE_CKPT_EVERY rounds so
    plan depth stays bounded while most rounds stay lazy. Ties on
    pair frequency break (freq DESC, left ASC, right ASC) so training
    is deterministic; pytest pins the merge sequence against an
    independent pure-Python reference implementation
    (tests/test_bpe.py). ``words`` overrides the default ASCII
    (doc_id, word) stream — e.g. unicode tokens for the r14 UTF-8
    contract; the merge loop itself is alphabet-agnostic. ``vocab``
    lets a caller that also segments pass the shared
    ``bpe_vocab_syms`` frame (one corpus pass for both phases);
    ``local_cap`` overrides BPE_LOCAL_VOCAB_CAP (tests force the
    distributed path with 0)."""
    spark = docs.sparkSession
    wf0 = vocab if vocab is not None else bpe_vocab_syms(docs, words)
    cap = BPE_LOCAL_VOCAB_CAP if local_cap is None else local_cap
    mschema = "rank INT, left STRING, right STRING, merged STRING, pair_freq BIGINT"
    # Scale-adaptive path pick (see BPE_LOCAL_VOCAB_CAP): ONE bounded
    # take against the already-materialized vocab decides; a full
    # fetch (cap exceeded) falls through to the distributed loop.
    head = wf0.select("freq", "syms").limit(cap + 1).collect() if cap > 0 else []
    if cap > 0 and len(head) <= cap:
        return local_frame(
            spark,
            _bpe_train_local([(r.freq, r.syms) for r in head], n_merges),
            mschema,
        )
    wf = wf0.select("freq", "syms")
    merges: list[tuple[int, str, str, str, int]] = []
    # r18 opt: one TakeOrdered action can certify SEVERAL sequential
    # merges (guide §1.2 — fewer driver-round-trip jobs for the same
    # algorithm). Fetch the top-K pair counts, accept the argmax, then
    # keep accepting the NEXT rows in (freq DESC, l ASC, r ASC) order
    # while the driver can PROVE each would still be the argmax after
    # the earlier accepted merges:
    #  (1) symbol-disjointness: the candidate's symbols appear in no
    #      accepted merge's {a, b, ab}. Merging (a,b)→ab only destroys
    #      pairs touching a or b and only creates pairs touching ab,
    #      so a disjoint pair's count is INVARIANT under the batch —
    #      the candidate's collected count and rank among untouched
    #      pairs are still exact.
    #  (2) created-pair dominance: any adjacency that exists after the
    #      accepted prefix but not before traces back (injectively) to
    #      a pre-batch occurrence of some pair (·, a_i) or (b_i, ·),
    #      so every created pair's count is ≤ U = max(count of any
    #      top-K row with r ∈ {a_i} or l ∈ {b_i}, K-th row's count as
    #      the floor for unseen pairs). Require candidate count > U
    #      STRICTLY (a tie could lose on the lexical key to an unknown
    #      created pair).
    # The first uncertifiable row ends the batch; the next action
    # re-counts from the merged table, so training visits exactly the
    # reference merge sequence (pinned in tests/test_bpe.py).
    topk = 48
    since_ckpt = 0
    while len(merges) < n_merges:
        rows = (
            wf.select(
                "freq",
                F.explode(
                    F.expr(
                        "transform(slice(syms, 1, size(syms)-1),"
                        " (s, j) -> struct(s AS l, syms[j+1] AS r))"
                    )
                ).alias("p"),
            )
            .groupBy("p.l", "p.r")
            .agg(F.sum("freq").alias("c"))
            .orderBy(F.desc("c"), F.asc("l"), F.asc("r"))
            .take(topk)
        )
        if not rows or rows[0].c < 2:
            break  # nothing left worth merging
        floor = rows[-1].c if len(rows) == topk else 0
        a_set: set[str] = set()
        b_set: set[str] = set()
        used: set[str] = set()
        accepted: list[tuple[str, str, int]] = []
        for r in rows:
            if len(merges) + len(accepted) >= n_merges or r.c < 2:
                break
            if accepted:
                if r.l in used or r.r in used:
                    break
                bound = floor
                for other in rows:
                    if other.r in a_set or other.l in b_set:
                        bound = max(bound, other.c)
                if not r.c > bound:
                    break
            accepted.append((r.l, r.r, int(r.c)))
            a_set.add(r.l)
            b_set.add(r.r)
            used.update((r.l, r.r, r.l + r.r))
        for a, b, c in accepted:
            ab = a + b
            merges.append((len(merges) + 1, a, b, ab, c))
            wf = wf.select("freq", _merge_pair_expr("syms", a, b, ab).alias("syms"))
            since_ckpt += 1
            if since_ckpt >= BPE_CKPT_EVERY:
                wf = wf.localCheckpoint(eager=True)
                since_ckpt = 0
    return local_frame(spark, merges, mschema)


def bpe_segment(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    words: DataFrame | None = None,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """(word, n_subwords, subwords): BPE segmentation of the corpus
    VOCABULARY under an ordered merge list — applied per DISTINCT
    word, never per occurrence, because segmentation is a function of
    the word alone; the corpus-sized join back (if a caller needs
    per-token output) is then a broadcast of this vocab table. Merges
    apply in rank order, each as the same fold ``bpe_train`` uses, so
    train→segment round-trips: a word whose pairs were all merged
    segments to one symbol. ``vocab`` reuses a ``bpe_vocab_syms``
    frame (its syms column IS ``_char_syms(word)``), skipping the
    second corpus scan when the caller already trained on one."""
    if vocab is not None:
        syms = F.col("syms")
    else:
        vocab = (
            (words if words is not None else _words(docs))
            .groupBy("word")
            .agg(F.count("*").alias("freq"))
        )
        syms = _char_syms("word")
    for a, b in merges:
        # Rebinding through a Column (not a DataFrame per round) keeps
        # this a single projection: n_merges nested folds, one stage,
        # zero shuffles after the vocab groupBy.
        syms = _merge_pair_expr(syms, a, b, a + b)
    return vocab.select(
        "word",
        "freq",
        F.size(syms).cast("bigint").alias("n_subwords"),
        F.array_join(syms, " ").alias("subwords"),
    )


# ---- sparse all-pairs document similarity over tf-idf vectors ----

# Terms with document frequency above this cap are excluded from the
# similarity SUBSPACE entirely (weights, norms, and pair generation) —
# standard stopword-style pruning: high-df terms carry near-zero idf
# anyway, and a term shared by f documents costs f² join rows.
# The EFFECTIVE cap scales with corpus size (VERDICT r10 task 3: a
# fixed 60 was 12% of docs at sf0.01 but 1.2% at sf0.1, where it left
# ZERO qualifying pairs — a vacuous oracle match): effective_cap =
# greatest(DOC_SIM_DF_CAP, ceil(DOC_SIM_DF_CAP_PCT% of n_docs)),
# computed with INTEGER arithmetic ((pct*n + 99) div 100) so both
# engines derive the identical bound — a float 0.12*n would ceil to 61
# under IEEE doubles (Spark) but 60 under DECIMAL literals (DuckDB).
DOC_SIM_DF_CAP = 60
DOC_SIM_DF_CAP_PCT = 12
# Pairs below this cosine are dropped (on the 6-dp ROUNDED value, so
# the cut is identical cross-engine).
DOC_SIM_MIN_COS = 0.3


def doc_similarity_tfidf(
    docs: DataFrame,
    df_cap: int = DOC_SIM_DF_CAP,
    min_cos: float = DOC_SIM_MIN_COS,
    df_cap_pct: int | None = DOC_SIM_DF_CAP_PCT,
) -> DataFrame:
    """(doc_a, doc_b, cos_sim): all-pairs cosine similarity between
    tf-idf document vectors, computed SPARSELY via a term-keyed
    inverted-index self-join (the classic MapReduce pairwise-similarity
    formulation, Elsayed et al., ACL'08): a pair is scored only on the
    terms it actually shares, so the corpus-squared dense product never
    materializes.

    Vector space = terms with df <= effective cap (exact semantics,
    applied to weights AND norms — the vectors live in the
    discriminative-term subspace). The effective cap is
    greatest(df_cap, ceil(df_cap_pct% of n_docs)) so the subspace
    tracks corpus growth (see DOC_SIM_DF_CAP_PCT; pass
    ``df_cap_pct=None`` for the fixed-cap form). Per-term fan-out is
    thereby bounded at cap² join rows, and the cap stays a vanishing
    FRACTION of docs as the corpus grows, which is what makes the
    self-join survive 100 TB (plus: the df filter drops exactly the
    terms that would dominate the shuffle). The n_docs scalar rides in
    as a broadcast 1-row aggregate — in-plan, no driver action.

    Determinism: weights are tf-idf rounded to 4 dp and cast to
    DECIMAL, so the dot product and squared norms are EXACT order-free
    decimal sums; both are then rounded to 2 dp — small enough that the
    decimal→double conversion is exact in IEEE — before the final
    sqrt/divide, and the cosine is rounded to 6 dp. Every step is
    bit-reproducible on any engine.
    """
    if df_cap_pct is None:
        w = tfidf(docs).filter(F.col("df") <= df_cap)
    else:
        nd = docs.select(F.count(F.lit(1)).alias("n_docs"))
        cap = F.greatest(
            F.lit(df_cap).cast("bigint"),
            F.expr(f"({df_cap_pct} * n_docs + 99) div 100"),
        )
        w = (
            tfidf(docs)
            .crossJoin(F.broadcast(nd))
            .filter(F.col("df") <= cap)
        )
    # Pinned because it is referenced THREE ways below (norms +
    # both self-join sides): without the pin each reference
    # re-expands the whole tfidf subplan — measured 15 Exchanges for
    # this query vs 6 with it (the triangle_counts discipline). The
    # frame is the capped vector space itself (|doc × surviving term|
    # rows), exactly what any at-scale pairwise-similarity run would
    # persist before the self-join.
    w = pin(w.select(
        "doc_id", "word", F.round("tfidf", 4).cast("decimal(18,4)").alias("w")
    ))
    norms = w.groupBy("doc_id").agg(
        F.round(F.sum(F.col("w") * F.col("w")), 2).cast("double").alias("norm2")
    )
    a = w.select(
        F.col("doc_id").alias("doc_a"), "word", F.col("w").alias("wa")
    )
    b = w.select(
        F.col("doc_id").alias("doc_b"), "word", F.col("w").alias("wb")
    )
    dots = (
        a.join(b, "word")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.sum(F.col("wa") * F.col("wb")), 2).cast("double").alias("dot"))
    )
    na = norms.select(F.col("doc_id").alias("doc_a"), F.col("norm2").alias("n2a"))
    nb = norms.select(F.col("doc_id").alias("doc_b"), F.col("norm2").alias("n2b"))
    cos = F.round(
        F.col("dot") / (F.sqrt(F.col("n2a")) * F.sqrt(F.col("n2b"))), 6
    )
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select("doc_a", "doc_b", cos.alias("cos_sim"))
        .filter(F.col("cos_sim") >= min_cos)
    )


# ---- corpus-order n-gram novelty ----

NOVELTY_K = 8  # same window length as the CCNet-style passage dedup


def novelty_ngrams(docs: DataFrame, k: int = NOVELTY_K) -> DataFrame:
    """(doc_id, n_grams, n_novel, novelty): what fraction of each
    document's distinct k-token n-grams appear in NO earlier document
    (doc_id order = ingestion order) — the curation signal that
    separates genuinely new text from recombinations of already-seen
    content, complementing passage dedup (which measures verbatim
    duplication) with a first-seen attribution.

    An n-gram's "owner" is the minimum doc_id containing it; a gram is
    novel for exactly that one document. Plan: per-doc distinct grams
    are an array projection (no shuffle), then ONE gram-keyed exchange
    computes min(doc_id) per gram (partial min map-side, so a gram
    shared by f documents ships f partial rows, never f² pairs), and
    the ownership join back reuses the same gram keying. Docs with
    fewer than k tokens surface with n_grams = 0 and NULL novelty.
    Pure integer counts and an int/int division — bit-identical on any
    engine."""
    grams = docs.select("doc_id", _clean_words_arr().alias("words")).select(
        "doc_id",
        F.explode(F.array_distinct(_ngrams(F.col("words"), k))).alias("gram"),
    )
    first = grams.groupBy("gram").agg(F.min("doc_id").alias("first_doc"))
    per = (
        grams.join(first, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("n_novel", F.lit(0)).cast("bigint").alias("n_novel"),
            F.when(
                F.col("n_grams") > 0,
                F.col("n_novel") / F.col("n_grams").cast("double"),
            ).alias("novelty"),
        )
    )


# ---- Count-Min sketch heavy hitters ----

CMS_D = 4  # hash rows
CMS_W = 512  # buckets per row
CMS_TOPN = 20
CMS_SALTS = tuple(f"cms{i}:" for i in range(CMS_D))


def cms_estimates(docs: DataFrame) -> DataFrame:
    """(word, est_tf, exact_tf, overestimate) for EVERY vocabulary word
    — the un-truncated estimate table behind ``cms_heavy_hitters``
    (which see for the sketch design); split out so contracts can
    check the est >= exact invariant over the whole vocabulary without
    a giant TakeOrdered limit."""
    toks = _words(docs)
    cells = toks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            md5_i32(F.concat(F.lit(CMS_SALTS[i]), F.col("word"))),
                            F.lit(CMS_W),
                        ).alias("bucket"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell")
    ).select("cell.row", "cell.bucket")
    cms = cells.groupBy("row", "bucket").agg(F.count("*").alias("cnt"))
    exact = toks.groupBy("word").agg(F.count("*").alias("exact_tf"))
    coords = exact.select(
        "word",
        "exact_tf",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("row"),
                        F.pmod(
                            md5_i32(F.concat(F.lit(CMS_SALTS[i]), F.col("word"))),
                            F.lit(CMS_W),
                        ).alias("bucket"),
                    )
                    for i in range(CMS_D)
                ]
            )
        ).alias("cell"),
    ).select("word", "exact_tf", "cell.row", "cell.bucket")
    est = (
        coords.join(F.broadcast(cms), ["row", "bucket"])
        .groupBy("word", "exact_tf")
        .agg(F.min("cnt").alias("est_tf"))
    )
    return est.select(
        "word",
        F.col("est_tf").cast("bigint").alias("est_tf"),
        F.col("exact_tf").cast("bigint").alias("exact_tf"),
        (F.col("est_tf") - F.col("exact_tf")).cast("bigint").alias("overestimate"),
    )


def cms_heavy_hitters(docs: DataFrame, topn: int = CMS_TOPN) -> DataFrame:
    """(word, est_tf, exact_tf, overestimate): the corpus's top-N tokens
    by Count-Min-sketch frequency estimate (Cormode & Muthukrishnan,
    J.Alg 2005), with the exact count alongside so the report itself
    exhibits the CMS guarantee: est >= exact always, est <= exact +
    eps*N with probability 1-delta (eps = e/W, delta = e^-D).

    The sketch is the 100 TB shape: the token stream maps each
    occurrence to D (row, bucket) cells and aggregates — only
    D*W = 4x512 distinct keys exist, so map-side partial aggregation
    collapses every task's stream to <= D*W rows before the exchange;
    the sketch table is metadata-sized and MERGEABLE (cell-wise adds
    across shards/days, same property as the HLL rollup family).
    Estimates then come from joining candidate words' bucket
    coordinates against the tiny table (broadcast) and taking the
    row-wise MIN. Candidates here = the observed vocabulary (exact_tf
    is also computed for the report); at corpus scale you would feed a
    candidate stream (e.g. a sample) instead and skip both
    vocabulary-sized aggregations — the sketch build is unchanged.

    Deterministic end to end: buckets are salted md5 (no seed/rand),
    counts are integers, and the final top-N orders by (est desc,
    word asc) — a total order, taken via TakeOrderedAndProject (no
    single-partition window)."""
    return (
        cms_estimates(docs)
        .orderBy(F.desc("est_tf"), F.asc("word"))
        .limit(topn)
    )


# Unicode SCRIPT families for script-ID (r14, the UTF-8 sibling of
# lang_id): ordered (name, Java character classes) — the Spark side
# counts letters per family with \p{IsXxx} classes while the DuckDB
# oracle restates the same families as RE2 \p{Xxx} classes, so a
# parity hash match proves the two engines' script property tables
# agree on the corpus. CJK groups Han+Hangul+kana (no segmentation
# claimed); RTL groups Arabic+Hebrew. Tie-break priority = list order.
UNICODE_SCRIPTS: tuple[tuple[str, str], ...] = (
    ("latin", r"\p{IsLatin}"),
    ("greek", r"\p{IsGreek}"),
    ("cyrillic", r"\p{IsCyrillic}"),
    ("cjk", r"\p{IsHan}\p{IsHangul}\p{IsHiragana}\p{IsKatakana}"),
    ("rtl", r"\p{IsArabic}\p{IsHebrew}"),
)


def unicode_script_profile(docs: DataFrame, keep: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id, n_<family>..., script_id): per-document letter counts
    per Unicode script family and the dominant family (argmax, ties
    broken by UNICODE_SCRIPTS order). The lang-ID heuristic for
    scripts: where lang_id separates languages WITHIN Latin script by
    stopword/n-gram profiles, this separates the script itself — the
    first routing decision a multilingual 100 TB corpus pipeline
    makes (which tokenizer, which lang-ID model). Pure projection
    (regexp_replace + length per family) — scan speed, no shuffle,
    codegen-resident. ``keep`` carries extra columns through (e.g. a
    ground-truth label) without a join-back."""
    counts = [
        F.length(F.regexp_replace("text", f"[^{classes}]", "")).alias(f"n_{name}")
        for name, classes in UNICODE_SCRIPTS
    ]
    out = docs.select("doc_id", *keep, *counts)
    names = [name for name, _ in UNICODE_SCRIPTS]
    pred = F.lit(names[-1])
    for i in range(len(names) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(names)):
            c = F.col(f"n_{names[i]}") >= F.col(f"n_{names[j]}")
            cond = c if cond is None else (cond & c)
        pred = F.when(cond, F.lit(names[i])).otherwise(pred)
    return out.withColumn("script_id", pred)
