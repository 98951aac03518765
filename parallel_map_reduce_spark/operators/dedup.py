"""Document deduplication operators (north-star extension, SURVEY.md §2.3).

Four families, all built on DataFrame ops with portable md5-derived
hashing (``functions/hashing.py``) so an external SQL oracle reproduces
them exactly:

- **exact**: hash-groupBy on md5(text) — one shuffle on the digest.
- **MinHash + LSH**: shingle → minhash signature → band buckets →
  bucket-join for candidate pairs. The banding join is the scale path:
  candidates come from equi-joins on (band, signature), never an O(n²)
  cross join. Public basis: Broder's minhash + LSH banding as used in
  MapReduce entity-resolution literature (PAPERS.md, ICDE 2017). One
  core serves documents, increments and value domains alike: a wide
  (key, m0..m15) signature row (the Arrow kernel for documents, one
  JVM aggregate for char-shingled values), one band projection
  (``_band_sigs``) and one (band, sig) equi-join (``_band_join``).
- **SimHash**: 32-bit sign-of-weighted-bit-votes fingerprint; identical
  fingerprints = near-dup bucket.
- **n-gram Jaccard**: exact Jaccard over 3-token shingles computed via an
  inverted-index self-join (pairs sharing a shingle), which is the
  standard similarity-join decomposition — work is proportional to
  co-occurring shingles, not to the pair count. One pair path: sized
  (doc_id, shingle, n) rows in, the set sizes riding the rows, capped
  (posting lists) or uncapped (equi-self-join).

Scale notes: every op here keys its shuffles on content-derived hashes,
which distribute uniformly; the one skew risk is ultra-frequent shingles
in the Jaccard join (stop-shingles), mitigated at 100 TB by a prefix
frequency cap (documented on the function).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import md5_i32
from ..kernels import ascii_words, distinct_shingles, md5_memo
from ..registry import pin
from ..sources.catalog import local_frame
from .tokenize import clean_word_col, TOKEN_SPLIT_REGEX

# ---- shared deterministic constants (also interpolated into oracle SQL) ----

MINHASH_PRIME = 4_294_967_311  # smallest prime > 2^32
N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS
SHINGLE_K = 3


def _lcg_seeds(n: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) hash seeds via a fixed LCG — no RNG module, so
    the Spark code and the generated oracle SQL share them verbatim."""
    seeds = []
    x = 42
    for _ in range(n):
        x = (1103515245 * x + 12345) % (1 << 31)
        a = x % 999_983 + 1  # nonzero multiplier
        x = (1103515245 * x + 12345) % (1 << 31)
        b = x % 999_979
        seeds.append((a, b))
    return seeds


MINHASH_SEEDS = _lcg_seeds(N_HASHES)


# ---- building blocks ----


def clean_words_array(docs: DataFrame) -> DataFrame:
    """(doc_id, words ARRAY<STRING>): cleaned tokens in document order,
    empties dropped. Pure array higher-order functions — a per-row
    projection with ZERO shuffles, where the explode+window formulation
    would shuffle the whole token stream (at 100 TB that's the difference
    between scan speed and shuffling the corpus)."""
    cleaned = F.transform(
        F.split(F.col("text"), TOKEN_SPLIT_REGEX), lambda t: clean_word_col(t)
    )
    return docs.select(
        "doc_id", F.filter(cleaned, lambda w: F.length(w) > 0).alias("words")
    )


def ordered_words(docs: DataFrame) -> DataFrame:
    """(doc_id, word, seq): cleaned tokens in document order, 1-based seq.
    Row form of ``clean_words_array`` — posexplode of the already-filtered
    array, so seq comes from the array position (no window shuffle)."""
    return clean_words_array(docs).select(
        "doc_id", F.posexplode("words").alias("pos", "word")
    ).select("doc_id", "word", (F.col("pos") + 1).alias("seq"))


def _shingle_array_col(k: int) -> F.Column:
    """ARRAY<STRING> of the per-document DISTINCT k-token shingles,
    from a ``words ARRAY<STRING>`` column: slice windows via
    ``transform(sequence(...))``, per-row ``array_distinct`` (shingle
    distinctness is per-document, so no global shuffle is needed).
    Pure projection expression."""
    n_sh = F.size("words") - F.lit(k - 1)
    shingles = F.when(
        n_sh >= 1,
        F.transform(
            F.sequence(F.lit(1), n_sh),
            lambda i: F.array_join(F.slice("words", i, k), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(shingles)


def _sized_shingles_of_words(wa: DataFrame, k: int) -> DataFrame:
    """(doc_id, shingle, n) where n = the document's DISTINCT-shingle
    count — the per-doc set size carried ON the exploded rows so no
    separate sizes aggregation (a SECOND full scan + tokenize of the
    corpus) is ever needed (r17 opt, guide §2.3: shuffle a few bytes
    of metadata instead of re-deriving them with another pass).

    The shingle array is lambda-BOUND (``transform(array(expr), a ->
    ...)``) so ``size(a)`` and the exploded elements come from ONE
    evaluation per input row. Referencing the raw expression from both
    ``size(...)`` and ``explode(...)`` instead lets CollapseProject
    push the whole tokenize+shingle pipeline into the post-Generate
    projection, re-evaluating it once per EXPLODED row — measured 13x
    slower at sf0.1 (16.9 s vs 1.26 s)."""
    gen = F.transform(
        F.array(_shingle_array_col(k)),
        lambda a: F.transform(
            a, lambda s: F.struct(s.alias("shingle"), F.size(a).alias("n"))
        ),
    )[0]
    return wa.select("doc_id", F.explode(gen).alias("sn")).select(
        "doc_id",
        F.col("sn.shingle").alias("shingle"),
        F.col("sn.n").alias("n"),
    )


def _sized_shingle_rows_fn(k: int):
    """Arrow-batch kernel factory producing the ASCII
    ``_sized_shingles_of_words`` rows — (doc_id, shingle, n) where n =
    the document's DISTINCT-shingle count — in one Python hop
    (r18 opt, guide §4.2): the JVM form paid an interpreted O(k)
    slice + array_join per position plus array_distinct per document
    (CodegenFallback HOFs). Tokens come from ``ascii_words``; shingle
    strings are byte-identical (' '-joined cleaned tokens), and row
    ORDER is irrelevant downstream (posting lists sort, aggregates are
    order-free). Docs with < k tokens emit nothing, matching the
    empty-array explode."""

    def rows_fn(it):
        import pyarrow as pa

        for batch in it:
            if batch.num_rows == 0:
                continue
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            out_d: list[int] = []
            out_s: list[str] = []
            out_n: list[int] = []
            for doc_id, text in zip(ids, texts):
                distinct = distinct_shingles(ascii_words(text), k)
                out_d.extend([doc_id] * len(distinct))
                out_s.extend(distinct)
                out_n.extend([len(distinct)] * len(distinct))
            if not out_d:
                continue
            yield pa.record_batch(
                [
                    pa.array(out_d, type=pa.int64()),
                    pa.array(out_s, type=pa.string()),
                    pa.array(out_n, type=pa.int32()),
                ],
                names=["doc_id", "shingle", "n"],
            )

    return rows_fn


def doc_shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) DISTINCT k-token shingles (space-joined),
    ASCII contract tokens (clean_words_array): the distinct-shingle
    array (``_shingle_array_col``) through a single explode. A
    projection — no Exchange before the downstream hash."""
    return clean_words_array(docs).select(
        "doc_id", F.explode(_shingle_array_col(k)).alias("shingle")
    )


def unicode_doc_sized_shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle, n) DISTINCT k-token shingles over UNICODE
    tokens (the r14 UTF-8 contract: lower, split on runs of non-letters
    via \\p{L} — operators/tokenize.py:unicode_tokenize's semantics in
    array form), sized like ``_sized_shingles_of_words``. This is how
    the dedup family meets real UTF-8 corpora: shingling rides the
    Unicode tokenizer, and the jaccard pair path (df caps, posting
    lists, arithmetic) is script-agnostic."""
    from .tokenize import UNICODE_SPLIT_REGEX

    words = F.filter(
        F.split(F.lower(F.col("text")), UNICODE_SPLIT_REGEX),
        lambda w: F.length(w) > 0,
    )
    return _sized_shingles_of_words(
        docs.select("doc_id", words.alias("words")), k
    )


# ---- exact dedup ----


def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """Group identical texts: (text_md5, keep_id = min doc_id, n_copies).
    One shuffle keyed on the digest; digests distribute uniformly."""
    return (
        docs.select("doc_id", F.md5("text").alias("text_md5"))
        .groupBy("text_md5")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


# ---- MinHash + LSH ----


def _minhash_rows_fn():
    """Arrow-batch kernel factory for ``_minhash_wide``: per document,
    tokenize → distinct 3-token shingles → md5-derived 32-bit shingle
    hash → the 16 affine mins, all inside one Python hop (guide §4.2 —
    hand whole batches to native code instead of five JVM stages and a
    doc_id exchange). Exactness, piece by piece:

    - tokenize: ``ascii_words``, the engine's strip-then-lower order.
    - shingle hash: ``md5_memo``'s 32-bit prefix == conv(substring(
      md5, 1, 8), 16, 10) — integer-exact; memoized per task (shingles
      repeat across documents; the JVM expression re-hashes every row).
    - mins: seeds < 10^6 and hv < 2^32, so a*hv+b < 2^52 — exact in
      int64, no overflow, both operands positive so ``%`` agrees
      between numpy and the JVM.
    - docs whose cleaned text yields no shingle (< k words or NULL)
      produce NO output row, matching the groupBy-over-zero-rows
      absence of the aggregate form.

    numpy/pyarrow imports live in the closure (guide §4.5)."""
    k = SHINGLE_K
    seeds_a = [a for a, _ in MINHASH_SEEDS]
    seeds_b = [b for _, b in MINHASH_SEEDS]
    prime = MINHASH_PRIME

    def rows_fn(it):
        import numpy as np
        import pyarrow as pa

        a_col = np.array(seeds_a, dtype=np.int64)[:, None]
        b_col = np.array(seeds_b, dtype=np.int64)[:, None]
        hashes = md5_memo()
        for batch in it:
            if batch.num_rows == 0:
                continue
            doc_ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            out_ids: list[int] = []
            out_mins: list[np.ndarray] = []
            for doc_id, text in zip(doc_ids, texts):
                shingles = distinct_shingles(ascii_words(text), k)
                if not shingles:
                    continue
                hv = np.array(hashes(shingles), dtype=np.int64)
                out_ids.append(doc_id)
                out_mins.append(((a_col * hv[None, :] + b_col) % prime).min(axis=1))
            if not out_ids:
                continue
            mins = np.stack(out_mins)
            yield pa.record_batch(
                [pa.array(np.asarray(out_ids, dtype=np.int64))]
                + [pa.array(mins[:, j]) for j in range(len(seeds_a))],
                names=["doc_id"] + [f"m{j}" for j in range(len(seeds_a))],
            )

    return rows_fn


def _minhash_wide(docs: DataFrame) -> DataFrame:
    """(doc_id, m0..m{N-1}): the full minhash signature as ONE wide row
    per document. r18 opt (guide §4.2 + §2.4): one Arrow hop computes
    tokenize → distinct shingles → shingle md5 → 16 affine mins per
    document, replacing the explode(shingles) → JVM md5 → 16-parallel-
    aggregate → doc_id Exchange pipeline (r12's shape). Values are
    bit-identical by construction (integer-exact md5/affine math,
    token semantics replicated strip-then-lower — see
    ``_minhash_rows_fn``), and the doc_id exchange is GONE: signatures
    are a per-document function, so they now derive at scan speed with
    zero shuffles (at 100 TB this removes a corpus-wide shuffle from
    every minhash consumer). Only (doc_id, text) crosses the Python
    boundary."""
    return docs.select("doc_id", "text").mapInArrow(
        _minhash_rows_fn(),
        "doc_id bigint, "
        + ", ".join(f"m{j} bigint" for j in range(len(MINHASH_SEEDS))),
    )


def _minhash_agg(sh: DataFrame, key: str) -> DataFrame:
    """(key, m0..m{N-1}) from (key, shingle) rows: md5-derived 32-bit
    shingle hash, then the N affine mins as ONE wide aggregate keyed on
    ``key`` — the JVM form of ``_minhash_wide``'s signature row, for
    shingle sources the document kernel does not tokenize (char
    3-grams of a value domain). A NULL shingle hashes to NULL, so its
    mins are NULL."""
    hashed = sh.select(key, md5_i32("shingle").alias("hv"))
    return hashed.groupBy(key).agg(
        *[
            F.min((F.lit(a) * F.col("hv") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
                f"m{j}"
            )
            for j, (a, b) in enumerate(MINHASH_SEEDS)
        ]
    )


def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, j, minhash): N_HASHES-row signature per document.

    Shingle hash is md5-derived 32-bit; each hash family j applies
    (a_j * h + b_j) mod P. The wide signature row (_minhash_wide)
    unpivots to this row contract — |docs|-sized, map-side only."""
    per_j = F.array(
        *[
            F.struct(
                F.lit(j).cast("int").alias("j"), F.col(f"m{j}").alias("minhash")
            )
            for j in range(len(MINHASH_SEEDS))
        ]
    )
    return _minhash_wide(docs).select("doc_id", F.explode(per_j).alias("s")).select(
        "doc_id", F.col("s.j").alias("j"), F.col("s.minhash").alias("minhash")
    )


def _band_sigs(wide: DataFrame, key: str) -> DataFrame:
    """(key, band, sig) from a wide (key, m0..m{N-1}) signature row:
    each band's sig is md5 of the ','-joined mins in j order (NULL
    mins are skipped), a pure projection with no exchange of its own."""
    per_band = F.array(
        *[
            F.struct(
                F.lit(band).cast("int").alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{band * ROWS_PER_BAND + r}").cast("string")
                            for r in range(ROWS_PER_BAND)
                        ],
                    )
                ).alias("sig"),
            )
            for band in range(N_BANDS)
        ]
    )
    return wide.select(key, F.explode(per_band).alias("s")).select(
        key, F.col("s.band").alias("band"), F.col("s.sig").alias("sig")
    )


def lsh_band_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, band, sig): md5 over the band's ordered minhash values,
    projected straight from the document kernel's wide signature row,
    so the whole derivation has zero exchanges."""
    return _band_sigs(_minhash_wide(docs), "doc_id")


def _band_join(
    left: DataFrame, right: DataFrame, key: str, out: tuple[str, str], ordered: bool
) -> DataFrame:
    """DISTINCT (out[0], out[1]) key pairs whose (key, band, sig) rows
    share a band bucket: the ONE (band, sig) equi-join of the LSH
    family. ``ordered`` keeps only left key < right key — a self-join
    then yields each unordered pair once and never pairs a key (or a
    NULL) with itself."""
    cond = (F.col("a.band") == F.col("b.band")) & (F.col("a.sig") == F.col("b.sig"))
    if ordered:
        cond = cond & (F.col(f"a.{key}") < F.col(f"b.{key}"))
    return (
        left.alias("a")
        .join(right.alias("b"), cond)
        .select(F.col(f"a.{key}").alias(out[0]), F.col(f"b.{key}").alias(out[1]))
        .distinct()
    )


def minhash_lsh_candidates(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) candidate near-dup pairs: docs sharing any band
    bucket. Equi-join on (band, sig) — the LSH trick that replaces the
    O(n²) cross join; bucket sizes are bounded by actual near-dup cluster
    sizes, and AQE splits any hot bucket at scale — witnessed, not
    asserted: tests/test_skew.py plants a pathological bucket (1,000
    byte-identical docs sharing every band signature) and pins that the
    band join completes with the exact closed-form pair count AND
    SortMergeJoin(skew=true) in the executed plan."""
    # Pinned (|docs| x N_BANDS small rows, r18 opt, guide §5): the
    # self-join references the band table twice, and each reference
    # re-ran the WHOLE minhash kernel — two corpus scans + two
    # signature computations per materialize (the executed plan showed
    # two MapInArrow nodes). One pinned computation feeds both sides.
    bands = pin(lsh_band_signatures(docs))
    return _band_join(bands, bands, "doc_id", ("doc_a", "doc_b"), ordered=True)


# ---- SimHash ----

SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash): 32-bit fingerprint over the distinct word set.

    Zero-shuffle formulation: the distinct word set is per-document, so
    ``array_distinct`` over the cleaned word array replaces the global
    ``.distinct()`` shuffle, and each bit's vote is an ``aggregate`` fold
    over the per-row hash array — the whole fingerprint is a projection
    (the previous explode carried 32 rows per word into a shuffle).
    """
    hvs = docs.select(
        "doc_id",
        F.transform(
            F.array_distinct(
                F.filter(
                    F.transform(
                        F.split("text", TOKEN_SPLIT_REGEX), lambda t: clean_word_col(t)
                    ),
                    lambda w: F.length(w) > 0,
                )
            ),
            lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("bigint"),
        ).alias("hvs"),
    )
    # vote_i = sum over word hashes of (bit_i ? +1 : -1); simhash bit i set
    # iff vote_i > 0. 32 codegen'd folds over the array, no Exchange.
    def _vote(bit: int):
        # factory closure: F.aggregate's merge lambda must be exactly
        # 2-ary (PySpark dispatches on lambda arity).
        return F.aggregate(
            F.col("hvs"),
            F.lit(0),
            lambda acc, h: acc
            + F.when((h / F.lit(1 << bit)).cast("bigint") % 2 == 1, 1).otherwise(-1),
        )

    terms = []
    for i in range(SIMHASH_BITS):
        terms.append(F.when(_vote(i) > 0, F.lit(1 << i)).otherwise(F.lit(0)).cast("bigint"))
    total = terms[0]
    for t in terms[1:]:
        total = total + t
    return hvs.select("doc_id", total.cast("bigint").alias("simhash"))


def _simhash_exploded_reference(docs: DataFrame) -> DataFrame:
    """Row-explode formulation kept for plan comparison in tests."""
    words = (
        docs.select("doc_id", F.explode(F.split("text", TOKEN_SPLIT_REGEX)).alias("tok"))
        .select("doc_id", clean_word_col("tok").alias("word"))
        .filter(F.length("word") > 0)
        .distinct()
        .withColumn("hv", md5_i32("word"))
    )
    bits = words.select(
        "doc_id", "hv", F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("i")
    )
    # bit i of hv via integer division — portable (DuckDB: (hv // 2^i) % 2).
    bit = (F.col("hv") / F.pow(F.lit(2.0), F.col("i"))).cast("bigint") % 2
    votes = bits.select(
        "doc_id",
        "i",
        F.when(bit == 1, F.lit(1)).otherwise(F.lit(-1)).alias("v"),
    )
    agg = votes.groupBy("doc_id", "i").agg(F.sum("v").alias("vote"))
    sim_bit = F.when(F.col("vote") > 0, F.lit(1)).otherwise(F.lit(0))
    return (
        agg.select(
            "doc_id",
            (sim_bit * F.pow(F.lit(2.0), F.col("i")).cast("bigint")).alias("term"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term").cast("bigint").alias("simhash"))
    )


# ---- n-gram Jaccard ----


# Shingles shared by more documents than this are dropped from the
# similarity self-join (stop-shingle cap). Set sizes stay exact; the
# intersection count becomes a lower bound, so reported jaccard is a
# LOWER bound — a pair is dropped only if its similarity rests entirely
# on corpus-hot boilerplate shingles, the standard production trade
# (prefix-filtering family). The DuckDB oracle applies the SAME cap, and
# tests/test_dedup.py asserts capped == uncapped at test scale.
JACCARD_SHINGLE_DF_CAP = 100


def ngram_jaccard_pairs(
    docs: DataFrame,
    threshold: float = 0.5,
    df_cap: int | None = JACCARD_SHINGLE_DF_CAP,
    sized_shingles: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b, jaccard): Jaccard over 3-token shingle sets via
    inverted-index self-join (only pairs sharing ≥1 surviving shingle are
    ever materialized). jaccard = |∩| / (|A| + |B| - |∩|) — pure integer
    arithmetic, so the double division is bit-identical in any engine.

    One pair path over sized (doc_id, shingle, n) rows, n = the
    document's DISTINCT-shingle count: the ASCII Arrow kernel
    (``_sized_shingle_rows_fn``) by default, or ``sized_shingles``
    (e.g. ``unicode_doc_sized_shingles`` for UTF-8 corpora) — the pair
    machinery is script-agnostic. The set sizes ride the rows through
    the pair shuffle (guide §2.3 — a few metadata bytes through the
    one existing shuffle), so no separate sizes aggregation (a SECOND
    full scan + tokenize of the corpus) and no size joins exist.

    100 TB note: one shingle shared by f documents contributes f² join
    rows, so corpus-hot shingles would dominate the self-join. The df cap
    removes them from the JOIN ONLY (set sizes stay exact).

    Capped (default): per-shingle posting list + in-row pair array,
    bounded at cap² per shingle. Uncapped (df_cap=None): distributed
    equi-self-join — no per-row f² array, so a hot shingle spreads over
    many tasks instead of OOMing one (used by the capped==uncapped
    equivalence tests; at corpus scale always pass a cap).
    """
    # Default ASCII source: the Arrow kernel (one Python hop at scan
    # speed — see _sized_shingle_rows_fn) instead of the interpreted
    # HOF pipeline; ~35% of the query's warm wall was the shingle
    # projection.
    sh = (
        sized_shingles
        if sized_shingles is not None
        else docs.select("doc_id", "text").mapInArrow(
            _sized_shingle_rows_fn(SHINGLE_K),
            "doc_id bigint, shingle string, n int",
        )
    )
    if df_cap is not None:
        # repartition-first: complete-mode aggregate after the exchange —
        # map-side partial collect_list has zero combine benefit on
        # distinct (shingle, doc_id) pairs and buffers each task's whole
        # input as JVM object arrays (the 1024x OOM shape found when the
        # bench started materializing honestly; see build_postings).
        postings = (
            sh.repartition("shingle")
            .groupBy("shingle")
            .agg(F.sort_array(F.collect_list(F.struct("doc_id", "n"))).alias("ds"))
        )
        postings = postings.filter(F.size("ds") <= df_cap)
        pair_arr = F.flatten(
            F.transform(
                F.col("ds"),
                lambda x, i: F.transform(
                    F.slice(F.col("ds"), i + 2, F.size(F.col("ds"))),
                    lambda y: F.struct(
                        x["doc_id"].alias("doc_a"),
                        x["n"].alias("na"),
                        y["doc_id"].alias("doc_b"),
                        y["n"].alias("nb"),
                    ),
                ),
            )
        )
        pairs = postings.select(F.explode(pair_arr).alias("p")).select(
            "p.doc_a", "p.na", "p.doc_b", "p.nb"
        )
    else:
        # Uncapped: a corpus-hot shingle shared by f docs would build an
        # f²/2-struct array inside ONE row in the posting-list form —
        # a per-task OOM cliff. The equi-self-join spreads that f² work
        # across the cluster instead (AQE skew-split applies). Slower on
        # the average shingle, but it degrades instead of dying.
        a = sh.select("shingle", F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
        b = sh.select("shingle", F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
        pairs = a.join(b, "shingle").filter(F.col("doc_a") < F.col("doc_b"))
    inter = (
        # na/nb are functionally dependent on doc_a/doc_b — extra group
        # keys, same groups, and the sizes arrive for free.
        pairs.groupBy("doc_a", "doc_b", "na", "nb").agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter"))
    return inter.select("doc_a", "doc_b", jac.alias("jaccard")).filter(
        F.col("jaccard") >= threshold
    )


# ---- duplicate-cluster resolution (connected components) ----


# Driver-local CC threshold (r18 opt, the BPE_LOCAL_VOCAB_CAP
# discipline): the fixpoint loop's wall at small pair graphs is pure
# scheduler latency — 2 setup jobs + 2 jobs per round over a
# few-thousand-row label table (measured 2.3–2.5 s of ~10 tiny actions
# at sf0.1). Once the symmetrized edge list is MATERIALIZED, its count
# tells us whether it is driver-metadata-sized; below the cap a
# union-find computes the components on the driver. cluster_id = the
# component's min doc_id is a pure graph property, so ANY correct CC
# algorithm returns identical rows — no sequence replication needed
# (unlike BPE). Past the cap (100 TB pair graphs) the propagation loop
# runs unchanged. 2^19 edges × 2 longs bounds driver memory in the
# QUERY_BATCH_CAP class.
CC_LOCAL_EDGE_CAP = 524288


def _cc_local(edge_rows) -> list[tuple]:
    """Union-find over driver-local (src, dst) rows; returns
    (doc_id, min_component_id) for every endpoint."""
    parent: dict = {}

    def find(x):
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for src, dst in edge_rows:
        if src not in parent:
            parent[src] = src
        if dst not in parent:
            parent[dst] = dst
        ra, rb = find(src), find(dst)
        if ra != rb:
            parent[ra] = rb
    roots: dict = {}
    for node in parent:
        r = find(node)
        m = roots.get(r)
        if m is None or node < m:
            roots[r] = node
    return [(node, roots[find(node)]) for node in parent]


def connected_components(
    pairs: DataFrame, max_iter: int = 15, local_cap: int | None = None
) -> DataFrame:
    """(doc_id, cluster_id) for every node in ``pairs``: connected
    components by iterative min-label propagation; cluster_id = the
    smallest doc_id in the component (the canonical "keeper" a dedup
    pipeline retains).

    Each round: every node takes the min of its own label and its
    neighbors' labels — one equi-join + one group-by; labels are
    ``localCheckpoint``-ed per round so the plan stays flat instead of
    growing exponentially with iterations. Converges in diameter rounds;
    near-dup clusters are shallow (a dup cluster's diameter is the chain
    length of pairwise matches, almost always ≤ 3), so the fixpoint
    check (one count per round) exits after 2-4 rounds; a graph still
    changing after ``max_iter`` rounds raises RuntimeError rather than
    return unconverged labels. For adversarial
    diameters at 100 TB the alternating large-star/small-star scheme
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014 — PAPERS.md) converges in O(log d) rounds with the same
    per-round plan shape; plain propagation is the right default for
    dedup graphs.
    """
    # Symmetrize with ONE explode instead of a self-union (r18 opt,
    # guide §5 duplicated subtrees): the union form embedded the whole
    # candidate-pair subplan twice in the checkpoint job (correct only
    # as fast as exchange reuse happened to make it); the explode form
    # executes it exactly once by construction.
    both = F.explode(
        F.array(
            F.struct(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")),
            F.struct(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")),
        )
    )
    edges = (
        pairs.select(both.alias("e"))
        .select("e.src", "e.dst")
        .localCheckpoint(eager=True)
    )
    # Scale-adaptive path pick (see CC_LOCAL_EDGE_CAP): a count of the
    # already-materialized edges decides, and only a graph under the
    # cap is collected — an oversized one never crosses to the driver
    # before falling through to the propagation loop. The symmetrized
    # list is 2x the pair count, so the bound is 2*cap edges.
    cap = CC_LOCAL_EDGE_CAP if local_cap is None else local_cap
    if cap > 0 and edges.count() <= 2 * cap:
        from pyspark.sql.types import StructField, StructType

        src_type = edges.schema["src"].dataType
        return local_frame(
            pairs.sparkSession,
            _cc_local((r.src, r.dst) for r in edges.collect()),
            StructType(
                [
                    StructField("doc_id", src_type),
                    StructField("cluster_id", src_type),
                ]
            ),
        )
    labels = (
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        # ONE join + ONE aggregate per round (r18 opt, guide §2.4: two
        # operations keyed the same way share one exchange): neighbor
        # labels and each node's own label flow through the same
        # node-keyed aggregate, which yields the new label (min over
        # own ∪ neighbors) AND the old label (the unique own row) in
        # one pass — the old form paid a second join to re-attach the
        # own label. chg = (new < old), identical to the old
        # (nbr_min < label) flag: both are true iff some neighbor
        # label undercuts the node's own.
        own = labels.select(
            F.col("doc_id").alias("src"), "label", F.lit(True).alias("is_own")
        )
        nbr = (
            edges.join(labels, edges.dst == labels.doc_id)
            .select("src", "label", F.lit(False).alias("is_own"))
        )
        new_labels = (
            own.unionAll(nbr)
            .groupBy("src")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("is_own"), F.col("label"))).alias("old"),
            )
            .select(
                F.col("src").alias("doc_id"),
                "label",
                (F.col("label") < F.col("old")).cast("int").alias("chg"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.agg(F.sum("chg")).first()[0]
        labels = new_labels.drop("chg")
        if not changed:
            break
    else:
        # Unconverged labels would silently split components: refuse.
        raise RuntimeError(
            f"connected_components: labels still changing after "
            f"max_iter={max_iter} propagation rounds (a component's "
            "diameter exceeds max_iter); raise max_iter"
        )
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def incremental_lsh_matches_indexed(
    new_bands: DataFrame, corpus_bands: DataFrame
) -> DataFrame:
    """(new_doc, corpus_doc): near-dup candidates between an increment's
    band signatures and a PRE-COMPUTED corpus band table — the serving
    half of incremental dedup. ``corpus_bands`` is the persisted
    artifact (queries/dedup.py:ensure_corpus_band_table: hash-bucketed
    on ``sig``), so the (band, sig) equi-join needs no corpus-side
    exchange and only the increment shuffles; per-run cost is
    O(|increment|) signature compute + the bucket join. Both inputs
    carry (doc_id, band, sig) = lsh_band_signatures output."""
    return _band_join(
        new_bands, corpus_bands, "doc_id", ("new_doc", "corpus_doc"), ordered=False
    )


def incremental_lsh_matches(
    new_docs: DataFrame, corpus_docs: DataFrame
) -> DataFrame:
    """(new_doc, corpus_doc): near-dup candidates between an INCREMENT
    and an existing corpus — the production dedup flow (dedupe today's
    crawl against everything already ingested) as opposed to the
    all-pairs self-join.

    This is the BUILD-FRESH twin: both sides re-derive their band
    signatures inline (shingle → minhash → band md5). The registered
    query serves the corpus side from a persisted bucketed artifact
    instead (incremental_lsh_matches_indexed — signatures are
    per-document, so the corpus table is computed once per corpus
    version and at 100 TB is never re-shingled per run); the two forms
    are row-identical by construction (pinned in tests/test_dedup.py),
    which is what keeps the inline DuckDB oracle valid for the served
    plan."""
    return incremental_lsh_matches_indexed(
        lsh_band_signatures(new_docs), lsh_band_signatures(corpus_docs)
    )


def fuzzy_value_pairs(
    df: DataFrame, col: str, max_dist: int = 2, max_values: int = 100_000
) -> DataFrame:
    """(val_a, val_b, dist): pairs of DISTINCT values of ``col`` within
    ``max_dist`` edit distance — entity-resolution canonicalization
    (typo variants of the same entity name).

    Scale shape: matching runs on the distinct VALUE DOMAIN, never the
    row count — |V|² comparisons where |V| is vocabulary size, after a
    length-band prefilter (|len(a)-len(b)| <= max_dist is a necessary
    condition for edit distance <= max_dist, and it reaches the join as
    a range condition). The |V|² shape is only acceptable for
    vocabulary-sized domains, so ``max_values`` is a hard guard: above
    it this RAISES instead of silently running the quadratic join —
    compose with the MinHash-LSH machinery above on character shingles
    instead. For row-level application, broadcast-join the resolved
    pairs back (the pair table is vocabulary-sized, hence
    broadcastable)."""
    # Materialize the distinct value domain once: the guard needs its
    # count, and the self-join below reuses it without recomputing.
    vals = df.select(F.col(col).alias("v")).distinct().localCheckpoint(eager=True)
    n_vals = vals.count()
    if n_vals > max_values:
        raise ValueError(
            f"fuzzy_value_pairs: {n_vals} distinct values of {col!r} exceeds "
            f"max_values={max_values}; the |V|^2 levenshtein join is only for "
            "vocabulary-sized domains — use the char-shingle MinHash-LSH "
            "path (fuzzy_value_pairs_lsh) for large vocabularies"
        )
    a, b = vals.alias("a"), vals.alias("b")
    return (
        a.join(
            b,
            (F.col("a.v") < F.col("b.v"))
            & (
                F.abs(F.length("a.v") - F.length("b.v")) <= max_dist
            ),
        )
        .select(
            F.col("a.v").alias("val_a"),
            F.col("b.v").alias("val_b"),
            F.levenshtein("a.v", "b.v").alias("dist"),
        )
        .filter(F.col("dist") <= max_dist)
    )


def resolve_clusters_keep_longest(
    clusters: DataFrame, docs: DataFrame
) -> DataFrame:
    """(cluster_id, keeper_doc, n_members): pick the surviving copy per
    near-dup cluster — longest text wins, ties to the smallest doc_id
    ("most complete copy" heuristic; swap the ordering struct for a
    quality score without touching the plan shape).

    One small shuffle over CLUSTER MEMBERS only (docs in no pair never
    enter); ``max_by`` with a (n_chars, -doc_id) ordering struct does
    the argmax inside the same aggregation as the member count — no
    window, no second pass."""
    scored = clusters.join(
        docs.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    )
    return scored.groupBy("cluster_id").agg(
        F.max_by(
            "doc_id", F.struct(F.col("n_chars"), (-F.col("doc_id")).alias("neg"))
        ).alias("keeper_doc"),
        F.count("*").cast("bigint").alias("n_members"),
    )


# ---- decontamination & passage-level dedup ----


def benchmark_overlap(
    candidates: DataFrame, eval_docs: DataFrame, k: int = 8
) -> DataFrame:
    """(doc_id, n_shingles, n_hit, overlap, contaminated): per candidate
    document, how many of its distinct k-token shingles also occur in
    the evaluation corpus — the standard train/test decontamination
    check for LLM training pipelines (GPT-3-style 8-gram overlap;
    Brown et al. 2020 §C use 13-grams, the k here is a parameter on the
    same machinery as ``doc_shingles``).

    Scale shape: the eval side is a BENCHMARK suite — thousands of
    documents, megabytes — so its distinct shingle set broadcasts and
    the 100 TB candidate side is probed map-side with ZERO shuffle on
    the corpus (the only exchange is the per-doc count agg, keyed on
    doc_id, which partial-aggregates). Never flip this join: shuffling
    the corpus against a benchmark is the canonical wasted-shuffle
    mistake. Candidates shorter than k tokens have no shingles and
    report 0/0 → overlap 0.0, not NULL."""
    cand_sh = doc_shingles(candidates, k)
    eval_sh = (
        doc_shingles(eval_docs, k).select("shingle").distinct().withColumn("hit", F.lit(1))
    )
    per_doc = (
        cand_sh.join(F.broadcast(eval_sh), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).alias("n_hit"),
        )
    )
    return (
        candidates.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_shingles", F.lit(0)).cast("bigint").alias("n_shingles"),
            F.coalesce("n_hit", F.lit(0)).cast("bigint").alias("n_hit"),
            F.when(
                F.coalesce("n_shingles", F.lit(0)) > 0,
                F.coalesce("n_hit", F.lit(0)) / F.col("n_shingles"),
            )
            .otherwise(F.lit(0.0))
            .alias("overlap"),
            (F.coalesce("n_hit", F.lit(0)) >= 1).alias("contaminated"),
        )
    )


def duplicated_passages(docs: DataFrame, w: int = 8) -> DataFrame:
    """(doc_id, n_passages, n_dup_passages, dup_ratio): fraction of each
    document's NON-OVERLAPPING w-token passages that also occur in at
    least one OTHER document — the CCNet/RefinedWeb "duplicated
    paragraph fraction" quality signal, expressed on token windows
    because this corpus has no paragraph breaks. Passages keep
    within-doc multiplicity (a passage repeated inside one doc counts
    each time toward the ratio) but "duplicated" means seen in >= 2
    DISTINCT documents.

    Scale shape: passage extraction is a pure array projection (slice
    over the cleaned word array — zero shuffle); then one exchange
    keyed on the passage string for the document-frequency count, a
    same-key join back (AQE-planned shuffle join; both sides already
    hash on passage), and the per-doc ratio agg on doc_id. Uniform
    md5-like key distribution — no skew salt needed."""
    wa = clean_words_array(docs)
    # passage array lambda-BOUND to the words array (r17 opt — the
    # doc_trigrams lesson: an explode generator that inlines the
    # producing expression re-evaluates it per element) and the
    # exploded frame pinned, since freq AND the join-back both consume
    # it — one tokenize+window pass total instead of one per reference.
    pass_df = pin(
        wa.select(
            "doc_id", F.explode(_passage_array_bound(w)).alias("passage")
        )
    )
    freq = pass_df.groupBy("passage").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    per_doc = (
        pass_df.join(freq, "passage")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_passages"),
            F.sum((F.col("nd") >= 2).cast("int")).alias("n_dup_passages"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_passages", F.lit(0)).cast("bigint").alias("n_passages"),
            F.coalesce("n_dup_passages", F.lit(0)).cast("bigint").alias("n_dup_passages"),
            F.when(
                F.coalesce("n_passages", F.lit(0)) > 0,
                F.coalesce("n_dup_passages", F.lit(0)) / F.col("n_passages"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_ratio"),
        )
    )


def fuzzy_value_pairs_lsh(
    df: DataFrame, col: str, max_dist: int = 2
) -> DataFrame:
    """(val_a, val_b, dist): the LARGE-vocabulary path for fuzzy entity
    resolution — the char-shingle MinHash-LSH composition that
    ``fuzzy_value_pairs``'s cardinality guard prescribes. Distinct
    values shingle into char 3-grams (values shorter than 3 chars use
    the whole value), minhash into the SAME seeded N_HASHES/N_BANDS
    layout as document LSH, and candidate pairs come from a band-
    signature equi-join — O(collisions), never |V|². Candidates are
    verified with the same length-band + levenshtein predicate, so
    every emitted pair is exact; only RECALL is approximate (a pair
    missed by every band is lost — the standard LSH trade; recall vs
    the exact |V|² baseline is pinned in tests/test_dedup.py).

    Scale shape: shingling and hashing are projections; the value
    domain's distinct and the wide per-value min aggregate share ONE
    value-keyed exchange, then the band equi-join. No distinct-count
    guard needed — nothing here is quadratic in |V|. A NULL value
    hashes to NULL mins and never pairs (the join keeps val_a <
    val_b)."""
    vals = df.select(F.col(col).alias("v")).distinct()
    n_sh = F.length("v") - F.lit(2)
    grams = F.when(
        n_sh >= 1,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_sh), lambda i: F.substring("v", i, 3)
            )
        ),
    ).otherwise(F.array(F.col("v")))
    sh = vals.select("v", F.explode(grams).alias("shingle"))
    bands = _band_sigs(_minhash_agg(sh, "v"), "v")
    cand = _band_join(bands, bands, "v", ("val_a", "val_b"), ordered=True)
    return (
        cand.filter(F.abs(F.length("val_a") - F.length("val_b")) <= max_dist)
        .withColumn("dist", F.levenshtein("val_a", "val_b"))
        .filter(F.col("dist") <= max_dist)
    )


def _passage_array_bound(w: int) -> F.Column:
    """ARRAY<STRING> of the document's non-overlapping w-token
    passages, lambda-bound to the ``words`` column so the word array
    is evaluated exactly once per row however the optimizer inlines
    the projection (the doc_trigrams per-element re-evaluation class,
    measured on this operator family: explode of the unbound form cost
    3.5 s vs 0.8 s bound at sf0.1)."""
    return F.transform(
        F.array(F.col("words")),
        lambda wd: F.when(
            F.floor(F.size(wd) / w) >= 1,
            F.transform(
                F.sequence(
                    F.lit(0), F.floor(F.size(wd) / w).cast("int") - 1
                ),
                lambda i: F.array_join(F.slice(wd, i * w + 1, w), " "),
            ),
        ).otherwise(F.array().cast("array<string>")),
    )[0]


def passage_dedup_clean(docs: DataFrame, w: int = 8) -> DataFrame:
    """(doc_id, clean_text, n_kept, n_removed): CCNet-style corpus-level
    passage deduplication that REBUILDS each document — every
    non-overlapping w-token passage seen in >= 2 DISTINCT documents is
    dropped; passages unique to one document and the trailing partial
    window (< w tokens, not meaningfully dedupable) are kept in their
    original order. ``duplicated_passages`` reports the signal; this
    operator applies the edit — the pair mirrors CCNet's
    measure-then-strip sentence dedup, on token windows because this
    corpus has no sentence/paragraph breaks.

    Scale shape: passage extraction is the same zero-shuffle array
    projection as ``duplicated_passages``; one exchange keyed on the
    passage string for the distinct-doc count, a same-key join back,
    then the rebuild aggregates on doc_id (sort_array over an
    in-memory per-doc list — document-sized, never corpus-sized). The
    join key stays the passage STRING for oracle-exact parity; at
    100 TB you'd key the exchange on xxhash64(passage) and carry the
    string only on the winning side.

    r17 opt (8.8 s -> 1.9 s warm at sf0.1, identical output): the
    passage/tail/count extraction is ONE lambda-bound struct per row
    (the doc_trigrams per-element re-evaluation fix; the tail rides
    the same struct so the old separate ``tails`` scan + join is
    gone), and base + the exploded passage frame are pinned — base
    feeds the explode chain AND the final rebuild join, the exploded
    frame feeds freq AND the join-back, so the corpus is tokenized
    once instead of once per reference."""
    wa = clean_words_array(docs)
    gen = F.transform(
        F.array(F.col("words")),
        lambda wd: F.struct(
            F.floor(F.size(wd) / w).cast("int").alias("n_full"),
            F.when(
                F.floor(F.size(wd) / w) >= 1,
                F.transform(
                    F.sequence(
                        F.lit(0), F.floor(F.size(wd) / w).cast("int") - 1
                    ),
                    lambda i: F.array_join(F.slice(wd, i * w + 1, w), " "),
                ),
            )
            .otherwise(F.array().cast("array<string>"))
            .alias("passages"),
            F.array_join(
                F.slice(
                    wd,
                    F.floor(F.size(wd) / w).cast("int") * w + 1,
                    F.size(wd) - F.floor(F.size(wd) / w).cast("int") * w,
                ),
                " ",
            ).alias("tail"),
        ),
    )[0]
    base = pin(
        wa.select("doc_id", gen.alias("s")).select(
            "doc_id", "s.n_full", "s.passages", "s.tail"
        )
    )
    pass_df = pin(
        base.select("doc_id", F.posexplode("passages").alias("wno", "passage"))
    )
    freq = pass_df.groupBy("passage").agg(
        F.count_distinct("doc_id").alias("nd")
    )
    kept = pass_df.join(freq, "passage").filter(F.col("nd") == 1)
    body = kept.groupBy("doc_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("wno", "passage"))),
                lambda x: x.getField("passage"),
            ),
            " ",
        ).alias("body"),
        F.count("*").alias("n_kept"),
    )
    return (
        base.select(
            "doc_id",
            F.col("n_full").cast("bigint").alias("n_passages"),
            "tail",
        )
        .join(body, "doc_id", "left")
        .select(
            "doc_id",
            F.concat_ws(
                " ",
                F.when(F.length(F.coalesce("body", F.lit(""))) > 0, F.col("body")),
                F.when(F.length("tail") > 0, F.col("tail")),
            ).alias("clean_text"),
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            (F.col("n_passages") - F.coalesce("n_kept", F.lit(0)))
            .cast("bigint")
            .alias("n_removed"),
        )
    )


# ---- exact set-similarity join via prefix filtering ----

# Jaccard threshold for the prefix-filtered join. 0.5 is exactly
# representable in binary, so tau-comparisons are bit-identical across
# engines.
PREFIX_JACCARD_TAU = 0.5


def jaccard_prefix_pairs(
    docs: DataFrame, tau: float = PREFIX_JACCARD_TAU, k: int = SHINGLE_K
) -> DataFrame:
    """(doc_a, doc_b, jaccard): ALL pairs with shingle-set Jaccard >= tau,
    found LOSSLESSLY via prefix filtering (SSJoin, Chaudhuri et al.
    ICDE'06; PPJoin, Xiao et al. WWW'08) — the exact-join counterpart to
    the df-capped heuristic in ``ngram_jaccard_pairs``.

    Canonicalize every document's shingle set in one global order
    (ascending document-frequency, ties by shingle string — rarest
    first), and index only each set's PREFIX of length
    n - ceil(tau*n) + 1. The prefix-filtering lemma: if
    |A∩B| >= ceil(tau*max(|A|,|B|)) — implied by Jaccard >= tau since
    |A∩B| >= tau*|A∪B| >= tau*max(|A|,|B|) — then the two prefixes
    under a COMMON total order share at least one element. So joining
    prefixes finds every qualifying pair; verification computes exact
    Jaccard from the full sets and discards false candidates. Nothing
    is dropped — unlike the df cap, hot shingles still count toward
    every intersection; they are merely unlikely to be anyone's rare
    prefix, which is the whole trick.

    Scale shape: one shuffle keys shingles, one vocabulary-sized join
    attaches frequencies, one doc-keyed agg builds the ordered set
    array, and the candidate join fans out only on PREFIX tokens —
    rare by construction (a shingle shared by f prefixes costs f²,
    and high-df shingles sit at the back of every set, outside
    prefixes). The verify step touches |candidates| rows, each a
    per-row array intersection. A length filter
    (min(n) >= tau*max(n)) prunes candidates before verification.
    """
    sh = doc_shingles(docs, k)
    freq = sh.groupBy("shingle").agg(F.count("*").alias("freq"))
    ranked = sh.join(freq, "shingle")
    # Materialized because it is referenced FOUR ways below (the prefix
    # explode feeds BOTH sides of the candidate self-join, plus both
    # verification sides): each re-expansion replays the shingle scan,
    # frequency join and per-doc collect — at corpus scale that is 4x
    # the query's dominant cost, vs persisting the canonicalized
    # per-document set table once (what an SSJoin implementation does
    # before candidate generation). Honest local trade-off: at sf0.1
    # the eager materialization of the array column costs ~3 s against
    # replays of a cheap pipeline (8.3 vs 5.0 s best-of-3) — the
    # persist-once shape is chosen for the scale contract, not the toy
    # benchmark.
    per_doc = (
        ranked.groupBy("doc_id")
        .agg(
            F.sort_array(F.collect_list(F.struct("freq", "shingle"))).alias("ord")
        )
        .select(
            "doc_id",
            F.col("ord").getField("shingle").alias("toks"),
            F.size("ord").alias("n"),
        )
    )
    per_doc = pin(per_doc)
    plen = (F.col("n") - F.ceil(F.lit(tau) * F.col("n")) + 1).cast("int")
    pre = per_doc.select(
        "doc_id", "n", F.explode(F.slice("toks", F.lit(1), plen)).alias("shingle")
    )
    a, b = pre.alias("a"), pre.alias("b")
    cand = (
        a.join(b, "shingle")
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .filter(
            F.least(F.col("a.n"), F.col("b.n"))
            >= F.lit(tau) * F.greatest(F.col("a.n"), F.col("b.n"))
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("toks").alias("ta"),
        F.col("n").alias("na"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("toks").alias("tb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("ta", "tb"))
    jac = inter.cast("double") / (F.col("na") + F.col("nb") - inter)
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= tau)
    )


# ---- exact-substring dedup (Lee et al. 2022, "Deduplicating Training
# Data Makes Language Models Better" — the ExactSubstr half) ----

SUBSTR_L = 12  # tokens per window; spans are maximal unions of windows
SUBSTR_MIN_OCC = 2  # a window is "repeated" if it occurs >= this many
# times across the corpus (cross-doc boilerplate AND within-doc loops)


def _gram_rows_fn(L: int):
    """Arrow-batch kernel factory for ``repeated_substring_spans``'s
    positional L-token gram hashes: per document, tokenize
    (``ascii_words``) and emit one (doc_id, pos, md5-hex) row per
    window start. Each DISTINCT gram string is hashed once per task, up
    to ``md5_memo``'s cap (boilerplate grams repeat across documents —
    the JVM expression re-hashed every position);
    hv is the same full md5 hex the DuckDB oracle computes, so
    collision behavior is engine-identical. Rows with fewer than L
    tokens emit nothing, matching the n_gram >= 1 filter."""

    def rows_fn(it):
        import pyarrow as pa

        hashes = md5_memo(full_hex=True)
        for batch in it:
            if batch.num_rows == 0:
                continue
            ids = batch.column("doc_id").to_pylist()
            texts = batch.column("text").to_pylist()
            out_d: list[int] = []
            out_p: list[int] = []
            out_h: list[str] = []
            for doc_id, text in zip(ids, texts):
                words = ascii_words(text)
                n_gram = max(len(words) - L + 1, 0)
                out_d.extend([doc_id] * n_gram)
                out_p.extend(range(1, n_gram + 1))
                out_h.extend(
                    hashes(" ".join(words[i : i + L]) for i in range(n_gram))
                )
            if not out_d:
                continue
            yield pa.record_batch(
                [
                    pa.array(out_d, type=pa.int64()),
                    pa.array(out_p, type=pa.int32()),
                    pa.array(out_h, type=pa.string()),
                ],
                names=["doc_id", "pos", "hv"],
            )

    return rows_fn


def repeated_substring_spans(
    docs: DataFrame, L: int = SUBSTR_L, min_occ: int = SUBSTR_MIN_OCC
) -> DataFrame:
    """(doc_id, span_start, span_end, n_windows): maximal token spans
    covered by L-token windows that occur >= ``min_occ`` times in the
    corpus — the span-level (not document-level) duplication ExactSubstr
    removes before LLM training: boilerplate, licenses, templated
    intros that survive document-level dedup because the documents
    differ elsewhere.

    Pipeline (one token-stream exchange + one span window):
      1. positional L-gram hashes — a pure projection over the cleaned
         word array (slice + array_join + md5 per start position; the
         gram STRING never leaves the projection, only its hash);
      2. ONE hash-keyed exchange feeding a window count over ``hv`` —
         each position row learns its gram's corpus-wide occurrence
         count in place (no second scan, no join-back: the older
         groupBy-then-join shape scanned and re-hashed the corpus
         twice and broadcast the repeated-hash set, which is unbounded
         at corpus scale — the window form's state is one counter per
         hv group). Skew trade-off, stated honestly: a boilerplate
         gram repeated k times puts k rows in one window partition —
         a spill-backed straggler at extreme k, vs the broadcast
         form's executor/driver OOM (stragglers degrade, broadcasts
         die). Corpora with known mega-hot boilerplate should strip
         it upstream (``passage_dedup_clean`` exists for exactly that);
      3. filter to ``n_occ >= min_occ``;
      4. gaps-and-islands merge of overlapping [pos, pos+L-1] windows
         per document (one doc-keyed window).
    All integer/md5-exact, so an external engine reproduces every span
    boundary. At 100 TB the exchange carries one (hash, doc, pos) row
    per token — the token_stream class — and md5 can swap for a
    rolling hash inside the same projection if scan-side compute ever
    dominates. Positions are 1-based token indexes (the ordered_words
    contract)."""
    from pyspark.sql import Window

    # Positional gram hashes in ONE Arrow hop (r18 opt, guide §4.2 —
    # the winnowing-kernel pattern): the JVM transform paid an
    # interpreted O(L) slice + array_join + md5 per position
    # (CodegenFallback), re-hashing repeated boilerplate grams at
    # every occurrence; the kernel tokenizes with ``ascii_words`` and
    # hashes each DISTINCT gram once per task. Only (doc_id, text)
    # crosses the boundary, and the exploded rows carry only (pos, hash).
    grams = docs.select("doc_id", "text").mapInArrow(
        _gram_rows_fn(L), "doc_id bigint, pos int, hv string"
    )
    hits = (
        grams.withColumn("n_occ", F.count("*").over(Window.partitionBy("hv")))
        .filter(F.col("n_occ") >= min_occ)
        .select("doc_id", "pos")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    prev_max_end = F.max(F.col("pos") + F.lit(L - 1)).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    new_island = F.when(
        prev_max_end.isNull() | (F.col("pos") > prev_max_end + 1), F.lit(1)
    ).otherwise(F.lit(0))
    islands = hits.withColumn(
        "island", F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return islands.groupBy("doc_id", "island").agg(
        F.min("pos").cast("bigint").alias("span_start"),
        F.max(F.col("pos") + F.lit(L - 1)).cast("bigint").alias("span_end"),
        F.count("*").cast("bigint").alias("n_windows"),
    ).select("doc_id", "span_start", "span_end", "n_windows")
