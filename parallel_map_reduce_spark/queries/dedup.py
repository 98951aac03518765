"""Dedup queries with DuckDB oracles generated from the SAME constants as
the Spark operators (operators/dedup.py) — seeds, prime, band layout, and
the md5→int hash are interpolated into the SQL, so Spark and oracle agree
by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as D
from ..registry import register
from ..sources.catalog import load_table
from ._sql import ORDERED_WORDS_CTE

# md5-derived 32-bit int, DuckDB spelling (matches functions/hashing.md5_i32,
# NULL on NULL: ``||`` propagates NULL where concat() would not)
_HV32 = "CAST('0x' || substr(md5({col}), 1, 8) AS BIGINT)"

_SEEDS_VALUES = ",\n        ".join(
    f"({j}, {a}, {b})" for j, (a, b) in enumerate(D.MINHASH_SEEDS)
)

_SHINGLES_CTE = (
    ORDERED_WORDS_CTE
    + f""",
shingle_raw AS (
    SELECT doc_id,
           word || ' ' || lead(word, 1) OVER w || ' ' || lead(word, 2) OVER w AS shingle,
           lead(word, 2) OVER w AS tail
    FROM ordered_words
    WINDOW w AS (PARTITION BY doc_id ORDER BY seq)
),
shingles AS (
    SELECT DISTINCT doc_id, shingle FROM shingle_raw WHERE tail IS NOT NULL
)
"""
)


def _minhash_ctes(key: str, source: str) -> str:
    """hashed/seeds/mh/bands CTEs over ``source``'s (key, shingle) rows:
    the ONE DuckDB mirror of the minhash signature (mh: key, j,
    minhash) and its band projection (bands: key, band, sig — md5 of
    the ','-joined mins in j order), for any key column and shingle
    source."""
    return f"""hashed AS (
    SELECT {key}, {_HV32.format(col='shingle')} AS hv FROM {source}
),
seeds(j, a, b) AS (
    VALUES {_SEEDS_VALUES}
),
mh AS (
    SELECT h.{key}, s.j, MIN((s.a * h.hv + s.b) % {D.MINHASH_PRIME}) AS minhash
    FROM hashed h CROSS JOIN seeds s
    GROUP BY h.{key}, s.j
),
bands AS (
    SELECT {key}, (j // {D.ROWS_PER_BAND})::INT AS band,
           md5(string_agg(minhash::VARCHAR, ',' ORDER BY j)) AS sig
    FROM mh GROUP BY {key}, (j // {D.ROWS_PER_BAND})
)"""


def _band_join_sql(
    key: str, left: str, right: str, out: tuple[str, str], ordered: bool
) -> str:
    """DISTINCT key pairs sharing a (band, sig) bucket — the oracle twin
    of operators/dedup.py:_band_join (``ordered``: left key < right)."""
    lt = f" AND a.{key} < b.{key}" if ordered else ""
    return f"""SELECT DISTINCT a.{key} AS {out[0]}, b.{key} AS {out[1]}
FROM {left} a JOIN {right} b
  ON a.band = b.band AND a.sig = b.sig{lt}"""


# The document band table (shingles → mh → bands), shared by every
# document-LSH oracle below.
_DOC_BANDS_CTES = f"""{_SHINGLES_CTE},
{_minhash_ctes("doc_id", "shingles")}"""


@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS text_md5,
       MIN(doc_id) AS keep_id,
       COUNT(*)::BIGINT AS n_copies
FROM documents
GROUP BY md5(text)
""",
    doc="Exact dedup: hash-groupBy on md5(text); digests shuffle uniformly.",
    tags=("dedup",),
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dup_groups(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_minhash_signatures",
    oracle=f"""
WITH {_DOC_BANDS_CTES}
SELECT doc_id, j, minhash FROM mh
""",
    doc=f"MinHash signatures: {D.N_HASHES} hash families over distinct "
    f"{D.SHINGLE_K}-token shingles (Broder minhash; LSH input).",
    tags=("dedup", "minhash"),
)
def dedup_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signatures(load_table(spark, sf_dir, "documents"))


# Reusable CTE chain ending in lsh_pairs(doc_a < doc_b) — shared by the
# pair query below, the cluster oracles and the near-dup graph oracles
# in queries/graph.py and queries/curation.py.
LSH_PAIRS_CTES = f"""{_DOC_BANDS_CTES},
lsh_pairs AS (
{_band_join_sql("doc_id", "bands", "bands", ("doc_a", "doc_b"), True)}
)"""

# Transitive closure of the candidate graph (edges both ways) — the
# connected-components oracle of dedup_clusters and dedup_cluster_keepers.
_LSH_REACH_CTES = f"""{LSH_PAIRS_CTES},
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM lsh_pairs
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM lsh_pairs
),
reach(src, dst) AS (
    SELECT src, dst FROM edges
    UNION
    SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
)"""


def ensure_lsh_edges(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the MinHash-LSH candidate-pair edge list as a SHARED
    parquet artifact (built once per sf_dir, keyed by source mtime) —
    the graph-family analogue of write_ivf_index: every graph query
    over the near-dup candidate graph (triangle census, LPA
    communities, future ones) serves from this table instead of
    re-deriving shingles → minhash → bands → band-join before its own
    first shuffle. The derivation is deterministic md5 arithmetic
    (operators/dedup.py:minhash_lsh_candidates), so the artifact equals
    the live subplan row-for-row and the DuckDB oracles
    (LSH_PAIRS_CTES) stay valid unchanged. At 100 TB this is the
    standard shape: candidate edges are an expensive corpus-derived
    intermediate that MANY consumers read — write once, bucket/serve
    many. Built into a unique temp dir and atomically renamed into
    place (sources/artifact_cache.py) so concurrent builders never
    interleave writes and a same-second source regen never serves
    stale."""
    from ..sources.artifact_cache import ensure_artifact, source_key

    return ensure_artifact(
        "pmrs_lsh_edges",
        source_key("lsh_edges", sf_dir, "documents.parquet"),
        lambda tmp: D.minhash_lsh_candidates(
            load_table(spark, sf_dir, "documents")
        ).write.mode("overwrite").parquet(tmp),
    )


@register(
    "dedup_minhash_lsh_pairs",
    oracle=f"""
WITH {LSH_PAIRS_CTES}
SELECT doc_a, doc_b FROM lsh_pairs
""",
    doc=f"MinHash-LSH candidate pairs: {D.N_BANDS} bands × "
    f"{D.ROWS_PER_BAND} rows; equi-join on band signature replaces the "
    "O(n²) cross join (SURVEY.md §2.3).",
    tags=("dedup", "minhash", "lsh"),
)
def dedup_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_lsh_candidates(load_table(spark, sf_dir, "documents"))


@register(
    "dedup_simhash",
    oracle=f"""
WITH w_raw AS (
    SELECT DISTINCT doc_id,
           lower(regexp_replace(unnest(string_split_regex(text, '[ \t\n]+')), '[^A-Za-z]', '', 'g')) AS word
    FROM documents
),
words AS (SELECT doc_id, word FROM w_raw WHERE length(word) > 0),
hashed AS (
    SELECT doc_id, {_HV32.format(col='word')} AS hv FROM words
),
bits AS (
    SELECT doc_id, r.range AS i,
           CASE WHEN (hv // CAST(power(2, r.range) AS BIGINT)) % 2 = 1 THEN 1 ELSE -1 END AS v
    FROM hashed CROSS JOIN range({D.SIMHASH_BITS}) r
),
votes AS (
    SELECT doc_id, i, SUM(v) AS vote FROM bits GROUP BY doc_id, i
)
SELECT doc_id,
       SUM(CASE WHEN vote > 0 THEN CAST(power(2, i) AS BIGINT) ELSE 0 END)::BIGINT AS simhash
FROM votes GROUP BY doc_id
""",
    doc=f"{D.SIMHASH_BITS}-bit SimHash fingerprint over the distinct word "
    "set; identical fingerprints bucket near-dups.",
    tags=("dedup", "simhash"),
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(load_table(spark, sf_dir, "documents"))


_JACCARD_THRESHOLD = 0.5


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH {_SHINGLES_CTE},
sizes AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
joinable AS (
    SELECT doc_id, shingle FROM shingles
    WHERE shingle NOT IN (
        SELECT shingle FROM shingles
        GROUP BY shingle HAVING COUNT(*) > {D.JACCARD_SHINGLE_DF_CAP}
    )
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM joinable a JOIN joinable b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_JACCARD_THRESHOLD}
""",
    doc="n-gram Jaccard near-dup pairs via inverted-index self-join with a "
    f"stop-shingle df cap ({D.JACCARD_SHINGLE_DF_CAP}) applied identically "
    "on both sides (similarity-join decomposition; integer-exact division).",
    tags=("dedup", "jaccard"),
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), threshold=_JACCARD_THRESHOLD
    )


@register(
    "dedup_clusters",
    oracle=f"""
WITH RECURSIVE {_LSH_REACH_CTES}
SELECT src AS doc_id,
       LEAST(src, MIN(dst))::BIGINT AS cluster_id
FROM reach GROUP BY src
""",
    doc="Duplicate-cluster resolution: connected components over the "
    "MinHash-LSH candidate pairs (min-label propagation, localCheckpoint "
    "per round), cluster_id = min doc_id = the canonical keeper. The "
    "oracle computes the transitive closure with a recursive CTE over "
    "the SAME pair SQL. operators/dedup.py:connected_components.",
    tags=("dedup", "graph", "iterative"),
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    pairs = D.minhash_lsh_candidates(load_table(spark, sf_dir, "documents"))
    return D.connected_components(pairs)


INCR_SOURCE = "src0"  # the "today's crawl" increment in the fixture

_CORPUS_BANDS_BUCKETS = 16


def ensure_corpus_band_table(spark: SparkSession, sf_dir: str) -> str:
    """The standing corpus's MinHash band-signature table as a
    PERSISTED hash-bucketed artifact — the incremental-dedup analogue
    of the BM25 index (queries/search.py:_bm25_index_tables): band
    signatures are per-document, so the corpus side is computed ONCE
    per corpus version (shingle → minhash → band md5), bucketed on
    ``sig`` (md5 hex — uniform), and every subsequent increment match
    equi-joins into the bucketed files with ZERO corpus-side exchange
    and no corpus re-shingle. Registered per session via bucketed DDL
    (ensure_bucketed_table); the derivation is deterministic md5
    arithmetic, so the artifact equals the live
    ``lsh_band_signatures(corpus)`` subplan row-for-row and the DuckDB
    oracle (which recomputes both sides inline) stays valid
    unchanged."""
    import os

    from ..operators.layout import ensure_bucketed_table
    from ..sources.artifact_cache import source_key

    tag = os.path.basename(sf_dir.rstrip("/")).lower().replace(".", "_")
    key = source_key("corpus_bands", sf_dir, "documents.parquet")
    return ensure_bucketed_table(
        spark,
        f"pmrs_corpus_bands_{tag}",
        "pmrs_corpus_bands",
        key,
        lambda: D.lsh_band_signatures(
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") != INCR_SOURCE
            )
        ),
        "sig",
        _CORPUS_BANDS_BUCKETS,
    )


# The band-signature table itself, recomputed from scratch — the
# oracle for the LIVE band-index drain (streaming_band_index):
# signatures are deterministic md5 arithmetic, so the drained store
# must hash-match this regardless of micro-batch boundaries.
BAND_TABLE_ORACLE = f"""
WITH {_DOC_BANDS_CTES}
SELECT doc_id, band, sig FROM bands
"""


# Increment (src0) vs standing corpus (everything else), recomputed
# from scratch on both sides — shared by dedup_incremental_lsh (corpus
# served from the build-once band artifact) and dedup_corpus_promote
# (corpus served from the base-version artifact PLUS an appended
# promotion): both serve the same logical corpus, so a hash match on
# this one SQL is exactly the "append path equals a from-scratch
# rebuild" proof the promotion lifecycle needs.
_INCR_MATCH_ORACLE = f"""
WITH {_DOC_BANDS_CTES},
new_bands AS (
    SELECT b.* FROM bands b JOIN documents d ON d.doc_id = b.doc_id
    WHERE d.source = '{INCR_SOURCE}'
),
corpus_bands AS (
    SELECT b.* FROM bands b JOIN documents d ON d.doc_id = b.doc_id
    WHERE d.source <> '{INCR_SOURCE}'
)
{_band_join_sql("doc_id", "new_bands", "corpus_bands", ("new_doc", "corpus_doc"), False)}
"""


@register(
    "dedup_incremental_lsh",
    oracle=_INCR_MATCH_ORACLE,
    doc="Incremental near-dup dedup SERVED from the persisted corpus "
    "band-signature artifact (ensure_corpus_band_table): the increment "
    "(source='src0') computes its signatures live — O(|increment|) — "
    "and equi-joins into the sig-bucketed corpus table, so the "
    "standing corpus is never re-shingled and its side of the join "
    "has no exchange (plan pinned in tests/test_dedup.py). The "
    "inline twin (operators/dedup.py:incremental_lsh_matches) is the "
    "row-identical oracle form; the DuckDB SQL recomputes both sides "
    "from scratch.",
    tags=("dedup", "minhash", "lsh", "incremental", "serving", "index"),
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("source") == INCR_SOURCE)
    corpus_bands = spark.table(ensure_corpus_band_table(spark, sf_dir))
    return D.incremental_lsh_matches_indexed(
        D.lsh_band_signatures(new), corpus_bands
    )


# ---- Promotion lifecycle (VERDICT r12 task 1): a production crawl
# loop is match (dedup_incremental_lsh) → clean → PROMOTE the cleaned
# increment into the standing corpus. The corpus band artifact must
# therefore grow by APPEND, never by rebuild — the base version's
# bucketed files are reused byte-for-byte (hardlinks) and only the
# promoted increment's O(increment) band signatures are computed and
# written through the same bucket spec (layout.ensure_bucketed_append).

PROMOTE_SOURCE = "src1"  # the increment promoted into the corpus


def _corpus_band_base(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """(table, artifact_dir) of the promotion lifecycle's VERSION 0:
    the corpus as it stood BEFORE the promoted increment arrived —
    every source except today's crawl (src0) and the already-matched,
    cleaned increment being promoted (src1). Built once per corpus
    version like ensure_corpus_band_table; the promotion chain only
    ever hardlinks these files, never re-derives them."""
    import os

    from ..operators.layout import ensure_bucketed_table
    from ..sources.artifact_cache import artifact_path, source_key

    tag = os.path.basename(sf_dir.rstrip("/")).lower().replace(".", "_")
    key = source_key("corpus_bands_v0", sf_dir, "documents.parquet")
    table = ensure_bucketed_table(
        spark,
        f"pmrs_corpus_bands_v0_{tag}",
        "pmrs_corpus_bands_v0",
        key,
        lambda: D.lsh_band_signatures(
            load_table(spark, sf_dir, "documents").filter(
                ~F.col("source").isin(INCR_SOURCE, PROMOTE_SOURCE)
            )
        ),
        "sig",
        _CORPUS_BANDS_BUCKETS,
    )
    return table, artifact_path("pmrs_corpus_bands_v0", key)


def ensure_promoted_band_table(spark: SparkSession, sf_dir: str) -> str:
    """VERSION 1 of the corpus band table: version 0's files plus the
    promoted increment's (src1) band signatures, appended through the
    bucket spec. After promotion the table covers source <> src0 —
    the SAME logical corpus ensure_corpus_band_table rebuilds from
    scratch, which is what lets dedup_corpus_promote share
    dedup_incremental_lsh's oracle: a hash match proves append ≡
    rebuild row-for-row."""
    import os

    from ..operators.layout import ensure_bucketed_append
    from ..sources.artifact_cache import source_key

    _, base_dir = _corpus_band_base(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/")).lower().replace(".", "_")
    key = source_key("corpus_bands_v1", sf_dir, "documents.parquet")
    return ensure_bucketed_append(
        spark,
        f"pmrs_corpus_bands_v1_{tag}",
        "pmrs_corpus_bands_v1",
        key,
        base_dir,
        lambda: D.lsh_band_signatures(
            load_table(spark, sf_dir, "documents").filter(
                F.col("source") == PROMOTE_SOURCE
            )
        ),
        "sig",
        _CORPUS_BANDS_BUCKETS,
    )


def ensure_compacted_band_table(spark: SparkSession, sf_dir: str) -> str:
    """The promoted band table COMPACTED back to one file per bucket
    (layout.compact_bucketed_table) — the maintenance step a long
    promotion chain periodically runs so per-promotion small files
    never accumulate into scan overhead. Built from the promoted
    artifact's files; row content is identical by construction."""
    import os

    from ..operators.layout import compact_bucketed_table
    from ..sources.artifact_cache import artifact_path, source_key

    ensure_promoted_band_table(spark, sf_dir)
    tag = os.path.basename(sf_dir.rstrip("/")).lower().replace(".", "_")
    v1_key = source_key("corpus_bands_v1", sf_dir, "documents.parquet")
    key = source_key("corpus_bands_v1c", sf_dir, "documents.parquet")
    return compact_bucketed_table(
        spark,
        artifact_path("pmrs_corpus_bands_v1", v1_key),
        f"pmrs_corpus_bands_v1c_{tag}",
        "pmrs_corpus_bands_v1c",
        key,
        "sig",
        _CORPUS_BANDS_BUCKETS,
    )


@register(
    "dedup_corpus_promote_compacted",
    oracle=_INCR_MATCH_ORACLE,
    doc="The incremental match served from the COMPACTED promoted band "
    "table (one file per bucket after the promotion chain's small "
    "files are folded back — layout.compact_bucketed_table): identical "
    "rows to dedup_corpus_promote by construction, proven against the "
    "same from-scratch oracle, so table maintenance is driver-evidenced "
    "to preserve serving correctness, not just pytest-pinned.",
    tags=("dedup", "minhash", "lsh", "incremental", "serving", "lifecycle"),
)
def dedup_corpus_promote_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("source") == INCR_SOURCE)
    compacted = spark.table(ensure_compacted_band_table(spark, sf_dir))
    return D.incremental_lsh_matches_indexed(D.lsh_band_signatures(new), compacted)


@register(
    "dedup_corpus_promote",
    oracle=_INCR_MATCH_ORACLE,
    doc="Incremental near-dup match AFTER a corpus promotion: the "
    "corpus side is the version-0 band artifact with the src1 "
    "increment APPENDED through the bucket spec "
    "(layout.ensure_bucketed_append — base files hardlinked, "
    "O(increment) appended, corpus never re-shingled across "
    "promotions), then today's crawl (src0) equi-joins into the "
    "promoted table exactly like dedup_incremental_lsh. The oracle is "
    "the from-scratch recompute of the same logical corpus "
    "(source <> 'src0'), so a hash match IS the proof that the append "
    "path equals a full rebuild. Closes the crawl-loop lifecycle: "
    "match → clean → promote, per-promotion cost O(increment).",
    tags=("dedup", "minhash", "lsh", "incremental", "serving", "lifecycle"),
)
def dedup_corpus_promote(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("source") == INCR_SOURCE)
    promoted = spark.table(ensure_promoted_band_table(spark, sf_dir))
    return D.incremental_lsh_matches_indexed(D.lsh_band_signatures(new), promoted)


@register(
    "part_name_fuzzy_pairs",
    oracle="""
WITH vals AS (SELECT DISTINCT p_name AS v FROM part)
SELECT a.v AS val_a, b.v AS val_b, levenshtein(a.v, b.v)::INT AS dist
FROM vals a JOIN vals b
  ON a.v < b.v AND abs(length(a.v) - length(b.v)) <= 2
WHERE levenshtein(a.v, b.v) <= 2
""",
    doc="Fuzzy entity resolution on the part-name VALUE DOMAIN: "
    "edit-distance <= 2 pairs among distinct names, length-band "
    "prefiltered — |V|^2 on the vocabulary, never |rows|^2 on the "
    "table; the resolved pair table is vocabulary-sized and broadcasts "
    "back for row-level canonicalization. "
    "operators/dedup.py:fuzzy_value_pairs.",
    tags=("dedup", "fuzzy", "entity-resolution"),
)
def part_name_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fuzzy_value_pairs(load_table(spark, sf_dir, "part"), "p_name")


@register(
    "dedup_cluster_keepers",
    oracle=f"""
WITH RECURSIVE {_LSH_REACH_CTES},
clusters AS (
    SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
    FROM reach GROUP BY src
),
scored AS (
    SELECT c.cluster_id, c.doc_id, length(d.text) AS n_chars
    FROM clusters c JOIN documents d ON d.doc_id = c.doc_id
),
ranked AS (
    SELECT cluster_id, doc_id,
           row_number() OVER (PARTITION BY cluster_id
                              ORDER BY n_chars DESC, doc_id) AS rk
    FROM scored
)
SELECT r.cluster_id::BIGINT AS cluster_id,
       r.doc_id::BIGINT AS keeper_doc,
       m.n_members
FROM ranked r
JOIN (SELECT cluster_id, COUNT(*)::BIGINT AS n_members FROM scored GROUP BY cluster_id) m
  ON m.cluster_id = r.cluster_id
WHERE r.rk = 1
""",
    doc="Dedup resolution end-to-end: LSH candidates -> connected "
    "components -> keep the longest copy per cluster (max_by over a "
    "(n_chars, -doc_id) struct inside the member-count aggregation). "
    "The oracle recomputes the full chain independently: recursive-CTE "
    "closure + window argmax. "
    "operators/dedup.py:resolve_clusters_keep_longest.",
    tags=("dedup", "graph", "resolution", "pipeline"),
)
def dedup_cluster_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    clusters = D.connected_components(D.minhash_lsh_candidates(docs))
    return D.resolve_clusters_keep_longest(clusters, docs)


def _kgram_shingles_cte(k: int) -> str:
    """Parameterized DuckDB mirror of operators/dedup.doc_shingles(k):
    distinct k-token shingles per doc via lead() windows (the
    ``_SHINGLES_CTE`` above is this at k=SHINGLE_K)."""
    leads = " || ' ' || ".join(
        ["word"] + [f"lead(word, {j}) OVER w" for j in range(1, k)]
    )
    return (
        ORDERED_WORDS_CTE
        + f""",
kshingle_raw AS (
    SELECT doc_id, {leads} AS shingle, lead(word, {k - 1}) OVER w AS tail
    FROM ordered_words
    WINDOW w AS (PARTITION BY doc_id ORDER BY seq)
),
kshingles AS (
    SELECT DISTINCT doc_id, shingle FROM kshingle_raw WHERE tail IS NOT NULL
)
"""
    )


DECONTAM_K = 8  # GPT-3-style n-gram decontamination window
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 -> held-out "benchmark" doc


@register(
    "decontaminate_benchmark_overlap",
    oracle=f"""
WITH {_kgram_shingles_cte(DECONTAM_K)},
eval_sh AS (
    SELECT DISTINCT shingle FROM kshingles WHERE doc_id % {EVAL_MOD} = 0
),
cand AS (
    SELECT doc_id, shingle FROM kshingles WHERE doc_id % {EVAL_MOD} <> 0
),
per_doc AS (
    SELECT c.doc_id, COUNT(*) AS n_shingles,
           SUM(CASE WHEN e.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
    FROM cand c LEFT JOIN eval_sh e ON c.shingle = e.shingle
    GROUP BY c.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_shingles, 0)::BIGINT AS n_shingles,
       COALESCE(p.n_hit, 0)::BIGINT AS n_hit,
       CASE WHEN COALESCE(p.n_shingles, 0) > 0
            THEN COALESCE(p.n_hit, 0) / CAST(p.n_shingles AS DOUBLE)
            ELSE 0.0 END AS overlap,
       COALESCE(p.n_hit, 0) >= 1 AS contaminated
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
WHERE d.doc_id % {EVAL_MOD} <> 0
""",
    doc="Train/test decontamination: per training document, the "
    "fraction of its distinct 8-token shingles that also occur in the "
    "held-out benchmark slice (doc_id % 97 == 0 stands in for the eval "
    "suite). Eval shingles BROADCAST — the corpus is probed map-side "
    "with zero corpus shuffle. operators/dedup.py:benchmark_overlap.",
    tags=("dedup", "curation", "decontamination", "broadcast"),
)
def decontaminate_benchmark_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    eval_docs = docs.filter(F.col("doc_id") % EVAL_MOD == 0)
    cands = docs.filter(F.col("doc_id") % EVAL_MOD != 0)
    return D.benchmark_overlap(cands, eval_docs, k=DECONTAM_K)


PASSAGE_W = 8  # non-overlapping token-window width


@register(
    "dedup_passage_duplicates",
    oracle=f"""
WITH {ORDERED_WORDS_CTE},
pw AS (
    SELECT doc_id, (seq - 1) // {PASSAGE_W} AS wno,
           string_agg(word, ' ' ORDER BY seq) AS passage
    FROM ordered_words
    GROUP BY doc_id, (seq - 1) // {PASSAGE_W}
    HAVING COUNT(*) = {PASSAGE_W}
),
freq AS (
    SELECT passage, COUNT(DISTINCT doc_id) AS nd FROM pw GROUP BY passage
),
per_doc AS (
    SELECT p.doc_id, COUNT(*) AS n_passages,
           SUM(CASE WHEN f.nd >= 2 THEN 1 ELSE 0 END) AS n_dup
    FROM pw p JOIN freq f ON p.passage = f.passage
    GROUP BY p.doc_id
)
SELECT d.doc_id,
       COALESCE(p.n_passages, 0)::BIGINT AS n_passages,
       COALESCE(p.n_dup, 0)::BIGINT AS n_dup_passages,
       CASE WHEN COALESCE(p.n_passages, 0) > 0
            THEN COALESCE(p.n_dup, 0) / CAST(p.n_passages AS DOUBLE)
            ELSE 0.0 END AS dup_ratio
FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
""",
    doc="CCNet/RefinedWeb-style duplicated-passage fraction: share of "
    "each doc's non-overlapping 8-token windows seen in >= 2 distinct "
    "documents (token windows stand in for paragraphs — this corpus "
    "has no paragraph breaks). Array-projection extraction, one "
    "passage-keyed exchange. operators/dedup.py:duplicated_passages.",
    tags=("dedup", "curation", "quality"),
)
def dedup_passage_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.duplicated_passages(docs, w=PASSAGE_W)


@register(
    "part_name_fuzzy_pairs_lsh",
    oracle=f"""
WITH vals AS (SELECT DISTINCT p_name AS v FROM part),
grams AS (
    SELECT v, unnest(
        CASE WHEN length(v) >= 3
             THEN list_distinct(list_transform(range(1, length(v) - 1),
                                               i -> substr(v, CAST(i AS INT), 3)))
             ELSE [v] END) AS shingle
    FROM vals
),
{_minhash_ctes("v", "grams")},
cand AS (
{_band_join_sql("v", "bands", "bands", ("val_a", "val_b"), True)}
)
SELECT val_a, val_b, levenshtein(val_a, val_b)::INT AS dist
FROM cand
WHERE abs(length(val_a) - length(val_b)) <= 2
  AND levenshtein(val_a, val_b) <= 2
""",
    doc="Fuzzy entity resolution, LARGE-vocabulary path: the char-"
    "3-gram MinHash-LSH composition fuzzy_value_pairs's cardinality "
    "guard prescribes — band-signature equi-join candidates (never "
    "|V|²), then the exact length-band + levenshtein verify, so "
    "precision is exact and only recall is LSH-approximate (floor "
    "pinned vs the exact baseline in tests/test_dedup.py). Same "
    "seeded hash layout as document LSH; the oracle replays the "
    "whole chain. operators/dedup.py:fuzzy_value_pairs_lsh.",
    tags=("dedup", "fuzzy", "entity-resolution", "lsh"),
)
def part_name_fuzzy_pairs_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.fuzzy_value_pairs_lsh(load_table(spark, sf_dir, "part"), "p_name")


@register(
    "dedup_passage_clean",
    oracle=f"""
WITH {ORDERED_WORDS_CTE},
pw AS (
    SELECT doc_id, (seq - 1) // {PASSAGE_W} AS wno,
           string_agg(word, ' ' ORDER BY seq) AS passage
    FROM ordered_words
    GROUP BY doc_id, (seq - 1) // {PASSAGE_W}
    HAVING COUNT(*) = {PASSAGE_W}
),
freq AS (
    SELECT passage, COUNT(DISTINCT doc_id) AS nd FROM pw GROUP BY passage
),
kept AS (
    SELECT p.doc_id, p.wno, p.passage
    FROM pw p JOIN freq f ON p.passage = f.passage
    WHERE f.nd = 1
),
body AS (
    SELECT doc_id, string_agg(passage, ' ' ORDER BY wno) AS body,
           COUNT(*) AS n_kept
    FROM kept GROUP BY doc_id
),
cnt AS (
    SELECT doc_id, COUNT(*) AS n FROM ordered_words GROUP BY doc_id
),
tails AS (
    SELECT w.doc_id, string_agg(w.word, ' ' ORDER BY w.seq) AS tail
    FROM ordered_words w JOIN cnt c ON c.doc_id = w.doc_id
    WHERE w.seq > (c.n // {PASSAGE_W}) * {PASSAGE_W}
    GROUP BY w.doc_id
)
SELECT d.doc_id,
       concat_ws(' ', NULLIF(b.body, ''), NULLIF(t.tail, '')) AS clean_text,
       COALESCE(b.n_kept, 0)::BIGINT AS n_kept,
       (COALESCE(c.n, 0) // {PASSAGE_W} - COALESCE(b.n_kept, 0))::BIGINT AS n_removed
FROM documents d
LEFT JOIN body b ON b.doc_id = d.doc_id
LEFT JOIN cnt c ON c.doc_id = d.doc_id
LEFT JOIN tails t ON t.doc_id = d.doc_id
""",
    doc="CCNet-style passage dedup APPLIED: rebuilds every document "
    "with cross-document duplicated 8-token passages stripped (unique "
    "passages and the trailing partial window survive in order), "
    "returning the cleaned text plus kept/removed counts — the edit "
    "step paired with dedup_passage_duplicates' measurement. One "
    "passage-keyed exchange + a doc-keyed rebuild agg. "
    "operators/dedup.py:passage_dedup_clean.",
    tags=("dedup", "curation", "text"),
)
def dedup_passage_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return D.passage_dedup_clean(docs, w=PASSAGE_W)


@register(
    "dedup_jaccard_prefix",
    oracle=f"""
WITH {{shingles}},
sizes AS (
    SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT i.doc_a, i.doc_b,
       CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.doc_a
JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE CAST(i.i AS DOUBLE) / (sa.n + sb.n - i.i) >= {D.PREFIX_JACCARD_TAU}
""".format(shingles=_SHINGLES_CTE),
    doc=f"LOSSLESS exact set-similarity join (Jaccard >= "
    f"{D.PREFIX_JACCARD_TAU} over {D.SHINGLE_K}-token shingle sets) via "
    "prefix filtering (SSJoin/PPJoin): sets canonicalized in global "
    "rarest-first order, candidates only from prefix-token collisions, "
    "then exact per-pair verification — same result as a brute-force "
    "all-shared-shingle join (the oracle IS that brute force) but the "
    "join fans out only on rare prefix tokens. Unlike the df-capped "
    "ngram_jaccard_pairs heuristic, nothing is dropped from the "
    "intersection math. Pure-integer Jaccard division is bit-identical "
    "cross-engine. operators/dedup.py:jaccard_prefix_pairs.",
    tags=("dedup", "similarity-join", "prefix-filter"),
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.jaccard_prefix_pairs(load_table(spark, sf_dir, "documents"))


def _repeated_substr_oracle() -> str:
    from ._sql import ORDERED_WORDS_CTE

    L = D.SUBSTR_L
    return f"""
WITH {ORDERED_WORDS_CTE},
docw AS (
    SELECT doc_id, list(word ORDER BY seq) AS ws
    FROM ordered_words GROUP BY doc_id
),
positions AS (
    SELECT doc_id, ws, unnest(range(1, len(ws) - {L} + 2)) AS pos
    FROM docw WHERE len(ws) >= {L}
),
grams AS (
    SELECT doc_id, pos,
           md5(array_to_string(ws[pos : pos + {L} - 1], ' ')) AS hv
    FROM positions
),
rep AS (SELECT hv FROM grams GROUP BY hv HAVING COUNT(*) >= {D.SUBSTR_MIN_OCC}),
hits AS (SELECT g.doc_id, g.pos FROM grams g JOIN rep USING (hv)),
marked AS (
    SELECT doc_id, pos,
           MAX(pos + {L} - 1) OVER (PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
    FROM hits
),
isl AS (
    SELECT doc_id, pos,
           SUM(CASE WHEN prev_end IS NULL OR pos > prev_end + 1
                    THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS island
    FROM marked
)
SELECT doc_id,
       MIN(pos)::BIGINT AS span_start,
       MAX(pos + {L} - 1)::BIGINT AS span_end,
       COUNT(*)::BIGINT AS n_windows
FROM isl GROUP BY doc_id, island
"""


@register(
    "dedup_repeated_substrings",
    oracle=_repeated_substr_oracle(),
    doc=f"Exact-substring duplication spans (Lee et al. 2022 ExactSubstr, "
    f"the span-level half of training-data dedup): maximal token spans "
    f"covered by {D.SUBSTR_L}-token windows occurring >= "
    f"{D.SUBSTR_MIN_OCC}x in the corpus — boilerplate / licenses / "
    "templated intros that survive document-level dedup. Positional "
    "gram hashes are a pure projection over the cleaned word array "
    "(only hashes reach the one token-stream exchange); repeated hashes "
    "equi-join positions back; gaps-and-islands merges overlapping "
    "windows per doc. Integer/md5-exact end to end. "
    "operators/dedup.py:repeated_substring_spans.",
    tags=("dedup", "text", "llm-pipeline", "custom-operator"),
)
def dedup_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.repeated_substring_spans(load_table(spark, sf_dir, "documents"))


from ._unicode import UDOCS_CTE, scoped_unicode_docs


@register(
    "dedup_unicode_jaccard",
    oracle=f"""
WITH {UDOCS_CTE},
toks AS (
    SELECT doc_id,
           list_filter(string_split_regex(lower(text), '[^\\p{{L}}]+'),
                       x -> length(x) > 0) AS w
    FROM udocs
),
-- series bound 64 >> the fixture's max 17 words/doc (generator formula)
sh AS (
    SELECT DISTINCT doc_id, array_to_string(w[i.i:i.i+{D.SHINGLE_K - 1}], ' ') AS shingle
    FROM toks, (SELECT unnest(generate_series(1, 64)) AS i) i
    WHERE i.i <= len(w) - {D.SHINGLE_K - 1}
),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
joinable AS (
    SELECT doc_id, shingle FROM sh
    WHERE shingle NOT IN (
        SELECT shingle FROM sh
        GROUP BY shingle HAVING COUNT(*) > {D.JACCARD_SHINGLE_DF_CAP}
    )
),
inter AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS i
    FROM joinable a JOIN joinable b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b,
       CAST(i AS DOUBLE) / (sa.n + sb.n - i) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(i AS DOUBLE) / (sa.n + sb.n - i) >= {_JACCARD_THRESHOLD}
""",
    doc="UNICODE near-dup pairs (r14 — dedup meets UTF-8): n-gram "
    "Jaccard over k-token shingles of UNICODE tokens "
    "(operators/dedup.py:unicode_doc_sized_shingles rides the r14 "
    "tokenization contract: lower, split on [^\\p{{L}}]+, all "
    "scripts) on the committed multi-script fixture; the pair "
    "machinery (posting lists, df cap, integer-exact jaccard) is the "
    "SAME script-agnostic path as dedup_ngram_jaccard. The oracle "
    "re-derives shingling with DuckDB's RE2/utf8proc, so the hash "
    "match proves the UTF-8 dedup chain end-to-end: tokenize → "
    "shingle → cap → self-join → jaccard.",
    tags=("dedup", "jaccard", "unicode", "llm-pipeline"),
)
def dedup_unicode_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    udocs = scoped_unicode_docs(spark, sf_dir)
    # r17 opt: the sized shingle form carries each doc's set size on
    # the exploded rows, so the shingle subplan has exactly ONE
    # consumer — the old pin() (which existed because sizes AND
    # postings both read it) and the two size joins are gone with the
    # sizes aggregation itself (5 Exchanges + pin → 2 Exchanges).
    return D.ngram_jaccard_pairs(
        udocs,
        threshold=_JACCARD_THRESHOLD,
        sized_shingles=D.unicode_doc_sized_shingles(udocs),
    )


from ._url import UDOCS_URL_CTE, scoped_url_docs
from ..operators.url_canon import canonical_url_duckdb_expr


@register(
    "dedup_url_canonical",
    oracle=f"""
WITH {UDOCS_URL_CTE},
c AS (SELECT url, {canonical_url_duckdb_expr('url')} AS canonical_url FROM urldocs)
SELECT canonical_url,
       COUNT(*)::BIGINT AS n_urls,
       COUNT(DISTINCT url)::BIGINT AS n_raw_forms
FROM c GROUP BY canonical_url
""",
    doc="URL canonicalization + dedup (r15, north-star LLM-ingest — "
    "the FIRST dedup key a crawl pipeline computes, before any "
    "content-based method in this repo): recrawls and messy "
    "spellings of the same page (scheme/host case, www, default "
    "ports, fragments, tracking params, param order, trailing "
    "slashes, userinfo) collapse to one canonical key under the "
    "documented rewrite contract (operators/url_canon.py); non-URL "
    "rows pass through verbatim. The committed fixture "
    "(tools/gen_url_fixture.py) composes 2,000 messy spellings from "
    "652 KNOWN canonical identities, pytest pins Spark == "
    "exp_canonical for every row, and the oracle re-derives the "
    "whole contract in DuckDB RE2 — hash match = cross-engine "
    "agreement on the full rewrite. Plan: per-row codegen "
    "canonicalization, ONE shuffle (the canonical-key groupBy) — "
    "exactly the shuffle that co-locates recrawls at 100 TB.",
    tags=("dedup", "url", "crawl", "llm-pipeline"),
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.url_canon import canonical_url_column

    docs = scoped_url_docs(spark, sf_dir)
    # Two-pass shape instead of count + countDistinct in one agg: the
    # expand-based distinct plan costs a third Exchange of the full
    # fact; reducing to (canonical, raw) first map-side-combines the
    # crawl's recrawl duplicates, and the second shuffle moves one row
    # per raw form — metadata-sized at 100 TB.
    per_raw = (
        docs.select("url", canonical_url_column("url").alias("canonical_url"))
        .groupBy("canonical_url", "url")
        .agg(F.count("*").alias("c"))
    )
    return per_raw.groupBy("canonical_url").agg(
        F.sum("c").alias("n_urls"),
        F.count("*").alias("n_raw_forms"),
    )
