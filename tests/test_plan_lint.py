"""Global plan lint: no registered batch query may contain a
scale-killer operator unless it is on the explicit allowlist with a
reason. This is the fleet-wide net under the targeted contracts in
test_plan_shapes.py — a new query with an accidental cartesian or a
single-partition sort fails HERE even if nobody wrote it a dedicated
plan test.
"""

from __future__ import annotations

import os

import pytest

from parallel_map_reduce_spark.queries import core
from parallel_map_reduce_spark.registry import all_queries

# name -> reason the pattern is intentional there
CARTESIAN_OK = {
    # spine build: hours x event_types, both metadata-sized
    "events_hourly_dense": "dense-grid spine; both sides tiny",
    # each doc's trigram ranking scores against ALL candidate
    # languages: the cross side is the 6-row broadcast language list
    # (metadata-sized spine, the allowed pattern)
    "text_lang_trigram_id": "doc ranks x 9-row broadcast language spine",
    "text_lang_id_served": "doc ranks x 9-row broadcast language spine "
    "(from the persisted profile artifact)",
    "events_hourly_interpolated": "dense-grid spine; both sides tiny",
    # brute-force baselines / blocked pair generation over broadcast sides:
    # BroadcastNestedLoopJoin is the intended physical form
    "similarity_topk_bruteforce": "documented exact baseline, broadcast query side",
    "similarity_two_stage_topk": "stage-1 scan of the int8 code store vs "
    "broadcast queries — deliberate full-corpus coarse pass; the "
    "expensive full-vector stage runs only on the equi-joined shortlist",
    "embedding_neardup_pairs": "label-blocked exact baseline",
    "part_name_fuzzy_pairs": "value-domain |V|^2 with length-band filter",
    # 1-row broadcast sides: a scalar subquery / corpus constant NLJ-joins
    # one row against the stream — no pair blowup is possible
    "q11_top_spenders": "scalar-subquery threshold (1-row broadcast)",
    "q22_idle_rich_customers": "scalar-subquery avg (1-row broadcast)",
    "text_tfidf": "1-row corpus doc-count broadcast",
    # centroid assignment: |centroids| x n with k<=8 broadcast centroids
    "similarity_ann_ivf": "broadcast centroid table (k rows)",
    "search_bm25": "1-row corpus (N, avgdl) aggregate broadcast",
    # rolling-window self-join of the ~30-row per-day table: the range
    # condition forces NLJ, but both sides are metadata-sized by design
    "events_rolling_7d_users_hll": "day-table range self-join (~30 rows/side)",
    # |langs|-row rate table built from 1-row aggregates; all sides are
    # metadata-sized — the corpus itself only sees a broadcast hash join
    "curation_temperature_mix": "rate-table build: |langs| x 1-row scalars",
    "similarity_two_stage_ivf_topk": "the two remaining NLJs are the "
    "k-row centroid-assignment crossJoins (query x broadcast centroid "
    "table) for probe selection; stage 1 itself is a hash equi-join on "
    "centroid_id against the partition-pruned code store "
    "(operators/similarity.py:two_stage_ivf_topk_indexed)",
    "text_lm_perplexity": "1-row vocabulary-size scalar broadcast",
    "text_doc_similarity": "1-row corpus doc-count broadcast (inherited "
    "from the tf-idf weight build; the pair join itself is a hash "
    "equi-join on word)",
    "event_type_user_overlap_hll": "|types| x |types| sketch-pair matrix "
    "(metadata-sized both sides; the whole point is avoiding the "
    "user-set pair join)",
    "documents_corpus_report": "report assembly: 1-row scalar aggregates "
    "cross-joined into (metric, value) rows",
    "documents_quality_logreg": "1-row median-quality scalar broadcast "
    "(the weak-label threshold) joined onto the feature frame",
    "similarity_pq_topk": "stage-1 scan of the 8-byte PQ code store vs "
    "broadcast queries — deliberate full-corpus ADC pass; full vectors "
    "touch only the fixed-size shortlist",
    "customer_segment_nation_mi": "report assembly: the grand total and "
    "three entropy scalars are 1-row broadcasts crossed into the final "
    "1-row profile; the only fact-table pass is the contingency groupBy",
    "customer_segment_nation_chi2": "same contingency-report assembly as "
    "the MI profile: 1-row scalar crosses, one fact-table pass",
    "events_ab_conversion": "1-row median-threshold broadcast onto the "
    "per-user table; the fact table sees only the user-keyed exchange",
    "orders_priority_woe_iv": "report assembly: the 1-row totals and the "
    "1-row IV aggregate cross onto the |priorities|-row cell table; the "
    "only fact-table pass is the category groupBy",
    "search_bm25_multi": "1-row corpus (N, avgdl) aggregate broadcast "
    "(same as search_bm25); every other join is a hash equi-join on "
    "word / doc_id",
}

# Single-partition exchanges are only acceptable when they carry
# METADATA-sized frames (1-row scalars, |rules|-row reports) — never data.
SINGLE_PARTITION_OK = {
    "q11_top_spenders": "1-row scalar aggregate (corpus spend threshold)",
    "q22_idle_rich_customers": "1-row scalar aggregate (avg acctbal)",
    "text_tfidf": "1-row corpus doc-count aggregate",
    "events_hourly_dense": "1-row min/max bounds for the spine",
    "events_hourly_interpolated": "1-row min/max bounds for the spine",
    "orders_quality_report": "the report IS a global |rules|-row aggregate",
    "referential_integrity_report": "three 1-row orphan counts unioned",
    "search_bm25": "1-row corpus (N, avgdl) aggregate",
    "q6_forecast_revenue": "the result IS a 1-row global aggregate; "
    "map-side partials collapse to one row per task first",
    "q15_top_supplier": "1-row scalar max(total_rev) broadcast back",
    "curation_temperature_mix": "1-row corpus count + |langs|-row "
    "weight-sum scalars for the rate table",
    "text_lm_perplexity": "1-row vocabulary-size scalar",
    "documents_corpus_report": "the report IS a handful of 1-row global "
    "aggregates",
    "documents_quality_logreg": "1-row median-quality scalar (weak-label "
    "threshold); features/gradients aggregate partial-first",
    "events_user_skew_report": "the report IS a 1-row global reduction "
    "of the |keys|-row per-key counts (exact percentiles need the "
    "whole count vector; swap to approx_percentile at 100 TB)",
    "text_doc_similarity": "1-row corpus doc-count aggregate (the "
    "tf-idf idf denominator)",
    "customer_segment_nation_mi": "the profile IS four 1-row scalar "
    "reductions over the |seg|x|nat| contingency table",
    "events_ab_conversion": "exact-median scalar + the final 2-row arm "
    "pivot ARE 1-row global reductions (approx_percentile at 100 TB)",
    "events_session_metrics": "the readout IS a 1-row global reduction "
    "of per-session integers (map-side partials collapse first)",
    "lineitem_column_profile": "the profile IS one global aggregate row "
    "(per-column stats), unpivoted to |columns| rows",
    "customer_segment_nation_chi2": "the statistic IS a 1-row scalar "
    "reduction over the |seg|x|nat| contingency table",
    "orders_priority_woe_iv": "1-row good/bad totals + the 1-row IV sum "
    "over the |priorities|-row cell table",
    "search_bm25_multi": "1-row corpus (N, avgdl) aggregate",
}

SKIP_PREFIX = "streaming_"  # live drains execute on build; covered elsewhere

# manifest_inverted_index reads the reference checkout's 3-file
# checker/test_small.txt fixture, of which the repo holds no copy, so it
# is built and linted only where that file exists. The 355-chapter
# entries (reference_corpus_index, text_line_repetition) are always
# linted: _reference_corpus below points them at the real manifest when
# it exists, else at a copy rebuilt from refdata/reference_corpus.parquet.
NO_FIXTURE = (
    set() if os.path.exists(core._SMALL_MANIFEST) else {"manifest_inverted_index"}
)

# Entries whose build() is INHERENTLY eager (registry.py laziness
# contract): iterative fixpoints must run their supersteps to produce a
# plan, guards must count to refuse, and driver-side k-row seeds/
# boundaries must collect. Everything else must be plan-only — zero
# Spark jobs at construction (the r11 "eager build()" finding).
EAGER_BUILD_OK = {
    "trade_graph_pagerank": "pagerank superstep loop (eager checkpoint per round)",
    "crawl_wet_roundtrip": "WET artifact build: writes the conversion "
    "WARC files the re-read half then parses (cold-cache artifact "
    "build, the enumerated eager class)",
    "trade_graph_communities_lpa": "label-propagation superstep loop",
    "neardup_communities_lpa": "label-propagation superstep loop",
    "dedup_clusters": "connected-components min-label loop",
    "dedup_cluster_keepers": "connected-components min-label loop",
    "curation_leakage_split": "connected-components loop (leakage clusters)",
    "embedding_semantic_dedup": "k-means Lloyd iterations (SemDeDup)",
    "embedding_pca_whitened": "driver-side eigendecomposition of the "
    "k x k covariance (collected scalar matrix)",
    "text_bpe_vocabulary": "BPE training: vocab checkpoint + bounded "
    "take (driver-local merge loop under BPE_LOCAL_VOCAB_CAP, "
    "per-round argmax actions past it — r18)",
    "text_unicode_bpe": "BPE training over unicode tokens (same "
    "adaptive shape)",
    "part_name_fuzzy_pairs": "cardinality guard: counts the value domain "
    "to REFUSE the |V|^2 join above max_values",
    "orders_value_deciles": "k-row range-bucket boundary collect "
    "(distributed NTILE without a single-partition exchange)",
    "orders_price_percent_rank": "k-row range-bucket boundary collect "
    "(same distributed-ranking decomposition)",
    "text_vocab_growth": "k-row range-bucket boundary collect "
    "(global_cumsum prefix decomposition)",
    "similarity_two_stage_ivf_topk": "k-row centroid collect for probe "
    "selection (memoized per index artifact); query-batch collects are "
    "capped at QUERY_BATCH_CAP with a loud refusal past it (r18)",
    "similarity_two_stage_topk": "bounded query-batch collect "
    "(|corpus|/50 rows, capped at QUERY_BATCH_CAP with a loud refusal "
    "past it; broadcast past GEMM_BROADCAST_MIN_Q) captured into the "
    "Arrow GEMM coarse stage",
    "similarity_ann_lsh_served": "bounded query-batch collect "
    "(capped at QUERY_BATCH_CAP with a loud refusal past it): the "
    "queries are bucketed on the driver, so the store scan gets a "
    "static (band, bucket) filter and a small batch rides the plan as "
    "literals",
    "crawl_wet_to_index": "WET artifact build + catalog landing: writes "
    "the conversion WARC files, re-reads them, lands the parquet table "
    "the index then reads (cold-cache artifact class)",
    "text_lang_id_served": "cold-cache artifact build: trains the "
    "language-profile parquet sidecar once per fixture version "
    "(the enumerated eager class)",
}


@pytest.fixture(scope="module", autouse=True)
def _reference_corpus(reference_manifest):
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(core, "_REF_MANIFEST", reference_manifest)
        yield


@pytest.fixture(scope="module")
def frames(spark, sf_dir):
    out = {}
    for name, spec in all_queries().items():
        if name.startswith(SKIP_PREFIX) or name in NO_FIXTURE:
            continue
        out[name] = spec.build(spark, sf_dir)
    return out


def test_build_launches_no_jobs(spark, sf_dir, frames):
    """registry.py's laziness contract, enforced mechanically: building
    a registered batch query must launch ZERO Spark jobs unless the
    entry is enumerated (with a reason) in EAGER_BUILD_OK. The
    ``frames`` fixture has already run every build once, so artifact
    caches and the parquet-footer schema memo are warm — what this
    measures is the steady-state cost plan-only callers (explain
    tooling, bench's per-query rebuilds) actually pay."""
    from parallel_map_reduce_spark.registry import release_pins

    sc = spark.sparkContext
    release_pins()
    offenders = {}
    for name, spec in all_queries().items():
        if (
            name.startswith(SKIP_PREFIX)
            or name in EAGER_BUILD_OK
            or name in NO_FIXTURE
        ):
            continue
        group = f"lint-lazy-{name}"
        sc.setJobGroup(group, name)
        try:
            spec.build(spark, sf_dir)
        finally:
            sc.setJobGroup("lint-lazy-idle", "idle")
        jobs = sc.statusTracker().getJobIdsForGroup(group)
        if jobs:
            offenders[name] = len(jobs)
        release_pins()
    assert not offenders, (
        f"build() launched jobs for {offenders} — use registry.pin() "
        "for multi-referenced intermediates, or add the entry to "
        "EAGER_BUILD_OK with the reason it is inherently eager"
    )


@pytest.fixture(scope="module")
def plans(frames):
    return {
        name: df._jdf.queryExecution().executedPlan().toString()
        for name, df in frames.items()
    }


def test_no_raw_complex_output_columns(frames):
    """Driver finding r9: an entry returning a raw ARRAY<DOUBLE> column
    crashed the gate's pandas canonicalizer (``unhashable type:
    'list'``) before it could even count rows — and the local parity
    tool's looser rows-only path let it ship. The registry's own
    convention (registry.py:12) says arrays are rendered as
    space-joined strings; enforce it mechanically for EVERY registered
    entry: no top-level ARRAY/MAP/STRUCT column may reach the driver.
    (Live streaming drains are excluded from this module's build
    fixture for cost; their gated members are oracle-backed, and any
    new one goes through tools/parity.py, whose canonicalization now
    matches the driver's.)"""
    from pyspark.sql.types import ArrayType, MapType, StructType

    bad = []
    for name, df in frames.items():
        for f in df.schema.fields:
            if isinstance(f.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, f"raw complex output columns (render as strings): {bad}"


def test_no_unexpected_cartesian_or_nlj(plans):
    bad = []
    for name, p in plans.items():
        if ("CartesianProduct" in p or "BroadcastNestedLoopJoin" in p) and (
            name not in CARTESIAN_OK
        ):
            bad.append(name)
    assert not bad, f"unallowlisted cartesian/NLJ in: {bad}"


def test_no_unexpected_single_partition_exchange(plans):
    bad = []
    for name, p in plans.items():
        if "Exchange SinglePartition" in p and name not in SINGLE_PARTITION_OK:
            bad.append(name)
    assert not bad, f"unallowlisted single-partition exchange in: {bad}"
