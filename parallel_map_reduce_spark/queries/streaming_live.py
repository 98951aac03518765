"""LIVE Structured Streaming queries wired into the correctness gate.

Each entry actually runs a streaming query (file source → watermarked
stateful aggregation → memory sink, drained with availableNow by
``streaming/drain.py``) and returns the sink contents as a batch
DataFrame — so the DuckDB oracle checks the STREAMING engine's output,
not a batch twin. The batch twins in ``queries/streaming_batch.py`` stay
as independent checks of the same logical semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..streaming import events_stream as ES
from ..streaming import sessionize as SZ
from ..streaming.drain import drain


@register(
    "streaming_hourly_tumbling",
    oracle="""
SELECT epoch_us(date_trunc('hour', ts)) AS window_start_us,
       event_type,
       COUNT(*)::BIGINT AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2
""",
    doc="Structured Streaming tumbling-window agg, run live (availableNow "
    "drain to memory sink) and checked against the batch SQL oracle — "
    "streaming/events_stream.py:hourly_tumbling_stream.",
    tags=("streaming", "live", "window"),
)
def streaming_hourly_tumbling(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ES.hourly_tumbling_stream(ES.read_events_stream(spark, sf_dir))
    return drain(stream, "complete")[0]


@register(
    "streaming_sliding_counts",
    oracle="""
WITH slid AS (
    SELECT e.*,
           to_timestamp((floor(epoch(ts) / 1800) * 1800 - off.o)::BIGINT) AS w_start
    FROM events e
    CROSS JOIN (VALUES (0), (1800)) off(o)
)
SELECT epoch_us(w_start) AS window_start_us,
       COUNT(*)::BIGINT AS n_events
FROM slid
GROUP BY 1
""",
    doc="Structured Streaming sliding windows run LIVE (1h/30m), counts "
    "only — count(distinct) is unsupported in streaming aggs, so the "
    "users column stays in the batch twin. "
    "streaming/events_stream.py:sliding_windows_stream.",
    tags=("streaming", "live", "window"),
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ES.sliding_windows_stream(ES.read_events_stream(spark, sf_dir))
    out = drain(stream, "complete")[0]
    return out.select("window_start_us", "n_events")


@register(
    "streaming_sliding_users_approx",
    oracle=None,  # approx_count_distinct is approximate by design — the
    # driver records rows-only; tests/test_approx.py pins the per-window
    # tolerance against the batch exact count(distinct).
    doc="The sliding-window users column that count(distinct) can't "
    "provide in a streaming agg, carried as approx_count_distinct — a "
    "measured approximation instead of an omission. LIVE drain of "
    "streaming/events_stream.py:sliding_windows_stream keeping "
    "n_users_approx.",
    tags=("streaming", "live", "window", "approx"),
)
def streaming_sliding_users_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ES.sliding_windows_stream(ES.read_events_stream(spark, sf_dir))
    out = drain(stream, "complete")[0]
    return out.select("window_start_us", "n_events", "n_users_approx")


@register(
    "streaming_sessionized",
    oracle=f"""
WITH ordered AS (
    SELECT user_id, ts,
           lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
    FROM events
),
flagged AS (
    SELECT user_id, ts,
           CASE WHEN prev_ts IS NULL
                     OR epoch(ts) - epoch(prev_ts) >= {30 * 60}
                THEN 1 ELSE 0 END AS new_session
    FROM ordered
),
sessions AS (
    SELECT user_id, ts,
           SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS session_id
    FROM flagged
)
SELECT user_id,
       epoch_us(MIN(ts)) AS session_start_us,
       COUNT(*)::BIGINT AS n_events,
       (epoch_us(MAX(ts)) - epoch_us(MIN(ts))) AS duration_us
FROM sessions
GROUP BY user_id, session_id
""",
    doc="Structured Streaming session_window sessionization, run live. "
    "session_window merges events strictly closer than the gap, i.e. a "
    "new session starts when diff >= gap — the oracle's lag-based "
    "grouping uses >= to match (the batch twin events_sessionized uses "
    "strict >, the other boundary convention). "
    "streaming/sessionize.py:session_window_agg.",
    tags=("streaming", "live", "session", "custom-operator"),
)
def streaming_sessionized(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = SZ.session_window_agg(ES.read_events_stream(spark, sf_dir), streaming=True)
    return drain(stream, "complete")[0]


@register(
    "streaming_segment_enrichment",
    oracle="""
SELECT epoch_us(date_trunc('hour', e.ts)) AS window_start_us,
       COALESCE(c.c_mktsegment, 'unknown') AS segment,
       COUNT(*)::BIGINT AS n_events
FROM events e
LEFT JOIN customer c ON c.c_custkey = e.user_id
GROUP BY 1, 2
""",
    doc="LIVE stream-static join: the event stream left-joins the "
    "customer dim per micro-batch (broadcast against each batch), then "
    "a watermarked tumbling count per (window, segment) — the canonical "
    "streaming-enrichment shape, oracled against the equivalent batch "
    "join. streaming/events_stream.py:segment_enriched_stream.",
    tags=("streaming", "live", "join", "enrichment"),
)
def streaming_segment_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table

    customer = load_table(spark, sf_dir, "customer")
    stream = ES.segment_enriched_stream(
        ES.read_events_stream(spark, sf_dir), customer
    )
    return drain(stream, "complete")[0]


@register(
    "streaming_purchase_click_join",
    oracle="""
SELECT p.event_id AS purchase_id,
       c.event_id AS click_id,
       p.user_id,
       epoch_us(p.ts) AS purchase_ts_us,
       epoch_us(c.ts) AS click_ts_us
FROM events p
JOIN events c
  ON p.user_id = c.user_id
 AND p.event_type = 'purchase'
 AND c.event_type = 'click'
 AND c.ts >= p.ts - INTERVAL 1 HOUR
 AND c.ts <= p.ts
""",
    doc="LIVE stream-stream interval join: purchases x clicks by the "
    "same user within the preceding hour, watermarks on both sides "
    "bounding join state (state = rate x window, evicted at watermark). "
    "Inner joins emit on match, so the append-mode drain returns the "
    "complete result for a finite source. "
    "streaming/events_stream.py:purchase_click_interval_join.",
    tags=("streaming", "live", "join", "interval"),
)
def streaming_purchase_click_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    purchases = ES.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    )
    clicks = ES.read_events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    )
    stream = ES.purchase_click_interval_join(purchases, clicks)
    return drain(stream)[0]


@register(
    "streaming_dedup_keys",
    oracle="""
SELECT DISTINCT user_id, event_type FROM events
""",
    doc="LIVE streaming deduplication: dropDuplicatesWithinWatermark "
    "suppresses repeat (user_id, event_type) arrivals with state "
    "bounded by the watermark delay (evicted on watermark advance — "
    "plain streaming dropDuplicates can never evict). Drained keys-only "
    "so the availableNow single-batch output equals the exact distinct "
    "key set the oracle computes. "
    "streaming/events_stream.py:dedup_keys_stream.",
    tags=("streaming", "live", "dedup"),
)
def streaming_dedup_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    stream = ES.dedup_keys_stream(ES.read_events_stream(spark, sf_dir))
    return drain(stream)[0]


from ..operators import curation as _C  # noqa: E402  (oracle constants)

@register(
    "streaming_curation_dedup",
    oracle=f"""
SELECT DISTINCT md5(text) AS digest
FROM documents
WHERE len(list_filter(string_split_regex(text, '[ \\t\\n]+'), x -> len(x) > 0)) >= {_C.MIN_TOKENS}
  AND length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * {_C.ALPHA_NUM} >= length(text)
""",
    doc="LIVE streaming curation: documents quality-filtered per "
    "micro-batch (same integer-exact predicates as the batch chain) "
    "then content-digest deduplicated in streaming state — the "
    "ingest-side of the training-data pipeline. Digest-only output "
    "keeps the drain deterministic; state is one key per unique "
    "surviving document (no event-time -> no watermark bound; the "
    "production contract is a TTL'd store or periodic compaction, "
    "documented in streaming/curation_stream.py).",
    tags=("streaming", "live", "curation", "dedup"),
)
def streaming_curation_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import curation_stream as CS

    stream = CS.curation_stream(CS.read_documents_stream(spark, sf_dir))
    return drain(stream)[0]


@register(
    "streaming_inverted_index",
    oracle=None,  # placeholder — set just below via _WORDS (avoids an
    # import cycle at module top; see _set_index_oracle)
    doc="LIVE streaming inverted-index maintenance: the reference's "
    "flagship map+reduce as a Structured Streaming job — per-micro-"
    "batch tokenization with the batch flagship's fused per-document "
    "contract, posting lists held in streaming aggregation state "
    "keyed by word (state = the reducer footprint, updated "
    "incrementally). Drained availableNow, the final state equals the "
    "batch index, so the LIVE run is checked against the SAME oracle "
    "as the batch `inverted_index` entry — streaming family meets "
    "reference parity. Since r15 the drain runs on the ROCKSDB state "
    "store (the 100 TB state-size contract: word-keyed posting state "
    "grows with vocabulary, and the default provider holds every key "
    "on executor heap; RocksDB spills to local disk with bounded "
    "memory). The provider is applied to an engine-owned session "
    "clone at runtime and VERIFIED ENGAGED from the query's own "
    "progress metrics — a silent heap fallback raises instead of "
    "passing. streaming/index_stream.py:inverted_index_stream,"
    "rocksdb_session,drain_rocksdb.",
    tags=("streaming", "live", "reference", "flagship", "rocksdb"),
)
def streaming_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming import curation_stream as CS
    from ..streaming import index_stream as IS

    rocks = IS.rocksdb_session(spark)
    stream = IS.inverted_index_stream(CS.read_documents_stream(rocks, sf_dir))
    return IS.drain_rocksdb(stream, None, rocks)


def _set_index_oracle() -> None:
    from ..registry import _REGISTRY
    from ._sql import WORDS_CTE

    _REGISTRY["streaming_inverted_index"].oracle = f"""
WITH {WORDS_CTE}
SELECT word,
       count(*)::BIGINT AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       substr(word, 1, 1) AS letter
FROM words
GROUP BY word
"""


_set_index_oracle()


@register(
    "streaming_cdc_apply",
    oracle=None,  # set just below: shares the batch MERGE entry's oracle
    doc="LIVE streaming CDC apply: the change feed drains through "
    "foreachBatch, each micro-batch MERGING into a versioned parquet "
    "snapshot (read current version, union + single max_by aggregate, "
    "write version N+1 — the read-modify-write never overwrites files "
    "it is reading; with Delta/Iceberg the body becomes one MERGE "
    "INTO). Final state equals the one-shot batch merge, so the live "
    "drain shares `orders_cdc_merge`'s DuckDB oracle. Multi-batch "
    "sequential==one-shot equivalence is pinned in "
    "tests/test_streaming.py. streaming/cdc_stream.py:run_cdc_apply.",
    tags=("streaming", "live", "cdc", "merge"),
)
def streaming_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.cdc_stream import run_cdc_apply

    return run_cdc_apply(spark, sf_dir)


def _set_cdc_oracle() -> None:
    from ..registry import _REGISTRY

    _REGISTRY["streaming_cdc_apply"].oracle = _REGISTRY["orders_cdc_merge"].oracle


_set_cdc_oracle()


@register(
    "streaming_neardup_lsh",
    oracle=None,  # set just below: shares the batch incremental-LSH oracle
    doc="LIVE ingest-time near-dup detection: each document micro-batch "
    "is band-signatured (per-doc projections, no streaming state) and "
    "equi-joined into the PRE-BUILT corpus band table — the persisted-"
    "artifact serving path the batch operator's 100 TB note promises; "
    "the corpus is never re-shingled and only colliding (band, sig) "
    "buckets are touched. Drained availableNow, collisions across "
    "batches equal the one-shot batch run, so the drain shares "
    "`dedup_incremental_lsh`'s DuckDB oracle. "
    "streaming/dedup_stream.py:run_incremental_lsh_stream.",
    tags=("streaming", "live", "dedup", "lsh", "incremental"),
)
def streaming_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_stream import run_incremental_lsh_stream

    return run_incremental_lsh_stream(spark, sf_dir)


def _set_neardup_oracle() -> None:
    from ..registry import _REGISTRY

    _REGISTRY["streaming_neardup_lsh"].oracle = _REGISTRY[
        "dedup_incremental_lsh"
    ].oracle


_set_neardup_oracle()


@register(
    "streaming_band_index",
    oracle=None,  # set just below: the bands CTE from queries/dedup.py
    doc="LIVE band-signature index maintenance — the streaming half of "
    "the corpus-promotion lifecycle (layout.ensure_bucketed_append is "
    "the batch half): document micro-batches are band-signatured as "
    "they arrive (per-doc md5 projections, no aggregation state) and "
    "APPENDED into the standing band store, so arrivals become "
    "incremental-dedup-matchable one micro-batch after ingest with no "
    "rebuild of standing data. Deterministic signatures make the "
    "drained store equal the batch derivation exactly whatever the "
    "batch boundaries — hence a FULL DuckDB oracle (the bands CTE), "
    "not a rows-only record. "
    "streaming/dedup_stream.py:run_band_index_stream.",
    tags=("streaming", "live", "dedup", "lsh", "index", "lifecycle"),
)
def streaming_band_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.dedup_stream import run_band_index_stream

    return run_band_index_stream(spark, sf_dir)


def _set_band_index_oracle() -> None:
    from ..registry import _REGISTRY

    from .dedup import BAND_TABLE_ORACLE

    _REGISTRY["streaming_band_index"].oracle = BAND_TABLE_ORACLE


_set_band_index_oracle()


@register(
    "streaming_ivfpq_index",
    oracle=None,  # PQ codes depend on the trained codebooks (not
    # SQL-replayable); the exactness contract is pytest-pinned instead:
    # the drained store EQUALS the batch write_ivfpq_index store
    # row-for-row (tests/test_streaming.py), and the serving path over
    # it is covered by the similarity_ivfpq_topk contracts.
    doc="LIVE ANN-index maintenance: embedding micro-batches are "
    "coarse-assigned to the PRE-TRAINED IVF centroids and PQ-encoded "
    "against the PRE-TRAINED codebooks (both deterministic per-row "
    "projections — quantizers are frozen serving state, the FAISS "
    "discipline), then APPENDED into the centroid_id-partitioned code "
    "store as new files inside existing partitions; streamed vectors "
    "become partition-pruned-searchable one micro-batch after arrival, "
    "with no rebuild of standing data. Drained availableNow; final "
    "store equals the batch-built index exactly whatever the batch "
    "boundaries. streaming/ann_index_stream.py:run_ivfpq_index_stream.",
    tags=("streaming", "live", "similarity", "ann", "ivf", "pq", "index"),
)
def streaming_ivfpq_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.ann_index_stream import run_ivfpq_index_stream

    return run_ivfpq_index_stream(spark, sf_dir)


@register(
    "streaming_multimodal_features",
    oracle=None,  # set just below: shares the batch image-features
    # entry's oracle (the fixture generator's encode-time record)
    doc="LIVE streaming multimodal ingest: binary image payloads "
    "decoded AS THEY ARRIVE — each micro-batch runs the batch entry's "
    "exact Arrow mapInPandas header-parse body (real stdlib decode, "
    "multimodal/imagehdr.py) after a stateless stream-static broadcast "
    "join scopes arrivals to the catalog's documents. Per-row pure "
    "decode means NO aggregation state at all; drained availableNow "
    "append, the output equals the batch multimodal_image_features "
    "row-for-row and is checked against the SAME oracle. "
    "streaming/multimodal_stream.py.",
    tags=("streaming", "live", "multimodal", "pandas-udf"),
)
def streaming_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table
    from ..streaming import multimodal_stream as MS

    docs = load_table(spark, sf_dir, "documents")
    stream = MS.image_features_stream(MS.read_image_payload_stream(spark), docs)
    return drain(stream)[0]


def _set_multimodal_oracle() -> None:
    from ..registry import _REGISTRY

    # Import the batch module explicitly so the shared entry is
    # registered whatever order the package imports resolve in —
    # without this the copy below would silently depend on
    # queries/__init__ importing multimodal before streaming_live.
    from . import multimodal as _mm  # noqa: F401

    _REGISTRY["streaming_multimodal_features"].oracle = _REGISTRY[
        "multimodal_image_features"
    ].oracle


_set_multimodal_oracle()


from ..operators.url_canon import canonical_url_duckdb_expr as _url_canon_sql
from ._url import UDOCS_URL_CTE as _UDOCS_URL_CTE


@register(
    "streaming_url_frontier",
    oracle=f"""
WITH {_UDOCS_URL_CTE}
SELECT DISTINCT {_url_canon_sql('url')} AS canonical_url FROM urldocs
""",
    doc="LIVE crawl-frontier URL dedup (r15): each micro-batch "
    "canonicalizes arriving URLs under the SAME codegen contract as "
    "the batch dedup_url_canonical (operators/url_canon.py — case/"
    "www/ports/fragments/tracking-params/param-sort/unreserved "
    "percent-decode), then first-seen suppression on the canonical "
    "key in streaming state — the frontier's seen-set, one state row "
    "per unique page. Drained availableNow, the key set equals the "
    "batch DISTINCT, so the live run is checked against the same "
    "DuckDB re-derivation of the full rewrite contract. Scoping is a "
    "stream-static broadcast semi-join re-read per micro-batch. "
    "streaming/url_stream.py.",
    tags=("streaming", "live", "dedup", "url", "crawl", "llm-pipeline"),
)
def streaming_url_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table
    from ..streaming import url_stream as US

    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    stream = US.url_frontier_stream(US.read_url_stream(spark), ids)
    return drain(stream)[0]


from .warc_ingest import WRECS_CTE as _WRECS_CTE


@register(
    "streaming_warc_ingest",
    oracle=f"""
WITH {_WRECS_CTE}
SELECT doc_id, src_file, rec_ord, warc_type, record_id, warc_date,
       target_uri, content_type, http_status::INT AS http_status,
       http_content_type, charset, payload_text,
       n_bytes::BIGINT AS n_bytes, block_digest_ok, payload_digest_ok
FROM wrecs
""",
    doc="LIVE WARC landing-zone ingest (r16; offsets reworked r17 per "
    "the advisor): the `warc` source's streaming flavor treats the "
    "crawl directory as an ordered log whose offsets NAME FILES (the "
    "sorted path of the last file covered) — each trigger plans the "
    "next capped batch of WHOLE files (maxFilesPerTrigger enforced "
    "in latestOffset so the committed offset is the capped one, "
    "never skipping files), partitions() replays a committed (start, "
    "end] range as exactly the files sorting inside it, and each "
    "file streams through the same from-spec parser as the batch "
    "entry (chunked/gzip/deflate/close-framed envelope decoding "
    "included). Drained availableNow over the committed fixture with "
    "the same doc-scoped projection as ingest_warc_records, the row "
    "set equals the batch parse, so the live run shares the batch "
    "entry's composition-derived sidecar oracle. Scoping is a "
    "stream-static broadcast semi-join re-read per micro-batch. "
    "sources/warc.py.",
    tags=("streaming", "live", "ingest", "warc", "llm-pipeline"),
)
def streaming_warc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.catalog import load_table
    from ..sources.warc import register as register_warc
    from .warc_ingest import WARC_FIXTURE_DIR

    register_warc(spark)
    recs = (
        spark.readStream.format("warc")
        .option("path", WARC_FIXTURE_DIR)
        .load()
        .withColumn(
            "doc_id",
            F.regexp_extract("target_uri", r"/doc/(\d+)(?:[?#].*)?$", 1).cast("bigint"),
        )
        .filter(F.col("doc_id").isNotNull())
    )
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    scoped = recs.join(F.broadcast(ids), recs["doc_id"] % 2000 == ids["fid"])
    out = scoped.select(
        "doc_id", "src_file", "rec_ord", "warc_type", "record_id",
        "warc_date", "target_uri", "content_type", "http_status",
        "http_content_type",
        "charset",
        "payload_text",
        "n_bytes",
        "block_digest_ok",
        "payload_digest_ok",
    )
    return drain(out)[0]


from .warc_ingest import ROBOTS_ORACLE as _ROBOTS_ORACLE


@register(
    "streaming_robots_filter",
    oracle=_ROBOTS_ORACLE,
    doc="LIVE robots.txt politeness filter (r17): frontier URLs "
    "arrive as a stream and each micro-batch runs the SAME folded "
    "verdict as the batch crawl_robots_filter — a stream-static "
    "host-keyed join against the per-host rule arrays "
    "(parse_robots_rules + robots_rules_by_host on the static side, "
    "re-read per micro-batch = how a production crawler picks up "
    "robots refreshes) followed by a stateless in-row array_max over "
    "the matcher-filtered rules. ZERO streaming state, zero "
    "stream-side shuffles, append mode with no watermark — the "
    "politeness step costs nothing to stream. Drained availableNow "
    "over the committed fixture the verdict set equals the batch "
    "entry's, so the live run shares its composition-backed DuckDB "
    "re-derivation oracle. streaming/robots_stream.py.",
    tags=("streaming", "live", "crawl", "robots", "llm-pipeline"),
)
def streaming_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robots import parse_robots_rules, robots_rules_by_host
    from ..sources.catalog import load_table, read_parquet
    from ..streaming import robots_stream as RS
    from .warc_ingest import ROBOTS_AGENT, ROBOTS_FIXTURE_PARQUET

    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    bodies = (
        read_parquet(spark, ROBOTS_FIXTURE_PARQUET)
        .select("host", "robots_txt")
        .distinct()
    )
    rules_by_host = robots_rules_by_host(
        parse_robots_rules(bodies, ROBOTS_AGENT)
    )
    stream = RS.robots_filter_stream(
        RS.read_robots_url_stream(spark), rules_by_host, ids
    )
    return drain(stream)[0]
