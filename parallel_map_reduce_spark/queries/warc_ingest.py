"""WARC container ingestion entries (VERDICT r15 task 1) — the front
end of the crawl-ingest chain: WARC -> URL canon -> HTML extract ->
unicode tokenize -> dedup. The reference reads pre-split plain text
(`src/tema1.cpp:324-364`); real crawls arrive as WARC, so this is
north-star LLM-pipeline surface.

Both entries run the REAL from-spec parser over the committed WARC
bytes (tools/gen_warc_fixture.py; refdata/warc/) while their oracles
read the generator's composition-derived sidecar
(refdata/warc_expected.parquet) — the image-fixture discipline: the
sidecar is authored from what the generator composed, never from
running the parser, so a hash match proves the parser implements the
authored spec. ``ingest_warc_html_text`` additionally chains the
parsed payloads through the HTML extraction contract with DuckDB
re-deriving the RE2 chain over the sidecar payloads: parse AND
extract must both agree.

Scoping follows the fixture discipline of queries/_html.py: records
keyed by the doc_id COMPOSED INTO the target URI (Spark re-derives it
with regexp_extract — faithful-extraction proof), scoped to the sf's
documents by a broadcast semi-join on doc_id % 2000.

Plan shape: 2 file-partitions (one per WARC file, the Common Crawl
unit of parallelism) -> per-record rows -> broadcast semi-join ->
projection. Zero shuffles of record data at any corpus size.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.html_extract import html_extract_duckdb_expr, html_text_column
from ..registry import register
from ..sources.catalog import REFDATA_DIR, load_table
from ..sources.warc import read_warc
from ..streaming.drain import fresh_result_dir

WARC_FIXTURE_DIR = os.path.join(REFDATA_DIR, "warc")
WARC_EXPECTED_PARQUET = os.path.join(REFDATA_DIR, "warc_expected.parquet")

# DuckDB CTE mirroring scoped_warc_records.
WRECS_CTE = f"""wrecs AS (
    SELECT * FROM read_parquet('{WARC_EXPECTED_PARQUET}')
    WHERE doc_id IS NOT NULL
      AND doc_id % 2000 IN (SELECT doc_id % 2000 FROM documents)
)"""


def scoped_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the fixture WARCs and scope to the sf's documents: the
    doc_id is re-derived from the composed target URI (``/doc/<id>``),
    so URI extraction is itself under test; warcinfo records (no URI)
    fall out of scope exactly as the oracle's ``doc_id IS NOT NULL``."""
    recs = read_warc(spark, WARC_FIXTURE_DIR).withColumn(
        "doc_id",
        F.regexp_extract("target_uri", r"/doc/(\d+)(?:[?#].*)?$", 1).cast("bigint"),
    )
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    return recs.filter(F.col("doc_id").isNotNull()).join(
        F.broadcast(ids), recs["doc_id"] % 2000 == ids["fid"]
    )


@register(
    "ingest_warc_records",
    oracle=f"""
WITH {WRECS_CTE}
SELECT doc_id, src_file, rec_ord, warc_type, record_id, warc_date,
       target_uri, content_type, http_status::INT AS http_status,
       http_content_type, charset, payload_text,
       n_bytes::BIGINT AS n_bytes, block_digest_ok, payload_digest_ok
FROM wrecs
""",
    doc="WARC container ingestion (r16, VERDICT r15 task 1 — the "
    "crawl chain's front end): the from-spec stdlib parser "
    "(sources/warc_format.py) streams the committed fixture WARCs "
    "(tools/gen_warc_fixture.py — one .warc.gz with per-record gzip "
    "members, the Common Crawl layout, and one plain .warc) through "
    "the `warc` Python data source (one InputPartition per file, "
    "O(record) memory), opening HTTP envelopes: chunked transfer "
    "decoding with extensions and trailers, Content-Encoding gzip, "
    "exact Content-Length verification, close-delimited bodies, "
    "folded headers, header-name case, WARC 1.0/1.1. The oracle "
    "reads the generator's composition-derived sidecar "
    "(warc_expected.parquet) — expectations authored from what was "
    "composed, never from the parser — so the hash match proves the "
    "parser implements the authored spec for every record type "
    "(request/response/metadata/resource/revisit). Malformed framing "
    "raises loudly (tests/test_warc.py); deflate/br content codings "
    "are a documented rejected boundary. Plan: 2 file partitions -> "
    "broadcast semi-join scope -> projection; zero record shuffles.",
    tags=("ingest", "warc", "source", "llm-pipeline"),
)
def ingest_warc_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = scoped_warc_records(spark, sf_dir)
    return recs.select(
        "doc_id",
        "src_file",
        "rec_ord",
        "warc_type",
        "record_id",
        "warc_date",
        "target_uri",
        "content_type",
        "http_status",
        "http_content_type",
        "charset",
        "payload_text",
        "n_bytes",
        "block_digest_ok",
        "payload_digest_ok",
    )


@register(
    "ingest_warc_html_text",
    oracle=f"""
WITH {WRECS_CTE},
pages AS (
    SELECT doc_id, payload_text FROM wrecs
    WHERE warc_type = 'response' AND http_status = 200
      AND http_content_type LIKE 'text/html%'
      AND n_bytes > 0
),
x AS (
    SELECT doc_id, {html_extract_duckdb_expr('payload_text')} AS text
    FROM pages
)
SELECT doc_id, text, length(text)::BIGINT AS n_chars FROM x
""",
    doc="WARC -> HTML extraction chain (r16): 200-status text/html "
    "response payloads parsed from the committed WARC bytes flow "
    "straight into the HTML extraction contract "
    "(operators/html_extract.py). Spark runs Java-regex extraction "
    "over PARSED payloads; the oracle runs the RE2 re-derivation "
    "over the sidecar's COMPOSED payloads — the hash match is a "
    "joint proof that envelope decoding (chunked/gzip/close-framed) "
    "and boilerplate stripping both implement their contracts. "
    "Bodies reuse the HTML fixture's piece compositions, so every "
    "extraction clause gets real work. Plan: file-partition scan -> "
    "broadcast semi-join -> codegen regex projection; zero shuffles.",
    tags=("ingest", "warc", "html", "extraction", "llm-pipeline"),
)
def ingest_warc_html_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = scoped_warc_records(spark, sf_dir).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
        & (F.col("n_bytes") > 0)
    )
    text = html_text_column(F.col("payload_text")).alias("text")
    return recs.select("doc_id", text).select(
        "doc_id", "text", F.length("text").cast("bigint").alias("n_chars")
    )


@register(
    "crawl_pipeline_e2e",
    oracle=f"""
WITH {WRECS_CTE},
pages AS (
    SELECT doc_id, canonical_uri, payload_text FROM wrecs
    WHERE warc_type = 'response' AND http_status = 200
      AND http_content_type LIKE 'text/html%'
      AND n_bytes > 0
),
x AS (
    SELECT doc_id, canonical_uri AS canonical_url,
           {html_extract_duckdb_expr('payload_text')} AS text
    FROM pages
),
toks AS (
    SELECT doc_id, canonical_url, length(text)::BIGINT AS n_chars,
           list_filter(string_split_regex(lower(text), '[^\\p{{L}}]+'),
                       t -> length(t) > 0) AS ts
    FROM x
)
SELECT doc_id, canonical_url, n_chars,
       len(ts)::BIGINT AS n_tokens,
       len(list_distinct(ts))::BIGINT AS n_unique_tokens
FROM toks
""",
    doc="The crawl chain END-TO-END in one plan (r16): WARC parse -> "
    "HTTP envelope decode (chunked/gzip/close-framed) -> URL "
    "canonicalization of the MESSY captured target URI (scheme/host "
    "case, www., :443, tracking params, fragments — operators/"
    "url_canon.py, dot segments included) -> HTML boilerplate strip "
    "(operators/html_extract.py) -> unicode tokenize counts. The "
    "oracle's canonical_url is the GENERATOR'S COMPOSED canonical "
    "(never computed by any canonicalizer — composition knowledge), "
    "so the hash match proves the Spark canon contract recovers "
    "exactly what was messied, while the text/token columns prove "
    "the parse+extract+tokenize chain cross-engine. This is the "
    "pipeline a crawl corpus actually runs before dedup, as ONE "
    "query. Plan: file-partition scan -> broadcast semi-join -> pure "
    "codegen projection; ZERO shuffles of record data at any scale.",
    tags=("ingest", "warc", "url", "html", "tokenize", "e2e",
          "llm-pipeline"),
)
def crawl_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.tokenize import UNICODE_SPLIT_REGEX
    from ..operators.url_canon import canonical_url_column

    recs = scoped_warc_records(spark, sf_dir).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
        & (F.col("n_bytes") > 0)
    )
    text = html_text_column(F.col("payload_text")).alias("text")
    staged = recs.select(
        "doc_id",
        canonical_url_column("target_uri").alias("canonical_url"),
        text,
    )
    toks = F.filter(
        F.split(F.lower("text"), UNICODE_SPLIT_REGEX),
        lambda t: F.length(t) > 0,
    )
    return staged.select(
        "doc_id",
        "canonical_url",
        F.length("text").cast("bigint").alias("n_chars"),
        F.size(toks).cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("n_unique_tokens"),
    )


@register(
    "crawl_wet_roundtrip",
    oracle=f"""
WITH {WRECS_CTE},
pages AS (
    SELECT doc_id, payload_text FROM wrecs
    WHERE warc_type = 'response' AND http_status = 200
      AND http_content_type LIKE 'text/html%'
      AND n_bytes > 0
),
x AS (
    SELECT doc_id, {html_extract_duckdb_expr('payload_text')} AS text
    FROM pages
)
SELECT doc_id, text, length(text)::BIGINT AS n_chars,
       TRUE AS block_digest_ok
FROM x
""",
    doc="WET round-trip (late r16 — the container loop's other half): "
    "extracted text is WRITTEN as Common-Crawl-style WET files (WARC "
    "conversion records, per-record gzip members, sha1 block digests "
    "— sinks/warc_sink.py composes from the same spec the parser "
    "enforces) and RE-READ through the strict `warc` source. The "
    "oracle is the extraction chain over the composition sidecar, "
    "plus block_digest_ok pinned TRUE — the hash match proves writer "
    "bytes are spec-valid, framing round-trips losslessly, and every "
    "re-read digest verifies. Eager by nature (the write is an "
    "artifact build, enumerated in EAGER_BUILD_OK); staging reuses "
    "the per-(pid, sf) cleared-directory discipline. Scale: "
    "executor-side per-partition streaming writes, O(record) memory.",
    tags=("ingest", "warc", "wet", "sink", "roundtrip", "llm-pipeline"),
)
def crawl_wet_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sinks.warc_sink import write_warc_conversions
    from ..sources.warc import read_warc

    pages = scoped_warc_records(spark, sf_dir).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
        & (F.col("n_bytes") > 0)
    )
    wet_in = pages.select(
        F.col("target_uri").alias("uri"),
        F.col("warc_date").alias("date"),
        html_text_column(F.col("payload_text")).alias("text"),
    )
    out_dir = fresh_result_dir("wet_roundtrip", sf_dir)
    write_warc_conversions(wet_in, out_dir)
    reread = read_warc(spark, out_dir).filter(
        F.col("warc_type") == "conversion"
    )
    return reread.select(
        F.regexp_extract(
            "target_uri", r"/doc/(\d+)(?:[?#].*)?$", 1
        ).cast("bigint").alias("doc_id"),
        F.col("payload_text").alias("text"),
        "n_bytes",
        "block_digest_ok",
    ).select(
        "doc_id",
        "text",
        F.length("text").cast("bigint").alias("n_chars"),
        "block_digest_ok",
    )


@register(
    "ingest_warc_charsets",
    oracle=f"""
WITH {WRECS_CTE}
SELECT doc_id, src_file, rec_ord, http_content_type, charset,
       payload_text, n_bytes::BIGINT AS n_bytes,
       length(payload_text)::BIGINT AS n_chars
FROM wrecs
WHERE warc_type = 'response' AND http_status = 200 AND n_bytes > 0
""",
    doc="Charset-aware payload decode (r17, VERDICT r16 task 1): every "
    "200-status response payload in the fixture — including the nine "
    "NON-UTF-8 sub-cases (windows-1252 declared under its iso-8859-1 "
    "alias, windows-1250, shift_jis via <meta>, euc-jp, gbk declared "
    "gb2312 via http-equiv, koi8-r, BOM'd utf-16le/be with no "
    "declaration, BOM'd utf-8) — decoded by the source under the "
    "WHATWG precedence (BOM > Content-Type charset param > bounded "
    "<meta> prescan > strict utf-8 default; "
    "warc_format.decode_payload). The oracle's charset and "
    "payload_text are the GENERATOR'S composition knowledge (the "
    "canonical name it encoded with, the unicode string it encoded), "
    "so the hash match proves sniff + alias resolution + strict "
    "decode recover exactly what was composed. Wrong-declared and "
    "out-of-contract charsets raise loudly (tests/test_warc.py). "
    "n_bytes counts encoded bytes (BOM included), n_chars the decoded "
    "string — the pair pins the multi-byte arithmetic cross-engine. "
    "Plan: file-partition scan -> broadcast semi-join -> projection; "
    "zero record shuffles.",
    tags=("ingest", "warc", "charset", "unicode", "llm-pipeline"),
)
def ingest_warc_charsets(spark: SparkSession, sf_dir: str) -> DataFrame:
    recs = scoped_warc_records(spark, sf_dir).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & (F.col("n_bytes") > 0)
    )
    return recs.select(
        "doc_id",
        "src_file",
        "rec_ord",
        "http_content_type",
        "charset",
        "payload_text",
        "n_bytes",
        F.length("payload_text").cast("bigint").alias("n_chars"),
    )


@register(
    "crawl_wet_to_index",
    oracle=f"""
WITH {WRECS_CTE},
pages AS (
    SELECT doc_id, payload_text FROM wrecs
    WHERE warc_type = 'response' AND http_status = 200
      AND http_content_type LIKE 'text/html%'
      AND n_bytes > 0
),
x AS (
    SELECT doc_id, {html_extract_duckdb_expr('payload_text')} AS text
    FROM pages
),
tok AS (
    SELECT doc_id, unnest(string_split_regex(text, '[ \t\n]+')) AS tok
    FROM x
),
w_raw AS (
    SELECT DISTINCT lower(regexp_replace(tok, '[^A-Za-z]', '', 'g')) AS word,
           doc_id
    FROM tok
),
words AS (SELECT word, doc_id FROM w_raw WHERE length(word) > 0)
SELECT word, count(*)::BIGINT AS df,
       array_to_string(list(doc_id ORDER BY doc_id), ' ') AS postings,
       substr(word, 1, 1) AS letter
FROM words
GROUP BY word
""",
    doc="The container loop composed with the reference-parity pipeline "
    "(r17, VERDICT r16 task 6): WARC pages -> HTML extraction -> WET "
    "conversion files WRITTEN and strictly RE-READ "
    "(sinks/warc_sink.py, the crawl_wet_roundtrip halves) -> LANDED "
    "as a documents-shaped parquet table through the catalog "
    "(sources/catalog.py read_parquet — the corpus model every "
    "downstream operator reads) -> the FLAGSHIP inverted index "
    "(operators/inverted_index.py, the reference's own map+reduce "
    "contract) built over the landed text. The oracle re-derives the "
    "whole chain from the composition sidecar: extraction CTE -> the "
    "reference tokenize contract -> postings — so the hash match "
    "proves WET write, strict re-parse, catalog landing, and the "
    "reference-parity index all compose losslessly. Eager by nature "
    "(two artifact builds: the WET files and the landed parquet — "
    "the enumerated cold-cache class). Scale: executor-side "
    "streaming WET writes, columnar landing, then the flagship's "
    "single-exchange index plan.",
    tags=("ingest", "warc", "wet", "index", "e2e", "llm-pipeline"),
)
def crawl_wet_to_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.inverted_index import inverted_index as build_index
    from ..sinks.warc_sink import write_warc_conversions
    from ..sources.catalog import read_parquet

    pages = scoped_warc_records(spark, sf_dir).filter(
        (F.col("warc_type") == "response")
        & (F.col("http_status") == 200)
        & F.col("http_content_type").startswith("text/html")
        & (F.col("n_bytes") > 0)
    )
    wet_in = pages.select(
        F.col("target_uri").alias("uri"),
        F.col("warc_date").alias("date"),
        html_text_column(F.col("payload_text")).alias("text"),
    )
    wet_dir = fresh_result_dir("wet_to_index", sf_dir)
    write_warc_conversions(wet_in, wet_dir)
    conv = read_warc(spark, wet_dir).filter(F.col("warc_type") == "conversion")
    docs = conv.select(
        F.regexp_extract(
            "target_uri", r"/doc/(\d+)(?:[?#].*)?$", 1
        ).cast("bigint").alias("doc_id"),
        F.col("payload_text").alias("text"),
    )
    landed_dir = fresh_result_dir("wet_landed", sf_dir)
    docs.write.mode("overwrite").parquet(landed_dir)
    landed = read_parquet(spark, landed_dir)
    idx = build_index(landed)
    return idx.select(
        "word",
        F.col("df").cast("bigint").alias("df"),
        F.array_join("postings", " ").alias("postings"),
        "letter",
    )


ROBOTS_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "robots_fixture.parquet")
ROBOTS_AGENT = "sparkbot"

# DuckDB CTE mirroring scoped_robots_docs.
RDOCS_CTE = f"""rdocs AS (
    SELECT doc_id, host, robots_txt, path
    FROM read_parquet('{ROBOTS_FIXTURE_PARQUET}')
    WHERE doc_id % 2000 IN (SELECT doc_id % 2000 FROM documents)
)"""


def scoped_robots_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The robots fixture scoped to the sf's documents (broadcast
    semi-join on doc_id % 2000, the shared fixture discipline)."""
    from ..sources.catalog import read_parquet

    fixture = read_parquet(spark, ROBOTS_FIXTURE_PARQUET)
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    return fixture.join(
        F.broadcast(ids), fixture["doc_id"] % 2000 == ids["fid"]
    ).select("doc_id", "host", "robots_txt", "path")


# Shared by crawl_robots_filter and the live streaming_robots_filter
# drain (same verdict contract, same re-derivation).
ROBOTS_ORACLE = f"""
WITH {RDOCS_CTE},
bodies AS (SELECT DISTINCT host, robots_txt FROM rdocs),
lines AS (
    SELECT host, z[2] AS line_no,
           trim(regexp_replace(z[1], '#.*$', '')) AS line
    FROM (
        SELECT host,
               unnest(list_zip(l, generate_series(1, len(l)))) AS z
        FROM (
            SELECT host,
                   string_split_regex(robots_txt, '\\r?\\n') AS l
            FROM bodies
        )
    )
),
parsed0 AS (
    SELECT host, line_no,
           lower(regexp_extract(line, '^([A-Za-z][A-Za-z-]*)\\s*:', 1))
               AS dir,
           regexp_extract(line,
               '^[A-Za-z][A-Za-z-]*\\s*:\\s*(.*?)\\s*$', 1) AS val
    FROM lines
),
parsed AS (
    SELECT * FROM parsed0
    WHERE dir IN ('user-agent', 'allow', 'disallow')
),
marked AS (
    SELECT *, CASE WHEN dir = 'user-agent' AND coalesce(
        lag(dir) OVER (PARTITION BY host ORDER BY line_no), '')
        <> 'user-agent' THEN 1 ELSE 0 END AS is_start
    FROM parsed
),
grouped AS (
    SELECT *, SUM(is_start) OVER (
        PARTITION BY host ORDER BY line_no ROWS UNBOUNDED PRECEDING
    ) AS gid FROM marked
),
agents AS (
    SELECT host, gid,
           bool_or(lower(val) = '{ROBOTS_AGENT}') AS named,
           bool_or(val = '*') AS star
    FROM grouped WHERE dir = 'user-agent' GROUP BY host, gid
),
hostflag AS (
    SELECT host, bool_or(named) AS has_named FROM agents GROUP BY host
),
rules AS (
    SELECT g.host, g.val AS pattern,
           g.dir = 'allow' AS is_allow,
           length(g.val)::INTEGER AS spec,
           '^' || replace(regexp_replace(
               CASE WHEN ends_with(g.val, '$')
                    THEN substr(g.val, 1, length(g.val) - 1)
                    ELSE g.val END,
               '([.+?^$(){{}}\\[\\]|\\\\])', '\\\\\\1', 'g'),
               '*', '.*')
               || CASE WHEN ends_with(g.val, '$') THEN '$' ELSE '' END
               AS rx
    FROM grouped g
    JOIN agents a USING (host, gid)
    JOIN hostflag h USING (host)
    WHERE g.dir IN ('allow', 'disallow') AND g.val <> ''
      AND CASE WHEN h.has_named THEN a.named ELSE a.star END
),
hits AS (
    SELECT d.doc_id, d.host, d.path,
           CASE WHEN r.pattern IS NOT NULL THEN struct_pack(
               spec := r.spec, is_allow := r.is_allow,
               pattern := r.pattern) END AS hit
    FROM rdocs d LEFT JOIN rules r
      ON d.host = r.host AND regexp_matches(d.path, r.rx)
)
SELECT doc_id, host, path,
       coalesce(max(hit).is_allow, TRUE) AS allowed,
       max(hit).pattern AS matched_rule,
       max(hit).spec AS rule_len
FROM hits GROUP BY doc_id, host, path
"""


@register(
    "crawl_robots_filter",
    oracle=ROBOTS_ORACLE,
    doc="RFC 9309 robots.txt exclusion (r17, north-star crawl chain "
    "— the politeness step between the URL frontier and the fetch): "
    "parse each host's robots.txt into groups (consecutive "
    "user-agent lines open one group; unknown directives never "
    "interrupt it; groupless leading rules never apply), select the "
    "agent's group per §2.2.1 (case-insensitive token match; named "
    "groups — even empty ones — suppress the * groups; duplicate "
    "matching groups merge), match rule paths per §2.2.2 (prefix "
    "with '*' wildcards and a '$' end anchor, case-sensitive, empty "
    "values match nothing) and pick the winner by most-octets with "
    "Allow on ties; no match = allowed. Spark side is "
    "operators/robots.py: line posexplode + ONE host window for "
    "group assembly, a host-keyed rules join, and a codegen "
    "aggregate-fold wildcard matcher — no per-row regex compile, no "
    "Python at runtime. Verdicts use the FOLDED serving shape: rules "
    "pre-grouped into one array per host (robots_rules_by_host), the "
    "URL join is 1:1 host-keyed, and the winner is an in-row "
    "array_max over the matcher-filtered rules — no row fan-out, no "
    "winner shuffle (the fan-out+aggregate robots_verdicts stays as "
    "the differentially-tested twin). "
    "The committed fixture (tools/gen_robots_fixture.py) composes "
    "2,000 verdicts whose outcome AND winning rule are construction "
    "knowledge across 20 spec-surface templates; the operator's "
    "Python twin is asserted per row at generation time, pytest "
    "pins Spark == fixture, and the oracle re-derives the ENTIRE "
    "contract a third way in DuckDB (window-function group "
    "assembly, dynamic RE2 patterns built from the rule text) — the "
    "hash match is cross-engine agreement on parse, group "
    "selection, wildcard match and precedence. Plan: rules are "
    "host-keyed (the robots fan-out per URL is the host's rule "
    "count — bytes-bounded by the protocol's 500 KiB cap), and the "
    "only verdict-side exchange is the host-keyed rules join — "
    "exactly the co-location a per-host politeness layer needs at "
    "100 TB.",
    tags=("crawl", "robots", "warc", "llm-pipeline"),
)
def crawl_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robots import (
        parse_robots_rules,
        robots_rules_by_host,
        robots_verdicts_folded,
    )

    docs = scoped_robots_docs(spark, sf_dir)
    rules = parse_robots_rules(
        docs.select("host", "robots_txt").distinct(), ROBOTS_AGENT
    )
    return robots_verdicts_folded(
        docs.select("doc_id", "host", "path"), robots_rules_by_host(rules)
    )


SITEMAP_FIXTURE_PARQUET = os.path.join(REFDATA_DIR, "sitemap_fixture.parquet")
SITEMAP_EXPECTED_PARQUET = os.path.join(REFDATA_DIR, "sitemap_expected.parquet")

# DuckDB CTE mirroring the host-block scoping below: the sitemap host
# universe is the robots fixture's h{t}-{kb}.example grid, keyed by
# its slot-0 robots doc_id = 60*kb + t (0..1999 by construction).
SMEXP_CTE = f"""smexp AS (
    SELECT * FROM read_parquet('{SITEMAP_EXPECTED_PARQUET}')
    WHERE (60 * kb + t) % 2000 IN (SELECT doc_id % 2000 FROM documents)
)"""

_HOST_T = r"^h(\d+)-\d+\.example$"
_HOST_KB = r"^h\d+-(\d+)\.example$"


def scoped_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parse the fixture sitemap XML, resolve one sitemapindex level,
    and scope hosts to the sf's documents: t and kb are RE-DERIVED
    from the host name (so the naming contract is itself under test)
    and the slot-0 robots doc_id 60*kb + t keys the broadcast
    semi-join — the shared fixture discipline at host granularity."""
    from ..operators.sitemap import (
        parse_sitemap_entries,
        resolve_sitemap_index,
    )
    from ..sources.catalog import read_parquet

    sitemaps = read_parquet(spark, SITEMAP_FIXTURE_PARQUET)
    resolved = resolve_sitemap_index(parse_sitemap_entries(sitemaps))
    keyed = resolved.withColumn(
        "hkey",
        F.lit(60) * F.regexp_extract("host", _HOST_KB, 1).cast("bigint")
        + F.regexp_extract("host", _HOST_T, 1).cast("bigint"),
    )
    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 2000).alias("fid"))
        .distinct()
    )
    return keyed.join(
        F.broadcast(ids), keyed["hkey"] % 2000 == ids["fid"]
    ).drop("fid", "hkey")


@register(
    "crawl_sitemap_urls",
    oracle=f"""
WITH {SMEXP_CTE}
SELECT host, sitemap_url, via_index, loc, lastmod,
       lastmod_epoch_us, changefreq, priority
FROM smexp
""",
    doc="Sitemap ingestion (r17 — the discovery half of the crawl "
    "front door; robots.txt names the sitemaps, the sitemaps seed "
    "the frontier): from-spec sitemaps.org XML parse as pure codegen "
    "(operators/sitemap.py) — regexp record split over <url>/"
    "<sitemap> blocks, per-field extraction with the five XML "
    "predefined entities unescaped (&amp; last, so &amp;lt; yields "
    "literal &lt;), whitespace-anywhere tolerance, attributes "
    "ignored; ONE host-keyed join flattens a sitemapindex level "
    "(via_index records which index named the child); W3C lastmod "
    "strings parse to UTC epochs via try_to_timestamp (date-only, "
    "Z, and numeric-offset shapes — out-of-shape yields NULL beside "
    "the visible string, never a silent coercion). CDATA/comments/"
    "numeric refs/gzip are the documented fence. The committed "
    "fixture (tools/gen_sitemap_fixture.py) composes 952 files over "
    "the ROBOTS fixture's 680-host grid (every 5th host an index "
    "splitting two children; pretty/compact, entity and absence "
    "cycles); the sidecar records what was COMPOSED — including the "
    "epoch each lastmod string was built from — so the hash match "
    "proves parse, resolution, unescape and datetime handling "
    "end-to-end. Plan: parquet scan -> codegen parse -> one "
    "broadcast scope join + one host-keyed index join; no Python at "
    "runtime.",
    tags=("crawl", "sitemap", "ingest", "llm-pipeline"),
)
def crawl_sitemap_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    urls = scoped_sitemap_urls(spark, sf_dir)
    return urls.select(
        "host",
        "sitemap_url",
        "via_index",
        "loc",
        "lastmod",
        F.unix_micros("lastmod_ts").alias("lastmod_epoch_us"),
        "changefreq",
        "priority",
    )


@register(
    "crawl_sitemap_frontier",
    oracle=f"""
WITH {SMEXP_CTE}
SELECT host, loc, path, lastmod_epoch_us,
       exp_allowed AS allowed, exp_rule AS matched_rule,
       exp_rule_len AS rule_len
FROM smexp
""",
    doc="Sitemap -> robots discovery frontier (r17 — the crawl "
    "chain's seeding step END-TO-END): parse every sitemap, resolve "
    "indexes, extract each URL's path, and run it through the RFC "
    "9309 folded verdict (operators/robots.py) against the robots "
    "fixture's host rules — the exact decision a polite crawler "
    "makes before seeding its frontier, with lastmod carried along "
    "as the recrawl-priority signal. The sitemap and robots "
    "fixtures share one composed host grid, and the sidecar's "
    "verdict columns are construction knowledge from the robots "
    "templates (the /sitemap-extra/ decoration path matches NO "
    "template's rules by design), so the hash match proves XML "
    "parse + index resolution + path extraction + group selection + "
    "wildcard match + precedence agree with what was built — two "
    "fixtures, one truth. Plan: codegen parse -> host-keyed rules "
    "join -> in-row array_max; zero Python, no winner shuffle.",
    tags=("crawl", "sitemap", "robots", "llm-pipeline"),
)
def crawl_sitemap_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.robots import (
        parse_robots_rules,
        robots_rules_by_host,
        robots_verdicts_folded,
    )
    from ..sources.catalog import read_parquet

    urls = scoped_sitemap_urls(spark, sf_dir).select(
        "host",
        "loc",
        F.regexp_extract("loc", r"^https://[^/]+(/.*)$", 1).alias("path"),
        F.unix_micros("lastmod_ts").alias("lastmod_epoch_us"),
    )
    bodies = (
        read_parquet(spark, ROBOTS_FIXTURE_PARQUET)
        .select("host", "robots_txt")
        .distinct()
    )
    rules = robots_rules_by_host(
        parse_robots_rules(bodies, ROBOTS_AGENT)
    )
    return robots_verdicts_folded(urls, rules)
