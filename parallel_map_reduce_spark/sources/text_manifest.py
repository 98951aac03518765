"""Manifest-driven whole-text-file source.

Reproduces the reference's input model (reference ``src/tema1.cpp:324-364``):
a manifest file whose first line is a count N followed by N file paths;
each file becomes one document row with a **1-based id in manifest
order** (id assigned at ``src/tema1.cpp:353``, before any scheduling
sort, so ids are stable regardless of parallelism).

Two readers, one byte semantics. A manifest whose entries sum to at
most ``inverted_index.SMALL_CORPUS_BYTES`` (32 MB, the bound the CLI's
ordering already applies) is read on the driver, as the reference loads
every file in one process: each distinct file is opened once in binary
mode and the raw bytes reach the JVM as one Arrow ``LocalRelation``, with
no file listing and no scan job. The driver holds that corpus plus its
Arrow copy while the relation is built, and the relation for the life of
the plan. Above the bound ``spark.read.text(wholetext=True)`` reads in
the executors; the driver holds only the id table. Either way the JVM
builds each row's string from the file's raw bytes (the text source's
``UTF8String.fromBytes``, the driver side's BINARY -> STRING cast), so
rows, ``length`` and ``octet_length`` agree on ill-formed UTF-8 too, and
every manifest entry, an empty file's included, yields one row.

At 100 TB you would not use whole-file text rows (a single giant file
skews a partition); you'd land documents in parquet first. This source
exists for parity with the reference's ingestion path and for small
corpora; ``sources.catalog`` is the scale path.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from .catalog import local_frame

# Serializes the parallelPartitionDiscovery.threshold set/restore in
# _build_manifest_documents (see there).
_DISCOVERY_THRESHOLD_LOCK = threading.Lock()

DOCUMENTS_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), nullable=False),
        StructField("text", StringType(), nullable=True),
    ]
)


def parse_manifest(manifest_path: str) -> list[str]:
    """First line = N, then N paths (relative paths resolve against the
    manifest's directory, matching the reference checker layout)."""
    base = os.path.dirname(os.path.abspath(manifest_path))
    with open(manifest_path, encoding="utf-8", errors="replace") as fh:
        lines = [ln.strip() for ln in fh if ln.strip()]
    n = int(lines[0])
    paths = lines[1 : n + 1]
    if len(paths) != n:
        raise ValueError(f"manifest declares {n} files but lists {len(paths)}")
    return [p if os.path.isabs(p) else os.path.join(base, p) for p in paths]


def _file_sizes(paths: list[str]) -> dict[str, int | None]:
    """One stat per distinct path: its size, or None if it is missing."""
    sizes: dict[str, int | None] = {}
    for p in dict.fromkeys(paths):
        try:
            sizes[p] = os.stat(p).st_size
        except OSError:
            sizes[p] = None
    return sizes


def manifest_total_bytes(manifest_path: str) -> int:
    """Total corpus size from driver-side stat metadata, summed per
    manifest entry (a duplicate entry counts again). Used as the size
    hint for ``index_order_partitions``; missing files count 0 and
    surface as read errors later, not here."""
    paths = parse_manifest(manifest_path)
    sizes = _file_sizes(paths)
    return sum(sizes[p] or 0 for p in paths)


def _scan_paths(paths: list[str]) -> list[str]:
    """The path list handed to ``spark.read.text``: for LARGE manifests
    whose files all sit flat in one directory, return the directory
    instead — the driver then lists it with one readdir, where
    thousands of explicit paths are each resolved/stat'ed individually
    (measured 5x slower at 2,840 files). Any extra files the directory
    holds (e.g. the manifest itself) produce rows whose path misses the
    id map and are dropped by the id join, so both scan modes yield
    identical documents.
    Callers dedupe their path list first (replication of duplicate
    manifest entries is the id JOIN's job, not the scan's); a list
    that still carries duplicates keeps the explicit form. Manifest files
    whose basename starts with '_' or '.' also keep the explicit list:
    Hadoop's directory listing HIDES such files (advisor r8 — the
    directory mode would silently drop those documents while the
    issubset guard below, which uses os.listdir, still passed)."""
    if len(paths) <= 256 or len(set(paths)) != len(paths):
        return paths
    if any(os.path.basename(p).startswith(("_", ".")) for p in paths):
        return paths
    parents = {os.path.dirname(os.path.abspath(p)) for p in paths}
    if len(parents) != 1:
        return paths
    parent = next(iter(parents))
    try:
        entries = os.listdir(parent)
    except OSError:
        return paths
    if any(os.path.isdir(os.path.join(parent, e)) for e in entries):
        return paths  # subdirs would trip partition discovery
    if not {os.path.basename(p) for p in paths}.issubset(entries):
        return paths  # keep explicit mode's missing-file error
    return [parent]


def _uri_keys(path: str) -> list[str]:
    """Every string form ``input_file_name()`` can yield for ``path``
    after scheme-stripping: the raw path, plus its percent-encoded URI
    form when they differ. Hadoop's Path.toUri percent-encodes space,
    '%' and non-ASCII bytes (UTF-8) in path segments, while RFC 3986
    pchar characters — sub-delims, ':' and '@' — stay literal; quote()
    with that safe set reproduces it. Keying the id table by BOTH forms
    makes space/non-ASCII filenames match instead of silently dropping
    (VERDICT r8 finding 4 — a parity source must attribute every file
    it scanned)."""
    from urllib.parse import quote

    q = quote(path, safe="/:@!$&'()*+,;=~")
    return [path] if q == path else [path, q]


# (session app id, manifest path, staleness fingerprint) -> documents
# DataFrame. A DataFrame is an immutable logical plan, so handing the
# same one back is exactly the file-listing reuse a catalog-registered
# table gets from Spark's own cached InMemoryFileIndex — relation
# creation re-lists and re-stats the corpus on every spark.read.text
# call (~0.2 s at 355 files), pure metadata work the tasks then redo
# none of. Staleness rides the fingerprint: any file's ns-mtime/size
# change (or a manifest edit) misses the cache. Bounded: one manifest
# corpus per process in practice; capped at 8 entries FIFO regardless.
_RELATION_CACHE: dict[tuple[str, str, str], DataFrame] = {}


def read_manifest_documents(spark: SparkSession, manifest_path: str) -> DataFrame:
    """documents(doc_id BIGINT, text STRING): one row per manifest entry,
    with its 1-based manifest position as the id (never
    ``monotonically_increasing_id``, which depends on partitioning — the
    property the reference checker verifies).

    Entries summing to at most ``SMALL_CORPUS_BYTES`` (read at call
    time) are read on the driver on every call; larger manifests are
    scanned by ``spark.read.text`` and their plan is cached per
    fingerprint (see ``_RELATION_CACHE``). A missing file raises,
    naming its path, on both sides.
    """
    from ..operators.inverted_index import SMALL_CORPUS_BYTES
    from .artifact_cache import source_key

    paths = parse_manifest(manifest_path)
    if manifest_total_bytes(manifest_path) <= SMALL_CORPUS_BYTES:
        return _driver_documents(spark, paths)
    fingerprint = source_key("manifest_docs", "/", [manifest_path] + paths)
    try:
        app_id = spark.sparkContext.applicationId
    except Exception:  # noqa: BLE001 — dead/odd session: skip caching
        app_id = ""
    cache_key = (app_id, os.path.abspath(manifest_path), fingerprint)
    if app_id and cache_key in _RELATION_CACHE:
        return _RELATION_CACHE[cache_key]
    df = _build_manifest_documents(spark, manifest_path, paths)
    if app_id:
        while len(_RELATION_CACHE) >= 8:
            _RELATION_CACHE.pop(next(iter(_RELATION_CACHE)))
        _RELATION_CACHE[cache_key] = df
    return df


def _driver_documents(spark: SparkSession, paths: list[str]) -> DataFrame:
    """Each distinct file read once, as bytes; the JVM casts them to
    STRING exactly as the text source builds its rows. Not cached:
    there is no listing to reuse, and a cached frame would pin the
    corpus."""
    raw: dict[str, bytes] = {}
    for p in paths:
        if p not in raw:
            with open(p, "rb") as fh:
                raw[p] = fh.read()
    rows = [(i + 1, raw[p]) for i, p in enumerate(paths)]
    return bytes_to_text(local_frame(spark, rows, "doc_id BIGINT NOT NULL, raw BINARY"))


def bytes_to_text(raw: DataFrame) -> DataFrame:
    """(doc_id, text) from (doc_id, raw BINARY) rows: the JVM builds
    each string from the file's bytes (``UTF8String.fromBytes``, as the
    text source does), the one byte semantics of every manifest reader."""
    return raw.select("doc_id", F.col("raw").cast("string").alias("text"))


def _build_manifest_documents(
    spark: SparkSession, manifest_path: str, paths: list[str]
) -> DataFrame:
    if any(os.path.basename(p).startswith(("_", ".")) for p in paths):
        # Hadoop's hidden-file filter drops '_'/'.'-prefixed files from
        # EVERY spark.read.text scan, explicit path lists included. The
        # Python DataSource twin open()s files on executors (no Hadoop
        # listing, same ids and bytes), so such corpora lose nothing.
        from . import pyds_manifest

        pyds_manifest.register(spark)
        return bytes_to_text(
            spark.read.format("manifest_text")
            .option("manifest", manifest_path)
            .load()
        )
    # Map normalized absolute path (raw + URI-encoded forms) -> 1-based
    # manifest id. A scanned row carries exactly ONE of the forms. A
    # duplicate manifest entry is SCANNED once (the file scan yields
    # one row per path listing, so an un-deduped duplicate would n^2
    # under the join) and the id join fans that row out to one row per
    # entry. Two DIFFERENT paths whose forms collide (a literal 'a%20b'
    # file next to an 'a b' file) cannot be attributed: fail loudly.
    id_map: list[tuple[str, int]] = []
    key_owner: dict[str, str] = {}
    for i, p in enumerate(paths):
        ap = os.path.abspath(p)
        for k in _uri_keys(ap):
            owner = key_owner.setdefault(k, ap)
            if owner != ap:
                raise ValueError(
                    f"manifest entries ambiguous after URI encoding: {k!r} "
                    f"names both {owner!r} and {ap!r}"
                )
            id_map.append((k, i + 1))
    scan = _scan_paths(list(dict.fromkeys(paths)))
    # Above spark.sql.sources.parallelPartitionDiscovery.threshold
    # (default 32) paths, relation creation runs the file LISTING as a
    # Spark job: a whole job launch to stat local files (1.37 s -> 0.17 s
    # at 355 files). Raise the threshold for THIS relation build only
    # (listing happens eagerly inside read.text) and restore it; the
    # process-wide lock keeps a concurrent manifest read on the same
    # session from seeing or restoring the temporary value.
    _KEY = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    with _DISCOVERY_THRESHOLD_LOCK:
        old_thr = spark.conf.get(_KEY, None)
        spark.conf.set(_KEY, str(max(64, len(scan) + 1)))
        try:
            raw = (
                spark.read.text(scan, wholetext=True)
                # input_file_name() yields a URI like file:///root/x.txt —
                # strip the scheme AND all leading slashes, re-anchor with
                # exactly one.
                .withColumn(
                    "path", F.concat(F.lit("/"), F.regexp_replace(F.input_file_name(), "^file:/*", ""))
                )
                .withColumnRenamed("value", "text")
            )
        finally:
            if old_thr is None:
                spark.conf.unset(_KEY)
            else:
                spark.conf.set(_KEY, old_thr)
    if len(id_map) <= 1000 and len({k for k, _ in id_map}) == len(id_map):
        # The id table rides in the scan's projection as ONE parsed
        # map(...) literal: no join stage, and no Arrow set-up, which
        # the first Arrow table in a JVM pays (the join below cost
        # 1.0-3.1 s more on a cold 700-file, 34 MB CLI run, 3/3 pairs).
        # Keys are decode(unhex(<hex>)): no path byte has SQL meaning in
        # hex. Rows whose path misses the map (a directory scan's extra
        # files) are dropped, as the join drops them.
        mp = F.expr(
            "map("
            + ",".join(f"decode(unhex('{k.encode().hex()}'),'UTF-8'),{i}" for k, i in id_map)
            + ")"
        )
        docs = raw.select(mp[F.col("path")].cast("bigint").alias("doc_id"), "text")
        docs = docs.filter(F.col("doc_id").isNotNull())
    else:
        # The id table (never the text) is broadcast-joined to the scan.
        ids_df = local_frame(spark, id_map, "path STRING, doc_id BIGINT")
        docs = raw.join(F.broadcast(ids_df), on="path", how="inner").select("doc_id", "text")
    # The file scan makes no split, hence no row, for an empty file.
    sizes = _file_sizes(paths)
    empty = [(i + 1, "") for i, p in enumerate(paths) if sizes[p] == 0]
    return docs.unionByName(local_frame(spark, empty, DOCUMENTS_SCHEMA)) if empty else docs
