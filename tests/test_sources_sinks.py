"""Source/sink breadth: parquet sink roundtrip and JSONL source.

The engine's primary at-rest format is parquet (SURVEY §1.3); these pin
that (a) the inverted index survives a partitioned parquet write/read
cycle bit-for-bit, and (b) the same pipelines run unchanged over a JSONL
documents source (schema inference), the other common landing format for
document corpora.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest
from manifest_sides import SIDES, manifest_side, on_sides

from parallel_map_reduce_spark.operators.inverted_index import inverted_index
from parallel_map_reduce_spark.sources.catalog import load_table


def _index_rows(df):
    return {
        (r.word, tuple(r.postings), r.df, r.letter)
        for r in df.select("word", "postings", "df", "letter").collect()
    }


def test_parquet_sink_roundtrip(spark, sf_dir, tmp_path):
    idx = inverted_index(load_table(spark, sf_dir, "documents"))
    out = str(tmp_path / "index_pq")
    idx.write.mode("overwrite").partitionBy("letter").parquet(out)
    back = spark.read.parquet(out)
    assert _index_rows(back) == _index_rows(idx)
    # partition pruning on the letter directory layout
    pruned = back.filter(F.col("letter") == "a")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(letter" in plan


def test_jsonl_documents_source(spark, sf_dir, tmp_path):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    jl = str(tmp_path / "docs_jsonl")
    docs.write.mode("overwrite").json(jl)
    docs_j = spark.read.json(jl)  # schema inference
    got = _index_rows(inverted_index(docs_j.select("doc_id", "text")))
    want = _index_rows(inverted_index(docs))
    assert got == want and len(got) > 0


def test_orc_sink_roundtrip(spark, sf_dir, tmp_path):
    """Same pipeline over an ORC landing — the other common columnar
    at-rest format; partition pruning works identically."""
    idx = inverted_index(load_table(spark, sf_dir, "documents"))
    out = str(tmp_path / "index_orc")
    idx.write.mode("overwrite").partitionBy("letter").orc(out)
    back = spark.read.orc(out)
    assert _index_rows(back) == _index_rows(idx)


def test_csv_documents_source(spark, sf_dir, tmp_path):
    """CSV landing with an explicit schema (quote/escape round-trip for
    free-text columns) feeds the same pipeline unchanged."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    cv = str(tmp_path / "docs_csv")
    docs.write.mode("overwrite").option("header", True).option("escape", '"').csv(cv)
    docs_c = (
        spark.read.schema("doc_id BIGINT, text STRING")
        .option("header", True)
        .option("escape", '"')
        .csv(cv)
    )
    got = _index_rows(inverted_index(docs_c))
    want = _index_rows(inverted_index(docs))
    assert got == want and len(got) > 0


def test_metadata_provenance_multi_file(spark, sf_dir, tmp_path):
    """The general multi-file provenance contract behind
    documents_provenance: _metadata.file_path distinguishes shards and
    _metadata.row_index restarts per file."""
    import pyspark.sql.functions as F

    from parallel_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = str(tmp_path / "sharded")
    docs.repartition(4).write.parquet(out)

    back = spark.read.parquet(out).select(
        "doc_id",
        F.col("_metadata.file_path").alias("fp"),
        F.col("_metadata.row_index").alias("ri"),
    )
    assert back.count() == docs.count()
    n_files = back.select("fp").distinct().count()
    assert n_files == 4
    # row_index restarts at 0 per file and is dense within each file
    per_file = back.groupBy("fp").agg(
        F.min("ri").alias("lo"), F.max("ri").alias("hi"), F.count("*").alias("n")
    )
    for r in per_file.collect():
        assert r.lo == 0 and r.hi == r.n - 1, r


def test_jsonl_corrupt_record_capture(spark, tmp_path):
    """Ingest robustness: PERMISSIVE mode must land malformed JSONL lines
    in the corrupt-record column instead of failing the job — at 100 TB
    a crawl shard WILL contain garbage and one bad line must never kill
    the pipeline."""
    import pyspark.sql.functions as F

    p = tmp_path / "docs.jsonl"
    p.write_text(
        '{"doc_id": 1, "text": "good row"}\n'
        "this is not json at all\n"
        '{"doc_id": 2, "text": "another good row"}\n'
        '{"doc_id": "3"}\n'  # schema-mismatched doc_id (string, lossy)
    )
    df = (
        spark.read.schema("doc_id LONG, text STRING, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.cache()
    good = rows.filter(F.col("_corrupt_record").isNull() & F.col("doc_id").isNotNull())
    bad = rows.filter(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2
    assert bad.count() >= 1  # the non-JSON line is always captured
    assert rows.count() == 4  # nothing dropped silently
    rows.unpersist()


def test_xml_documents_source(spark, sf_dir, tmp_path):
    """Native XML source (Spark 4): documents round-trip through an XML
    representation with rowTag extraction — the remaining common
    semi-structured ingest format next to CSV/JSONL/ORC."""
    import pyspark.sql.functions as F

    from parallel_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang").limit(50)
    p = tmp_path / "docs.xml"
    rows = docs.collect()
    body = "".join(
        f"<doc><doc_id>{r.doc_id}</doc_id><lang>{r.lang}</lang></doc>" for r in rows
    )
    p.write_text(f"<docs>{body}</docs>")

    back = spark.read.option("rowTag", "doc").xml(str(p)).select(
        F.col("doc_id").cast("long"), F.col("lang").cast("string")
    )
    assert back.count() == len(rows)
    assert back.exceptAll(docs).isEmpty() and docs.exceptAll(back).isEmpty()


def test_binary_file_source_for_multimodal_ingest(spark, tmp_path):
    """binaryFile is the ingestion path for opaque image/audio blobs
    (multimodal/codec.py consumes the resulting binary column): each
    file becomes (path, modificationTime, length, content BINARY), and
    pathGlobFilter prunes non-matching files at the LISTING, before any
    bytes are read."""
    blobs = {f"img_{i}.bin": bytes([i] * (10 + i)) for i in range(5)}
    for name, payload in blobs.items():
        (tmp_path / name).write_bytes(payload)
    (tmp_path / "notes.txt").write_text("not a blob")

    df = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(str(tmp_path))
    )
    assert [f.name for f in df.schema.fields] == [
        "path", "modificationTime", "length", "content",
    ]
    rows = df.collect()
    assert len(rows) == 5  # the .txt never appears
    for r in rows:
        name = r.path.rsplit("/", 1)[-1]
        assert bytes(r.content) == blobs[name]
        assert r.length == len(blobs[name])


def test_partitioned_write_prunes_partitions_at_scan(spark, sf_dir, tmp_path):
    """Hive-style partitionBy layout + a partition-column predicate must
    prune at the LISTING (PartitionFilters on the scan node, fewer
    input files), not post-scan — at 100 TB this is the difference
    between reading one language's files and reading the corpus."""
    import pyspark.sql.functions as F

    from parallel_map_reduce_spark.sources.catalog import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = str(tmp_path / "docs_by_lang")
    docs.write.partitionBy("lang").parquet(out)

    full = spark.read.parquet(out)
    one_lang = full.filter(F.col("lang") == "en").select("doc_id")
    plan = one_lang._jdf.queryExecution().executedPlan().toString()
    # The predicate must land in the scan's PartitionFilters (listing-
    # time pruning), NOT in PushedFilters/post-scan Filter. inputFiles()
    # can't witness this — it lists the relation before pruning.
    import re

    m = re.search(r"PartitionFilters: \[[^\]]*lang[^\]]* = en[^\]]*\]", plan)
    assert m, plan[-2000:]
    # Pruning must not change results vs the post-scan filter.
    n_langs = docs.filter(F.col("lang") == "en").count()
    assert one_lang.count() == n_langs > 0


def test_register_temp_views_sql_surface(spark, sf_dir):
    """spark.sql over the registered views must (a) agree with the
    DataFrame path, (b) see the normalized events timestamp (never the
    raw nanos physical type), (c) inherit scan pushdown through the
    view (filters reach the parquet scan)."""
    from parallel_map_reduce_spark.sources.catalog import (
        load_table,
        register_temp_views,
    )

    register_temp_views(spark, sf_dir)
    got = spark.sql(
        "SELECT o_orderstatus, COUNT(*) AS n FROM orders GROUP BY o_orderstatus"
    ).collect()
    exp = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, exp))
    ts_type = dict(spark.sql("SELECT ts FROM events").dtypes)["ts"]
    assert ts_type == "timestamp"
    plan = (
        spark.sql("SELECT o_orderkey FROM orders WHERE o_custkey = 42")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters: [IsNotNull(o_custkey), EqualTo(o_custkey,42)]" in plan


def test_python_datasource_manifest_equals_join_reader(spark):
    """The PySpark 4 DataSource-API manifest source (one InputPartition
    per manifest entry, id native to the partition) must return exactly
    the join-based reader's rows, with one task per file."""
    import os

    manifest = "/root/reference/checker/test_small.txt"
    if not os.path.exists(manifest):
        import pytest

        pytest.skip("reference corpus not present")
    from parallel_map_reduce_spark.sources import pyds_manifest, text_manifest

    pyds_manifest.register(spark)
    raw = spark.read.format("manifest_text").option("manifest", manifest).load()
    assert [f.name for f in raw.schema.fields] == ["doc_id", "raw"]
    df = text_manifest.bytes_to_text(raw)
    assert df.rdd.getNumPartitions() == len(
        text_manifest.parse_manifest(manifest)
    )
    got = sorted(map(tuple, df.collect()))
    want = sorted(
        map(tuple, text_manifest.read_manifest_documents(spark, manifest).collect())
    )
    assert got == want


def test_python_datasource_manifest_streams_incrementally(spark):
    """The streaming flavor of the manifest source ingests the corpus
    file-by-file (offset = manifest index, one file per input partition
    here) and ends up with exactly the batch reader's rows — the
    replayable-log contract that feeds the live index-maintenance
    pipeline."""
    import os
    import time

    manifest = "/root/reference/checker/test_small.txt"
    if not os.path.exists(manifest):
        import pytest

        pytest.skip("reference corpus not present")
    from parallel_map_reduce_spark.sources import pyds_manifest, text_manifest

    pyds_manifest.register(spark)
    n_files = len(text_manifest.parse_manifest(manifest))
    stream = text_manifest.bytes_to_text(
        spark.readStream.format("manifest_text")
        .option("manifest", manifest)
        .option("batch_files", "1")
        .load()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_pyds_stream")
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 90
        while time.time() < deadline and spark.table("t_pyds_stream").count() < n_files:
            time.sleep(0.5)
    finally:
        q.stop()
    got = sorted(map(tuple, spark.table("t_pyds_stream").collect()))
    want = sorted(
        map(tuple, text_manifest.read_manifest_documents(spark, manifest).collect())
    )
    assert got == want


def test_manifest_stream_drains_fully_under_available_now(spark, tmp_path):
    """An ``availableNow`` drain reads the whole manifest: the reader's
    latest offset is the manifest's end, so Spark's single-batch
    fallback for a Python stream source still reads every file, in
    ``batch_files``-sized input partitions."""
    from parallel_map_reduce_spark.sources import pyds_manifest
    from parallel_map_reduce_spark.sources.text_manifest import bytes_to_text

    texts = ["alpha beta", "gamma", "delta epsilon zeta"]
    man = _write_manifest(tmp_path, [(f"f{i}.txt", t) for i, t in enumerate(texts)])
    pyds_manifest.register(spark)
    got = []
    q = (
        bytes_to_text(
            spark.readStream.format("manifest_text")
            .option("manifest", man)
            .option("batch_files", "1")
            .load()
        )
        .writeStream.foreachBatch(
            lambda df, _: got.extend(tuple(r) for r in df.collect())
        )
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    assert sorted(got) == [(i + 1, t) for i, t in enumerate(texts)]


def _write_manifest(tmp_path, names_and_texts):
    import os

    paths = []
    for name, text in names_and_texts:
        p = tmp_path / name
        p.write_text(text, encoding="utf-8")
        paths.append(str(p))
    man = tmp_path / "MANIFEST"  # outside the corpus naming scheme
    man.write_text(f"{len(paths)}\n" + "\n".join(paths) + "\n")
    return str(man)


@on_sides(*SIDES)
def test_manifest_attributes_special_character_filenames(spark, tmp_path):
    """VERDICT r8 finding 4: input_file_name() yields a percent-encoded
    URI, so files with spaces/non-ASCII/'+'/'%' in their names used to
    miss the id map and SILENTLY vanish. The _uri_keys aliases must
    attribute every one of them, with manifest-order ids intact."""
    from parallel_map_reduce_spark.sources.text_manifest import (
        read_manifest_documents,
    )

    corpus = [
        ("plain.txt", "alpha"),
        ("with space.txt", "bravo"),
        ("naïve_über.txt", "charlie"),
        ("plus+sign.txt", "delta"),
        ("percent%20literal.txt", "echo"),
        # SQL-literal metacharacter: the id map rides into the plan as
        # ONE parsed map(...) expression (r10 — 2n F.lit py4j calls were
        # ~0.4 s/plan), so a quote name pins its escaping. (A literal
        # backslash filename is rejected upstream by Hadoop Path inside
        # spark.read.text itself — PATH_NOT_FOUND — so it cannot reach
        # the map; pre-existing reader limitation, not an attribution
        # gap.)
        ("it's quoted.txt", "foxtrot"),
    ]
    man = _write_manifest(tmp_path, corpus)
    rows = sorted(
        map(tuple, read_manifest_documents(spark, man).collect())
    )
    assert rows == [
        (1, "alpha"),
        (2, "bravo"),
        (3, "charlie"),
        (4, "delta"),
        (5, "echo"),
        (6, "foxtrot"),
    ], rows


@on_sides(*SIDES)
def test_manifest_duplicate_entries_yield_one_row_per_entry(spark, tmp_path):
    """Advisor r9: a duplicated manifest entry means legitimate
    replication — exactly ONE row per manifest id. Spark's file scan
    yields one row per path LISTING, so the un-deduped explicit list
    joined against n id rows used to produce n^2 copies (measured: 3
    listings x 3 ids = 9 rows). The scan must dedupe and let the id
    join alone replicate."""
    from parallel_map_reduce_spark.sources.text_manifest import (
        read_manifest_documents,
    )

    (tmp_path / "dup.txt").write_text("hello dup")
    (tmp_path / "other.txt").write_text("solo")
    man = tmp_path / "manifest.txt"
    man.write_text("4\ndup.txt\nother.txt\ndup.txt\ndup.txt\n")
    rows = sorted(
        map(tuple, read_manifest_documents(spark, str(man)).collect())
    )
    assert rows == [
        (1, "hello dup"),
        (2, "solo"),
        (3, "hello dup"),
        (4, "hello dup"),
    ], rows


@on_sides("distributed")
def test_manifest_raises_on_uri_ambiguous_paths(spark, tmp_path):
    """Two distinct files whose raw/encoded forms collide ('a b' vs a
    literal 'a%20b') cannot be attributed — the source must fail loudly
    naming the colliding key, never mis-assign or drop."""
    import pytest

    from parallel_map_reduce_spark.sources.text_manifest import (
        read_manifest_documents,
    )

    man = _write_manifest(
        tmp_path, [("a b.txt", "one"), ("a%20b.txt", "two")]
    )
    with pytest.raises(ValueError, match="ambiguous after URI encoding"):
        read_manifest_documents(spark, man)


@on_sides(*SIDES)
def test_manifest_directory_fastpath_keeps_hidden_files(spark, tmp_path):
    """Advisor r8 (medium), found to be worse on probing: Hadoop's
    hidden-file filter drops '_'/'.'-prefixed files from EVERY
    spark.read.text scan — explicit path lists included, not just the
    one-readdir fast path. Such manifests must serve through the
    Python DataSource twin (direct open(), no Hadoop listing) and lose
    nothing. A >256-file flat manifest containing one of each hidden
    prefix must still produce every document with manifest-order ids."""
    from parallel_map_reduce_spark.sources.text_manifest import (
        _scan_paths,
        read_manifest_documents,
    )

    corpus = [(f"f{i:04d}.txt", f"word{i}") for i in range(258)]
    corpus.append(("_underscore.txt", "hiddenone"))
    corpus.append((".dotfile.txt", "hiddentwo"))
    man = _write_manifest(tmp_path, corpus)

    from parallel_map_reduce_spark.sources.text_manifest import parse_manifest

    paths = parse_manifest(man)
    assert _scan_paths(paths) == paths  # fast path must decline

    rows = {r.doc_id: r.text for r in read_manifest_documents(spark, man).collect()}
    assert len(rows) == 260
    assert rows[259] == "hiddenone" and rows[260] == "hiddentwo"


def test_manifest_directory_fastpath_still_engages_on_plain_corpora(tmp_path):
    """The 5x scan-setup win must survive the hidden-file guard: a flat
    >256-file corpus with ordinary names still collapses to one
    directory path."""
    from parallel_map_reduce_spark.sources.text_manifest import (
        _scan_paths,
        parse_manifest,
    )

    corpus = [(f"g{i:04d}.txt", "x") for i in range(257)]
    man = _write_manifest(tmp_path, corpus)
    paths = parse_manifest(man)
    scan = _scan_paths(paths)
    assert scan != paths and len(scan) == 1  # directory mode


def test_manifest_driver_side_reads_uri_ambiguous_paths(spark, tmp_path):
    """The driver side open()s each path as written and needs no URI
    form, so the 'a b' / 'a%20b' pair the scan cannot attribute reads
    as two documents."""
    from parallel_map_reduce_spark.sources.text_manifest import (
        read_manifest_documents,
    )

    man = _write_manifest(tmp_path, [("a b.txt", "one"), ("a%20b.txt", "two")])
    with manifest_side("driver"):
        rows = sorted(map(tuple, read_manifest_documents(spark, man).collect()))
    assert rows == [(1, "one"), (2, "two")], rows


def test_manifest_driver_read_bound_edges(spark, tmp_path, monkeypatch):
    """A manifest of exactly SMALL_CORPUS_BYTES reads on the driver (one
    LocalTableScan, no file scan); one byte more takes the text scan."""
    from manifest_sides import inverted_index

    from parallel_map_reduce_spark.sources.text_manifest import (
        manifest_total_bytes,
        read_manifest_documents,
    )

    man = _write_manifest(tmp_path, [("a.txt", "alpha beta"), ("b.txt", "gamma")])
    total = manifest_total_bytes(man)
    plans = {}
    for bound in (total, total - 1):
        monkeypatch.setattr(inverted_index, "SMALL_CORPUS_BYTES", bound)
        df = read_manifest_documents(spark, man)
        plans[bound] = df._jdf.queryExecution().executedPlan().toString()
        assert sorted(map(tuple, df.collect())) == [(1, "alpha beta"), (2, "gamma")]
    assert "LocalTableScan" in plans[total] and "FileScan" not in plans[total]
    assert "FileScan text" in plans[total - 1]


@pytest.mark.parametrize("side", SIDES)
def test_manifest_missing_entry_raises_naming_it(spark, tmp_path, side):
    """A manifest entry with no file behind it is an error that names
    the file, never a silently missing row."""
    from parallel_map_reduce_spark.sources.text_manifest import (
        read_manifest_documents,
    )

    (tmp_path / "here.txt").write_text("present")
    man = tmp_path / "manifest.txt"
    man.write_text("2\nhere.txt\nnot_there_1234.txt\n")
    with manifest_side(side), pytest.raises(Exception, match="not_there_1234.txt"):
        read_manifest_documents(spark, str(man)).collect()


@pytest.mark.parametrize("side", SIDES)
def test_manifest_zero_byte_entries_yield_rows(spark, tmp_path, side):
    """The reference gives an empty file an id like any other
    (src/tema1.cpp:353). The file scan makes no split for a 0-byte
    file, so the distributed side must add its row itself."""
    from parallel_map_reduce_spark.sources.text_manifest import (
        read_manifest_documents,
    )

    (tmp_path / "full.txt").write_text("alpha")
    (tmp_path / "empty.txt").write_bytes(b"")
    man = tmp_path / "manifest.txt"
    man.write_text("4\nfull.txt\nempty.txt\nfull.txt\nempty.txt\n")
    with manifest_side(side):
        rows = sorted(map(tuple, read_manifest_documents(spark, str(man)).collect()))
    assert rows == [(1, "alpha"), (2, ""), (3, "alpha"), (4, "")], rows


# One file per byte case: encoded surrogate, CESU-8 pair, a truncated
# sequence mid-text and at EOF, overlong forms, a code point above
# U+10FFFF, Latin-1, BOM, CRLF, NUL, and characters whose case maps
# change their UTF-8 length.
_BYTE_CASES = [
    b"a\xed\xa0\x80b",
    b"x\xed\xa0\xbd\xed\xb8\x80y",
    b"a\xe2\x82b",
    b"a\xe2\x82",
    b"\xc0\xaf",
    b"\xe0\x80\x80",
    b"\xf0\x80\x80\x80",
    b"\xf4\x90\x80\x80",
    b"caf\xe9",
    b"\xef\xbb\xbfhello",
    b"one\r\ntwo\r\n",
    b"nul\x00byte",
    "K İ".encode(),
]


def test_manifest_byte_semantics_match_across_sides(spark, tmp_path):
    """Every manifest reader hands the JVM the file's raw bytes, so
    ill-formed UTF-8 collects to the same rows with the same in-JVM
    length and octet_length: the driver read, the ``spark.read.text``
    scan, and the Python DataSource twin (batch, which serves
    '_'-prefixed files above the bound, and stream). A Python-side
    decode (errors="replace") replaces an encoded surrogate with three
    U+FFFD where the JVM puts one."""
    from parallel_map_reduce_spark.sources import pyds_manifest
    from parallel_map_reduce_spark.sources.text_manifest import (
        bytes_to_text,
        read_manifest_documents,
    )

    def manifest(prefix):
        lines = []
        for i, raw in enumerate(_BYTE_CASES):
            (tmp_path / f"{prefix}case{i:02d}.txt").write_bytes(raw)
            lines.append(f"{prefix}case{i:02d}.txt")
        man = tmp_path / f"{prefix}manifest.txt"
        man.write_text(f"{len(lines)}\n" + "\n".join(lines) + "\n")
        return str(man)

    def rows(df):
        return sorted(
            map(
                tuple,
                df.select(
                    "doc_id", "text", F.length("text"), F.octet_length("text")
                ).collect(),
            )
        )

    plain, hidden = manifest(""), manifest("_")
    got = {}
    for side in SIDES:
        with manifest_side(side):
            got[side] = rows(read_manifest_documents(spark, plain))
            # '_'-prefixed files: the DataSource twin above the bound
            got[f"{side} hidden"] = rows(read_manifest_documents(spark, hidden))
    pyds_manifest.register(spark)
    # foreachBatch, not the memory sink: that sink keeps rows as Java
    # strings and would re-encode the replaced bytes itself.
    got["stream"] = []
    q = (
        bytes_to_text(
            spark.readStream.format("manifest_text").option("manifest", hidden).load()
        )
        .writeStream.foreachBatch(lambda df, _: got["stream"].extend(rows(df)))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.awaitTermination(120)
    finally:
        q.stop()
    got["stream"].sort()
    for reader, got_rows in got.items():
        assert got_rows == got["driver"], reader
    octets = {r[0]: r[3] for r in got["driver"]}
    assert octets == {i + 1: len(raw) for i, raw in enumerate(_BYTE_CASES)}
    assert got["driver"][0][1] == "a\ufffdb"
