"""Spark 4 Python Data Source for the reference's manifest corpus.

``text_manifest.read_manifest_documents`` reproduces the reference's
input model (1-based ids in manifest order, ``src/tema1.cpp:324-364``);
above its driver-read bound it joins ``spark.read.text(wholetext=True)``
against a broadcast (path -> id) dim. This module is the SAME contract
as a first-class source via the PySpark 4 DataSource API (SPARK-44076):
the manifest is parsed once on the driver, each file becomes one
``InputPartition`` carrying its manifest id, and executors read their
files directly — ids are native to the partitioning (no join), reads
stay distributed (one task per file, the reference's per-file mapper
granularity), and the source composes with everything DataFrame
(``spark.read.format("manifest_text")``).

Scale note: same caveat as the join-based reader — whole-file rows are
for parity and small corpora; a 100 TB corpus lands in parquet first
(``sources.catalog``). Python-source reads cross the Arrow boundary,
which is the acceptable cost for an ingestion-time parity path.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from .text_manifest import parse_manifest


class ManifestFilePartition(InputPartition):
    """One manifest entry = one partition: (1-based id, absolute path)."""

    def __init__(self, doc_id: int, path: str):
        self.doc_id = doc_id
        self.path = path


class ManifestTextReader(DataSourceReader):
    def __init__(self, options: dict):
        path = options.get("manifest") or options.get("path")
        if not path:
            raise ValueError("manifest_text requires option 'manifest' (or 'path')")
        self.manifest_path = path

    def partitions(self) -> list[InputPartition]:
        # Driver-side: the manifest is metadata (N lines). Ids are the
        # 1-based manifest positions — stable under any scheduling,
        # the property the reference checker verifies.
        paths = parse_manifest(self.manifest_path)
        return [ManifestFilePartition(i + 1, p) for i, p in enumerate(paths)]

    def read(self, partition: ManifestFilePartition):
        # Executor-side: the file's raw bytes; the JVM builds the
        # string (text_manifest.bytes_to_text).
        with open(partition.path, "rb") as fh:
            yield (partition.doc_id, fh.read())


class ManifestTextDataSource(DataSource):
    """``spark.read.format("manifest_text").option("manifest", p).load()``
    yields (doc_id, raw BINARY) rows — each file's bytes, undecoded;
    ``text_manifest.bytes_to_text`` makes them documents, so the JVM
    decodes ill-formed UTF-8 exactly as ``spark.read.text`` does (a
    Python ``errors="replace"`` decode turns an encoded surrogate into
    three U+FFFD where the JVM puts one)."""

    @classmethod
    def name(cls) -> str:
        return "manifest_text"

    def schema(self) -> str:
        return "doc_id bigint, raw binary"

    def reader(self, schema) -> DataSourceReader:
        return ManifestTextReader(self.options)

    def simpleStreamReader(self, schema) -> "ManifestTextStreamReader":
        return ManifestTextStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the source with a session."""
    spark.dataSource.register(ManifestTextDataSource)


class ManifestTextStreamReader(SimpleDataSourceStreamReader):
    """Streaming flavor: the manifest is a replayable, ordered log and
    the offset is an index into it — each trigger ingests the next
    slice of files (``batch_files`` per trigger), so a drain feeds the
    live index-maintenance pipeline file-by-file exactly the way a
    landing zone would. ``readBetweenOffsets`` replays any committed
    range from the manifest (deterministic ids → exact replay), which
    is what makes the source restart-safe."""

    def __init__(self, options: dict):
        path = options.get("manifest") or options.get("path")
        if not path:
            raise ValueError("manifest_text requires option 'manifest' (or 'path')")
        self.paths = parse_manifest(path)
        self.batch_files = int(options.get("batch_files", "64"))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def _rows(self, start: int, end: int) -> list[tuple]:
        # Materialized list, not a generator: the engine pickles the
        # prefetched batch to serve/replay it.
        rows = []
        for i in range(start, end):
            with open(self.paths[i], "rb") as fh:
                rows.append((i + 1, fh.read()))
        return rows

    def read(self, start: dict):
        lo = start["index"]
        hi = min(lo + self.batch_files, len(self.paths))
        return self._rows(lo, hi), {"index": hi}

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows(start["index"], end["index"])
