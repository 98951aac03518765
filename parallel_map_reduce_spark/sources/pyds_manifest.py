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
    DataSourceStreamReader,
    InputPartition,
)

from .text_manifest import parse_manifest


class ManifestFilesPartition(InputPartition):
    """Manifest entries read by one task: (1-based id, absolute path)
    pairs."""

    def __init__(self, entries: list[tuple[int, str]]):
        self.entries = entries


def _read_files(partition: ManifestFilesPartition):
    # Executor-side: each file's raw bytes; the JVM builds the string
    # (text_manifest.bytes_to_text).
    for doc_id, path in partition.entries:
        with open(path, "rb") as fh:
            yield (doc_id, fh.read())


def _manifest_option(options: dict) -> str:
    path = options.get("manifest") or options.get("path")
    if not path:
        raise ValueError("manifest_text requires option 'manifest' (or 'path')")
    return path


class ManifestTextReader(DataSourceReader):
    def __init__(self, options: dict):
        self.manifest_path = _manifest_option(options)

    def partitions(self) -> list[InputPartition]:
        # Driver-side: the manifest is metadata (N lines). Ids are the
        # 1-based manifest positions — stable under any scheduling,
        # the property the reference checker verifies.
        paths = parse_manifest(self.manifest_path)
        return [ManifestFilesPartition([(i + 1, p)]) for i, p in enumerate(paths)]

    def read(self, partition: ManifestFilesPartition):
        return _read_files(partition)


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

    def streamReader(self, schema) -> "ManifestTextStreamReader":
        return ManifestTextStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the source with a session."""
    spark.dataSource.register(ManifestTextDataSource)


class ManifestTextStreamReader(DataSourceStreamReader):
    """Streaming flavor: the manifest is a replayable, ordered log and
    the offset is an index into it. The latest offset is the manifest's
    end, so a micro-batch reads every file it has not read yet, in
    input partitions of ``batch_files`` files (one task each). Any
    committed range replays from the manifest (deterministic ids, exact
    replay), which is what makes the source restart-safe. Spark runs an
    ``availableNow`` trigger over this reader as one batch, and that
    batch reads the whole manifest."""

    def __init__(self, options: dict):
        self.paths = parse_manifest(_manifest_option(options))
        self.batch_files = int(options.get("batch_files", "64"))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def latestOffset(self) -> dict:
        return {"index": len(self.paths)}

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        lo, hi = start["index"], end["index"]
        return [
            ManifestFilesPartition(
                [(i + 1, self.paths[i]) for i in range(j, min(j + self.batch_files, hi))]
            )
            for j in range(lo, hi, self.batch_files)
        ]

    def read(self, partition: ManifestFilesPartition):
        return _read_files(partition)
