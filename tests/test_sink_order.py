"""Pin rank_within_letter's order across partitions, on both sink layouts.

The single-file sink streams the ordered rows back partition by
partition and appends each line as it arrives; it does not re-sort. So
golden parity rests on the claim in
``operators/inverted_index.py:rank_within_letter``: range partitioning
assigns each letter's rows to partitions in sort order and
sortWithinPartitions orders rows inside each partition, so partitions
in index order are the reference's row order (df DESC, word ASC). On the
partitioned (scale) layout the same claim reads: concatenating a
letter's part files in FILENAME order reproduces that order, because
partition ids become the part-file name prefix.

Both tests force 64 range partitions with AQE coalescing off, so letters
span partition boundaries; otherwise every letter fits one partition and
the cross-partition half of the claim goes untested.
"""

from __future__ import annotations

import contextlib
import glob
import os

import pytest
from pyspark.sql import functions as F
from test_cli import _corpus_texts, _reference_letter_files

from parallel_map_reduce_spark.operators.inverted_index import inverted_index, rank_within_letter
from parallel_map_reduce_spark.sinks import text_sink
from parallel_map_reduce_spark.sinks.text_sink import write_letter_files
from parallel_map_reduce_spark.sources.catalog import load_table


def _df_of(line: str) -> int:
    _, _, rest = line.partition(":[")
    ids = rest.rstrip("]")
    return ids.count(" ") + 1 if ids else 0


def _word_of(line: str) -> str:
    return line.partition(":[")[0]


@contextlib.contextmanager
def _range_partitions_64(spark):
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_coalesce = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "64")
    # AQE would coalesce the tiny test shuffle back to one partition per
    # letter, hiding the cross-partition case these tests exist to check.
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", prev_coalesce)


def test_partitioned_layout_part_name_order_is_row_order(spark, sf_dir, tmp_path):
    idx = inverted_index(load_table(spark, sf_dir, "documents"))
    out = str(tmp_path / "letters_partitioned")
    with _range_partitions_64(spark):
        write_letter_files(idx, out, single_file=False)

    checked_letters = 0
    multi_file_letters = 0
    for letter_dir in sorted(glob.glob(os.path.join(out, "letter=*"))):
        lines: list[str] = []
        parts = sorted(glob.glob(os.path.join(letter_dir, "part-*")))
        for p in parts:
            with open(p, encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
        if not lines:
            continue
        assert lines == sorted(lines, key=lambda ln: (-_df_of(ln), _word_of(ln))), (
            f"{letter_dir}: filename-order concatenation is not (df desc, word asc)"
        )
        checked_letters += 1
        if len([p for p in parts if os.path.getsize(p)]) > 1:
            multi_file_letters += 1
    assert checked_letters > 0
    # At least one letter must actually cross a file boundary, or the
    # filename-order claim was never really tested.
    assert multi_file_letters > 0


def test_single_file_layout_streams_partitions_in_row_order(spark, tmp_path):
    texts = _corpus_texts(60)
    docs = spark.createDataFrame(list(enumerate(texts, 1)), "doc_id BIGINT, text STRING")
    idx = inverted_index(docs)
    out = tmp_path / "letters"
    with _range_partitions_64(spark):
        write_letter_files(idx, str(out))
        spans = (
            rank_within_letter(idx)
            .select("letter", F.spark_partition_id().alias("part"))
            .distinct()
            .groupBy("letter")
            .count()
            .filter("count > 1")
            .count()
        )
    # Letters must cross partition boundaries, or the streamed order was
    # never tested across partitions.
    assert spans > 0
    want = _reference_letter_files(texts)
    assert {letter: (out / f"{letter}.txt").read_bytes() for letter in want} == want


def test_single_file_layout_refuses_rows_out_of_letter_order(spark, tmp_path, monkeypatch):
    """Rows that step back to an earlier letter raise rather than write:
    the sink appends in arrival order, so a letter revisited after a
    later one would land out of order."""
    monkeypatch.setattr(text_sink, "rank_within_letter", lambda index, num_partitions=None: index)
    unordered = spark.createDataFrame(
        [("bee", [1], 1, "b"), ("ant", [2], 1, "a")],
        "word STRING, postings ARRAY<BIGINT>, df INT, letter STRING",
    ).coalesce(1)
    with pytest.raises(ValueError, match="'a' after 'b'"):
        write_letter_files(unordered, str(tmp_path / "letters"))
