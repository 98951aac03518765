"""Formatted-text sink — the reference's 26 letter files.

The reference opens ``a.txt``…``z.txt`` and fprintf's ordered rows
(reference ``src/tema1.cpp:293-309,236-248``). ``write_letter_files``
does the same from the driver: the ordered, formatted index rows stream
back partition by partition and each line goes straight into its
letter's file. There is no staging write, no commit protocol and no
driver re-sort; the order is ``rank_within_letter``'s.

At scale you would keep Spark's directory-per-letter layout (parallel
writers), which ``single_file=False`` writes.
"""

from __future__ import annotations

import os
import string
from contextlib import ExitStack

from pyspark.sql import DataFrame

from ..operators.inverted_index import format_index_rows, rank_within_letter


def write_letter_files(
    index: DataFrame,
    out_dir: str,
    single_file: bool = True,
    order_partitions: int | None = None,
) -> None:
    """Write ``{letter}.txt`` files with rows ordered df DESC, word ASC.

    index: (word, postings, df, letter) as produced by ``inverted_index``.
    order_partitions: optional hint for the terminal ordering exchange
    (``index_order_partitions(source_bytes)``) — ``1`` collapses a
    megabyte-scale corpus's ordering to one task with no range-sampling
    job; identical rows either way.

    ``single_file=True`` truncates all 26 files (a stale file is
    overwritten, a letter with no words gets an empty one), then streams
    the rows with ``toLocalIterator(prefetchPartitions=True)``; the order
    is total (letter ASC, df DESC, word ASC) and partitions arrive in
    order, so each line is appended as it arrives. The driver holds at
    most two partitions of formatted rows, the one being written and the
    one prefetched: the whole index when ``order_partitions=1``, about
    1/R of it on the range path with R range partitions. A row whose
    letter sorts below the previous row's raises ``ValueError``.
    ``single_file=False`` writes Spark's ``letter=<x>/part-*`` layout.
    """
    rows = format_index_rows(rank_within_letter(index, order_partitions))
    os.makedirs(out_dir, exist_ok=True)
    if not single_file:
        rows.write.mode("overwrite").partitionBy("letter").text(out_dir)
        return
    with ExitStack() as stack:
        files = {
            letter: stack.enter_context(
                open(os.path.join(out_dir, f"{letter}.txt"), "w", encoding="utf-8")
            )
            for letter in string.ascii_lowercase
        }
        prev = ""
        for letter, line in rows.toLocalIterator(prefetchPartitions=True):
            if letter < prev:
                raise ValueError(
                    f"index rows out of order: letter {letter!r} after {prev!r}"
                )
            prev = letter
            files[letter].write(line + "\n")
