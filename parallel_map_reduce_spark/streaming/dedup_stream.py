"""LIVE ingest-time near-dup detection: streaming MinHash-LSH against a
standing corpus index.

The batch twin (`queries/dedup.py:dedup_incremental_lsh`) matches an
increment against the corpus in one shot; production crawls ARRIVE, and
each micro-batch must be checked on ingest. This drain runs that flow:

    document stream -> foreachBatch(
        band-signature the batch's increment docs   (per-doc projection;
                                                     O(|batch|), no state),
        equi-join (band, sig) into the PRE-COMPUTED corpus band table,
        append the colliding pairs to the result store)

The corpus band table is built ONCE before the stream starts and
materialized — the artifact-reuse property the batch operator's 100 TB
note promises (`operators/dedup.py:incremental_lsh_matches`): at scale
it is a persisted table partitioned by (band, sig); the stream side
touches only colliding buckets and the corpus is never re-shingled.

Signatures are deterministic md5-derived arithmetic, so the drained
result equals the batch run exactly and shares its DuckDB oracle.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import incremental_lsh_matches_indexed, lsh_band_signatures
from ..sources.catalog import load_table, local_frame


def _fresh_result_dir(kind: str, sf_dir: str) -> str:
    """Deterministic per-(pid, sf_dir) result directory under
    ``/tmp/<kind>/<pid>/<hash>``, cleared up front: repeat runs in one
    process (bench best-of-N, gate re-runs) reuse ONE directory
    instead of leaking a fresh mkdtemp each invocation. The dir must
    outlive the call (the returned DataFrame reads it lazily), so it
    is cleared at the START of the next run, not on exit — and
    sibling PID dirs whose process has exited are swept here too
    (advisor r13: pid-keyed tags otherwise accumulate in /tmp
    indefinitely across processes)."""
    parent = os.path.join(tempfile.gettempdir(), kind)
    os.makedirs(parent, exist_ok=True)
    with os.scandir(parent) as it:
        for e in it:
            if not e.is_dir(follow_symlinks=False):
                continue
            try:
                pid = int(e.name)
            except ValueError:
                # pre-r14 hash-keyed layout: pid unrecoverable, sweep
                shutil.rmtree(e.path, ignore_errors=True)
                continue
            if pid == os.getpid():
                continue
            if pid <= 0:
                # os.kill(0, 0) signals OUR OWN process group and
                # always "succeeds" — a dir literally named "0" (or a
                # negative number) is never a live sibling; sweep it
                # (advisor r14).
                shutil.rmtree(e.path, ignore_errors=True)
                continue
            try:
                os.kill(pid, 0)
            except (ProcessLookupError, OverflowError):
                # gone — or an all-digit pre-r14 hash tag too large to
                # be a pid; either way the dir is stale
                shutil.rmtree(e.path, ignore_errors=True)
                continue
            except PermissionError:
                pass  # alive under another uid — not ours to sweep
            # pid-alive can be a RECYCLED pid belonging to an unrelated
            # process; age out dirs untouched for a day as a fallback
            # (advisor r14). Writes land in TAG SUBDIRS, which never
            # touch the parent pid dir's mtime — so age on the MAX
            # mtime across the pid dir and its children, or a
            # legitimately long-running (>1 day) live sibling would be
            # swept mid-run (advisor r15). Best-effort: correctness
            # never depends on the sweep, only /tmp hygiene does.
            try:
                newest = e.stat(follow_symlinks=False).st_mtime
                with os.scandir(e.path) as tags:
                    for t in tags:
                        newest = max(
                            newest, t.stat(follow_symlinks=False).st_mtime
                        )
                if time.time() - newest > 86400:
                    shutil.rmtree(e.path, ignore_errors=True)
            except OSError:
                pass
    tag = hashlib.md5(os.path.abspath(sf_dir).encode()).hexdigest()[:12]
    out = os.path.join(parent, str(os.getpid()), tag)
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out, exist_ok=True)
    return out


def run_incremental_lsh_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the document stream through ingest-time LSH matching;
    return all (new_doc, corpus_doc) collisions found across batches."""
    from ..queries.dedup import INCR_SOURCE
    from .curation_stream import read_documents_stream

    docs = load_table(spark, sf_dir, "documents")
    corpus_bands = lsh_band_signatures(
        docs.filter(F.col("source") != INCR_SOURCE)
    ).localCheckpoint(eager=True)  # the standing index artifact

    out_dir = _fresh_result_dir("pmrs_lsh_matches", sf_dir)
    empty = local_frame(spark, [], "new_doc BIGINT, corpus_doc BIGINT")
    empty.write.mode("append").parquet(out_dir)  # schema for the 0-match case

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        inc = batch_df.filter(F.col("source") == INCR_SOURCE).select(
            "doc_id", "text"
        )
        incremental_lsh_matches_indexed(
            lsh_band_signatures(inc), corpus_bands
        ).write.mode("append").parquet(out_dir)

    # Fresh checkpoint per invocation (a reused one would drain zero
    # batches on repeat runs); removed after the drain completes.
    ckpt = tempfile.mkdtemp(prefix="pmrs_lsh_ckpt_")
    try:
        (
            read_documents_stream(spark, sf_dir)
            .writeStream.foreachBatch(_apply)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
            .awaitTermination()
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    # distinct: pair-level idempotence if a batch is ever replayed
    # (foreachBatch is at-least-once without a transactional sink).
    return spark.read.parquet(out_dir).distinct()


def drain_band_index(
    spark: SparkSession,
    docs_stream: DataFrame,
    store: str,
    ckpt: str,
    fail_after_epochs: int | None = None,
) -> None:
    """Drain a documents stream into the band store at ``store`` with
    offsets checkpointed at ``ckpt`` — the restartable core of the
    band-index maintenance drain. ``fail_after_epochs`` plants a crash
    AFTER the sink write but BEFORE the epoch's checkpoint commit (the
    worst at-least-once window: the rows landed, the offset did not),
    for the kill-and-restart witness in tests/test_streaming.py; a
    restart with the same ``ckpt`` replays that epoch, appending its
    rows a second time, and ``band_index_store`` must absorb the
    duplication exactly."""
    n_done = 0

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        nonlocal n_done
        lsh_band_signatures(batch_df).write.mode("append").parquet(store)
        n_done += 1
        if fail_after_epochs is not None and n_done >= fail_after_epochs:
            raise RuntimeError(
                "planted crash: sink write committed, checkpoint not"
            )

    (
        docs_stream.writeStream.foreachBatch(_apply)
        .trigger(availableNow=True)
        .option("checkpointLocation", ckpt)
        .start()
        .awaitTermination()
    )


def band_index_store(spark: SparkSession, store: str) -> DataFrame:
    """The served view of a band store directory.

    .distinct(): foreachBatch is at-least-once without a transactional
    sink — an epoch replayed after a crash appends its rows twice, and
    the entry's FULL oracle emits exactly one row per (doc_id, band).
    Signatures are deterministic, so dedup is exact (same discipline
    as run_incremental_lsh_stream; review r13)."""
    return spark.read.parquet(store).select("doc_id", "band", "sig").distinct()


def run_band_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIVE band-signature index maintenance — the streaming half of
    the corpus-promotion lifecycle (layout.ensure_bucketed_append is
    the batch half): document micro-batches are band-signatured as
    they arrive (per-doc md5 projection, no aggregation state) and
    APPENDED into the standing band store; arrivals become
    incremental-dedup-matchable one micro-batch after ingest with no
    rebuild of standing data. Signatures are deterministic, so the
    drained store equals the batch ``lsh_band_signatures`` over the
    same documents row-for-row whatever the batch boundaries — which
    is why the registered entry carries a FULL DuckDB oracle (the
    bands CTE), not a rows-only record. Crash recovery is part of the
    contract: drain_band_index + band_index_store survive a kill
    mid-epoch from the checkpoint (tests/test_streaming.py). Returns
    the final store (doc_id, band, sig)."""
    from .curation_stream import read_documents_stream

    store = _fresh_result_dir("pmrs_band_index", sf_dir)
    empty = local_frame(spark, [], "doc_id BIGINT, band INT, sig STRING")
    empty.write.mode("append").parquet(store)  # schema for the 0-doc case

    ckpt = tempfile.mkdtemp(prefix="pmrs_bandidx_ckpt_")
    try:
        drain_band_index(
            spark, read_documents_stream(spark, sf_dir), store, ckpt
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return band_index_store(spark, store)
