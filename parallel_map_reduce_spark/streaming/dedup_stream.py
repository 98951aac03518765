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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import incremental_lsh_matches_indexed, lsh_band_signatures
from ..sources.catalog import load_table, local_frame
from .drain import drain, fresh_result_dir


def run_incremental_lsh_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the document stream through ingest-time LSH matching;
    return all (new_doc, corpus_doc) collisions found across batches."""
    from ..queries.dedup import INCR_SOURCE
    from .curation_stream import read_documents_stream

    docs = load_table(spark, sf_dir, "documents")
    corpus_bands = lsh_band_signatures(
        docs.filter(F.col("source") != INCR_SOURCE)
    ).localCheckpoint(eager=True)  # the standing index artifact

    out_dir = fresh_result_dir("pmrs_lsh_matches", sf_dir)
    empty = local_frame(spark, [], "new_doc BIGINT, corpus_doc BIGINT")
    empty.write.mode("append").parquet(out_dir)  # schema for the 0-match case

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        inc = batch_df.filter(F.col("source") == INCR_SOURCE).select(
            "doc_id", "text"
        )
        incremental_lsh_matches_indexed(
            lsh_band_signatures(inc), corpus_bands
        ).write.mode("append").parquet(out_dir)

    drain(read_documents_stream(spark, sf_dir), foreach_batch=_apply)
    # distinct: pair-level idempotence if a batch is ever replayed
    # (foreachBatch is at-least-once without a transactional sink).
    return spark.read.parquet(out_dir).distinct()


def drain_band_index(
    spark: SparkSession,
    docs_stream: DataFrame,
    store: str,
    ckpt: str | None = None,
    fail_after_epochs: int | None = None,
) -> None:
    """Drain a documents stream into the band store at ``store`` with
    offsets checkpointed at ``ckpt`` (a fresh, removed one if None) —
    the restartable core of the band-index maintenance drain. ``fail_after_epochs`` plants a crash
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

    drain(docs_stream, foreach_batch=_apply, ckpt=ckpt)


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

    store = fresh_result_dir("pmrs_band_index", sf_dir)
    empty = local_frame(spark, [], "doc_id BIGINT, band INT, sig STRING")
    empty.write.mode("append").parquet(store)  # schema for the 0-doc case

    drain_band_index(spark, read_documents_stream(spark, sf_dir), store)
    return band_index_store(spark, store)
