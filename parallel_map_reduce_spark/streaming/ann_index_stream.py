"""LIVE ANN-index maintenance: streaming embedding ingest into the
centroid_id-partitioned IVFPQ code store.

The batch half (`operators/similarity.py:write_ivfpq_index`) builds the
serving artifact in one shot; production embedding stores GROW — new
vectors arrive (fresh crawls, new users) and must become searchable
without rebuilding the index. This drain runs that loop:

    embedding stream -> foreachBatch(
        coarse-assign the batch to the PRE-TRAINED centroids
                                   (broadcast k rows; per-row argmax),
        PQ-encode against the PRE-TRAINED codebooks
                                   (codebook literals; zero shuffle),
        APPEND to the centroid_id-partitioned parquet code store)

Quantizers are serving state, trained once (the FAISS discipline: an
IVFPQ index's coarse/fine quantizers are frozen at build; only the
inverted lists grow). Both the assignment and the encoding are
deterministic per-row projections, so the drained store equals the
batch-built store EXACTLY whatever the micro-batch boundaries — pinned
in tests/test_streaming.py — and `ivfpq_topk` serves from it unchanged.

At 100 TB: appends land as new files inside existing centroid_id
partitions (no rewrite of standing data), and the serving scan's
partition pruning applies to streamed rows the moment the batch
commits — searchability lag is one micro-batch.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .drain import drain, fresh_result_dir


def run_ivfpq_index_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drain the embeddings stream through incremental IVFPQ indexing;
    return the final code store (vec_id, centroid_id, codes_str)."""
    from ..operators.similarity import _normalized, ivf_assignments, pq_encode
    from ..queries.similarity import _pretrained_cents, _pretrained_pq_books
    from ..sources.catalog import _ensure_session_confs
    from .events_stream import _staging_dir

    _ensure_session_confs(spark)
    books = _pretrained_pq_books(spark, sf_dir)
    cents = _pretrained_cents(spark, sf_dir)

    store = fresh_result_dir("pmrs_ann_index_stream", sf_dir)

    staging = _staging_dir(sf_dir, table="embeddings")
    # memoized schema probe (catalog.read_parquet): zero-job on warm
    # rebuilds of the same source version
    from ..sources.catalog import read_parquet

    schema = read_parquet(spark, staging).schema
    stream = spark.readStream.schema(schema).parquet(staging)

    def _apply(batch_df: DataFrame, epoch_id: int) -> None:
        assigned = ivf_assignments(batch_df, cents=cents).select(
            "vec_id", "centroid_id"
        )
        codes = pq_encode(batch_df, books).join(assigned, "vec_id")
        codes.write.mode("append").partitionBy("centroid_id").parquet(
            store + "/codes"
        )
        # the re-rank half of the artifact grows in lockstep: serving
        # (ivfpq_topk) fetches shortlist vectors from the same
        # centroid_id-partitioned layout, so a drained store is a
        # complete index, not just its code half
        vecs = _normalized(batch_df).join(assigned, "vec_id")
        vecs.write.mode("append").partitionBy("centroid_id").parquet(
            store + "/vectors"
        )

    drain(stream, foreach_batch=_apply)

    out = spark.read.parquet(store + "/codes")
    return out.select(
        "vec_id",
        F.col("centroid_id").cast("int").alias("centroid_id"),
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes_str"),
    )
