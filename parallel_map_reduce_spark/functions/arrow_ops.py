"""mapInArrow surface — columnar Python compute without the pandas hop.

``mapInArrow`` hands each partition to Python as raw Arrow RecordBatches:
no pandas Series materialization, no per-element boxing — the embedding
matrix is reshaped zero-copy-ish into numpy and processed as one BLAS
call per batch. This is the escape hatch of choice when the compute is
genuinely numerical-columnar (here: L2 norms over array<float> columns);
for scalar/grouped logic the pandas UDF surfaces in
``operators/grouped_stats.py`` stay preferable.

The engine's 6 Python surfaces, each with a gated query:
pandas scalar UDF, pandas grouped-map (applyInPandas), pandas
grouped-agg, mapInPandas, Arrow UDTF, applyInPandasWithState — and this
mapInArrow operator.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .vector import double_array_sql

EMBEDDING_DIM = 64  # embeddings.parquet fixture dimension


def l2_norms_arrow(embs: DataFrame) -> DataFrame:
    """(vec_id, l2_norm, unit_head): per-vector L2 norm and the first
    component of the unit-normalized vector, computed batch-at-a-time in
    Arrow→numpy. Rounding happens Spark-side (JVM round, matching the
    oracle's ROUND) — the Arrow stage is pure float64 compute."""

    def _norms(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            emb = b.column("embedding")
            n = len(emb)
            if n == 0:
                continue
            mat = (
                emb.flatten()
                .to_numpy(zero_copy_only=False)
                .astype("float64")
                .reshape(n, -1)
            )
            norms = np.sqrt((mat * mat).sum(axis=1))
            head = mat[:, 0] / np.where(norms == 0.0, 1.0, norms)
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), pa.array(norms), pa.array(head)],
                ["vec_id", "l2_norm", "unit_head"],
            )

    raw = embs.select("vec_id", "embedding").mapInArrow(
        _norms, "vec_id long, l2_norm double, unit_head double"
    )
    return raw.select(
        "vec_id",
        F.round("l2_norm", 4).alias("l2_norm"),
        F.round("unit_head", 6).alias("unit_head"),
    )


# --- Distributed PCA / whitening (classic covariance-eigendecomposition
# PCA; the partial-covariance pattern is the standard tree-aggregation
# MLlib's RowMatrix.computeCovariance uses) ----------------------------


def covariance_stats(embs: DataFrame) -> tuple[int, "object", "object"]:
    """(n, mean[dim], cov[dim, dim]) of the embedding column, computed
    with ONE corpus pass: mapInArrow emits per-batch sufficient
    statistics (count, sum vector, X'X matrix — dim + dim² doubles per
    BATCH, not per row), a dim²-keyed partial+final aggregate folds
    them, and only the final dim×dim matrix reaches the driver —
    metadata-sized for any corpus. The batch-level X'X is one BLAS
    gemm; nothing row-at-a-time anywhere."""
    import numpy as np

    dim = EMBEDDING_DIM

    def _partials(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            emb = b.column("embedding")
            n = len(emb)
            if n == 0:
                continue
            mat = (
                emb.flatten()
                .to_numpy(zero_copy_only=False)
                .astype("float64")
                .reshape(n, -1)
            )
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array([n], pa.int64()),
                    pa.array([mat.sum(axis=0).tolist()]),
                    pa.array([(mat.T @ mat).ravel().tolist()]),
                ],
                ["n", "s", "xx"],
            )

    parts = embs.select("embedding").mapInArrow(
        _partials, f"n long, s array<double>, xx array<double>"
    )
    # Element-wise fold of the per-batch stats: zip_with-sum keeps the
    # combine inside codegen; the aggregate input is |batches| rows.
    zsum = lambda c: F.aggregate(  # noqa: E731
        F.collect_list(c),
        F.array_repeat(F.lit(0.0), dim * dim if c == "xx" else dim),
        lambda acc, v: F.zip_with(acc, v, lambda a, x: a + x),
    )
    row = parts.agg(
        F.sum("n").alias("n"), zsum("s").alias("s"), zsum("xx").alias("xx")
    ).first()
    n = int(row.n)
    s = np.array(row.s)
    xx = np.array(row.xx).reshape(dim, dim)
    mean = s / n
    cov = (xx - n * np.outer(mean, mean)) / (n - 1)
    return n, mean, cov


def pca_whiten(embs: DataFrame, k: int = 8) -> DataFrame:
    """(vec_id, comps): each embedding projected onto the top-k
    principal components and whitened (unit variance per component) —
    the standard embedding-postprocessing step before indexing or
    clustering (whitening markedly improves retrieval on learned
    embeddings; see e.g. Jégou & Chum, ECCV 2012, on PCA-whitening
    for image retrieval).

    Train is ``covariance_stats`` (one pass, driver holds dim² floats
    — same metadata class as IVF centroids); eigendecomposition is
    numpy on the driver. Serving broadcasts the k×dim whitened
    projection matrix as LITERAL column expressions (exact DOUBLE
    literals parsed from ``double_array_sql``): per-component
    zip_with/aggregate dot products, JVM codegen end-to-end, zero
    Python in the projection path, zero shuffles. Component sign is
    canonicalized (largest-|loading| entry positive) so output is
    deterministic; pytest pins agreement with a full-numpy reference
    and unit per-component variance (tests/test_pca.py)."""
    import numpy as np

    n, mean, cov = covariance_stats(embs)
    eigvals, eigvecs = np.linalg.eigh(cov)  # ascending
    order = np.argsort(eigvals)[::-1][:k]
    vals = eigvals[order]
    vecs = eigvecs[:, order]  # dim x k
    # Sign canonicalization: per component, flip so the largest-|.|
    # loading is positive (eigh's sign is arbitrary).
    for j in range(vecs.shape[1]):
        i = int(np.abs(vecs[:, j]).argmax())
        if vecs[i, j] < 0:
            vecs[:, j] = -vecs[:, j]
    w = vecs / np.sqrt(np.maximum(vals, 1e-12))  # dim x k, whitened
    x = F.transform("embedding", lambda v: v.cast("double"))
    centered = F.zip_with(x, F.expr(double_array_sql(mean)), lambda a, b: a - b)
    comps = []
    for j in range(w.shape[1]):
        wj = F.expr(double_array_sql(w[:, j]))
        comps.append(
            F.round(
                F.aggregate(
                    F.zip_with(centered, wj, lambda a, b: a * b),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
                6,
            )
        )
    return embs.select("vec_id", F.array(*comps).alias("comps"))
