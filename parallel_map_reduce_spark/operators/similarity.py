"""Similarity search over embedding columns (north-star, SURVEY.md §2.3).

- ``brute_force_topk``: exact cosine top-k — the correctness baseline.
  The query set broadcasts; candidates stream through a broadcast
  nested-loop join, so no shuffle of the big side. Per-pair math is
  ``zip_with``/``aggregate`` Column expressions (JVM codegen, no Python),
  verified bit-identical to DuckDB's ``list_dot_product`` on DOUBLE[].
- ``lsh_ann_topk``: the scale path — random-hyperplane LSH with
  OR-amplification: N_PLANES sign bits split into ANN_BANDS bands of
  ANN_PLANES_PER_BAND bits; two vectors are candidates if they collide
  in ANY band (same trick as the MinHash banding join). Keeps each
  band's bucket count small enough that buckets actually collide, while
  the AND within a band keeps buckets selective. Recall is tested
  against the brute-force baseline (tests/test_similarity.py).
- ``label_blocked_neardup``: IVF-style blocked near-dup pairs — the
  coarse partitioner (label) bounds the pair blowup to per-block O(n²),
  the standard inverted-file decomposition.

Public basis: "Parallel Top-K Similarity Join Algorithms Using
MapReduce" (ICDE 2012), PAPERS.md.
"""

from __future__ import annotations

import json

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.hashing import md5_i32
from ..functions.vector import cosine_similarity, dot, double_array_sql, l2_norm
from ..kernels import (
    centroid_scorer,
    embedding_matrix,
    fold_dot,
    fold_norms,
    pq_codes,
)
from ..sources.catalog import local_frame, read_parquet

N_PLANES = 12
ANN_BANDS = 3
ANN_PLANES_PER_BAND = N_PLANES // ANN_BANDS  # 4 bits → 16 buckets per band

# Serving-path query batches are DRIVER METADATA by contract: the
# two-stage entries collect the query rows to score them against the
# code store / centroid table. That is only sound while |Q| is
# bounded; this cap refuses a query batch that has silently grown to
# corpus scale instead of OOM-ing the driver (VERDICT r17 task 2 — the
# collect_bounded discipline the twins use, applied to the serving
# paths). Generous vs the registered batches (|corpus|/50 = 100 rows
# at sf0.1) and far below driver-memory trouble at dim=64.
QUERY_BATCH_CAP = 100_000
# Above this many query rows the GEMM kernel's query matrix ships to
# executors as a TorrentBroadcast instead of riding every task
# closure (one transfer per executor, not one per task).
GEMM_BROADCAST_MIN_Q = 1_024
# A single label/cluster block is buffered in ONE task by the Arrow
# pair kernels (that is the point: per-block O(n²) stays local). This
# cap turns a pathologically hot block into a loud error instead of a
# silent executor OOM (VERDICT r17 task 6; at dim=64 float64 the cap
# is ~100 MB of block matrix per task — re-partition the hot key or
# raise n_centroids past it, as the SemDeDup paper does).
PAIR_BLOCK_ROW_CAP = 200_000
# A served LSH request whose probe is expected to read at most this many
# store bytes (|Q| x store bytes / 2^r) carries its query batch in the
# plan as literals and runs in one task; a larger one joins the batch as
# a broadcast table and exchanges on query_id, so its candidates spread
# over the cores. Measured on 4 vCPU, in-session, 8-10 interleaved
# request pairs per point, median one task vs exchanged: faster up to
# ~10 MB expected (2,000-vector store, 1-40 queries: 600-1210 vs
# 815-1494 ms; 20,000 vectors, 1-10 queries: 902-1742 vs 1275-2218 ms;
# 100,000 vectors, 1-2 queries: 1229-1260 vs 1530-1617 ms), level at
# 8.3 MB (2,000 vectors, 80 queries: 1397 vs 1369 ms) and slower at
# 19.5 MB (100,000 vectors, 4 queries: 2102 vs 1704 ms, 1 of 8 pairs).
ANN_ONE_TASK_MAX_BYTES = 8 << 20


def _collect_query_batch(df: DataFrame, what: str) -> list:
    """Collect a serving-path query batch, refusing above
    QUERY_BATCH_CAP rows. One job: fetch cap+1 and treat a full fetch
    as overflow — no separate count pass."""
    rows = df.limit(QUERY_BATCH_CAP + 1).collect()
    if len(rows) > QUERY_BATCH_CAP:
        raise ValueError(
            f"{what}: query batch exceeds QUERY_BATCH_CAP="
            f"{QUERY_BATCH_CAP} rows — serving-path query batches are "
            "bounded driver metadata; chunk the batch or serve from the "
            "indexed store instead"
        )
    return rows


def _topk(df: DataFrame, score: str, tie: str, n: int, name: str) -> DataFrame:
    """The rows ranked ``name`` = 1..n within each query_id by (score
    DESC, tie ASC). The tie column makes the order total, so the cut
    at n is deterministic."""
    w = Window.partitionBy("query_id").orderBy(F.desc(score), F.asc(tie))
    return df.withColumn(name, F.row_number().over(w)).filter(F.col(name) <= n)


def plane_components(dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes: component (p, d) derives
    from md5-free integer mixing so Spark and tests share them. Values in
    [-1, 1), exact halves of integers → exactly representable doubles."""
    planes = []
    for p in range(N_PLANES):
        row = []
        x = (p + 1) * 2654435761 % (1 << 32)
        for d in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append((x % 2048) / 1024.0 - 1.0)
        planes.append(row)
    return planes


def brute_force_topk(
    emb: DataFrame,
    query_filter: F.Column,
    k: int = 10,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    (query_id, vec_id, cos, rank) with rank 1..k, self-match excluded.
    Ties broken by vec_id so the ordering is a total order.
    """
    # Norms precomputed per side (n + n_q sqrt-folds instead of 3 folds
    # per PAIR); cos = dot/(norm_q*norm_c) is the same expression tree per
    # factor, so values are bit-identical to the inline formulation.
    q = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm("embedding").alias("q_norm"),
    )
    cand = emb.select("vec_id", "embedding", l2_norm("embedding").alias("c_norm"))
    scored = (
        cand.join(F.broadcast(q), F.col("query_id") != F.col("vec_id"))
        .withColumn("cos", dot("q_emb", "embedding") / (F.col("q_norm") * F.col("c_norm")))
    )
    return _topk(scored, "cos", "vec_id", k, "rank").select("query_id", "vec_id", "cos", "rank")


def _band_buckets_expr(emb_col: str, dim: int) -> F.Column:
    """ARRAY of ANN_BANDS bucket ids: band b packs the sign bits of
    planes [b*r, (b+1)*r) into an int. Sign bit = dot(embedding, plane) > 0,
    the dot being the sequential zip_with/aggregate fold of ``dot``.

    Built as ONE parsed SQL expression: the N_PLANES*dim plane
    components ride as exact DOUBLE literals (``double_array_sql``), so
    the plan is the same projection the Column-API form built with one
    ``F.lit`` py4j round trip per component (768 at dim=64, which
    dominated each ANN request's plan build)."""
    planes = plane_components(dim)
    emb = f"`{emb_col}`"
    buckets = []
    for band in range(ANN_BANDS):
        bits = " + ".join(
            f"CASE WHEN aggregate(zip_with({emb}, "
            f"{double_array_sql(planes[band * ANN_PLANES_PER_BAND + i])}, "
            "(x, y) -> cast(x as double) * y), 0.0D, (acc, x) -> acc + x) > 0 "
            f"THEN {1 << i} ELSE 0 END"
            for i in range(ANN_PLANES_PER_BAND)
        )
        buckets.append(f"CAST({bits} AS INT)")
    return F.expr("array(" + ", ".join(buckets) + ")")


def _lsh_rows(emb: DataFrame, dim: int) -> DataFrame:
    """(vec_id, embedding, nrm, band, bucket): one row per band
    membership, ANN_BANDS rows per vector. This is the LSH store's
    layout, in-plan or persisted, and a query batch's probe keys.

    ONE select, the bucket array inside the posexplode: every DataFrame
    op re-analyzes the plan holding the N_PLANES*dim plane literals
    (that dominates a serving request's plan build), and over a bucket
    column the optimizer inferred a ``size(bkts) > 0`` filter that ran
    every plane fold twice."""
    return emb.select(
        "vec_id",
        "embedding",
        l2_norm("embedding").alias("nrm"),
        F.posexplode(_band_buckets_expr("embedding", dim)).alias("band", "bucket"),
    )


def _lsh_probe(store: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Top-k by exact cosine over the ``store`` rows sharing ANY (band,
    bucket) with a query row; both sides are in the ``_lsh_rows``
    layout. The query side broadcasts into an equi-join on (band,
    bucket), never a cross join."""
    q = q.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        F.col("band").alias("q_band"),
        F.col("bucket").alias("q_bucket"),
    )
    # Distinct candidate pairs (a pair may collide in several bands).
    # One exchange serves both the pair-dedup and the top-k window:
    # hash-partitioning on query_id alone satisfies the (query_id,
    # vec_id) aggregate's clustered-distribution requirement (subset of
    # the grouping keys) AND the rank window's, so dropDuplicates and
    # row_number share the same shuffle instead of exchanging twice.
    cand = (
        store.join(
            F.broadcast(q),
            (F.col("band") == F.col("q_band"))
            & (F.col("bucket") == F.col("q_bucket"))
            & (F.col("query_id") != F.col("vec_id")),
        )
        .select("query_id", "q_emb", "q_norm", "vec_id", "embedding", "nrm")
        .repartition("query_id")
        .dropDuplicates(["query_id", "vec_id"])
    )
    scored = cand.withColumn(
        "cos", dot("q_emb", "embedding") / (F.col("q_norm") * F.col("nrm"))
    )
    return _topk(scored, "cos", "vec_id", k, "rank").select("query_id", "vec_id", "cos", "rank")


def lsh_ann_topk(emb: DataFrame, query_filter: F.Column, k: int = 10, dim: int = 64) -> DataFrame:
    """Approximate top-k via banded hyperplane LSH (OR-amplification).

    Candidates = vectors sharing ANY band bucket with the query — an
    equi-join on (band, bucket), never a cross join. At 100 TB: write the
    corpus partitioned by (band, bucket) once; each query probes
    ANN_BANDS partitions — a partition-pruned scan instead of a full
    pass. Here both sides are bucketed inline and the (small) query side
    broadcasts.
    """
    return _lsh_probe(_lsh_rows(emb, dim), _lsh_rows(emb.filter(query_filter), dim), k)


def write_lsh_index(emb: DataFrame, path: str, dim: int = 64) -> None:
    """Persist the LSH serving artifact: the corpus exploded to one row
    per band membership — (vec_id, embedding, nrm, band, bucket) —
    written ONCE, partitioned by (band, bucket) (≤ ANN_BANDS * 2^bits
    directories: 48 under the default 3x4-bit banding). This is the
    "write the corpus partitioned by (band, bucket) once" half that
    ``lsh_ann_topk``'s docstring promises; ``lsh_ann_topk_indexed``
    is the query half that probes it with file-level partition
    pruning. The bucketing projection is deterministic (fixed
    ``plane_components`` hyperplanes), so a rebuilt index is
    bit-identical for the same corpus."""
    # Cluster rows by their target directory before the partitioned
    # write: without this every upstream task writes a sliver into
    # every (band, bucket) dir — N_tasks * 48 tiny files whose open
    # cost then dominates serving scans. One exchange at build time
    # buys one file per bucket (at 100 TB: repartition(N, band,
    # bucket) for N files per bucket, still bounded per directory).
    _lsh_rows(emb, dim).repartition("band", "bucket").write.mode(
        "overwrite"
    ).partitionBy("band", "bucket").parquet(path + "/buckets")


def _json_sql(values, sql_type: str) -> str:
    """SQL text of the finite ``values`` as one constant of ``sql_type``:
    a JSON string literal that ``from_json`` decodes once, when the
    optimizer folds constants. The parser reads one string token where
    ``double_array_sql`` gives it a literal per number (20 vectors of 64
    doubles took ~300 ms to parse that way), and ``json.dumps`` writes
    each float as its shortest round-trip repr, so every double is
    exact."""
    return f"from_json('{json.dumps(values)}', '{sql_type}')"


def _driver_band_buckets(q_mat: np.ndarray) -> np.ndarray:
    """(n, ANN_BANDS) int bucket ids of the rows of ``q_mat``:
    ``_band_buckets_expr`` computed on the driver. ``fold_dot`` sums
    each plane dot in the JVM fold's order, so every sign bit, and so
    every bucket, equals the JVM's."""
    planes = np.array(plane_components(q_mat.shape[1]), dtype=np.float64)
    bits = (fold_dot(q_mat, planes) > 0).reshape(-1, ANN_BANDS, ANN_PLANES_PER_BAND)
    return bits @ (1 << np.arange(ANN_PLANES_PER_BAND))


def lsh_ann_topk_indexed(
    emb: DataFrame, index_path: str, query_filter: F.Column, k: int = 10, dim: int = 64
) -> DataFrame:
    """Serving-only twin of ``lsh_ann_topk``: candidates come from the
    persisted (band, bucket)-partitioned store of ``write_lsh_index``
    instead of re-bucketing the whole corpus per query batch.

    The query batch is collected on the driver (one job, capped at
    QUERY_BATCH_CAP like the two-stage operators' batches) and bucketed
    there (``_driver_band_buckets``, bit-exact with the JVM fold). The
    store scan carries a static filter, an OR of the probed (band,
    bucket) pairs, so it reads exactly the probed partitions
    (``PartitionFilters`` and ``number of partitions read``, pinned in
    tests/test_similarity.py), and the plane literals never enter the
    request plan. A batch whose probe is expected to read at most
    ANN_ONE_TASK_MAX_BYTES rides the plan as literals and the request
    is one task with no exchange; a larger batch is a broadcast table
    joined on (band, bucket), exchanged on query_id. Results are
    row-identical to the inline operator (same planes, same probe;
    equality pinned in tests). A query vector with a NULL or non-finite
    component, or not ``dim`` long, is refused with ValueError; an
    empty batch gives the typed empty result."""
    spark = emb.sparkSession
    qrows = _collect_query_batch(
        emb.filter(query_filter).select("vec_id", "embedding"), "lsh_ann_topk_indexed"
    )
    if not qrows:
        return local_frame(
            spark, [], "query_id BIGINT, vec_id BIGINT, cos DOUBLE, rank INT NOT NULL"
        )
    q_ids = [r["vec_id"] for r in qrows]
    vecs = [r["embedding"] for r in qrows]
    q_mat = None
    if all(v is not None and len(v) == dim for v in vecs):
        q_mat = np.array(vecs, dtype=np.float64)  # a NULL component reads as NaN
    if q_mat is None or not np.isfinite(q_mat).all():
        raise ValueError(
            f"lsh_ann_topk_indexed: every query vector needs {dim} finite, "
            "non-NULL components"
        )
    q_norms = fold_norms(q_mat)
    buckets = _driver_band_buckets(q_mat).tolist()
    probed = sorted({(b, x) for row in buckets for b, x in enumerate(row)})
    store = read_parquet(spark, index_path + "/buckets").filter(
        " OR ".join(f"(band = {b} AND bucket = {x})" for b, x in probed)
    )
    # Each query reads one of each band's 2^r buckets. The relation's
    # size is the whole store's (a path-based relation prunes partitions
    # at execution), so a query's expected read is 1/2^r of it.
    store_bytes = int(store._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    if len(qrows) * store_bytes >> ANN_PLANES_PER_BAND > ANN_ONE_TASK_MAX_BYTES:
        q = local_frame(
            spark,
            [
                (qid, vec, nrm, b, x)
                for qid, vec, nrm, row in zip(q_ids, vecs, q_norms.tolist(), buckets)
                for b, x in enumerate(row)
            ],
            "vec_id BIGINT, embedding ARRAY<DOUBLE>, nrm DOUBLE, band INT, bucket INT",
        )
        return _lsh_probe(store, q, k)
    # (band * 2^r + bucket) -> the indices of the queries probing it
    probes: dict[int, list[int]] = {}
    for i, row in enumerate(buckets):
        for b, x in enumerate(row):
            probes.setdefault(b << ANN_PLANES_PER_BAND | x, []).append(i)
    qmap = ", ".join(f"{key}, array({', '.join(map(str, ix))})" for key, ix in probes.items())
    # SQL text, one parsed expression per column: every Column-API call
    # is a py4j round trip. cos is _lsh_probe's (the ``dot`` fold, then
    # the same division), so each value is bit-identical to it; it is
    # computed ahead of the pair dedup, so the dedup carries no vectors.
    cand = (
        store.selectExpr(
            f"explode(map({qmap})[band * {1 << ANN_PLANES_PER_BAND} + bucket]) AS qi",
            "vec_id",
            "embedding",
            "nrm",
        )
        .selectExpr(
            f"{_json_sql(q_ids, 'array<bigint>')}[qi] AS query_id",
            "vec_id",
            f"aggregate(zip_with({_json_sql(q_mat.tolist(), 'array<array<double>>')}[qi],"
            " embedding, (x, y) -> x * cast(y AS DOUBLE)), 0.0D, (acc, x) -> acc + x)"
            f" / ({_json_sql(q_norms.tolist(), 'array<double>')}[qi] * nrm) AS cos",
        )
        .filter("query_id != vec_id")
        .coalesce(1)
        .dropDuplicates(["query_id", "vec_id"])
    )
    return _topk(cand, "cos", "vec_id", k, "rank").select("query_id", "vec_id", "cos", "rank")


IVF_K = 16  # coarse centroids
IVF_NPROBE = 3  # centroid lists probed per query
IVF_TRAIN_ITERS = 2  # Lloyd iterations over the seed centroids


def _centroid_df(spark, cents: dict[int, list[float]]) -> DataFrame:
    """k-row centroid frame. The driver-side values ALSO ride the
    returned frame (``_pmrs_local_cents``, cid-ascending, with the
    ``fold_norms`` replica of l2_norm — bit-identical to the c_nrm
    column) so ``_assign_to_centroids`` never re-collects what the
    driver already holds. Centroids are driver metadata BY DEFINITION
    (the Lloyd loop materializes them between iterations), so this
    adds no job and no new memory class."""
    rows = [(cid, [float(x) for x in vec]) for cid, vec in sorted(cents.items())]
    df = local_frame(
        spark, rows, "centroid_id INT, c_emb ARRAY<DOUBLE>"
    ).withColumn("c_nrm", l2_norm("c_emb"))
    nrms = fold_norms(np.array([vec for _, vec in rows], dtype=np.float64))
    df._pmrs_local_cents = [
        (cid, vec, float(n)) for (cid, vec), n in zip(rows, nrms)
    ]
    return df


def _assign_fn(cent_rows):
    """Arrow-batch kernel factory for ``_assign_to_centroids``: nearest
    centroid by cosine (``kernels.centroid_scorer`` — bit-identical
    doubles, max_by's tie-break). Embedding/nrm columns pass through
    the batch untouched."""

    def assign(it):
        import pyarrow as pa

        cids, nearest = centroid_scorer(cent_rows)
        for batch in it:
            if batch.num_rows == 0:
                continue
            best = nearest(
                embedding_matrix(batch.column("embedding")),
                batch.column("nrm").to_numpy(),
            )
            yield pa.record_batch(
                [
                    batch.column("vec_id"),
                    batch.column("embedding"),
                    batch.column("nrm"),
                    pa.array(cids[best]),
                ],
                names=["vec_id", "embedding", "nrm", "centroid_id"],
            )

    return assign


def _lloyd(vecs: DataFrame, col: str, books: list, assign, iters: int) -> list:
    """``iters`` Lloyd rounds over the vectors in ``vecs[col]``, updating
    ``books`` in place and returning it: ``books[g][c]`` is group g's
    code-c vector, and group g quantizes the g-th slice of
    ``len(books[g][c])`` dimensions. ``assign(x, books)`` gives each row
    of the float64 matrix ``x`` its (n, groups) codes. IVF is one group
    of k centroids over whole vectors; PQ is m groups of k
    sub-centroids.

    Each round is one Arrow hop and one shuffle: the map step assigns
    every batch and sums it into per-task partials with ``np.add.at``
    (unbuffered, so additions apply in row order, the order an avg
    partial sum visits the partition), emitting one (g, code, pos, s,
    c) row per non-empty code and dimension; the reduce step divides
    the merged sums by the counts and rounds to 6 dp, which absorbs the
    cross-partition merge order (never deterministic) and keeps the
    assignments rerun-stable. The means come back to the driver, the
    driver-side update of Spark MLlib's KMeans: they are metadata by
    definition, and collecting them cuts the lineage, so training costs
    ``iters`` corpus passes after the seeds. An empty code keeps its
    previous vector."""

    def partials(it):
        import numpy as np
        import pyarrow as pa

        w = len(books[0][0])
        sums = np.zeros((len(books), len(books[0]), w))
        cnts = np.zeros((len(books), len(books[0])), dtype=np.int64)
        for batch in it:
            if batch.num_rows == 0:
                continue
            x = embedding_matrix(batch.column(0))
            codes = assign(x, books)
            for g in range(len(books)):
                np.add.at(sums[g], codes[:, g], x[:, g * w : (g + 1) * w])
                np.add.at(cnts[g], codes[:, g], 1)
        gs, cs = np.nonzero(cnts)
        if gs.size == 0:
            return
        yield pa.record_batch(
            [
                pa.array(np.repeat(gs, w), type=pa.int32()),
                pa.array(np.repeat(cs, w), type=pa.int32()),
                pa.array(np.tile(np.arange(w, dtype=np.int32), gs.size)),
                pa.array(sums[gs, cs].ravel()),
                pa.array(np.repeat(cnts[gs, cs], w)),
            ],
            names=["g", "code", "pos", "s", "c"],
        )

    for _ in range(iters):
        # mapInArrow pickles the kernel when the plan is built, so each
        # round ships the books as they stand before its update.
        means = (
            vecs.select(col)
            .mapInArrow(partials, "g int, code int, pos int, s double, c bigint")
            .groupBy("g", "code", "pos")
            .agg(F.round(F.sum("s") / F.sum("c"), 6).alias("m"))
            .collect()
        )
        upd: dict[tuple[int, int], dict[int, float]] = {}
        for r in means:
            upd.setdefault((r.g, r.code), {})[r.pos] = float(r.m)
        for (g, c), dims in upd.items():
            books[g][c] = [dims[p] for p in sorted(dims)]
    return books


def _assign_to_centroids(e: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, embedding, nrm, centroid_id): nearest centroid by cosine.

    Assignment is ONE Arrow hop per partition: zero shuffle, no k-fold
    interpreted cosine per vector (r18 opt, guide §4.2 — the crossJoin
    form exploded every vector into k rows, paid k CodegenFallback
    dot folds, and re-collapsed them through a vec_id Exchange that
    moved the full embedding arrays). Values bit-identical, ties to the
    lowest centroid_id — see ``_assign_fn``.

    The centroid values are the driver-side copy a ``_centroid_df``
    frame carries (``train_ivf_centroids``, the pretrained-sidecar
    memo, SemDeDup); any other centroid frame, such as one read back
    from an index, is collected once: k rows of dim doubles, driver
    metadata by definition.
    """
    local = getattr(cents, "_pmrs_local_cents", None)
    if local is None:
        local = [
            tuple(r)
            for r in cents.select("centroid_id", "c_emb", "c_nrm")
            .orderBy("centroid_id")
            .collect()
        ]
    # embedding/nrm pass through the batch untouched, so the output
    # schema carries THEIR actual types (the store is float32).
    in_types = dict(e.dtypes)
    return e.select("vec_id", "embedding", "nrm").mapInArrow(
        _assign_fn(local),
        f"vec_id bigint, embedding {in_types['embedding']}, "
        f"nrm {in_types['nrm']}, centroid_id int",
    )


def train_ivf_centroids(
    emb: DataFrame, k: int = IVF_K, iters: int = IVF_TRAIN_ITERS
) -> DataFrame:
    """(centroid_id, c_emb, c_nrm): k-means coarse centroids for the IVF
    index, trained by ``_lloyd`` as one group of k centroids.

    Seeds are the first k vectors by vec_id (deterministic). Each round
    assigns every vector to its nearest centroid by cosine with
    ``kernels.centroid_scorer`` (row norms from ``fold_norms``, the
    ``l2_norm`` fold; ties to the lowest centroid_id) and replaces each
    centroid by the 6-dp-rounded mean of its vectors; an empty cluster
    keeps its previous centroid.
    """
    seed = emb.select("vec_id", "embedding").orderBy("vec_id").limit(k).collect()
    books = [[[float(x) for x in r.embedding] for r in seed]]

    def nearest(x, books):
        cents = np.array(books[0], dtype=np.float64)
        _, score = centroid_scorer(list(zip(range(len(cents)), cents, fold_norms(cents))))
        return score(x, fold_norms(x))[:, None]

    (cents,) = _lloyd(emb, "embedding", books, nearest, iters)
    return _centroid_df(emb.sparkSession, dict(enumerate(cents)))


def ivf_assignments(
    emb: DataFrame, k: int = IVF_K, cents: DataFrame | None = None
) -> DataFrame:
    """(vec_id, embedding, nrm, centroid_id): nearest-centroid assignment
    against trained k-means centroids (``train_ivf_centroids``); pass
    ``cents`` to reuse already-trained centroids."""
    e = emb.select("vec_id", "embedding").withColumn("nrm", l2_norm("embedding"))
    if cents is None:
        cents = train_ivf_centroids(emb, k)
    return _assign_to_centroids(e, cents)


def _probe_centroids(q: DataFrame, cents: DataFrame, nprobe: int) -> DataFrame:
    """(query_id, q_emb, q_norm, centroid_id): each query's ``nprobe``
    nearest centroids by cosine, ties to the lowest centroid_id. Scores
    k × |Q| rows, so the centroid table broadcasts."""
    scored = q.crossJoin(F.broadcast(cents)).withColumn(
        "c_cos", dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_nrm"))
    )
    return _topk(scored, "c_cos", "centroid_id", nprobe, "rk").select(
        "query_id", "q_emb", "q_norm", "centroid_id"
    )


def _driver_probes(q_mat, q_norms, cent_rows, nprobe: int) -> list[list[int]]:
    """``_probe_centroids`` for a query batch already on the driver:
    per query vector in ``q_mat`` (L2 norms ``q_norms``), the ids of
    the ``nprobe`` centroid rows with the highest ``fold_dot / (q_norm
    * c_nrm)`` cosines, ties to the lowest id. ``fold_dot`` is the
    ``dot`` fold, so these are the rows the window keeps.

    Zero-norm guard: the Spark form raises DIVIDE_BY_ZERO (ANSI) and
    numpy would sort NaN, so a zero norm product scores below every
    real cosine; an all-zero query probes the lowest centroid ids."""
    cids = np.array([c.centroid_id for c in cent_rows], dtype=np.int64)
    cmat = np.array([c.c_emb for c in cent_rows], dtype=np.float64)
    cnrm = np.array([c.c_nrm for c in cent_rows], dtype=np.float64)
    q = np.array(q_mat, dtype=np.float64).reshape(-1, cmat.shape[1])
    denom = np.array(q_norms, dtype=np.float64)[:, None] * cnrm[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        key = np.where(denom != 0, -(fold_dot(q, cmat) / denom), np.inf)
    return [cids[np.lexsort((cids, row))][:nprobe].tolist() for row in key]


def ivf_ann_topk(
    emb: DataFrame,
    query_filter: F.Column,
    k: int = 10,
    n_centroids: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    cents: DataFrame | None = None,
) -> DataFrame:
    """IVF ANN: candidates = vectors in the query's nprobe nearest
    centroid lists (inverted-file decomposition), probed against k-means
    centroids from ``train_ivf_centroids``. At 100 TB: train once, write
    the corpus partitioned by centroid_id once; each query scans nprobe
    partitions — partition pruning instead of a full pass. Emitted
    cosines are exact; only candidate generation is approximate.

    No ``.cache()`` anywhere: the query side reads raw embeddings (it
    never needs a centroid id), so the assignment table is consumed by
    exactly one plan subtree and caching it would only pin corpus-sized
    blocks for the session (the round-2 leak).
    """
    if cents is None:
        cents = train_ivf_centroids(emb, n_centroids)
    e = emb.select("vec_id", "embedding").withColumn("nrm", l2_norm("embedding"))
    assigned = _assign_to_centroids(e, cents)
    q = e.filter(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    a = assigned.alias("a")
    p = _probe_centroids(q, cents, nprobe).alias("p")
    cand = a.join(
        F.broadcast(p),
        (F.col("a.centroid_id") == F.col("p.centroid_id"))
        & (F.col("p.query_id") != F.col("a.vec_id")),
    ).select(
        F.col("p.query_id").alias("query_id"),
        F.col("p.q_emb").alias("q_emb"),
        F.col("p.q_norm").alias("q_norm"),
        F.col("a.vec_id").alias("vec_id"),
        F.col("a.embedding").alias("embedding"),
        F.col("a.nrm").alias("nrm"),
    )
    scored = cand.withColumn("cos", dot("q_emb", "embedding") / (F.col("q_norm") * F.col("nrm")))
    return _topk(scored, "cos", "vec_id", k, "rank").select("query_id", "vec_id", "cos", "rank")


def label_lsh_neardup(emb: DataFrame, threshold: float = 0.9, dim: int = 64) -> DataFrame:
    """Scale path for near-dup pairs: block by (label, band, bucket).

    ``label_blocked_neardup`` is exact but per-label O(n²) — label
    cardinality is fixed, so blocks grow linearly with data and pair work
    grows quadratically. Sub-blocking each label by the banded hyperplane
    LSH bounds the join to same-bucket collisions (equi-join on
    (label, band, bucket)); recall follows the LSH collision probability
    (1-(1-p^r)^b, p = 1-θ/π) and is measured against the exact operator
    in tests/test_similarity.py. Output is a SUBSET of the exact pairs —
    every emitted cosine is exact; only candidate generation is
    approximate.
    """
    with_buckets = emb.withColumn("bkts", _band_buckets_expr("embedding", dim)).withColumn(
        "nrm", l2_norm("embedding")
    )
    exploded = with_buckets.select(
        "vec_id", "label", "embedding", "nrm", F.posexplode("bkts").alias("band", "bucket")
    )
    a = exploded.alias("a")
    b = exploded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.embedding").alias("emb_a"),
            F.col("b.embedding").alias("emb_b"),
            (F.col("a.nrm") * F.col("b.nrm")).alias("nrm_prod"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
    )
    return (
        cand.withColumn("cos", dot("emb_a", "emb_b") / F.col("nrm_prod"))
        .filter(F.col("cos") >= threshold)
        .select("vec_a", "vec_b", "cos")
    )


def _blocked_pairs_kernel(threshold: float, key: str, remedy: str):
    """Arrow-batch kernel factory for within-block pairs: labels for
    ``label_blocked_neardup``, k-means clusters for ``semantic_dedup``
    (the SemDeDup step). Buffers the task's rows per ``key`` (blocks are
    co-located by the upstream repartition) and emits each (vec_a <
    vec_b, cos >= threshold) pair; ``fold_dot`` cosines are
    bit-identical to the dot/l2_norm self-join form. 1024-row slabs
    bound the cos matrix; a block past PAIR_BLOCK_ROW_CAP rows fails
    loudly with ``remedy`` instead of OOM-ing the task; NULL keys never
    pair (SQL equality)."""

    cap = PAIR_BLOCK_ROW_CAP

    def pairs_fn(it):
        import numpy as np
        import pyarrow as pa

        keys: list = []
        ids_l, x_l, nrm_l = [], [], []
        for batch in it:
            if batch.num_rows == 0:
                continue
            keys += batch.column(key).to_pylist()
            ids_l.append(batch.column("vec_id").to_numpy())
            x_l.append(embedding_matrix(batch.column("embedding")))
            nrm_l.append(batch.column("nrm").to_numpy())
        rows_of: dict[object, list[int]] = {}
        for i, b in enumerate(keys):
            if b is not None:
                rows_of.setdefault(b, []).append(i)
        if not rows_of:
            return
        all_ids = np.concatenate(ids_l).astype(np.int64)
        all_x, all_nrm = np.vstack(x_l), np.concatenate(nrm_l)
        for b, rows in rows_of.items():
            n = len(rows)
            if n > cap:
                raise ValueError(
                    f"{key} {b!r} has {n} rows "
                    f"(> PAIR_BLOCK_ROW_CAP={cap}) — {remedy}"
                )
            if n < 2:
                continue
            ids, x, nrm = all_ids[rows], all_x[rows], all_nrm[rows]
            for lo in range(0, n, 1024):
                hi = min(lo + 1024, n)
                cos = fold_dot(x[lo:hi], x) / (nrm[lo:hi, None] * nrm[None, :])
                ai, bi = np.nonzero(
                    (cos >= threshold) & (ids[lo:hi, None] < ids[None, :])
                )
                if ai.size == 0:
                    continue
                yield pa.record_batch(
                    [
                        pa.array(ids[lo + ai]),
                        pa.array(ids[bi]),
                        pa.array(cos[ai, bi]),
                    ],
                    names=["vec_a", "vec_b", "cos"],
                )

    return pairs_fn


def label_blocked_neardup(emb: DataFrame, threshold: float = 0.9) -> DataFrame:
    """(vec_a, vec_b, cos) pairs with cosine ≥ threshold, blocked by label
    (IVF-style coarse partition: per-block O(n²) instead of global).
    Exact baseline; ``label_lsh_neardup`` is the 100 TB path.

    r17 opt (guide §4.2, the SemDeDup-kernel pattern): the self-join
    form materialized O(n_block²) pair rows and paid an interpreted
    cosine fold per pair; one label repartition + one Arrow hop now
    scores each block with order-matched numpy accumulation —
    bit-identical cos values (DuckDB oracle hash-matched), 2.4 s →
    ~0.6 s warm at sf0.1."""
    e = emb.select("vec_id", "label", "embedding").withColumn(
        "nrm", l2_norm("embedding")
    )
    return e.repartition("label").mapInArrow(
        _blocked_pairs_kernel(
            threshold,
            "label",
            "label_blocked_neardup: a block this hot must be split (finer "
            "blocking key) rather than buffered in one task",
        ),
        "vec_a bigint, vec_b bigint, cos double",
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """(label, pos, mean_val, n_vectors): per-label mean embedding in
    long format (one row per dimension).

    posexplode → groupBy(label, pos) is ONE shuffle whose key count is
    |labels| × dim — thousands of groups regardless of corpus size, so
    partial aggregation collapses the exploded stream map-side and the
    exchange carries only the group table. The long format is the
    join-ready shape for per-dimension analytics (variance, whitening,
    per-class probes); reassembly to arrays is a collect_list away
    (see train_ivf_centroids for that pattern).
    """
    dims = emb.select("label", F.posexplode("embedding").alias("pos", "val"))
    return dims.groupBy("label", "pos").agg(
        F.round(F.avg("val"), 4).alias("mean_val"),
        F.count("*").alias("n_vectors"),
    ).select("label", F.col("pos").cast("bigint").alias("pos"), "mean_val", "n_vectors")


def quantize_embeddings_int8(emb: DataFrame) -> DataFrame:
    """(vec_id, scale, q_codes): symmetric per-vector int8 quantization —
    q[i] = round(x[i] * 127 / max_abs), scale = max_abs / 127 — cutting
    the 100 TB embedding store 4x (float32 -> int8) while keeping
    dot-product search usable (dequant: q[i] * scale; recall contract
    in tests/test_similarity.py).

    Zero-shuffle projection: max_abs and the code array are array HOFs
    over the embedding column; all arithmetic is double-precision IEEE,
    so an external engine computes bit-identical codes (the oracle
    does). Codes ship as a comma-joined string so the cross-engine
    value hash is representation-stable."""
    x = F.transform("embedding", lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    safe = F.when(max_abs > 0, max_abs).otherwise(F.lit(1.0))
    codes = F.transform(x, lambda v: F.round(v * 127.0 / safe).cast("int"))
    return emb.select(
        "vec_id",
        F.round(safe / 127.0, 10).alias("scale"),
        F.array_join(F.transform(codes, lambda c: c.cast("string")), ",").alias(
            "q_codes"
        ),
    )


def _gemm_shortlist_fn(q_payload, m):
    """Arrow-batch kernel factory for the two-stage coarse pass: score
    every candidate row in the batch against the captured query-code
    matrix with ONE int64 GEMM and emit each query's per-batch top-m
    (approx DESC, vec_id ASC). Integer-valued dots make the float64
    result order-independent (exact), so this is bit-identical to the
    per-pair fold it replaces; per-batch top-m is a superset of every
    query's global top-m, which the downstream window finalizes.
    ``q_payload`` is either the (q_ids, q_mat, q_scales) tuple riding
    the closure (small batches) or a Broadcast of it (one transfer per
    executor when |Q| ≥ GEMM_BROADCAST_MIN_Q — VERDICT r17 task 2).
    numpy/pyarrow imports live in the closure so executors resolve
    them at first call (guide §4.5: heavy init once per task)."""

    def score(it):
        import numpy as np
        import pyarrow as pa

        payload = q_payload.value if hasattr(q_payload, "value") else q_payload
        q_ids, q_mat, q_scales = payload
        for batch in it:
            if batch.num_rows == 0:
                continue
            vec_ids = batch.column("vec_id").to_numpy()
            scales = batch.column("scale").to_numpy()
            c_mat = np.stack(
                batch.column("codes").to_numpy(zero_copy_only=False)
            ).astype(np.int64)
            dots = c_mat @ q_mat.T  # (n, |Q|) int64 — exact
            approx = (dots.astype(np.float64) * scales[:, None]) * q_scales[
                None, :
            ]
            out_q, out_v, out_a = [], [], []
            for j in range(len(q_ids)):
                col = approx[:, j]
                idx = np.nonzero(vec_ids != q_ids[j])[0]
                if idx.size == 0:
                    continue
                order = np.lexsort((vec_ids[idx], -col[idx]))[:m]
                sel = idx[order]
                out_q.append(np.full(sel.size, q_ids[j], dtype=np.int64))
                out_v.append(vec_ids[sel].astype(np.int64))
                out_a.append(col[sel])
            if not out_q:
                continue
            yield pa.record_batch(
                [
                    pa.array(np.concatenate(out_q)),
                    pa.array(np.concatenate(out_v)),
                    pa.array(np.concatenate(out_a)),
                ],
                names=["query_id", "vec_id", "approx"],
            )

    return score


def two_stage_topk(
    emb: DataFrame, query_filter: F.Column, k: int = 10, overfetch: int = 4
) -> DataFrame:
    """(query_id, vec_id, cos, rank): exact top-k by two-stage retrieval —
    stage 1 scores EVERY candidate against the int8-quantized store
    (symmetric per-vector quantization, as quantize_embeddings_int8)
    and keeps a k*overfetch shortlist per query; stage 2 fetches full-
    precision vectors ONLY for the shortlist and re-ranks by exact
    cosine. The classic coarse-then-fine serving shape: at 100 TB the
    first pass streams the 4x-smaller code store (broadcast queries, no
    corpus shuffle), and the expensive full-vector reads touch
    |Q| * k * overfetch rows instead of the corpus.

    Fully deterministic, hence SQL-oracle-able: integer code dots are
    exact in doubles (|code| <= 127, so any 64-dim dot < 2^21), scales
    are rounded to 10 dp, and both rankings break ties by vec_id.
    Top-k equals brute force whenever the true k-th neighbor survives
    the quantized shortlist — the recall contract in
    tests/test_similarity.py pins equality at the default overfetch.

    r17 opt (guide §4.2): stage 1 is an Arrow GEMM, not a pair join.
    The old form broadcast the query batch into an inequality join
    (BroadcastNestedLoopJoin materializing |corpus| x |Q| pair rows)
    and folded each dot with zip_with+aggregate — ArrayAggregate is
    CodegenFallback, so every pair paid an interpreted fold plus a
    zipped-array allocation. Now the code store crosses the Arrow
    boundary ONCE per partition (vec_id, codes, scale — only the
    columns the kernel needs) and one int64 matrix multiply scores
    every (candidate, query) pair, keeping the per-partition
    k*overfetch shortlist per query; the global window then ranks
    n_partitions * |Q| * k*overfetch candidate rows instead of
    |corpus| * |Q| pair rows. Bit-identical by construction: code dots
    are integer-valued (|code| <= 127, dim-bounded sums << 2^53), so
    any summation order yields the same double; the approx expression
    applies the same left-associated (dot * scale) * q_scale IEEE ops;
    per-partition top-m under the total order (approx DESC, vec_id
    ASC) is an exact decomposition of the global top-m. Measured at
    sf0.1/local[32]: 2.62 s -> 1.57 s warm, rows identical. The query
    batch is collected at build (|corpus|/50 rows of driver metadata —
    the bounded-collect class EAGER_BUILD_OK enumerates for the IVF
    probe selection), REFUSED loudly past QUERY_BATCH_CAP, and shipped
    as a broadcast instead of a task-closure capture once |Q| ≥
    GEMM_BROADCAST_MIN_Q (r18, VERDICT r17 task 2)."""
    codes, scale = _int8_code_exprs()
    qz = emb.select("vec_id", codes.alias("codes"), scale.alias("scale"))
    qrows = _collect_query_batch(qz.filter(query_filter), "two_stage_topk")
    if not qrows:
        return local_frame(
            emb.sparkSession, [], "query_id bigint, vec_id bigint, cos double, rank int"
        )
    q_ids = np.array([r["vec_id"] for r in qrows], dtype=np.int64)
    q_mat = np.array([r["codes"] for r in qrows], dtype=np.int64)
    q_scales = np.array([r["scale"] for r in qrows], dtype=np.float64)
    payload = (q_ids, q_mat, q_scales)
    if len(qrows) >= GEMM_BROADCAST_MIN_Q:
        payload = emb.sparkSession.sparkContext.broadcast(payload)
    m = k * overfetch
    score = _gemm_shortlist_fn(payload, m)
    cand = qz.mapInArrow(score, "query_id long, vec_id long, approx double")
    shortlist = _topk(cand, "approx", "vec_id", m, "rn").select("query_id", "vec_id")
    return _exact_rerank(emb, query_filter, shortlist, k)


def two_stage_ivf_topk(
    emb: DataFrame,
    query_filter: F.Column,
    k: int = 10,
    overfetch: int = 4,
    n_centroids: int = IVF_K,
    nprobe: int = IVF_NPROBE,
    cents: DataFrame | None = None,
) -> DataFrame:
    """(query_id, vec_id, cos, rank): the 100 TB serving shape — IVF
    partition pruning composed with two-stage quantized retrieval.
    Stage 0 picks each query's nprobe nearest k-means centroids
    (``train_ivf_centroids``); stage 1 hash-equi-joins the int8 code
    store against broadcast (query, probed-centroid) pairs on
    centroid_id, so dot products are computed ONLY for vectors in
    probed lists — O(sum of probed list sizes) coarse compute instead
    of ``two_stage_topk``'s O(|corpus|*|Q|); stage 2 fetches
    full-precision vectors only for the k*overfetch shortlist and
    re-ranks by exact cosine. In-plan, the equi-join still SCANS the
    whole code store (one O(1) hash probe per row); skipping the scan
    too is a LAYOUT property — write the codes once partitioned by
    centroid_id (``write_ivf_index`` / ``two_stage_ivf_topk_indexed``)
    and stage 1 becomes nprobe partition-pruned scans per query batch.

    Candidate generation inherits IVF's approximation (a true neighbor
    outside the probed lists is unreachable), so this is rows-only at
    the gate; the recall-floor contract vs brute force lives in
    tests/test_similarity.py, and nprobe = n_centroids degenerates to
    ``two_stage_topk``'s exact shortlist."""
    if cents is None:
        cents = train_ivf_centroids(emb, n_centroids)
    e = emb.select("vec_id", "embedding").withColumn("nrm", l2_norm("embedding"))
    assigned = _assign_to_centroids(e, cents)
    codes, scale = _int8_code_exprs()
    qz = assigned.select(
        "vec_id", "centroid_id", codes.alias("codes"), scale.alias("scale")
    )
    q = e.filter(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    probes = _probe_centroids(q, cents, nprobe).select("query_id", "centroid_id")
    # (query_id, centroid_id, q_codes, q_scale): |Q| * nprobe rows, each
    # carrying its query's codes — broadcast-sized. Joining THIS on
    # centroid_id is a hash equi-join: every corpus row does one O(1)
    # hash probe and rows in unprobed centroids drop at the join. (The
    # previous shape — array_contains(probe_set, centroid_id) — was a
    # broadcast nested-loop join evaluating every (vector, query) pair:
    # full-corpus compute, and measured 2x SLOWER than the exhaustive
    # two_stage_topk.) Each vector has exactly one centroid and each
    # query probes distinct centroids, so no (query, vec) pair repeats.
    probe_q = probes.join(
        qz.select(
            F.col("vec_id").alias("query_id"),
            F.col("codes").alias("q_codes"),
            F.col("scale").alias("q_scale"),
        ),
        "query_id",
    )
    s1 = (
        qz.join(F.broadcast(probe_q), "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("approx", _int8_approx())
    )
    shortlist = _topk(s1, "approx", "vec_id", k * overfetch, "rn").select("query_id", "vec_id")
    return _exact_rerank(emb, query_filter, shortlist, k)


def _int8_code_exprs() -> tuple[F.Column, F.Column]:
    """(codes, scale) column exprs for symmetric per-vector int8
    quantization of ``embedding`` — the single definition shared by
    ``two_stage_topk`` / ``two_stage_ivf_topk`` / ``write_ivf_index``
    so the in-plan and persisted code stores are bit-identical."""
    x = F.transform("embedding", lambda v: v.cast("double"))
    max_abs = F.array_max(F.transform(x, lambda v: F.abs(v)))
    safe = F.when(max_abs > 0, max_abs).otherwise(F.lit(1.0))
    codes = F.transform(x, lambda v: F.round(v * 127.0 / safe).cast("long"))
    scale = F.round(safe / 127.0, 10)
    return codes, scale


def _int8_approx() -> F.Column:
    """Stage-1 score of a code row against a query's (q_codes, q_scale):
    the integer code dot (exact in a long) times both scales,
    left-associated as the GEMM kernel applies them."""
    dotint = F.aggregate(
        F.zip_with("codes", "q_codes", lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    return dotint.cast("double") * F.col("scale") * F.col("q_scale")


def _exact_rerank(
    emb: DataFrame, query_filter: F.Column, shortlist: DataFrame, k: int
) -> DataFrame:
    """Stage 2 of the ``two_stage_*`` operators: full-precision vectors
    for the (query_id, vec_id) shortlist only, re-ranked by exact
    cosine. The shortlist and the query batch are query-batch-bounded,
    so both broadcast and the corpus streams through the fetch.

    ``try_divide``: a pair with a zero-norm side scores NULL (ranked
    last, ties by vec_id) where ``/`` raises DIVIDE_BY_ZERO under ANSI,
    so an all-zero query completes with the probes its zero-norm guard
    gave it."""
    qe = emb.filter(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm("embedding").alias("q_norm"),
    )
    ce = emb.select("vec_id", "embedding", l2_norm("embedding").alias("c_norm"))
    re = (
        F.broadcast(shortlist).join(ce, "vec_id")
        .join(F.broadcast(qe), "query_id")
        .withColumn(
            "cos",
            F.try_divide(dot("q_emb", "embedding"), F.col("q_norm") * F.col("c_norm")),
        )
    )
    return _topk(re, "cos", "vec_id", k, "rank").select("query_id", "vec_id", "cos", "rank")


def write_ivf_index(
    emb: DataFrame,
    path: str,
    n_centroids: int = IVF_K,
    cents: DataFrame | None = None,
) -> DataFrame:
    """Persist the IVF serving artifact: the int8 code store written
    ONCE, partitioned by centroid_id (``<path>/codes``), plus the
    trained centroid table (``<path>/centroids``). Returns the
    centroids. This is the index-build half of the 100 TB serving
    split: build amortizes over every future query batch, and the
    partitioned layout is what turns nprobe from a join-time filter
    into genuine file-level partition pruning (see
    ``two_stage_ivf_topk_indexed``)."""
    if cents is None:
        cents = train_ivf_centroids(emb, n_centroids)
    e = emb.select("vec_id", "embedding").withColumn("nrm", l2_norm("embedding"))
    assigned = _assign_to_centroids(e, cents)
    codes, scale = _int8_code_exprs()
    store = assigned.select(
        "vec_id", codes.alias("codes"), scale.alias("scale"), "centroid_id"
    )
    store.write.mode("overwrite").partitionBy("centroid_id").parquet(path + "/codes")
    cents.write.mode("overwrite").parquet(path + "/centroids")
    return cents


def two_stage_ivf_topk_indexed(
    emb: DataFrame,
    index_path: str,
    query_filter: F.Column,
    k: int = 10,
    overfetch: int = 4,
    nprobe: int = IVF_NPROBE,
) -> DataFrame:
    """Serving-only twin of ``two_stage_ivf_topk``: stage 1 reads the
    persisted centroid_id-partitioned code store from
    ``write_ivf_index`` instead of quantizing in-plan, and the probed
    centroid ids are applied as an ``isin`` partition filter BEFORE the
    join — so the scan itself prunes to nprobe partitions per query
    batch (``PartitionFilters`` in the plan), the real 100 TB shape.
    The probed-id list is |Q| * nprobe ints of driver metadata, same
    class as the centroids themselves. Query codes are recomputed from
    the raw query vectors (the quantization is a deterministic
    projection — ``_int8_code_exprs``), avoiding a full code-store scan
    just to fetch |Q| rows. Results are identical to the inline
    operator given the same centroids (contract in
    tests/test_similarity.py)."""
    spark = emb.sparkSession
    cents = read_parquet(spark, index_path + "/centroids")
    store = read_parquet(spark, index_path + "/codes")
    # Probe selection on the DRIVER (r17 opt): queries and the k-row
    # centroid table are both bounded metadata, and the old
    # crossJoin+window probes subplan was referenced TWICE (the
    # probed-ids collect AND the probe_q join re-expanded it in the
    # final plan). Saves one crossJoin+window job and the in-plan
    # re-expansion (~0.68 s of the 2.28 s warm wall at sf0.1).
    qrows = _collect_query_batch(
        emb.filter(query_filter).select(
            "vec_id", "embedding", l2_norm("embedding").alias("q_norm")
        ),
        "two_stage_ivf_topk_indexed probe selection",
    )
    picks = _driver_probes(
        [r["embedding"] for r in qrows],
        [r["q_norm"] for r in qrows],
        cents.collect(),
        nprobe,
    )
    probe_pairs = [(r["vec_id"], cid) for r, cids in zip(qrows, picks) for cid in cids]
    probes = local_frame(spark, probe_pairs, "query_id BIGINT, centroid_id INT")
    probed_ids = sorted({cid for _, cid in probe_pairs})
    codes, scale = _int8_code_exprs()
    probe_q = probes.join(
        emb.filter(query_filter).select(
            F.col("vec_id").alias("query_id"),
            codes.alias("q_codes"),
            scale.alias("q_scale"),
        ),
        "query_id",
    )
    s1 = (
        store.filter(F.col("centroid_id").isin(probed_ids))
        .join(F.broadcast(probe_q), "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("approx", _int8_approx())
    )
    shortlist = _topk(s1, "approx", "vec_id", k * overfetch, "rn").select("query_id", "vec_id")
    return _exact_rerank(emb, query_filter, shortlist, k)


SEMDEDUP_THRESHOLD = 0.95


def semantic_dedup(
    emb: DataFrame,
    threshold: float = SEMDEDUP_THRESHOLD,
    n_centroids: int = IVF_K,
    cents: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, keeper_id, keep): SemDeDup-style semantic deduplication
    (Abbas et al. 2023): cluster the embedding space with k-means, form
    near-duplicate pairs ONLY within each cluster (cosine >=
    threshold), resolve the pair graph by connected components, and
    keep one representative (min vec_id) per semantic-duplicate group.
    ``keep`` is true for keepers and for vectors with no near-dup.

    This is the embedding-space sibling of the MinHash document chain:
    candidate generation is cluster-blocked instead of band-blocked, so
    the pair join is per-cluster O(n_c^2) rather than corpus O(n^2) —
    at 100 TB you'd raise n_centroids so clusters stay partition-sized
    (the paper's setting does exactly this), and the component
    resolution reuses the same min-label propagation as document dedup.

    Approximate by construction (cross-cluster near-dups are
    unreachable, exactly like SemDeDup); contracts live in
    tests/test_similarity.py: within-cluster recall is exact, planted
    duplicate groups resolve to single keepers."""
    from .dedup import connected_components

    if cents is None:
        cents = train_ivf_centroids(emb, n_centroids)
    e = emb.select("vec_id", "embedding").withColumn("nrm", l2_norm("embedding"))
    assigned = _assign_to_centroids(e, cents).select(
        "vec_id", "embedding", "nrm", "centroid_id"
    )
    # Within-cluster pairing as ONE Arrow hop (r17 opt, guide §4.2):
    # the self-join form materialized O(n_c²) pair rows and paid an
    # interpreted 64-dim cosine fold per pair.
    pairs = (
        assigned.repartition("centroid_id")
        .mapInArrow(
            _blocked_pairs_kernel(
                threshold,
                "centroid_id",
                "semantic_dedup: raise n_centroids so clusters stay "
                "partition-sized",
            ),
            "vec_a bigint, vec_b bigint, cos double",
        )
        .select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    )
    comps = connected_components(pairs)
    return (
        emb.select("vec_id")
        .join(
            comps.select(F.col("doc_id").alias("vec_id"), "cluster_id"),
            "vec_id",
            "left",
        )
        .select(
            "vec_id",
            F.coalesce("cluster_id", F.col("vec_id")).cast("bigint").alias("keeper_id"),
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("vec_id"))
            ).alias("keep"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — PAPERS.md): split the embedding into
# PQ_M subspaces, k-means each subspace independently, store each
# vector as M one-byte codes. The compressed store is dim*4/M-fold
# smaller than float32 (64-dim float32, 256 B → 8 bytes here), and queries
# score candidates WITHOUT touching raw vectors via asymmetric
# distance computation (ADC): cos(q, x) ≈ Σ_s q_s · c_{s, code_s(x)}
# on unit-normalized vectors. The standard billion-scale ANN layout
# (FAISS IVFPQ's fine quantizer), complementing the int8 store
# (4x, per-vector) and the IVF partitioner (scan pruning).

PQ_M = 8  # subspaces
PQ_K = 32  # codes per subspace (codebook rows)
PQ_TRAIN_ITERS = 3  # Lloyd rounds per subspace
PQ_SHORTLIST = 80  # ADC shortlist size fed to exact re-rank (fixed per
# query regardless of corpus size — |Q| * 80 full-vector reads)


def _normalized(emb: DataFrame) -> DataFrame:
    """(vec_id, nemb): unit-L2 embeddings (zero vectors pass through) —
    PQ for cosine quantizes the normalized vectors so subspace dots sum
    to the cosine."""
    nrm = l2_norm("embedding")
    safe = F.when(nrm > 0, nrm).otherwise(F.lit(1.0))
    # safe lambda-BOUND (r17 opt): referenced from inside the transform
    # lambda it was re-evaluated per ELEMENT — dim × the l2_norm fold
    # per row (1.25 s -> ~0.1 s for this projection at sf0.1); same
    # divisions, identical values.
    nemb = F.transform(
        F.array(safe),
        lambda s: F.transform("embedding", lambda v: v.cast("double") / s),
    )[0]
    return emb.select("vec_id", nemb.alias("nemb"))


def _book_lit(book: list[list[float]]) -> F.Column:
    """k x subdim codebook as a nested array literal (metadata-sized:
    codebooks ride into the plan, no join needed), parsed from one SQL
    string of exact DOUBLE literals instead of one py4j ``F.lit`` call
    per value."""
    return F.expr("array(" + ", ".join(double_array_sql(c) for c in book) + ")")


def _sub_slice(col: str, s: int, subdim: int) -> F.Column:
    return F.slice(col, s * subdim + 1, subdim)


def train_pq_codebooks(
    emb: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    iters: int = PQ_TRAIN_ITERS,
) -> list[list[list[float]]]:
    """codebooks[sub][code] = subdim-float centroid, trained by ``_lloyd``
    as m groups of k sub-centroids over the ``_normalized`` vectors, so
    each round is ONE corpus pass for ALL subspaces. Seeds are the
    first k vectors' subslices (deterministic); rows are coded by
    ``kernels.pq_codes``, the coder ``pq_encode`` uses; 6-dp-rounded
    means keep assignments rerun-stable; an empty code keeps its
    previous centroid."""
    e = _normalized(emb)
    seeds = e.orderBy("vec_id").limit(k).collect()
    subdim = len(seeds[0]["nemb"]) // m
    books = [
        [[float(v) for v in r["nemb"][s * subdim : (s + 1) * subdim]] for r in seeds]
        for s in range(m)
    ]
    return _lloyd(e, "nemb", books, pq_codes, iters)


def _pq_encode_kernel(books: list[list[list[float]]]):
    """Arrow-batch PQ encoder factory: normalize, then code with
    ``kernels.pq_codes``, the coder the training loop uses. The norm
    accumulates one dimension at a time, left to right (``fold_norms``),
    so every normalized double equals ``_normalized``'s. Codebooks are
    plain Python lists captured in the closure (no collect; the builder
    stays plan-only)."""
    m = len(books)

    def encode(it):
        import numpy as np
        import pyarrow as pa

        for batch in it:
            n = batch.num_rows
            if n == 0:
                continue
            vec_ids = batch.column("vec_id").to_numpy()
            x = embedding_matrix(batch.column("embedding"))
            nrm = fold_norms(x)
            safe = np.where(nrm > 0, nrm, 1.0)
            codes = pq_codes(x / safe[:, None], books)
            offsets = pa.array(
                np.arange(0, (n + 1) * m, m, dtype=np.int32)
            )
            flat = pa.array(codes.reshape(-1), type=pa.int32())
            yield pa.record_batch(
                [
                    pa.array(vec_ids.astype(np.int64)),
                    pa.ListArray.from_arrays(offsets, flat),
                ],
                names=["vec_id", "codes"],
            )

    return encode


def pq_encode(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, codes): the PQ code store — array of m small ints per
    vector, encoded by the Arrow numpy kernel (``_pq_encode_kernel``).

    r17 opt (guide §4.2): the expression form ran m×k interpreted
    squared-distance folds per vector (HOFs are CodegenFallback) —
    2.7 s for 2,000 vectors at sf0.1; the vectorized kernel encodes
    the same batch in milliseconds with bit-identical codes (order-
    matched accumulation; Python-replica and twin tests pin it). Only
    (vec_id, embedding) cross the Arrow boundary."""
    return emb.select("vec_id", "embedding").mapInArrow(
        _pq_encode_kernel(books), "vec_id bigint, codes array<int>"
    )


def _query_luts(q_nembs, books: list[list[list[float]]]) -> list:
    """Per normalized query vector, its ADC lookup table lut[s][j] =
    q_s · c_{s,j} (m lists of k doubles), each dot the ``fold_dot`` —
    bit-identical to ``pq_adc_scores``'s expression-built table."""
    subdim = len(books[0][0])
    per_sub = [
        fold_dot(
            np.array(
                [v[s * subdim : (s + 1) * subdim] for v in q_nembs], dtype=np.float64
            ).reshape(-1, subdim),
            np.array(book, dtype=np.float64),
        ).tolist()
        for s, book in enumerate(books)
    ]
    return [[sub[i] for sub in per_sub] for i in range(len(q_nembs))]


def _adc_expr(m: int) -> F.Column:
    """ADC score Σ_s lut[s][code_s]: m array lookups per (code row,
    query) pair, summed in subspace order."""
    adc = F.lit(0.0)
    for s in range(m):
        adc = adc + F.element_at(F.col("lut")[s], F.col("codes")[s] + 1)
    return adc


def pq_adc_scores(
    emb: DataFrame,
    query_filter: F.Column,
    books: list[list[list[float]]],
) -> DataFrame:
    """(query_id, vec_id, codes, adc): stage-1 ADC scores — each code
    row against each broadcast query, score = Σ_s q_s · c_{s, code_s}
    via element_at into the codebook literals. Split out of pq_topk so
    the expression has its own python-replica contract in
    tests/test_similarity.py."""
    m = len(books)
    subdim = len(books[0][0])
    e = _normalized(emb)
    codes_df = pq_encode(emb, books)
    # The ADC lookup-table trick: materialize lut[s][j] = q_s · c_{s,j}
    # ONCE per query row (|Q| * m * k values on the broadcast side), so
    # the per-(vector, query) expression is m array lookups + adds —
    # the codebook literals and the dot folds never run in the pair
    # loop. Same arithmetic, same fold order, bit-identical scores.
    # NB: the HOF lambda must stay single-argument — pyspark treats a
    # second parameter as the element INDEX. The loop variable binds
    # eagerly because F.transform evaluates the lambda at expression
    # build time.
    lut = F.array(
        *[
            F.transform(
                _book_lit(books[s]),
                lambda c: F.aggregate(
                    F.zip_with(
                        _sub_slice("q_nemb", s, subdim), c, lambda x, y: x * y
                    ),
                    F.lit(0.0),
                    lambda acc, v: acc + v,
                ),
            )
            for s in range(m)
        ]
    )
    q = e.filter(query_filter).select(
        F.col("vec_id").alias("query_id"),
        F.col("nemb").alias("q_nemb"),
        lut.alias("lut"),
    )
    return codes_df.join(
        F.broadcast(q), F.col("query_id") != F.col("vec_id")
    ).withColumn("adc", _adc_expr(m))


def _nemb_rerank(short: DataFrame, e: DataFrame, qn: DataFrame, k: int) -> DataFrame:
    """Stage 2 of ``pq_topk`` / ``pq_topk_indexed``: the (query_id,
    vec_id) shortlist's normalized vectors ``e`` re-ranked by exact
    cosine against the (query_id, qe) query vectors ``qn``."""
    # broadcast the query-batch-bounded shortlist so the corpus side
    # STREAMS (never shuffles/broadcasts) through the re-rank fetch
    re_rank = (
        F.broadcast(short).join(e, "vec_id")
        .join(F.broadcast(qn), "query_id")
        .withColumn("cos", dot("qe", "nemb"))
    )
    return _topk(re_rank, "cos", "vec_id", k, "rank").select("query_id", "vec_id", "cos", "rank")


def pq_topk(
    emb: DataFrame,
    query_filter: F.Column,
    k: int = 10,
    shortlist_n: int = PQ_SHORTLIST,
    books: list[list[list[float]]] | None = None,
) -> DataFrame:
    """(query_id, vec_id, cos, rank): PQ-ADC retrieval — stage 1 scores
    the m-byte code store against broadcast queries with the ADC
    expression Σ_s q_s · c_{s, code_s} (codebook literals, element_at
    by runtime code — no raw-vector reads, the stream side is the
    maximally-compressed store); stage 2 re-ranks the shortlist by
    exact cosine on full vectors (|Q| * shortlist_n rows only).
    Approximate where the true neighbor's ADC score falls off the
    shortlist — recall floor pinned in tests/test_similarity.py."""
    if books is None:
        books = train_pq_codebooks(emb)
    e = _normalized(emb)
    s1 = pq_adc_scores(emb, query_filter, books)
    short = _topk(s1, "adc", "vec_id", shortlist_n, "rn").select("query_id", "vec_id")
    qn = e.filter(query_filter).select(
        F.col("vec_id").alias("query_id"), F.col("nemb").alias("qe")
    )
    return _nemb_rerank(short, e, qn, k)


def write_ivfpq_index(
    emb: DataFrame,
    path: str,
    books: list[list[list[float]]],
    cents: DataFrame,
) -> None:
    """Persist the IVFPQ serving artifact (FAISS's IndexIVFPQ layout,
    Jégou et al. 2011): the PQ code store written ONCE, partitioned by
    coarse centroid_id (``<path>/codes``), plus the coarse centroid
    table (``<path>/centroids``). Composes the two index halves the
    repo already had separately — ``write_ivf_index``'s
    partition-pruned layout and ``write_pq_index``'s 32x-compressed
    codes — so serving scans only nprobe partitions of m-byte codes:
    at 100 TB neither a full-corpus raw scan NOR a full-corpus code
    scan remains.

    Codes come from ``pq_encode`` verbatim (bit-identical to the flat
    PQ store — the nprobe=all equality contract in
    tests/test_similarity.py depends on it); the vec_id equi-join with
    the coarse assignment is a build-time-only shuffle, amortized over
    every future query batch.

    ``<path>/vectors`` holds the NORMALIZED full vectors under the same
    centroid_id partitioning: the exact re-rank fetches its shortlist
    from probed partitions only, so serving never scans (or
    re-normalizes) the raw corpus table — every serving read is pruned
    to nprobe lists in both representations. Parquet round-trips
    doubles bit-exactly, so re-rank cosines from the stored ``nemb``
    equal live-normalized ones to the last ulp."""
    assigned = ivf_assignments(emb, cents=cents).select("vec_id", "centroid_id")
    store = pq_encode(emb, books).join(assigned, "vec_id")
    store.write.mode("overwrite").partitionBy("centroid_id").parquet(path + "/codes")
    vecs = _normalized(emb).join(assigned, "vec_id")
    vecs.write.mode("overwrite").partitionBy("centroid_id").parquet(path + "/vectors")
    cents.write.mode("overwrite").parquet(path + "/centroids")


def ivfpq_probe_table(
    spark,
    qrows: list,
    cent_rows: list,
    books: list[list[list[float]]],
    nprobe: int = IVF_NPROBE,
):
    """(probe DataFrame, probed centroid ids): stage 0 of IVFPQ serving,
    entirely driver-side metadata — for each normalized query row, its
    top-``nprobe`` coarse centroids by cosine (``_driver_probes`` with
    unit query norms: |q|=1, so cos = dot / c_nrm) and its
    per-subspace ADC lookup table (``_query_luts``), as |Q| * nprobe
    rows. Callers serving a FIXED query batch should build this once
    and ``localCheckpoint`` it — the ~|Q| * m * k doubles otherwise
    re-cross the Py4J boundary on every request (measured ~1 s per
    call at even a 40-query batch)."""
    q_nembs = [[float(v) for v in r["nemb"]] for r in qrows]
    picks = _driver_probes(q_nembs, np.ones(len(qrows)), cent_rows, nprobe)
    probe_rows = [
        (r["vec_id"], cid, q_nemb, lut)
        for r, q_nemb, lut, cids in zip(qrows, q_nembs, _query_luts(q_nembs, books), picks)
        for cid in cids
    ]
    probed_ids = sorted({cid for _, cid, _, _ in probe_rows})
    q = local_frame(
        spark,
        probe_rows,
        "query_id BIGINT, centroid_id INT, q_nemb ARRAY<DOUBLE>, "
        "lut ARRAY<ARRAY<DOUBLE>>",
    )
    return q, probed_ids


def ivfpq_topk(
    emb: DataFrame,
    index_path: str,
    query_filter: F.Column,
    books: list[list[list[float]]],
    k: int = 10,
    shortlist_n: int = PQ_SHORTLIST,
    nprobe: int = IVF_NPROBE,
    collected_queries: list | None = None,
    probe: tuple | None = None,
) -> DataFrame:
    """(query_id, vec_id, cos, rank): IVFPQ retrieval from the persisted
    index — the standard two-level billion-scale ANN serving path.

    Stage 0 (driver, metadata-sized): the broadcast-sized query batch
    picks its top-``nprobe`` coarse centroids by cosine (k x dim
    centroid table and |Q| queries are both driver metadata — the same
    class as the PQ lookup tables; ``ivfpq_probe_table``).
    Stage 1 (pruned ADC scan): the union of probed centroid ids is
    applied as an ``isin`` PARTITION filter on the code store — the
    scan itself reads only nprobe partitions per query batch
    (``PartitionFilters`` in the plan) — and the surviving m-byte codes
    hash-equi-join the broadcast (query, probe, lut) rows on
    centroid_id; ADC score = m array lookups per pair. The query
    vector rides along on the (already query-batch-sized) probe rows,
    so the shortlist leaves stage 1 carrying everything re-rank needs.
    Stage 2 (exact re-rank): the |Q| * shortlist_n shortlist — bounded
    by the query batch, never the corpus — is BROADCAST against the
    index's centroid-partitioned NORMALIZED vector store, itself pruned
    to the probed partitions (every shortlisted vec_id lives in a
    probed cell by construction). No serving stage scans or shuffles
    the corpus in any representation.

    With nprobe = all centroids this is value-identical to the flat
    ``pq_topk_indexed`` (every partition scanned, same ADC arithmetic,
    and the stored normalized vectors are parquet-round-tripped bits of
    the live-normalized ones — pinned in tests); with nprobe < k_coarse
    it is the approximate trade: vectors whose coarse cell the query
    does not probe are invisible (recall floor pinned in tests)."""
    spark = emb.sparkSession
    store = read_parquet(spark, index_path + "/codes")
    if probe is not None:
        q, probed_ids = probe
    else:
        cent_rows = sorted(
            spark.read.parquet(index_path + "/centroids").collect(),
            key=lambda r: r.centroid_id,
        )
        qrows = (
            collected_queries
            if collected_queries is not None
            else _collect_query_batch(
                _normalized(emb).filter(query_filter), "ivfpq_topk probe selection"
            )
        )
        q, probed_ids = ivfpq_probe_table(spark, qrows, cent_rows, books, nprobe)
    s1 = (
        store.filter(F.col("centroid_id").isin(probed_ids))
        .join(F.broadcast(q), "centroid_id")
        .filter(F.col("query_id") != F.col("vec_id"))
        .withColumn("adc", _adc_expr(len(books)))
    )
    short = _topk(s1, "adc", "vec_id", shortlist_n, "rn").select(
        "query_id", "vec_id", F.col("q_nemb").alias("qe")
    )
    vecs = read_parquet(spark, index_path + "/vectors").filter(
        F.col("centroid_id").isin(probed_ids)
    )
    re_rank = F.broadcast(short).join(vecs, "vec_id").withColumn(
        "cos", dot("qe", "nemb")
    )
    return _topk(re_rank, "cos", "vec_id", k, "rank").select("query_id", "vec_id", "cos", "rank")


def write_pq_index(
    emb: DataFrame, path: str, books: list[list[list[float]]]
) -> None:
    """Persist the PQ code store (vec_id, codes) as parquet — encoding
    runs ONCE at build time; serving then scans the m-codes-per-vector
    artifact (logically one byte per code) instead of re-encoding the
    corpus per query batch (the FAISS index-file equivalent). Codebooks
    are metadata the caller keeps (k*m*subdim floats)."""
    pq_encode(emb, books).write.mode("overwrite").parquet(path)


def pq_topk_indexed(
    emb: DataFrame,
    index_path: str,
    query_filter: F.Column,
    books: list[list[list[float]]],
    k: int = 10,
    shortlist_n: int = PQ_SHORTLIST,
    collected_queries: list | None = None,
) -> DataFrame:
    """pq_topk served from a persisted code store: stage 1 scans the
    parquet codes (ADC via per-query lookup tables), stage 2 re-ranks
    the shortlist against raw embeddings by vec_id equi-join. Value-
    identical to the inline path (tests/test_similarity.py pins it) —
    only where the codes come from differs."""
    spark = emb.sparkSession
    codes_df = read_parquet(spark, index_path)
    e = _normalized(emb)
    # The query batch is the BROADCAST side by contract (|Q| small), so
    # its ADC lookup tables are computed on the driver (``_query_luts``,
    # bit-identical to the expression path's, pinned by the
    # indexed==inline test) instead of shipping the m*k*subdim codebook
    # literals into the plan, whose 2k-node expression tree dominated
    # build+analysis time. The corpus side still only ever sees m array
    # lookups/row.
    # callers serving a fixed query batch repeatedly pass the rows in
    # (registry memoizes them) so repeat runs skip the collect job
    qrows = (
        collected_queries
        if collected_queries is not None
        else _collect_query_batch(e.filter(query_filter), "pq_topk_indexed")
    )
    q_nembs = [[float(v) for v in r["nemb"]] for r in qrows]
    q = local_frame(
        spark,
        [
            (r["vec_id"], q_nemb, lut)
            for r, q_nemb, lut in zip(qrows, q_nembs, _query_luts(q_nembs, books))
        ],
        "query_id BIGINT, q_nemb ARRAY<DOUBLE>, lut ARRAY<ARRAY<DOUBLE>>",
    )
    s1 = codes_df.join(
        F.broadcast(q.drop("q_nemb")), F.col("query_id") != F.col("vec_id")
    ).withColumn("adc", _adc_expr(len(books)))
    short = _topk(s1, "adc", "vec_id", shortlist_n, "rn").select("query_id", "vec_id")
    return _nemb_rerank(short, e, q.select("query_id", F.col("q_nemb").alias("qe")), k)
