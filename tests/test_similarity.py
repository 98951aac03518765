"""ANN-LSH contract tests: non-vacuous candidates + recall vs brute force.

The round-1 failure mode was an LSH whose buckets never collided (0 rows
→ unfalsifiable "pass"); these tests pin rows > 0 and a recall floor
against the exact baseline so that regression can't recur.
"""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from parallel_map_reduce_spark.operators import similarity as S
from parallel_map_reduce_spark.sources.catalog import load_table

K = 10
QUERY_FILTER_MOD = 50


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings").cache()


def test_brute_force_topk_shape(spark, emb):
    out = S.brute_force_topk(emb, F.col("vec_id") % QUERY_FILTER_MOD == 0, k=K)
    rows = out.collect()
    assert rows, "brute force returned nothing"
    by_q = {}
    for r in rows:
        assert r.query_id != r.vec_id, "self-match leaked"
        assert 1 <= r.rank <= K
        by_q.setdefault(r.query_id, []).append(r)
    for q, rs in by_q.items():
        assert len(rs) <= K
        ranks = sorted(r.rank for r in rs)
        assert ranks == list(range(1, len(rs) + 1)), f"rank gaps for query {q}"


def test_ann_lsh_nonvacuous(spark, emb):
    out = S.lsh_ann_topk(emb, F.col("vec_id") % QUERY_FILTER_MOD == 0, k=K).collect()
    assert len(out) > 0, "ANN LSH returned 0 rows — buckets never collide (vacuous)"
    n_queries = emb.filter(F.col("vec_id") % QUERY_FILTER_MOD == 0).count()
    covered = {r.query_id for r in out}
    # OR-amplified banding must surface candidates for most queries.
    assert len(covered) >= 0.8 * n_queries, (
        f"only {len(covered)}/{n_queries} queries have any ANN candidates"
    )


def test_ann_lsh_recall_vs_bruteforce(spark, emb):
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    exact = S.brute_force_topk(emb, qf, k=K).collect()
    approx = S.lsh_ann_topk(emb, qf, k=K).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # Random-hyperplane LSH on near-uniform vectors is a weak signal; the
    # floor asserts the mechanism works (far above the ~K/N random-pick
    # rate), not production-grade recall.
    assert mean_recall >= 0.15, f"mean recall {mean_recall:.3f} below floor"


def test_neardup_lsh_subset_and_recall(spark, emb):
    """LSH sub-blocked near-dup must emit a subset of the exact pairs
    (identical cosines) with nonzero recall at the test threshold."""
    thr = 0.35
    exact = {
        (r.vec_a, r.vec_b): r.cos
        for r in S.label_blocked_neardup(emb, threshold=thr).collect()
    }
    approx = {
        (r.vec_a, r.vec_b): r.cos for r in S.label_lsh_neardup(emb, threshold=thr).collect()
    }
    assert exact, "exact near-dup baseline is empty — test is vacuous"
    assert set(approx) <= set(exact), "LSH emitted a pair the exact op didn't"
    for pair, cos in approx.items():
        assert abs(cos - exact[pair]) < 1e-12
    recall = len(approx) / len(exact)
    # Collision probability for cos≈0.35 over 3 bands × 4 planes is ~0.37;
    # the floor asserts the mechanism works, not production recall.
    assert recall >= 0.15, f"recall {recall:.3f}"


def test_pretrained_sidecar_artifacts_roundtrip_bitexact(spark, sf_dir, emb):
    """The persisted training sidecars (PQ codebooks, IVF centroids)
    must load back BIT-IDENTICAL to fresh training: the json dump is
    repr-based (shortest round-trip) and training is deterministic, so
    a fresh process serving from the sidecar computes exactly what an
    in-process-trained session computes. Clears the memos to force the
    disk path."""
    from parallel_map_reduce_spark.queries import similarity as QS

    QS._PQ_MEMO.clear()
    books_loaded = QS._pretrained_pq_books(spark, sf_dir)
    books_fresh = S.train_pq_codebooks(emb)
    assert books_loaded == books_fresh

    QS._CENTS_MEMO.clear()
    loaded = {
        (r.centroid_id, tuple(r.c_emb))
        for r in QS._pretrained_cents(spark, sf_dir).collect()
    }
    fresh = {
        (r.centroid_id, tuple(float(x) for x in r.c_emb))
        for r in S.train_ivf_centroids(emb, S.IVF_K)
        .select("centroid_id", "c_emb")
        .collect()
    }
    assert loaded == fresh and len(loaded) == S.IVF_K


def _partitions_read(df) -> int:
    """Summed ``number of partitions read`` of the file scans in ``df``'s
    executed plan (read after the plan has run)."""
    stack, total = [df._jdf.queryExecution().executedPlan()], 0
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            stack.append(node.plan())
        else:
            if kind == "FileSourceScanExec":
                metric = node.metrics().get("numPartitions")
                total += metric.get().value() if metric.isDefined() else 0
            children = node.children()
            stack += [children.apply(i) for i in range(children.size())]
    return total


def test_lsh_indexed_equals_inline(spark, emb, tmp_path):
    """The persisted-index LSH serving path (write_lsh_index +
    lsh_ann_topk_indexed) must return EXACTLY the inline operator's
    rows: the bucketing projection is deterministic (fixed planes),
    parquet round-trips the vectors exactly, and the partition-pruned
    store scan sees the same candidate rows the in-plan equi-join
    keeps. Also pins that the store scan carries a static band/bucket
    partition filter and reads exactly the probed partitions — the
    layout property the artifact exists for."""
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    idx = str(tmp_path / "lsh_index")
    S.write_lsh_index(emb, idx)
    inline = {
        (r.query_id, r.vec_id, r.rank, round(r.cos, 12))
        for r in S.lsh_ann_topk(emb, qf, k=K).collect()
    }
    indexed_df = S.lsh_ann_topk_indexed(emb, idx, qf, k=K)
    indexed = {
        (r.query_id, r.vec_id, r.rank, round(r.cos, 12))
        for r in indexed_df.collect()
    }
    assert inline == indexed and len(inline) > 0
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    # one store scan, in the final and the initial plan; the plan string
    # cuts a long filter short with "..."
    filters = re.findall(r"PartitionFilters: \[(.*?), PushedFilters", plan)
    assert filters and all("band" in f and "bucket" in f for f in filters), plan
    # the probe set reaches the scan as a static filter, not as dynamic
    # pruning, and prunes to the (band, bucket) pairs the batch probes
    assert "dynamicpruning" not in plan.lower()
    probed = emb.filter(qf).select(
        F.posexplode(S._band_buckets_expr("embedding", 64)).alias("band", "bucket")
    )
    assert _partitions_read(indexed_df) == probed.distinct().count()


def test_lsh_indexed_prunes_unprobed_buckets(spark, emb, tmp_path):
    """A single-query batch probes ANN_BANDS (band, bucket) pairs; the
    store scan must read at most those partitions — verified by row
    count through the scan: the filtered store yields only rows whose
    (band, bucket) is probed, far fewer than the store total."""
    idx = str(tmp_path / "lsh_index_prune")
    S.write_lsh_index(emb, idx)
    one_query = F.col("vec_id") == emb.agg(F.min("vec_id")).collect()[0][0]
    store = spark.read.parquet(idx + "/buckets")
    total = store.count()
    out = S.lsh_ann_topk_indexed(emb, idx, one_query, k=K)
    out.collect()  # must run
    # the probed subset: at most ANN_BANDS buckets of the store
    probed_rows = 0
    q = (
        emb.filter(one_query)
        .withColumn("bkts", S._band_buckets_expr("embedding", 64))
        .select(F.posexplode("bkts").alias("band", "bucket"))
        .collect()
    )
    for r in q:
        probed_rows += store.filter(
            (F.col("band") == r.band) & (F.col("bucket") == r.bucket)
        ).count()
    assert probed_rows < total, "probe read the whole store"


@pytest.fixture(scope="module")
def lsh_idx(emb, tmp_path_factory):
    idx = str(tmp_path_factory.mktemp("lsh") / "lsh_index")
    S.write_lsh_index(emb, idx)
    return idx


@pytest.mark.parametrize("one_task", [True, False])
def test_lsh_indexed_one_task_bound_both_sides(emb, lsh_idx, monkeypatch, one_task):
    """Within ANN_ONE_TASK_MAX_BYTES the served request carries its
    query batch as literals and has no exchange; above it the batch is
    a broadcast table and the request exchanges on query_id. Both
    sides give the inline operator's rows, cosines bit for bit, and its
    schema."""
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    monkeypatch.setattr(S, "ANN_ONE_TASK_MAX_BYTES", 1 << 62 if one_task else -1)
    got = S.lsh_ann_topk_indexed(emb, lsh_idx, qf, k=K)
    rows = sorted(map(tuple, got.collect()))
    inline = S.lsh_ann_topk(emb, qf, k=K)
    assert rows == sorted(map(tuple, inline.collect())) and len(rows) > 0
    assert got.schema == inline.schema
    plan = got._jdf.queryExecution().executedPlan().toString()
    if one_task:
        assert "Exchange" not in plan, plan
    else:
        assert "BroadcastExchange" in plan
        assert "Exchange hashpartitioning(query_id" in plan, plan


def test_lsh_indexed_empty_batch_is_typed(emb, lsh_idx):
    """A query filter that matches nothing gives no rows and the
    inline operator's (query_id, vec_id, cos, rank) schema."""
    got = S.lsh_ann_topk_indexed(emb, lsh_idx, F.lit(False), k=K)
    assert got.collect() == []
    assert got.schema == S.lsh_ann_topk(emb, F.lit(False), k=K).schema


@pytest.mark.parametrize("bad", ["nan", "inf", "null_component", "null_vector"])
def test_lsh_indexed_refuses_non_finite_query(spark, emb, lsh_idx, bad):
    """A query vector with a NaN, infinite or NULL component, or a NULL
    vector, raises ValueError before the request plan is built."""
    from parallel_map_reduce_spark.sources.catalog import local_frame

    vec = None
    if bad != "null_vector":
        vec = [0.5] * 64
        vec[3] = {"nan": float("nan"), "inf": float("inf"), "null_component": None}[bad]
    qid = 10**9
    extra = local_frame(spark, [(qid, vec)], "vec_id BIGINT, embedding ARRAY<FLOAT>")
    both = emb.select("vec_id", "embedding").unionByName(extra)
    with pytest.raises(ValueError, match="finite"):
        S.lsh_ann_topk_indexed(both, lsh_idx, F.col("vec_id") == qid, k=K)


def test_ann_candidates_subset_scored_correctly(spark, emb):
    """Every ANN hit's cosine must equal the exact cosine for that pair."""
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    approx = S.lsh_ann_topk(emb, qf, k=K)
    e = emb.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    c = emb.select(F.col("vec_id"), F.col("embedding").alias("ce"))
    joined = (
        approx.join(e, "query_id")
        .join(c, "vec_id")
        .withColumn("cos_exact", S.cosine_similarity("qe", "ce"))
    )
    bad = joined.filter(F.abs(F.col("cos") - F.col("cos_exact")) > 1e-12).count()
    assert bad == 0


def _mean_recall(exact_rows, approx_rows):
    exact_sets, approx_sets = {}, {}
    for r in exact_rows:
        exact_sets.setdefault(r.query_id, set()).add(r.vec_id)
    for r in approx_rows:
        assert r.query_id != r.vec_id
        approx_sets.setdefault(r.query_id, set()).add(r.vec_id)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    return sum(recalls) / len(recalls), approx_sets


def test_ivf_ann_nonvacuous_and_recall(spark, emb):
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    approx = S.ivf_ann_topk(emb, qf, k=K).collect()
    assert approx, "IVF ANN returned nothing"
    exact = S.brute_force_topk(emb, qf, k=K).collect()
    mean_recall, approx_sets = _mean_recall(exact, approx)
    n_queries = emb.filter(qf).count()
    assert len(approx_sets) >= 0.8 * n_queries
    # nprobe=3 of 16 TRAINED centroids; measured 0.52 at sf0.001 (seed
    # centroids gave 0.45). The floor asserts the probe mechanism beats
    # random candidate picking with real margin.
    assert mean_recall >= 0.3, f"mean recall {mean_recall:.3f}"


def test_ivf_training_improves_recall(spark, emb):
    """Lloyd-trained centroids must not lose to the raw seed vectors —
    the round-2 stand-in this training replaced. Deterministic data +
    deterministic training ⇒ a stable comparison, not a flaky one."""
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    exact = S.brute_force_topk(emb, qf, k=K).collect()
    seed_cents = S.train_ivf_centroids(emb, S.IVF_K, iters=0)
    trained_cents = S.train_ivf_centroids(emb, S.IVF_K)
    seed_recall, _ = _mean_recall(
        exact, S.ivf_ann_topk(emb, qf, k=K, cents=seed_cents).collect()
    )
    trained_recall, _ = _mean_recall(
        exact, S.ivf_ann_topk(emb, qf, k=K, cents=trained_cents).collect()
    )
    assert trained_recall >= seed_recall, (
        f"training regressed recall: {trained_recall:.3f} < {seed_recall:.3f}"
    )
    # At the default test SF the improvement is strict (0.52 vs 0.45).
    assert trained_recall >= 0.3


def test_int8_quantization_preserves_geometry(spark, sf_dir):
    """Dequantized vectors must stay geometrically faithful: cosine
    similarity between original and dequantized > 0.995 for every
    vector (int8 symmetric quantization bounds per-dim error at
    max_abs/254)."""
    import pyspark.sql.functions as F

    from parallel_map_reduce_spark.operators.similarity import (
        quantize_embeddings_int8,
    )
    from parallel_map_reduce_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    q = quantize_embeddings_int8(emb)
    joined = emb.join(q, "vec_id").select(
        "vec_id",
        F.transform("embedding", lambda v: v.cast("double")).alias("x"),
        F.transform(F.split("q_codes", ","), lambda c: c.cast("double") * F.col("scale")).alias("y"),
    )
    dot = F.aggregate(
        F.zip_with("x", "y", lambda a, b: a * b), F.lit(0.0), lambda acc, v: acc + v
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.aggregate(F.transform(c, lambda v: v * v), F.lit(0.0), lambda acc, v: acc + v)
    )
    cos = (dot / (norm(F.col("x")) * norm(F.col("y")))).alias("cos")
    worst = joined.select(cos).agg(F.min("cos").alias("m")).first()["m"]
    assert worst > 0.995, worst


def test_two_stage_topk_equals_brute_force(spark, sf_dir):
    """At the default overfetch the quantized shortlist preserves every
    true top-k neighbor, so two-stage retrieval must EQUAL the exact
    baseline — (query, neighbor, rank) for all queries, not just
    recall-overlap. Quantization error only matters near the shortlist
    boundary, which overfetch=4 keeps far from rank k."""
    from parallel_map_reduce_spark.operators.similarity import (
        brute_force_topk,
        two_stage_topk,
    )
    from parallel_map_reduce_spark.sources.catalog import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    qf = F.col("vec_id") % 50 == 0
    bf = {(r.query_id, r.vec_id, r.rank) for r in brute_force_topk(emb, qf, k=10).collect()}
    ts = {(r.query_id, r.vec_id, r.rank) for r in two_stage_topk(emb, qf, k=10).collect()}
    assert bf == ts and len(bf) > 0


def test_two_stage_ivf_recall_and_exact_degeneration(spark, emb):
    """IVF-pruned two-stage retrieval: (a) a recall floor vs brute force
    at the default nprobe (candidate generation is approximate, but the
    probed lists must catch most true neighbors); (b) with nprobe =
    n_centroids every partition is probed, so the shortlist equals
    two_stage_topk's and the result must EQUAL brute force exactly."""
    from parallel_map_reduce_spark.operators.similarity import (
        IVF_K,
        brute_force_topk,
        two_stage_ivf_topk,
    )

    qf = F.col("vec_id") % 50 == 0
    exact = brute_force_topk(emb, qf, k=10).collect()
    approx = two_stage_ivf_topk(emb, qf, k=10).collect()
    mean_recall, _ = _mean_recall(exact, approx)
    assert len(approx) > 0
    assert mean_recall >= 0.3, f"mean recall {mean_recall:.3f}"

    full = two_stage_ivf_topk(emb, qf, k=10, nprobe=IVF_K).collect()
    bf = {(r.query_id, r.vec_id, r.rank) for r in exact}
    fu = {(r.query_id, r.vec_id, r.rank) for r in full}
    assert bf == fu


def test_two_stage_ivf_indexed_equals_inline(spark, emb, tmp_path):
    """The persisted-index serving path (write_ivf_index +
    two_stage_ivf_topk_indexed) must return EXACTLY the inline
    operator's results given the same centroids: the code store is a
    deterministic projection, parquet round-trips long/double exactly,
    and the partition-pruned scan sees the same probed rows the
    in-plan equi-join keeps. Also pins that the pruned scan carries a
    centroid_id partition filter — the layout property the artifact
    exists for."""
    from parallel_map_reduce_spark.operators.similarity import (
        train_ivf_centroids,
        two_stage_ivf_topk,
        two_stage_ivf_topk_indexed,
        write_ivf_index,
    )

    qf = F.col("vec_id") % 50 == 0
    cents = train_ivf_centroids(emb, S.IVF_K)
    idx = str(tmp_path / "ivf_index")
    write_ivf_index(emb, idx, cents=cents)
    inline = {
        (r.query_id, r.vec_id, r.rank, round(r.cos, 12))
        for r in two_stage_ivf_topk(emb, qf, k=10, cents=cents).collect()
    }
    indexed_df = two_stage_ivf_topk_indexed(emb, idx, qf, k=10)
    indexed = {
        (r.query_id, r.vec_id, r.rank, round(r.cos, 12))
        for r in indexed_df.collect()
    }
    assert inline == indexed and len(inline) > 0
    plan = indexed_df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan


def test_semantic_dedup_resolves_planted_groups(spark):
    """Planted near-identical embedding groups must resolve to exactly
    one keeper each (min vec_id), distinct vectors must all be kept,
    and every non-keeper must point at its group's keeper."""
    import random

    from parallel_map_reduce_spark.operators.similarity import semantic_dedup

    rng = random.Random(11)
    rows = []
    vid = 0
    groups = []
    for g in range(4):  # 4 planted groups of 3 near-copies
        base = [rng.uniform(-1, 1) for _ in range(16)]
        members = []
        for j in range(3):
            vec = [x + rng.uniform(-1e-4, 1e-4) for x in base]
            rows.append((vid, [float(x) for x in vec]))
            members.append(vid)
            vid += 1
        groups.append(members)
    singles = []
    for s in range(8):  # well-separated singletons: one-hot-ish
        vec = [0.0] * 16
        vec[s % 16] = 1.0 + 0.1 * s
        vec[(s + 7) % 16] = -1.0 - 0.05 * s
        rows.append((vid, vec))
        singles.append(vid)
        vid += 1
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in semantic_dedup(emb, threshold=0.999, n_centroids=2).collect()}
    assert len(out) == vid
    for members in groups:
        keepers = [m for m in members if out[m].keep]
        # all three are mutual near-dups IF they landed in one cluster;
        # cluster blocking may split a group (SemDeDup semantics), but
        # every member must point at a keeper that IS kept
        for m in members:
            assert out[out[m].keeper_id].keep
        assert min(members) in [out[m].keeper_id for m in members]
        assert 1 <= len(keepers) <= 2
    for s in singles:
        assert out[s].keep and out[s].keeper_id == s


@pytest.fixture(scope="module")
def pq_books(emb):
    from parallel_map_reduce_spark.operators.similarity import train_pq_codebooks

    return train_pq_codebooks(emb)


def test_pq_codes_shape_and_range(emb, pq_books):
    from parallel_map_reduce_spark.operators.similarity import PQ_K, PQ_M, pq_encode

    assert len(pq_books) == PQ_M and all(len(b) == PQ_K for b in pq_books)
    rows = pq_encode(emb, pq_books).collect()
    assert len(rows) == emb.count()
    for r in rows:
        assert len(r.codes) == PQ_M
        assert all(0 <= c < PQ_K for c in r.codes)


def test_pq_topk_recall_floor(spark, emb, pq_books):
    from parallel_map_reduce_spark.operators.similarity import (
        brute_force_topk,
        pq_topk,
    )

    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    exact = brute_force_topk(emb, qf, k=K).collect()
    approx = pq_topk(emb, qf, k=K, books=pq_books).collect()
    recall, approx_sets = _mean_recall(exact, approx)
    # 64-dim near-random embeddings are PQ's worst case; with the
    # default m=8/k=32/shortlist=80 the measured recall is ~0.88.
    assert recall >= 0.7, recall
    assert all(len(s) == K for s in approx_sets.values())


def test_pq_adc_matches_python_replica(emb, pq_books):
    """The Spark ADC column equals the textbook ADC formula computed in
    pure Python on the collected normalized vectors, codes, and
    codebooks — Σ_s q_s · c_{s, code_s}."""
    from parallel_map_reduce_spark.operators.similarity import (
        _normalized,
        pq_adc_scores,
        pq_encode,
    )

    m = len(pq_books)
    subdim = len(pq_books[0][0])
    nemb = {r.vec_id: list(r.nemb) for r in _normalized(emb).collect()}
    codes = {r.vec_id: list(r.codes) for r in pq_encode(emb, pq_books).collect()}
    spark_adc = {
        (r.query_id, r.vec_id): r.adc
        for r in pq_adc_scores(
            emb, F.col("vec_id") % QUERY_FILTER_MOD == 0, pq_books
        ).collect()
    }
    assert spark_adc
    checked = 0
    for (qid, vid), got in sorted(spark_adc.items())[:200]:
        q = nemb[qid]
        expected = sum(
            sum(
                a * b
                for a, b in zip(
                    q[s * subdim : (s + 1) * subdim], pq_books[s][codes[vid][s]]
                )
            )
            for s in range(m)
        )
        assert got == pytest.approx(expected, abs=1e-9), (qid, vid)
        checked += 1
    assert checked == 200


def test_pq_training_deterministic(emb):
    from parallel_map_reduce_spark.operators.similarity import train_pq_codebooks

    b1 = train_pq_codebooks(emb)
    b2 = train_pq_codebooks(emb.repartition(5))
    assert b1 == b2


# json md5 of the trained values per scale factor, recorded from the
# expression-form trainers (PQ's explode/posexplode avg round and the
# fused IVF partials kernel): the Lloyd loop must reproduce them bit
# for bit, not only rerun-stably.
TRAINED_DIGESTS = {
    "sf0.001": {
        "ivf": "72b5f9239c9bd542b7cc00e5112498d7",
        "ivf0": "8317481a733a5bb2f34e53f6c46df6c3",
        "ivf8": "4157c310b3db586d8a84e70374c7f236",
        "pq": "8b1582922ffd23f32a3e35e5f7567411",
    },
    "sf0.01": {
        "ivf": "4614d7b32a90723874a95938906c149e",
        "ivf0": "48fa8bb2b91e16e79282fa17478a191a",
        "ivf8": "b219058976f92311d2759404a19014ce",
        "pq": "2ce429704016346f20df39bd5b391b86",
    },
    "sf0.1": {
        "ivf": "d1c4e1a676bf05f88c838587192ec346",
        "ivf0": "a55fb2d1daa7ed5d13d6278acdf81c87",
        "ivf8": "bcd6f18db61c28f93aba40e2c70a6548",
        "pq": "cd88e7695cc44a8f7e683b1e8c29f8e8",
    },
}


def test_trained_values_pinned(sf_dir, emb):
    import hashlib
    import json
    import os

    want = TRAINED_DIGESTS.get(os.path.basename(os.path.normpath(sf_dir)))
    if want is None:
        pytest.skip(f"no recorded digests for {sf_dir}")

    def md5(obj) -> str:
        return hashlib.md5(json.dumps(obj).encode()).hexdigest()

    def cents(df) -> str:
        return md5(
            [
                [r.centroid_id, list(r.c_emb), r.c_nrm]
                for r in df.orderBy("centroid_id").collect()
            ]
        )

    got = {
        "ivf": cents(S.train_ivf_centroids(emb, S.IVF_K)),
        "ivf0": cents(S.train_ivf_centroids(emb, S.IVF_K, iters=0)),
        "ivf8": cents(S.train_ivf_centroids(emb, k=8, iters=1)),
        "pq": md5(S.train_pq_codebooks(emb)),
    }
    assert got == want


def test_pq_indexed_equals_inline(spark, emb, pq_books, tmp_path):
    """The persisted-code-store serving path (driver-computed LUTs)
    returns EXACTLY the inline expression path's rows — same codes,
    same sequential-fold ADC arithmetic, same tie-breaks."""
    from parallel_map_reduce_spark.operators.similarity import (
        pq_topk,
        pq_topk_indexed,
        write_pq_index,
    )

    path = str(tmp_path / "pq_index")
    write_pq_index(emb, path, pq_books)
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    inline = sorted(map(tuple, pq_topk(emb, qf, k=K, books=pq_books).collect()))
    indexed = sorted(
        map(tuple, pq_topk_indexed(emb, path, qf, pq_books, k=K).collect())
    )
    assert inline == indexed


@pytest.fixture(scope="module")
def ivfpq_index(spark, emb, pq_books, tmp_path_factory):
    """One IVFPQ artifact shared by the composition tests (build once —
    the split the operator is designed around)."""
    from parallel_map_reduce_spark.operators.similarity import (
        IVF_K,
        train_ivf_centroids,
        write_ivfpq_index,
    )

    path = str(tmp_path_factory.mktemp("ivfpq") / "index")
    cents = train_ivf_centroids(emb, IVF_K)
    write_ivfpq_index(emb, path, pq_books, cents)
    return path


def test_ivfpq_nprobe_all_equals_flat_pq(spark, emb, pq_books, ivfpq_index, tmp_path):
    """With nprobe = all coarse cells, the IVFPQ path scans every
    partition of the same bit-identical code store and applies the same
    driver-LUT ADC arithmetic — so it must EQUAL the flat persisted-PQ
    path row-for-row (which test_pq_indexed_equals_inline pins equal to
    the inline pq_topk). This is the composition's exactness anchor:
    partitioning the store changed WHERE codes live, never their values
    or the scoring."""
    from parallel_map_reduce_spark.operators.similarity import (
        IVF_K,
        ivfpq_topk,
        pq_topk_indexed,
        write_pq_index,
    )

    flat_path = str(tmp_path / "pq_flat")
    write_pq_index(emb, flat_path, pq_books)
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    full = sorted(
        map(tuple, ivfpq_topk(emb, ivfpq_index, qf, pq_books, k=K, nprobe=IVF_K).collect())
    )
    flat = sorted(
        map(tuple, pq_topk_indexed(emb, flat_path, qf, pq_books, k=K).collect())
    )
    assert full == flat and len(full) > 0


def test_ivfpq_recall_floor_and_partition_pruning(spark, emb, pq_books, ivfpq_index):
    """Default-nprobe serving: (a) recall floor vs brute force — doubly
    approximate (IVF cell pruning x PQ quantization), so the floor sits
    at the IVF family's level (the coarse pruning dominates the loss on
    these near-random vectors; flat PQ alone measures ~0.88, IVF alone
    ~0.5); (b) the executed plan must prune the code-store SCAN to the
    probed centroid partitions (PartitionFilters), the property the
    composed artifact exists for; (c) repartitioning the query input
    must not change results (stage 0 is driver-side, stages 1-2 are
    partition-count-invariant)."""
    from parallel_map_reduce_spark.operators.similarity import (
        brute_force_topk,
        ivfpq_topk,
    )

    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    exact = brute_force_topk(emb, qf, k=K).collect()
    df = ivfpq_topk(emb, ivfpq_index, qf, pq_books, k=K)
    approx = df.collect()
    recall, approx_sets = _mean_recall(exact, approx)
    assert len(approx) > 0
    assert recall >= 0.3, f"mean recall {recall:.3f}"

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # no full-corpus pass in any representation: the only joins are the
    # centroid_id hash equi-join and the shortlist equi-joins
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

    again = ivfpq_topk(emb.repartition(7), ivfpq_index, qf, pq_books, k=K).collect()
    assert sorted(map(tuple, approx)) == sorted(map(tuple, again))


def test_ivfpq_hot_centroid_stays_pruned_and_parallel(spark, tmp_path):
    """Skew resilience of the IVFPQ store (VERDICT r7 task 7): real
    embedding distributions are NOT uniform over coarse cells, so one
    centroid partition can hold 30%+ of the corpus. Serving must then
    still (a) prune the scan to probed partitions, and (b) never
    collapse the hot cell onto one reducer — which the plan guarantees
    structurally: the probe side is BROADCAST, so the code store is
    never hash-exchanged on the skewed centroid_id key, and the hot
    cell's rows arrive in multiple independently-scannable parquet
    files whose task fan-out is byte-driven (maxPartitionBytes), not
    key-driven."""
    import glob
    import random

    from parallel_map_reduce_spark.operators.similarity import (
        ivf_assignments,
        ivfpq_topk,
        train_ivf_centroids,
        train_pq_codebooks,
        write_ivfpq_index,
    )

    rng = random.Random(42)
    dim = 16
    rows = []
    for i in range(400):
        if i % 10 < 4:  # 40% of vectors in one tight cluster
            v = [1.0 + 0.01 * rng.uniform(-1, 1)] + [
                0.01 * rng.uniform(-1, 1) for _ in range(dim - 1)
            ]
        else:
            v = [rng.uniform(-1, 1) for _ in range(dim)]
        rows.append((i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id BIGINT, embedding ARRAY<FLOAT>")

    cents = train_ivf_centroids(emb, 8)
    books = train_pq_codebooks(emb)
    counts = {
        r.centroid_id: r.n
        for r in ivf_assignments(emb, cents=cents)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    hot_cell, hot_n = max(counts.items(), key=lambda kv: kv[1])
    assert hot_n >= 0.3 * 400, f"planted hot cell only {hot_n}/400"

    path = str(tmp_path / "ivfpq_hot")
    write_ivfpq_index(emb, path, books, cents)
    # The hot cell exists as an ordinary parquet partition directory:
    # its task fan-out at read time is BYTE-driven (maxPartitionBytes
    # splits files/row-groups), never key-driven — at test scale AQE
    # coalesces the KB-sized build to one file, which is itself
    # splittable by row group at real sizes.
    hot_files = glob.glob(f"{path}/codes/centroid_id={hot_cell}/*.parquet")
    assert len(hot_files) >= 1

    qf = F.col("vec_id") % 100 == 0  # queries 0/100/200/300: all hot
    df = ivfpq_topk(emb, path, qf, books, k=5)
    out = df.collect()
    assert len(out) > 0 and len({r.query_id for r in out}) == 4
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    # The skew guarantee: no exchange keyed on the hot column anywhere
    # in the serving plan — the only joins broadcast the query side.
    assert "Exchange hashpartitioning(centroid_id" not in plan, plan
    assert "CartesianProduct" not in plan


def test_query_batch_cap_refuses_corpus_scale_batch(spark, emb, monkeypatch):
    """Serving-path query collects must fail LOUDLY past QUERY_BATCH_CAP
    (VERDICT r17 task 2) instead of OOM-ing the driver."""
    monkeypatch.setattr(S, "QUERY_BATCH_CAP", 10)
    with pytest.raises(ValueError, match="QUERY_BATCH_CAP"):
        S.two_stage_topk(emb, F.lit(True), k=3)


def test_query_batch_cap_is_inclusive(spark, emb, monkeypatch):
    """A query batch of exactly QUERY_BATCH_CAP rows is collected and
    served, with the rows of the uncapped call; one row past the cap
    refuses."""
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    n_q = emb.filter(qf).count()
    want = {tuple(r) for r in S.two_stage_topk(emb, qf, k=3).collect()}
    monkeypatch.setattr(S, "QUERY_BATCH_CAP", n_q)
    got = {tuple(r) for r in S.two_stage_topk(emb, qf, k=3).collect()}
    assert got == want and len(got) == 3 * n_q
    monkeypatch.setattr(S, "QUERY_BATCH_CAP", n_q - 1)
    with pytest.raises(ValueError, match="QUERY_BATCH_CAP"):
        S.two_stage_topk(emb, qf, k=3)


@pytest.fixture(scope="module")
def ivf_index(emb, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("ivf") / "index")
    S.write_ivf_index(emb, path)
    return path


@pytest.mark.parametrize(
    "op", ["two_stage_ivf_topk_indexed", "pq_topk_indexed", "ivfpq_topk"]
)
def test_query_batch_cap_refuses_indexed_probe_batch(
    spark, emb, pq_books, ivf_index, ivfpq_index, tmp_path, monkeypatch, op
):
    if op == "two_stage_ivf_topk_indexed":
        path, books = ivf_index, ()
    elif op == "pq_topk_indexed":
        path, books = str(tmp_path / "pq_cap"), (pq_books,)
        S.write_pq_index(emb, path, pq_books)
    else:
        path, books = ivfpq_index, (pq_books,)
    monkeypatch.setattr(S, "QUERY_BATCH_CAP", 10)
    with pytest.raises(ValueError, match="QUERY_BATCH_CAP"):
        getattr(S, op)(emb, path, F.lit(True), *books, k=3)


@pytest.mark.parametrize("op", ["two_stage_ivf_topk_indexed", "ivfpq_topk"])
def test_zero_query_probes_lowest_centroids(
    spark, emb, pq_books, ivf_index, ivfpq_index, op
):
    """Zero-norm guard of the driver-side probe pick: an all-zero query
    vector scores below every real cosine, so it probes the nprobe
    lowest centroid ids. Its batch completes, its rows are the lowest
    vec_ids of those cells (every score ties), and the other queries'
    rows are unchanged."""
    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    zid = (emb.agg(F.max("vec_id")).first()[0] // QUERY_FILTER_MOD + 1) * QUERY_FILTER_MOD
    zero = (
        emb.limit(1)
        .withColumn("vec_id", F.lit(zid).cast("bigint"))
        .withColumn("embedding", F.transform("embedding", lambda v: F.lit(0.0).cast("float")))
    )
    if op == "two_stage_ivf_topk_indexed":
        path = ivf_index

        def run(e):
            return S.two_stage_ivf_topk_indexed(e, path, qf, k=K).collect()
    else:
        path = ivfpq_index

        def run(e):
            return S.ivfpq_topk(e, path, qf, pq_books, k=K).collect()

    got = run(emb.unionByName(zero))
    assert {tuple(r) for r in got if r.query_id != zid} == {tuple(r) for r in run(emb)}
    lowest = sorted(
        r.centroid_id for r in spark.read.parquet(path + "/centroids").collect()
    )[: S.IVF_NPROBE]
    cells = sorted(
        r.vec_id
        for r in spark.read.parquet(path + "/codes")
        .filter(F.col("centroid_id").isin(lowest))
        .collect()
    )
    zero_rows = sorted((r for r in got if r.query_id == zid), key=lambda r: r.rank)
    assert [r.vec_id for r in zero_rows] == cells[:K]


def test_driver_probes_and_luts_match_in_plan_state(spark, emb, pq_books):
    """The driver-side serving state is bit-identical to the in-plan
    expressions it replaces: ``_driver_probes`` picks the
    (query_id, centroid_id) pairs of ``_probe_centroids``' window,
    ``fold_norms`` gives l2_norm's bits, and ``_query_luts`` gives the
    bits of ``pq_adc_scores``' expression-built lookup tables."""
    import numpy as np

    from parallel_map_reduce_spark.functions.vector import l2_norm
    from parallel_map_reduce_spark.kernels import fold_norms

    def bits(x):
        return np.array(x, dtype=np.float64).view(np.int64).tolist()

    qf = F.col("vec_id") % QUERY_FILTER_MOD == 0
    cents = S.train_ivf_centroids(emb, S.IVF_K)
    q = emb.filter(qf).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        l2_norm("embedding").alias("q_norm"),
    )
    in_plan = {
        (r.query_id, r.centroid_id)
        for r in S._probe_centroids(q, cents, S.IVF_NPROBE).collect()
    }
    qrows = q.collect()
    q_mat = np.array([r.q_emb for r in qrows], dtype=np.float64)
    assert bits(fold_norms(q_mat)) == bits([r.q_norm for r in qrows])
    picks = S._driver_probes(
        q_mat, [r.q_norm for r in qrows], cents.collect(), S.IVF_NPROBE
    )
    driver = {(r.query_id, cid) for r, cids in zip(qrows, picks) for cid in cids}
    assert driver == in_plan and len(driver) == len(qrows) * S.IVF_NPROBE

    expr_luts = (
        S.pq_adc_scores(emb, qf, pq_books)
        .select("query_id", "q_nemb", "lut")
        .dropDuplicates(["query_id"])
        .collect()
    )
    assert expr_luts
    luts = S._query_luts([list(r.q_nemb) for r in expr_luts], pq_books)
    assert bits(luts) == bits([r.lut for r in expr_luts])


def test_gemm_query_broadcast_path_is_bit_identical(spark, emb):
    """Forcing the broadcast payload path (|Q| >= GEMM_BROADCAST_MIN_Q)
    must produce exactly the closure-path rows."""
    qf = F.col("vec_id") % 50 == 0
    base = {tuple(r) for r in S.two_stage_topk(emb, qf, k=5).collect()}
    import unittest.mock as mock

    with mock.patch.object(S, "GEMM_BROADCAST_MIN_Q", 1):
        bcast = {tuple(r) for r in S.two_stage_topk(emb, qf, k=5).collect()}
    assert base == bcast and len(base) > 0


def test_pair_kernel_block_cap_trips_on_hot_label(spark, monkeypatch):
    """A pathologically hot label must raise the PAIR_BLOCK_ROW_CAP
    guard loudly instead of silently concentrating O(n^2) work/memory
    in one task (VERDICT r17 task 6)."""
    monkeypatch.setattr(S, "PAIR_BLOCK_ROW_CAP", 8)
    rows = [(i, "hot", [float(i % 3), 1.0]) for i in range(20)]
    hot = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    with pytest.raises(Exception, match="PAIR_BLOCK_ROW_CAP"):
        S.label_blocked_neardup(hot, threshold=0.0).collect()


def test_pair_kernel_block_cap_is_inclusive(spark, monkeypatch):
    """A label block of exactly PAIR_BLOCK_ROW_CAP rows pairs; one row
    fewer in the cap refuses it."""
    rows = [(i, "hot", [float(i % 3), 1.0]) for i in range(20)]
    hot = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    monkeypatch.setattr(S, "PAIR_BLOCK_ROW_CAP", 20)
    assert len(S.label_blocked_neardup(hot, threshold=0.0).collect()) == 20 * 19 // 2
    monkeypatch.setattr(S, "PAIR_BLOCK_ROW_CAP", 19)
    with pytest.raises(Exception, match="PAIR_BLOCK_ROW_CAP"):
        S.label_blocked_neardup(hot, threshold=0.0).collect()


def test_semdedup_kernel_block_cap_trips_on_hot_cluster(spark, monkeypatch):
    monkeypatch.setattr(S, "PAIR_BLOCK_ROW_CAP", 8)
    rows = [(i, [1.0 + (i % 5) * 1e-6, 1.0]) for i in range(24)]
    emb_hot = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.raises(Exception, match="PAIR_BLOCK_ROW_CAP"):
        S.semantic_dedup(emb_hot, threshold=0.0, n_centroids=1).collect()


def test_label_kernel_skips_null_labels(spark):
    """NULL-labeled rows never pair (SQL null-equality semantics of the
    join the kernel replaced — ADVICE r17)."""
    rows = [
        (1, None, [1.0, 0.0]),
        (2, None, [1.0, 0.0]),
        (3, "a", [0.0, 1.0]),
        (4, "a", [0.0, 1.0]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "label", "embedding"])
    out = S.label_blocked_neardup(df, threshold=0.5).collect()
    assert {(r.vec_a, r.vec_b) for r in out} == {(3, 4)}


def test_assign_kernel_matches_crossjoin_form(spark, emb):
    """The Arrow assignment path is bit-identical to the crossJoin +
    max_by form it replaced (order-matched accumulation, first-max
    argmax == (c_cos, -cid) tie-break)."""
    from pyspark.sql import functions as FF

    from parallel_map_reduce_spark.functions.vector import dot, l2_norm

    cents = S.train_ivf_centroids(emb, k=8, iters=1)
    e = emb.select("vec_id", "embedding").withColumn("nrm", l2_norm("embedding"))
    kernel = S._assign_to_centroids(e, cents)
    scored = e.crossJoin(FF.broadcast(cents)).withColumn(
        "c_cos", dot("embedding", "c_emb") / (FF.col("nrm") * FF.col("c_nrm"))
    )
    legacy = scored.groupBy("vec_id").agg(
        FF.first("embedding").alias("embedding"),
        FF.first("nrm").alias("nrm"),
        FF.max_by(
            "centroid_id",
            FF.struct(FF.col("c_cos"), (-FF.col("centroid_id")).alias("t")),
        ).alias("centroid_id"),
    )
    k_rows = {r.vec_id: (tuple(r.embedding), r.nrm, r.centroid_id) for r in kernel.collect()}
    l_rows = {r.vec_id: (tuple(r.embedding), r.nrm, r.centroid_id) for r in legacy.collect()}
    assert k_rows == l_rows and len(k_rows) > 0


def test_assign_reads_back_parquet_centroids(spark, emb, tmp_path):
    """A centroid frame without the driver-side copy (here, read back
    from parquet) is collected once and takes the same Arrow path: the
    same assignments as the ``_centroid_df`` frame, no pair join."""
    from parallel_map_reduce_spark.functions.vector import l2_norm

    cents = S.train_ivf_centroids(emb, k=8, iters=1)
    path = str(tmp_path / "cents")
    cents.write.parquet(path)
    read_back = spark.read.parquet(path)
    assert not hasattr(read_back, "_pmrs_local_cents")
    e = emb.select("vec_id", "embedding").withColumn("nrm", l2_norm("embedding"))
    got_df = S._assign_to_centroids(e, read_back)
    got = {(r.vec_id, r.nrm, r.centroid_id) for r in got_df.collect()}
    want = {
        (r.vec_id, r.nrm, r.centroid_id)
        for r in S._assign_to_centroids(e, cents).collect()
    }
    assert got == want and len(got) == emb.count()
    plan = got_df._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "NestedLoopJoin" not in plan


def test_ann_family_ranks_through_one_topk():
    """The ANN family's "rank within query_id, keep <= n" window is
    written once, in ``_topk``, and the scalar ``_seq_dot`` replica of
    ``kernels.fold_dot`` stays deleted: a copy that comes back fails
    here."""
    import ast
    import inspect

    src = inspect.getsource(S)
    topk = next(
        n for n in ast.parse(src).body
        if isinstance(n, ast.FunctionDef) and n.name == "_topk"
    )
    body = ast.get_source_segment(src, topk)
    outside = src.replace(body, "")
    for needle in ('Window.partitionBy("query_id")', "row_number("):
        assert needle in body
        assert needle not in outside, needle
    assert "def _seq_dot" not in src


def test_driver_probes_rank_zero_norm_products_last():
    """``_driver_probes``' zero-norm guard: a zero centroid never
    outranks a real cosine, and an all-zero query (every product zero)
    probes the lowest centroid ids."""
    from pyspark.sql import Row

    cents = [
        Row(centroid_id=c, c_emb=v, c_nrm=n)
        for c, v, n in [
            (0, [0.0, 0.0], 0.0),
            (1, [1.0, 0.0], 1.0),
            (2, [-1.0, 0.0], 1.0),
            (3, [0.0, 1.0], 1.0),
        ]
    ]
    picks = S._driver_probes([[-1.0, 0.0], [0.0, 0.0]], [1.0, 0.0], cents, 3)
    assert picks == [[2, 3, 1], [0, 1, 2]]
