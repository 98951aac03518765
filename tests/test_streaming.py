"""Batch/stream equivalence for the Structured Streaming pipelines.

Each test drains the stream with trigger(availableNow=True) into a
memory sink, then runs the SAME logical plan as batch on the same files
and compares full result sets — the strongest equivalence check the
file source allows.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from parallel_map_reduce_spark.sources.catalog import load_table
from parallel_map_reduce_spark.streaming import events_stream as ES
from parallel_map_reduce_spark.streaming import sessionize as SZ
from parallel_map_reduce_spark.streaming.drain import drain


def _rows_set(df):
    return {tuple(r) for r in df.collect()}


@pytest.fixture(scope="module")
def batch_events(spark, sf_dir):
    return load_table(spark, sf_dir, "events").cache()


def test_hourly_tumbling_stream_matches_batch(spark, sf_dir, batch_events):
    stream = ES.hourly_tumbling_stream(ES.read_events_stream(spark, sf_dir))
    drain(stream, "complete", table="t_hourly")
    got = _rows_set(spark.table("t_hourly"))
    want = _rows_set(
        batch_events.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double").alias("sum_value"),
        )
        .select(
            F.unix_micros("w.start").alias("window_start_us"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )
    assert got == want and len(got) > 0


def test_sliding_stream_matches_batch_counts(spark, sf_dir, batch_events):
    stream = ES.sliding_windows_stream(ES.read_events_stream(spark, sf_dir))
    drain(stream, "complete", table="t_sliding")
    got = _rows_set(spark.table("t_sliding").select("window_start_us", "n_events"))
    want = _rows_set(
        batch_events.groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(F.count("*").alias("n_events"))
        .select(F.unix_micros("w.start").alias("window_start_us"), "n_events")
    )
    assert got == want and len(got) > 0


def test_session_window_stream_matches_batch(spark, sf_dir, batch_events):
    stream = SZ.session_window_agg(ES.read_events_stream(spark, sf_dir), streaming=True)
    drain(stream, "complete", table="t_sessions")
    got = _rows_set(spark.table("t_sessions"))
    want = _rows_set(SZ.session_window_agg(batch_events, streaming=False))
    assert got == want and len(got) > 0


def test_stateful_counts_total(spark, sf_dir, batch_events):
    """applyInPandasWithState: the per-user max running count must equal
    the batch per-user count (update-mode emits one row per microbatch;
    the final/maximum value is the total)."""
    stream = SZ.stateful_session_counts(ES.read_events_stream(spark, sf_dir))
    drain(stream, "update", table="t_stateful")
    got = {
        r.user_id: r.max_n
        for r in spark.table("t_stateful")
        .groupBy("user_id")
        .agg(F.max("n_events").alias("max_n"))
        .collect()
    }
    want = {
        r.user_id: r.n
        for r in batch_events.groupBy("user_id").agg(F.count("*").alias("n")).collect()
    }
    assert got == want and len(got) > 0


def test_watermark_append_multibatch(spark, tmp_path, batch_events):
    """Watermark semantics across multiple microbatches: events split into
    3 time-ordered files → 3 batches (maxFilesPerTrigger=1); append-mode
    tumbling agg emits ONLY windows finalized by the advancing watermark,
    and every emitted window's count equals the batch computation."""
    import time as _time

    from pyspark.sql import functions as F

    e = batch_events.select("ts", "event_type", "value")
    lo, hi = e.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / 3
    stage = tmp_path / "staged"
    stage.mkdir()
    for i in range(3):
        a = lo + i * span
        b = hi if i == 2 else lo + (i + 1) * span
        part = e.filter((F.col("ts") >= F.lit(a)) & (F.col("ts") <= F.lit(b)) if i == 2
                        else (F.col("ts") >= F.lit(a)) & (F.col("ts") < F.lit(b)))
        part.coalesce(1).write.mode("overwrite").parquet(str(stage / f"b{i}"))
        _time.sleep(1.1)  # file-source orders batches by mod time

    stream = (
        spark.readStream.schema("ts TIMESTAMP, event_type STRING, value DOUBLE")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stage / "b*"))
        .withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), F.col("w.end").alias("we"), "event_type", "n")
    )
    drain(stream, "append", table="t_append_wm")
    emitted = spark.table("t_append_wm").collect()
    assert emitted, "append mode emitted nothing — watermark never advanced"

    batch = {
        (r.ws, r.event_type): r.n
        for r in e.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("w.start").alias("ws"), "event_type", "n")
        .collect()
    }
    cutoff = hi  # no window past the data can be emitted
    for r in emitted:
        assert r.we <= cutoff
        assert batch[(r.ws, r.event_type)] == r.n, (r.ws, r.event_type)
    # windows well before the final watermark must all have been emitted
    from datetime import timedelta
    final_wm = hi - timedelta(hours=2)
    emitted_keys = {(r.ws, r.event_type) for r in emitted}
    for (ws, et), n in batch.items():
        if ws + timedelta(hours=1) < final_wm - timedelta(hours=1):
            assert (ws, et) in emitted_keys, f"window {ws}/{et} never finalized"


def test_foreach_batch_parquet_sink(spark, sf_dir, tmp_path):
    """foreachBatch drain into parquet must round-trip the same rows the
    memory-sink drain produces (the production sink shape vs the test
    sink shape)."""
    from parallel_map_reduce_spark.streaming import events_stream as ES

    out = str(tmp_path / "stream_parquet")
    stream = ES.hourly_tumbling_stream(ES.read_events_stream(spark, sf_dir))
    drain(
        stream,
        "complete",
        foreach_batch=lambda df, _: df.write.mode("append").parquet(out),
    )

    back = spark.read.parquet(out)
    # compare against the registered live query (memory drain)
    from parallel_map_reduce_spark.registry import all_queries

    mem = all_queries()["streaming_hourly_tumbling"].build(spark, sf_dir)
    assert back.count() == mem.count()
    assert back.exceptAll(mem).isEmpty() and mem.exceptAll(back).isEmpty()


def test_update_mode_single_batch_equals_complete(spark, sf_dir):
    """Single-batch availableNow drain: update mode must emit exactly
    the complete-mode state (every group updated once)."""
    from parallel_map_reduce_spark.streaming import events_stream as ES

    upd = ES.hourly_tumbling_stream(ES.read_events_stream(spark, sf_dir))
    drain(upd, "update", table="upd_mode_check")
    got = spark.table("upd_mode_check")

    from parallel_map_reduce_spark.registry import all_queries

    complete = all_queries()["streaming_hourly_tumbling"].build(spark, sf_dir)
    assert got.count() == complete.count()
    assert got.exceptAll(complete).isEmpty() and complete.exceptAll(got).isEmpty()


def test_checkpoint_restart_processes_only_delta(spark, sf_dir, tmp_path):
    """Exactly-once incremental ingest: a checkpointed file-source query
    drained twice — second run sees a NEW file and must process only it
    (no reprocessing, no loss). This is the property that makes the
    streaming pipeline restartable at 100 TB: offsets live in the
    checkpoint, output dedup in the sink's commit log."""
    import pyspark.sql.functions as F

    from parallel_map_reduce_spark.sources.catalog import load_table

    src = tmp_path / "incoming"
    sink = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    src.mkdir()

    e = load_table(spark, sf_dir, "events").select("event_id", "user_id", "value")
    a = e.filter(F.col("event_id") % 2 == 0)
    b = e.filter(F.col("event_id") % 2 == 1)
    a.coalesce(1).write.parquet(str(src / "batch_a"))

    def drain():
        q = (
            spark.readStream.schema("event_id LONG, user_id LONG, value DOUBLE")
            .option("recursiveFileLookup", "true")
            .parquet(str(src))
            .writeStream.format("parquet")
            .option("path", str(sink))
            .option("checkpointLocation", str(ckpt))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    drain()
    n_a = a.count()
    assert spark.read.parquet(str(sink)).count() == n_a

    b.coalesce(1).write.parquet(str(src / "batch_b"))
    drain()
    out = spark.read.parquet(str(sink))
    assert out.count() == n_a + b.count()  # delta only, nothing twice
    # every event exactly once
    assert out.groupBy("event_id").count().filter("count > 1").count() == 0


def test_stream_outer_interval_join_semantics(spark, sf_dir, batch_events):
    """LEFT OUTER stream-stream interval join: matched rows emit on
    match and must equal the batch inner join exactly; null-padded rows
    emit only as the watermark evicts state, so they are a SUBSET of the
    batch-unmatched purchases — with the remainder withheld near the
    stream's end, never fabricated, never duplicated. (The exact
    eviction boundary depends on when the engine applies the final
    watermark update, which is why this is a pytest contract and not a
    value oracle.)"""
    from parallel_map_reduce_spark.streaming import events_stream as ES

    p = (
        ES.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", ES.WATERMARK)
    )
    c = (
        ES.read_events_stream(spark, sf_dir)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("c_ts"),
        )
        .withWatermark("c_ts", ES.WATERMARK)
    )
    cond = F.expr("p_user = c_user AND c_ts >= p_ts - INTERVAL 1 HOUR AND c_ts <= p_ts")
    drain(p.join(c, cond, "left_outer"), "append", table="t_outer_join")
    out = spark.table("t_outer_join")

    ep = batch_events.filter(F.col("event_type") == "purchase")
    ec = batch_events.filter(F.col("event_type") == "click")
    batch_matched = ep.alias("p").join(
        ec.alias("c"),
        (F.col("p.user_id") == F.col("c.user_id"))
        & (F.col("c.ts") >= F.col("p.ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("c.ts") <= F.col("p.ts")),
    ).select(
        F.col("p.event_id").alias("purchase_id"),
        F.col("c.event_id").alias("click_id"),
    )

    got_matched = out.filter(F.col("click_id").isNotNull()).select(
        "purchase_id", "click_id"
    )
    assert got_matched.exceptAll(batch_matched).isEmpty()
    assert batch_matched.exceptAll(got_matched).isEmpty()

    n_purchases = ep.count()
    batch_unmatched = ep.select(F.col("event_id").alias("purchase_id")).join(
        batch_matched.select("purchase_id").distinct(), "purchase_id", "left_anti"
    )
    got_nulls = out.filter(F.col("click_id").isNull()).select("purchase_id")
    assert got_nulls.count() == got_nulls.distinct().count(), "duplicate null rows"
    assert got_nulls.join(batch_unmatched, "purchase_id", "left_anti").isEmpty(), (
        "null row fabricated for a matched purchase"
    )
    withheld = batch_unmatched.count() - got_nulls.count()
    assert 0 <= withheld <= max(10, 0.01 * n_purchases), withheld


def test_streaming_inverted_index_equals_batch_flagship(spark, sf_dir):
    """The availableNow drain of the LIVE index-maintenance stream must
    equal the batch flagship inverted index EXACTLY — same tokenization
    contract, same posting-list rendering, row for row."""
    from parallel_map_reduce_spark.queries.core import q_inverted_index
    from parallel_map_reduce_spark.streaming import curation_stream as CS
    from parallel_map_reduce_spark.streaming import events_stream as ES
    from parallel_map_reduce_spark.streaming import index_stream as IS

    stream = IS.inverted_index_stream(CS.read_documents_stream(spark, sf_dir))
    drain(stream, "complete", table="t_live_index")
    live = sorted(map(tuple, spark.table("t_live_index").collect()))
    batch = sorted(map(tuple, q_inverted_index(spark, sf_dir).collect()))
    assert live == batch


def test_cdc_sequential_batches_equal_one_shot(spark, sf_dir, tmp_path):
    """Applying the change feed in generation-ordered micro-batches
    (via apply_feed_batch, the exact foreachBatch body) must converge
    to the one-shot batch MERGE — the confluence property run_cdc_apply
    relies on."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.queries.relational import (
        cdc_feed,
        cdc_present,
        cdc_snapshot,
        orders_cdc_merge,
    )
    from parallel_map_reduce_spark.sources.catalog import load_table
    from parallel_map_reduce_spark.streaming.cdc_stream import apply_feed_batch

    o = load_table(spark, sf_dir, "orders")
    store = str(tmp_path / "store")
    cdc_snapshot(o).withColumn("src", F.lit("K")).write.parquet(store + "/v0")
    feed = cdc_feed(o)
    v = 0
    for gen in (1, 2, 3):  # one micro-batch per feed generation
        v = apply_feed_batch(spark, store, v, feed.filter(F.col("seq") == gen))
    assert v == 3
    seq = sorted(
        map(tuple, cdc_present(spark.read.parquet(f"{store}/v{v}")).collect())
    )
    one_shot = sorted(map(tuple, orders_cdc_merge(spark, sf_dir).collect()))
    assert seq == one_shot


def test_cdc_update_after_delete_upserts(spark, tmp_path):
    """Cross-batch resurrection: a key deleted in batch 1 and updated
    in batch 2 (higher sequence) must exist afterwards with the update's
    payload — matching one-shot latest-wins."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.streaming.cdc_stream import apply_feed_batch

    snap = spark.createDataFrame(
        [(1, "a", "K")], "o_orderkey INT, v STRING, src STRING"
    )
    store = str(tmp_path / "s2")
    snap.write.parquet(store + "/v0")

    def batch(rows):
        return spark.createDataFrame(
            rows, "o_orderkey INT, seq INT, op STRING, v STRING"
        ).withColumn("src", F.col("op"))

    v = apply_feed_batch(spark, store, 0, batch([(1, 1, "D", None)]))
    assert [r["o_orderkey"] for r in spark.read.parquet(f"{store}/v{v}").collect()] == []
    v = apply_feed_batch(spark, store, v, batch([(1, 2, "U", "a2")]))
    rows = spark.read.parquet(f"{store}/v{v}").collect()
    assert [(r["o_orderkey"], r["v"], r["src"]) for r in rows] == [(1, "a2", "U")]


def test_streaming_neardup_lsh_equals_batch_incremental(spark, sf_dir):
    """The ingest-time LSH drain must find exactly the batch
    incremental run's collision pairs."""
    from parallel_map_reduce_spark.queries.dedup import dedup_incremental_lsh
    from parallel_map_reduce_spark.streaming.dedup_stream import (
        run_incremental_lsh_stream,
    )

    live = sorted(
        (r["new_doc"], r["corpus_doc"])
        for r in run_incremental_lsh_stream(spark, sf_dir).collect()
    )
    batch = sorted(
        (r["new_doc"], r["corpus_doc"])
        for r in dedup_incremental_lsh(spark, sf_dir).collect()
    )
    assert live == batch
    # ... and the registered DuckDB oracle (the shared band CTE and
    # band-join SQL), recomputed from scratch on both sides.
    import duckdb

    from parallel_map_reduce_spark.registry import all_queries

    con = duckdb.connect()
    con.sql(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    oracle = sorted(con.execute(all_queries()["streaming_neardup_lsh"].oracle).fetchall())
    assert live == oracle and len(live) > 0


def test_streaming_ivfpq_index_equals_batch_store(spark, sf_dir, tmp_path):
    """The drained incremental index EQUALS the batch-built one
    row-for-row: coarse assignment and PQ encoding are deterministic
    per-row projections of frozen quantizers, so micro-batch boundaries
    cannot change a single code. This is the property that makes
    append-only maintenance sound — serving never needs to know which
    rows arrived streaming."""
    from pyspark.sql import functions as F

    from parallel_map_reduce_spark.operators.similarity import write_ivfpq_index
    from parallel_map_reduce_spark.queries.similarity import (
        _pretrained_cents,
        _pretrained_pq_books,
    )
    from parallel_map_reduce_spark.sources.catalog import load_table
    from parallel_map_reduce_spark.streaming.ann_index_stream import (
        run_ivfpq_index_stream,
    )

    drained = {
        (r.vec_id, r.centroid_id, r.codes_str)
        for r in run_ivfpq_index_stream(spark, sf_dir).collect()
    }
    emb = load_table(spark, sf_dir, "embeddings")
    idx = str(tmp_path / "ivfpq_batch")
    write_ivfpq_index(
        emb, idx, _pretrained_pq_books(spark, sf_dir), _pretrained_cents(spark, sf_dir)
    )
    batch = {
        (r.vec_id, r.centroid_id, r.codes_str)
        for r in spark.read.parquet(idx + "/codes")
        .select(
            "vec_id",
            F.col("centroid_id").cast("int").alias("centroid_id"),
            F.array_join(
                F.transform("codes", lambda c: c.cast("string")), ","
            ).alias("codes_str"),
        )
        .collect()
    }
    assert drained == batch and len(drained) == emb.count()


def test_streaming_band_index_equals_batch_derivation(spark, sf_dir):
    """The live band-store drain (streaming half of the promotion
    lifecycle) must equal the one-shot batch derivation row-for-row —
    signatures are deterministic projections, so micro-batch
    boundaries cannot leave a trace."""
    from parallel_map_reduce_spark.operators.dedup import lsh_band_signatures
    from parallel_map_reduce_spark.sources.catalog import load_table
    from parallel_map_reduce_spark.streaming.dedup_stream import (
        run_band_index_stream,
    )

    drained = {
        (r.doc_id, r.band, r.sig)
        for r in run_band_index_stream(spark, sf_dir).collect()
    }
    batch = {
        (r.doc_id, r.band, r.sig)
        for r in lsh_band_signatures(load_table(spark, sf_dir, "documents")).collect()
    }
    assert drained == batch and len(drained) > 0


def test_band_index_drain_crash_restart_recovers(spark, sf_dir, tmp_path):
    """VERDICT r13 task 5: kill-and-restart-from-checkpoint for the
    live band-store maintenance drain, mid-promotion. The source is
    staged as four files with maxFilesPerTrigger=1 (four epochs); the
    drain is crashed in the at-least-once window of epoch 1 — sink
    rows written, checkpoint NOT committed. The restart must (a)
    resume from the checkpoint, (b) REPLAY the crashed epoch (the raw
    store then holds duplicate rows — proof the crash landed where
    planted), and (c) serve a store that row-for-row equals the batch
    derivation after the .distinct() discipline absorbs the replay."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from parallel_map_reduce_spark.operators.dedup import lsh_band_signatures
    from parallel_map_reduce_spark.sources.catalog import load_table
    from parallel_map_reduce_spark.streaming.curation_stream import (
        DOCUMENTS_RAW_SCHEMA,
    )
    from parallel_map_reduce_spark.streaming.dedup_stream import (
        band_index_store,
        drain_band_index,
    )

    src = tmp_path / "incoming"
    store = tmp_path / "band_store"
    ckpt = tmp_path / "ckpt"
    store.mkdir()
    docs = load_table(spark, sf_dir, "documents")
    docs.select("doc_id", "text", "lang", "source", "n_chars").repartition(
        4
    ).write.parquet(str(src))

    def stream():
        return (
            spark.readStream.schema(DOCUMENTS_RAW_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )

    with pytest.raises((StreamingQueryException, Py4JJavaError)):
        drain_band_index(
            spark, stream(), str(store), str(ckpt), fail_after_epochs=1
        )
    partial = spark.read.parquet(str(store))
    n_partial = partial.count()
    assert n_partial > 0, "crash landed before any sink write"

    batch = {
        (r.doc_id, r.band, r.sig)
        for r in lsh_band_signatures(docs).collect()
    }
    assert n_partial < len(batch), "crash did not interrupt the drain"

    # restart from the same checkpoint — no source rescan, no fresh store
    drain_band_index(spark, stream(), str(store), str(ckpt))
    raw = spark.read.parquet(str(store))
    assert raw.count() > len(batch), (
        "no replayed epoch — the planted crash window was not exercised"
    )
    served = {
        (r.doc_id, r.band, r.sig)
        for r in band_index_store(spark, str(store)).collect()
    }
    assert served == batch


def test_fresh_result_dir_sweep_guards(tmp_path, monkeypatch):
    """The stale-sibling sweep must (a) never treat a dir named "0" as
    alive — os.kill(0, 0) signals our own process group and always
    succeeds — and (b) age out day-old dirs whose pid check passes
    (recycled-pid hazard). Advisor r14. Pure-filesystem test, no Spark."""
    import os
    import time as _time

    from parallel_map_reduce_spark.streaming.drain import fresh_result_dir

    monkeypatch.setattr(
        "tempfile.gettempdir", lambda: str(tmp_path)
    )
    parent = tmp_path / "pmrs_sweeptest"
    parent.mkdir()
    zero = parent / "0"
    zero.mkdir()
    neg = parent / "-1"
    neg.mkdir()
    # a live-pid sibling with day-old mtime: ages out
    old_live = parent / str(os.getppid())
    old_live.mkdir()
    day_ago = _time.time() - 2 * 86400
    os.utime(old_live, (day_ago, day_ago))
    # our own pid dir is skipped by the pid==getpid() branch
    own = parent / str(os.getpid())
    own.mkdir()

    out = fresh_result_dir("pmrs_sweeptest", str(tmp_path / "sf"))
    assert not zero.exists(), "dir named '0' must be swept"
    assert not neg.exists(), "negative-pid dir must be swept"
    assert not old_live.exists(), "day-old live-pid dir must age out"
    assert own.exists(), "our own pid dir is never swept"
    assert os.path.isdir(out)


def test_live_stores_sweep_dead_siblings_and_keep_one(spark, sf_dir, tmp_path, monkeypatch):
    """The cdc and ann-index drains keep their final store under
    fresh_result_dir: a dead process's store is swept on the next run,
    and repeat runs in one process reuse one store per kind."""
    import os
    import subprocess
    import sys

    from parallel_map_reduce_spark.queries.streaming_live import (
        streaming_cdc_apply,
        streaming_ivfpq_index,
    )

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    child = subprocess.Popen([sys.executable, "-c", ""])
    child.wait()
    kinds = ("pmrs_cdc_store", "pmrs_ann_index_stream")
    for kind in kinds:
        (tmp_path / kind / str(child.pid) / "stale").mkdir(parents=True)

    for _ in range(2):
        assert streaming_cdc_apply(spark, sf_dir).count() > 0
        assert streaming_ivfpq_index(spark, sf_dir).count() > 0

    for kind in kinds:
        assert os.listdir(tmp_path / kind) == [str(os.getpid())], kind
        assert len(os.listdir(tmp_path / kind / str(os.getpid()))) == 1, kind


def test_failing_drain_removes_its_checkpoint(spark, tmp_path, monkeypatch):
    """A foreachBatch function that raises fails the drain, and the
    checkpoint the helper made is removed all the same."""
    from pyspark.errors import StreamingQueryException

    monkeypatch.setattr("tempfile.gettempdir", lambda: str(tmp_path))
    src = tmp_path / "src"
    spark.range(10).write.parquet(str(src))
    stream = spark.readStream.schema("id BIGINT").parquet(str(src))
    seen = []

    def _fail(batch_df, epoch_id):
        seen.extend(p.name for p in tmp_path.glob("pmrs_drain_ckpt_*"))
        raise RuntimeError("planted sink failure")

    with pytest.raises(StreamingQueryException, match="planted sink failure"):
        drain(stream, foreach_batch=_fail)
    assert len(seen) == 1, "the drain ran without a helper-made checkpoint"
    assert not list(tmp_path.glob("pmrs_drain_ckpt_*"))


def test_drain_drops_the_views_it_names(spark, tmp_path):
    """A memory-sink drain without a ``table`` leaves no temp view
    behind, and each returned frame still collects its rows; a drain
    given a ``table`` keeps that table listed under its name."""
    src = tmp_path / "src"
    spark.range(3).write.parquet(str(src))

    def stream():
        return spark.readStream.schema("id BIGINT").parquet(str(src))

    def views() -> set[str]:
        return {t.name for t in spark.catalog.listTables()}

    before = views()
    outs = [drain(stream())[0] for _ in range(3)]
    assert views() == before
    for out in outs:
        assert sorted(r.id for r in out.collect()) == [0, 1, 2]

    named, _ = drain(stream(), table="pmrs_named_drain")
    try:
        assert views() == before | {"pmrs_named_drain"}
        assert named.count() == 3
    finally:
        spark.catalog.dropTempView("pmrs_named_drain")
