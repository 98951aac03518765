"""RocksDB state store: the 100 TB stateful-streaming configuration.

The default HDFS-backed state store keeps every key in executor heap —
fine at test scale, an OOM ceiling when stateful aggregations hold
hundreds of millions of open windows/sessions. Spark's bundled
RocksDBStateStoreProvider spills state to local disk with bounded
memory, which is the provider any large stateful deployment runs.
These tests pin (a) that the provider actually engages in this
environment (it is a conf, silently ignored if the class were absent)
and (b) that a watermarked windowed aggregation drains to EXACTLY the
same results under both providers — state backend choice must be an
operational knob, never a semantics change.

Uses a dedicated SparkSession (provider is a cloneSession-inherited
conf; the shared fixture session must stay on defaults so other
streaming tests keep pinning the default path).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

ROCKSDB = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


@pytest.fixture()
def rocks_spark(spark):
    s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB)
    yield s
    s.conf.unset("spark.sql.streaming.stateStore.providerClass")


def _drain(session, sf_dir, table_name):
    from parallel_map_reduce_spark.streaming.events_stream import (
        hourly_tumbling_stream,
        read_events_stream,
    )
    from parallel_map_reduce_spark.streaming.drain import drain

    stream = hourly_tumbling_stream(read_events_stream(session, sf_dir))
    drain(stream, "complete", table=table_name)
    return {
        (r.window_start_us, r.event_type): (r.n_events, r.sum_value)
        for r in session.sql(f"SELECT * FROM {table_name}").collect()
    }


def test_rocksdb_provider_matches_default_provider(spark, sf_dir):
    default = _drain(spark.newSession(), sf_dir, "t_state_default")
    rocks_session = spark.newSession()
    rocks_session.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB
    )
    rocks = _drain(rocks_session, sf_dir, "t_state_rocksdb")
    assert rocks == default and len(rocks) > 0


def test_rocksdb_provider_engages(rocks_spark):
    """The provider must actually be active, not silently defaulted:
    drain a tiny stateful rate-source query and check the query's last
    progress reports RocksDB state store custom metrics (only the
    RocksDB provider emits them)."""
    df = (
        rocks_spark.readStream.format("rate")
        .option("rowsPerSecond", "500")
        .load()
        .groupBy(F.window("timestamp", "1 second"))
        .count()
    )
    from parallel_map_reduce_spark.streaming.drain import drain

    _, q = drain(df, "complete", table="t_rocks_engage")
    progress = q.lastProgress
    state_ops = progress["stateOperators"]
    assert state_ops, "no stateful operator in progress"
    custom = state_ops[0].get("customMetrics", {})
    assert any("rocksdb" in k.lower() for k in custom), (
        f"RocksDB metrics absent — provider not engaged: {list(custom)[:5]}"
    )


def test_streaming_inverted_index_runs_on_rocksdb(spark, sf_dir):
    """The registered drain (r15) must run on RocksDB end-to-end: the
    drain itself raises if the provider's custom metrics are absent,
    so a clean return IS the engagement proof — and the parent
    session's provider conf must stay untouched (the engine owns a
    clone; the driver's bare session is never mutated)."""
    from parallel_map_reduce_spark.queries.streaming_live import (
        streaming_inverted_index,
    )

    before = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "DEFAULT"
    )
    out = streaming_inverted_index(spark, sf_dir)
    assert out.count() > 0
    after = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", "DEFAULT"
    )
    assert before == after


def test_rocksdb_drain_refuses_silent_fallback(spark, sf_dir):
    """drain_rocksdb must raise when handed a session WITHOUT the
    provider conf — the guard that keeps a misconfigured environment
    from serving heap-backed state as the 100 TB configuration."""
    import pytest as _pytest

    from parallel_map_reduce_spark.streaming import curation_stream as CS
    from parallel_map_reduce_spark.streaming import index_stream as IS

    plain = spark.newSession()
    stream = IS.inverted_index_stream(
        CS.read_documents_stream(plain, sf_dir)
    )
    with _pytest.raises(RuntimeError, match="RocksDB"):
        IS.drain_rocksdb(stream, "t_rocks_fallback_guard", plain)
