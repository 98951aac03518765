"""Table catalog over the driver's parquet testdata.

The reference's "catalog" is a manifest text file listing input paths
(reference ``src/tema1.cpp:324-342``); here the general form is a
directory of self-describing parquet tables. Parquet gives us columnar
scans, predicate pushdown, and column pruning for free — the properties
the 100 TB design depends on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# The committed fixtures (``refdata/`` at the checkout root), located
# from this package's own file so registry entries, streaming sources
# and their oracles find them in a checkout at any path.
REFDATA_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "refdata",
)

# (abspath, mtime_ns, size) -> inferred StructType. Parquet schema
# inference runs a one-task footer-read JOB per spark.read.parquet();
# under the registry's plan-only build contract (registry.py) a query
# build may launch none, and bench re-builds queries dozens of times.
# Memoizing the inferred schema keyed by source version makes every
# warm read a zero-job plan while a regenerated source (new mtime/size)
# still re-infers.
_SCHEMA_MEMO: dict[tuple[str, int, int], object] = {}


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet`` with schema memoization (see
    _SCHEMA_MEMO). Semantics are identical to a plain read — parquet
    scans with a user-supplied schema keep pushdown/pruning — but only
    the FIRST read of a given source version pays the footer-inference
    job."""
    try:
        st = os.stat(path)
        if os.path.isdir(path):
            # Directory datasets: the dir's own mtime only changes when
            # entries are added/removed, so part-files rewritten IN
            # PLACE would serve a stale schema (advisor r12). Fold the
            # newest entry mtime + total size into the key, recursing
            # ONE level into subdirectories so Hive-partitioned layouts
            # (band=/bucket= dirs) also invalidate on an in-place
            # rewrite of their part-files (advisor r13 — the top-level
            # scan alone never sees a change two levels deep). Spark's
            # own writers always create/rename files (bumping a dir
            # mtime somewhere in the tree), so this stat pass is for
            # tools that regenerate artifacts in place; deeper-than-
            # one-level partitioning is outside the memo's contract
            # and would need a full walk.
            newest, total = st.st_mtime_ns, 0

            def _scan(d: str, recurse: bool) -> None:
                nonlocal newest, total
                with os.scandir(d) as it:
                    for e in it:
                        if e.name.startswith(("_", ".")):
                            # metadata the reader ignores — and artifact
                            # _BUILT markers get utime'd on every cache
                            # hit, which would invalidate the memo per
                            # serve and re-pay the inference job
                            continue
                        try:
                            es = e.stat()
                        except OSError:
                            continue
                        newest = max(newest, es.st_mtime_ns)
                        total += es.st_size
                        if recurse and e.is_dir():
                            _scan(e.path, False)

            _scan(path, True)
            key = (os.path.abspath(path), newest, total)
        else:
            key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
    except OSError:
        # Globs / nonexistent paths: let the reader produce its own error.
        return spark.read.parquet(path)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A driver-built table (query terms, probe lists, id maps, small
    results) as a DataFrame, shipped to the JVM as ONE Arrow stream.

    ``createDataFrame(<python list>)`` pickles the rows into an RDD, so
    every job over the frame runs Python-worker tasks to unpickle them
    (276-509 ms for a 2-row BM25 query table on a 4-vCPU VM, plus a
    per-row cost for id tables). Building a ``pa.Table`` against the
    Arrow form of ``schema`` instead lands the rows in the JVM at build
    time: no Python worker, a ``LocalRelation`` instead of a
    ``LogicalRDD`` in the plan. The first such table in a JVM pays a
    one-time Arrow set-up (~0.7 s); later ones cost milliseconds. Rows
    are positional tuples (or Rows) in ``schema`` order; ``schema`` is
    a StructType or a DDL string, and the frame carries exactly that
    schema, nullability included."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import StructType

    if not isinstance(schema, StructType):
        schema = StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    rows = list(rows)
    cols = list(zip(*rows)) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _ensure_session_confs(spark: SparkSession) -> None:
    """Runtime confs the engine depends on, applied idempotently.

    The harness may hand us a SparkSession it built itself (so the
    builder-time confs in session.py never applied). Both of these are
    runtime-settable SQL confs:
    - nanosAsLong: events.parquet stores TIMESTAMP(NANOS), which the
      vectorized reader rejects; read as BIGINT nanos instead.
    - UTC session TZ: the epoch-us oracle columns assume wall-clock UTC.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # AQE is the engine's standing execution posture (runtime re-plan,
    # small-shuffle coalescing, skew-join splitting). A harness-built
    # bare session (no explicit confs anywhere) should get that posture,
    # but a caller who EXPLICITLY set any of these — e.g. a test
    # disabling AQE to pin partition counts — must win: only fill in
    # confs the session has never been given an explicit value for.
    # (SQLConf.contains sees explicit sets, incl. builder-time ones,
    # and not defaults; if the private handle breaks on a future Spark,
    # fall back to the old unconditional set.)
    for key, val in (
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.adaptive.skewJoin.enabled", "true"),
    ):
        try:
            explicitly_set = spark._jsparkSession.sessionState().conf().contains(key)
        except Exception:  # noqa: BLE001
            explicitly_set = False
        if not explicitly_set:
            spark.conf.set(key, val)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table. Plain parquet scan → Catalyst sees the
    files directly, so filters/projections placed on the result push
    down into the scan."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; catalog has {TABLES}")
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    if not os.path.exists(path):
        raise FileNotFoundError(
            f"catalog table {name!r} not found at {path} — is sf_dir "
            f"({sf_dir!r}) a testdata scale-factor directory?"
        )
    df = read_parquet(spark, path)
    if name == "events":
        # ts is TIMESTAMP(NANOS) in parquet. How Spark surfaces it is
        # version-dependent: with spark.sql.legacy.parquet.nanosAsLong
        # honored (<= 4.0) it arrives as BIGINT nanos; Spark 4.1+ reads
        # it natively as TIMESTAMP_NTZ and ignores the legacy conf.
        # Normalize BOTH to a session-TZ TIMESTAMP (UTC per
        # _ensure_session_confs, so the NTZ wall clock maps to the same
        # instant). The source data is microsecond-granular
        # (nanos % 1000 == 0), so either conversion is exact.
        from pyspark.sql import functions as F
        from pyspark.sql.types import LongType

        if isinstance(df.schema["ts"].dataType, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        else:
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    names = names or TABLES
    return {n: load_table(spark, sf_dir, n) for n in names}


def register_temp_views(
    spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR, *names: str
) -> tuple[str, ...]:
    """Register the catalog tables as session temp views so ad-hoc SQL
    (``spark.sql('SELECT ... FROM lineitem JOIN part ...')``) works
    against the same normalized frames the builder queries use —
    including the events timestamp normalization, so SQL users never
    see the raw nanos column. Returns the registered view names.

    Temp views are lazy logical plans, not materializations: SQL
    through a view gets identical pushdown/pruning to the DataFrame
    path (same Catalyst plan), so this is a naming surface, not a
    performance fork."""
    regs = names or TABLES
    for n in regs:
        load_table(spark, sf_dir, n).createOrReplaceTempView(n)
    return tuple(regs)
