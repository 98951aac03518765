"""Per-query scale notches for the heaviest operators (VERDICT r17
task 7: sf0.1 is below the parallelism floor, so per-query scaling
evidence needs ≥512× replicated inputs).

Scaled inputs are DISJOINT-content replicas, not byte-identical ones:
every token of replica r carries a per-replica letter suffix, so the
near-dup / posting / band structure of each copy equals the base
corpus exactly and cross-copy pairs are zero — the workload grows
LINEARLY in the factor (the "bigger corpus, same duplication rate"
case). Byte-identical replication would instead grow every pairwise
family quadratically (bench.py's dedup curve documents the same
exclusion). The trade graph and embedding store replicate with
disjoint node/vector ids under a fixed query batch — the serving
shape. Generation is cached on disk per factor, outside the timed
window (the scaled_reference_corpus discipline).

Usage: python tools/curve_perquery.py [factors ...]
Writes one JSON line per (query, factor) and a summary to stdout.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from parallel_map_reduce_spark.registry import release_pins
from parallel_map_reduce_spark.sources.scaled_corpus import REF_CORPUS_PARQUET

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _rep_code_expr(rep_col):
    """Deterministic pure-letter code for a replica id (digits would be
    stripped by the ASCII cleaner): each decimal digit maps to a-j."""
    return F.translate(rep_col.cast("string"), "0123456789", "abcdefghij")


def _cache(name: str, factor: int) -> str:
    return os.path.join(
        tempfile.gettempdir(), "pmrs_perquery_curve", f"{name}_x{factor}"
    )


def disjoint_corpus(spark, factor: int):
    """(doc_id, text): reference corpus x factor, every token suffixed
    with the replica code, doc ids disjoint per replica."""
    base = spark.read.parquet(REF_CORPUS_PARQUET).select("doc_id", "text")
    if factor <= 1:
        return base
    path = _cache("corpus", factor)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        n_docs = base.count()
        reps = spark.range(factor).withColumnRenamed("id", "rep")
        (
            base.crossJoin(F.broadcast(reps))
            .select(
                (F.col("doc_id") + F.lit(n_docs) * F.col("rep")).alias("doc_id"),
                F.regexp_replace(
                    F.col("text"),
                    F.lit("([A-Za-z]+)"),
                    F.concat(F.lit("$1"), _rep_code_expr(F.col("rep"))),
                ).alias("text"),
            )
            .repartition(max(32, factor // 4))
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path).select("doc_id", "text")


def scaled_trade_edges(spark, factor: int):
    """(src, dst, deg): the sf0.1 trade graph replicated with disjoint
    node ids (suffix per replica; deg is per-copy-invariant), served as
    a hash-BUCKETED table on src — the SAME layout the registered query
    joins against, so the notch measures the serving shape (supersteps
    exchange only rank vectors) at every factor, not an accidental
    edge-shuffle variant."""
    from parallel_map_reduce_spark.operators.layout import write_bucketed
    from parallel_map_reduce_spark.queries.graph import _bucketed_trade_edges

    base = _bucketed_trade_edges(spark, SF_DIR).select("src", "dst", "deg")
    if factor <= 1:
        return base
    table = f"pmrs_curve_edges_x{factor}"
    path = _cache("edges", factor)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        reps = spark.range(factor).withColumnRenamed("id", "rep")
        scaled = base.crossJoin(F.broadcast(reps)).select(
            F.concat("src", F.lit("#"), _rep_code_expr(F.col("rep"))).alias("src"),
            F.concat("dst", F.lit("#"), _rep_code_expr(F.col("rep"))).alias("dst"),
            "deg",
        )
        write_bucketed(scaled, table, "src", n_buckets=16, path=path)
        return spark.table(table)
    if not spark.catalog.tableExists(table):
        # re-register over the cached files with bucketed DDL
        spark.sql(
            f"CREATE TABLE {table} (src STRING, dst STRING, deg BIGINT) "
            f"USING parquet CLUSTERED BY (src) SORTED BY (src) "
            f"INTO 16 BUCKETS LOCATION '{path}'"
        )
    return spark.table(table)


def scaled_embeddings(spark, factor: int):
    """(vec_id, embedding): the sf0.1 store x factor with disjoint
    vec_ids; the query batch stays the BASE copy's (fixed |Q| — the
    serving shape: corpus grows, query batch does not)."""
    from parallel_map_reduce_spark.sources.catalog import load_table

    base = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    if factor <= 1:
        return base
    path = _cache("emb", factor)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        n = base.count()
        reps = spark.range(factor).withColumnRenamed("id", "rep")
        (
            base.crossJoin(F.broadcast(reps))
            .select(
                (F.col("vec_id") + F.lit(n) * F.col("rep")).alias("vec_id"),
                "embedding",
            )
            .repartition(max(32, factor // 8))
            .write.mode("overwrite")
            .parquet(path)
        )
    return spark.read.parquet(path)


def main() -> int:
    factors = [int(a) for a in sys.argv[1:]] or [1, 8, 64, 512]
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.appName("curve_perquery")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()

    from parallel_map_reduce_spark.operators import dedup as D
    from parallel_map_reduce_spark.operators import graph as G
    from parallel_map_reduce_spark.operators import similarity as S

    def mat(df):
        df.write.format("noop").mode("overwrite").save()

    n_runs = int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "2"))
    # Per-family feasibility caps (wall-clock, not correctness):
    # pagerank at 512x joins ~600M edge rows five times — hours on one
    # box; the VERDICT's "max feasible" clause applies.
    max_factor = {
        "minhash_lsh_pairs": int(os.environ.get("SPARK_GRAFT_MH_MAX", "512")),
        "ngram_jaccard": int(os.environ.get("SPARK_GRAFT_NJ_MAX", "64")),
        "two_stage_topk": int(os.environ.get("SPARK_GRAFT_TS_MAX", "512")),
        "trade_graph_pagerank": int(os.environ.get("SPARK_GRAFT_PR_MAX", "64")),
    }
    out: dict[str, dict[str, float]] = {}

    def notch(name, build):
        runs = []
        for _ in range(n_runs):
            release_pins()
            t0 = time.perf_counter()
            mat(build())
            runs.append(time.perf_counter() - t0)
        release_pins()
        best = round(min(runs), 3)
        out.setdefault(name, {})[f"x{factor}"] = best
        print(
            json.dumps({"query": name, "factor": factor, "best_s": best,
                        "runs": [round(r, 3) for r in runs]}),
            flush=True,
        )

    for factor in factors:
        spark.sparkContext.setJobDescription(f"curve x{factor} corpus build")
        docs = disjoint_corpus(spark, factor)
        spark.sparkContext.setJobDescription(f"curve x{factor} minhash_lsh_pairs")
        if factor <= max_factor["minhash_lsh_pairs"]:
            notch("minhash_lsh_pairs", lambda: D.minhash_lsh_candidates(docs))
        spark.sparkContext.setJobDescription(f"curve x{factor} ngram_jaccard")
        if factor <= max_factor["ngram_jaccard"]:
            notch("ngram_jaccard", lambda: D.ngram_jaccard_pairs(docs))
        if factor <= max_factor["two_stage_topk"]:
            spark.sparkContext.setJobDescription(f"curve x{factor} emb build")
            emb = scaled_embeddings(spark, factor)
            n_base = 2000
            spark.sparkContext.setJobDescription(f"curve x{factor} two_stage_topk")
            notch(
                "two_stage_topk",
                lambda: S.two_stage_topk(
                    emb,
                    (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < n_base),
                ),
            )
        if factor <= max_factor["trade_graph_pagerank"]:
            spark.sparkContext.setJobDescription(f"curve x{factor} edges build")
            edges = scaled_trade_edges(spark, factor)
            nodes = G.symmetric_nodes(edges)
            spark.sparkContext.setJobDescription(f"curve x{factor} pagerank")
            notch(
                "trade_graph_pagerank",
                lambda: G.pagerank_prepared(
                    edges, symmetric=True, nodes=nodes
                ),
            )
    print("CURVE_JSON " + json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
