"""One benchmark workload in a fresh process.

``python3 perfbench/workloads.py <config.json> <spawn time>`` starts a
session, runs the workload's first (cold) operation, then the
configured number of warm operations in a closed loop, and writes every
operation's wall time and output digest to the result file the config
names.

Every operation runs under its own job group. Before each one the
registry's pins are released, so no operation reads blocks another one
cached. In a traced run every operation's Spark counters are read after
it returns (outside its timed window), and after the first warm
operation half of them also record spans; the untraced half gives the
tracing overhead.
"""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

PKG = "parallel_map_reduce_spark"


class IndexBuild:
    """The paper's program through its CLI: manifest in, 26 letter files out."""

    layers = [
        (f"{PKG}.session", "get_spark", "session.get_spark"),
        (f"{PKG}.sources.text_manifest", "read_manifest_documents", "sources.text_manifest.read_manifest_documents"),
        (f"{PKG}.sources.text_manifest", "manifest_total_bytes", "sources.text_manifest.manifest_total_bytes"),
        (f"{PKG}.operators.inverted_index", "inverted_index", "operators.inverted_index.inverted_index"),
        (f"{PKG}.operators.inverted_index", "doc_word_pairs", "operators.tokenize.doc_word_pairs"),
        (f"{PKG}.sinks.text_sink", "write_letter_files", "sinks.text_sink.write_letter_files"),
        (f"{PKG}.sinks.text_sink", "rank_within_letter", "operators.inverted_index.rank_within_letter"),
        (f"{PKG}.sinks.text_sink", "format_index_rows", "operators.inverted_index.format_index_rows"),
    ]

    def __init__(self, spark, cfg, tracer):
        self.cfg = cfg
        self.tracer = tracer

    def prepare(self):
        pass

    def op(self, n, group, traced):
        from parallel_map_reduce_spark.__main__ import main

        out = os.path.join(self.cfg["work"], "out", f"op{n}")
        group("cli")
        m = str(self.cfg["nproc"])
        with self.tracer.span("cli.main") if traced else nullcontext():
            main([m, m, self.cfg["inputs"]["corpus"]["manifest"], "--out", out])
        return out

    def output(self, out):
        from checks import read_letter_digests

        digests = read_letter_digests(out)
        shutil.rmtree(out)
        return {"letters": digests}


class NearDup:
    """MinHash-LSH candidates, then n-gram Jaccard pairs, over parquet."""

    def __init__(self, spark, cfg, tracer):
        self.spark, self.cfg, self.tracer = spark, cfg, tracer

    def prepare(self):
        from parallel_map_reduce_spark.sources.catalog import read_parquet

        self.docs = read_parquet(self.spark, self.cfg["inputs"]["neardup"]["documents"])

    def op(self, n, group, traced):
        from parallel_map_reduce_spark.operators import dedup as D

        span = self.tracer.span if traced else nullcontext
        group("minhash")
        with span("operators.dedup.minhash_lsh_candidates"):
            cand = D.minhash_lsh_candidates(self.docs)
        with span("collect.minhash"):
            cand = [(r[0], r[1]) for r in cand.collect()]
        group("jaccard")
        with span("operators.dedup.ngram_jaccard_pairs"):
            pairs = D.ngram_jaccard_pairs(self.docs)
        with span("collect.jaccard"):
            pairs = [(r[0], r[1], r[2]) for r in pairs.collect()]
        return cand, pairs

    def output(self, out):
        cand, pairs = out
        return {"cand": sorted(cand), "jac": sorted(pairs)}


class Serve:
    """Persist a BM25 index and an LSH ANN store, then serve requests.

    One operation is one BM25 request followed by one ANN request, so
    every timed window holds both request types in equal numbers."""

    def __init__(self, spark, cfg, tracer):
        self.spark, self.cfg, self.tracer = spark, cfg, tracer

    def prepare(self):
        from parallel_map_reduce_spark.operators import layout
        from parallel_map_reduce_spark.operators import search as SE
        from parallel_map_reduce_spark.operators import similarity as SIM
        from parallel_map_reduce_spark.sources.catalog import read_parquet
        from parallel_map_reduce_spark.sources.text_manifest import read_manifest_documents

        span = self.tracer.span if self.cfg["trace"] else nullcontext
        art = os.path.join(self.cfg["work"], "artifacts")
        # A fresh key per run: the bucketed-table cache is keyed by it, so
        # set-up always builds instead of finding a previous run's files.
        key = f"{self.cfg['seed']:x}{time.time_ns():x}"
        with span("sources.text_manifest.read_manifest_documents"):
            docs = read_manifest_documents(self.spark, self.cfg["inputs"]["corpus"]["manifest"])
        with span("operators.layout.ensure_bucketed_table"):
            table = layout.ensure_bucketed_table(
                self.spark, "perfbench_bm25_tf", "perfbench_bm25_index", key,
                lambda: SE.corpus_term_frequencies(docs), "word", 16,
            )
        with span("operators.search.doc_lengths"):
            SE.doc_lengths(docs).write.parquet(os.path.join(art, "dl"))
        self.emb = read_parquet(self.spark, self.cfg["inputs"]["vectors"]["embeddings"])
        self.lsh = os.path.join(art, "lsh")
        with span("operators.similarity.write_lsh_index"):
            SIM.write_lsh_index(self.emb, self.lsh)
        self.tf = self.spark.table(table)
        self.dl = read_parquet(self.spark, os.path.join(art, "dl"))

    def op(self, n, group, traced):
        """One BM25 request, then one ANN request, each collected."""
        from pyspark.sql import functions as F

        from parallel_map_reduce_spark.operators import search as SE
        from parallel_map_reduce_spark.operators import similarity as SIM

        span = self.tracer.span if traced else nullcontext
        terms, qid = self.cfg["requests"][n % len(self.cfg["requests"])]
        out = {}
        for kind, arg in (("bm25", terms), ("ann", qid)):
            group(kind)
            t = time.monotonic()
            if kind == "bm25":
                with span("operators.search.bm25_rank_batch"):
                    df = SE.bm25_rank_batch(self.tf, self.dl, {"q": tuple(arg)}, k=5)
            else:
                with span("operators.similarity.lsh_ann_topk_indexed"):
                    df = SIM.lsh_ann_topk_indexed(self.emb, self.lsh, F.col("vec_id") == arg, k=10)
            with span(f"collect.{kind}"):
                rows = [tuple(r) for r in df.collect()]
            out[kind] = {"arg": arg, "rows": rows, "wall_s": time.monotonic() - t}
        return out

    def output(self, out):
        bm25 = out["bm25"]
        bm25["rows"] = [(r[1], r[2], r[3]) for r in sorted(bm25["rows"], key=lambda r: r[3])]
        return out


WORKLOADS = {"index_build": IndexBuild, "neardup": NearDup, "serve": Serve}


def _shutdown(spark) -> None:
    """Stop the session and wait for its JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(cfg: dict, spawned: float) -> dict:
    from parallel_map_reduce_spark.session import get_spark

    t0 = time.monotonic()
    spark = get_spark(app_name="perfbench")
    t1 = time.monotonic()
    spark.range(1).count()
    t2 = time.monotonic()
    result = {
        "setup": {
            "setup_s": t2 - spawned,
            "get_spark_s": t1 - t0,
            "first_job_s": t2 - t1,
        }
    }
    from counters import SparkCounters, peak_rss_mb
    from spans import Tracer

    from parallel_map_reduce_spark.registry import release_pins

    sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    trace = cfg["trace"]
    counters = SparkCounters(spark)
    tracer = Tracer()
    wl = WORKLOADS[cfg["workload"]](spark, cfg, tracer)

    tracer.op = -1
    sc.setJobGroup("setup", "perfbench set-up")
    t = time.monotonic()
    wl.prepare()
    result["prepare_s"] = time.monotonic() - t

    ops = []

    def run_op(n: int, cold: bool, traced: bool) -> None:
        rec = {"n": n, "cold": cold, "traced": traced, "groups": [], "ok": True}

        def group(name: str) -> None:
            g = f"op{n}.{name}"
            rec["groups"].append(g)
            sc.setJobGroup(g, f"perfbench {cfg['workload']} op {n} {name}")

        release_pins()
        tracer.op = n
        gc0 = counters.gc_ms() if trace else 0
        rec["start"] = time.time()
        t = time.monotonic()
        try:
            if traced:
                with tracer.patch(getattr(wl, "layers", [])):
                    out = wl.op(n, group, traced)
            else:
                out = wl.op(n, group, traced)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            rec["wall_s"] = time.monotonic() - t
            rec["ok"] = False
            rec["error"] = traceback.format_exc()
            print(rec["error"], file=sys.stderr)
        else:
            rec["wall_s"] = time.monotonic() - t
            rec["output"] = wl.output(out)
        rec["end"] = rec["start"] + rec["wall_s"]
        if trace:
            rec["gc_ms"] = counters.gc_ms() - gc0
            rec["counters"] = {}
            for g in rec["groups"]:
                jobs = counters.job_ids(g)
                rec["counters"][g] = {
                    "jobs": jobs,
                    "intervals": counters.job_intervals(jobs),
                    "stages": counters.stages(jobs),
                    "sql": counters.sql(jobs) if cfg["workload"] == "serve" else None,
                }
        ops.append(rec)

    run_op(0, cold=True, traced=bool(trace))
    # A traced run times twice the warm operations plus one: the first,
    # which still runs code the JIT has not compiled, stays untraced and
    # out of the overhead comparison; after it traced and untraced
    # operations alternate T U U T, so a drift over the run cancels out
    # of the tracing overhead.
    warm_ops = 2 * cfg["warm_ops"] + 1 if trace else cfg["warm_ops"]
    for n in range(1, 1 + warm_ops):
        run_op(n, cold=False, traced=trace and n > 1 and (n - 2) % 4 in (0, 3))

    result["ops"] = ops
    result["spans"] = tracer.spans
    result["peak_rss_mb"] = peak_rss_mb([os.getpid(), counters.jvm_pid])
    result["basis"] = {
        "master": sc.master,
        "spark": spark.version,
        "java": sc._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
    }
    _shutdown(spark)
    return result


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        config = json.load(fh)
    res = run(config, float(sys.argv[2]))
    with open(config["result"], "w") as fh:
        json.dump(res, fh)
