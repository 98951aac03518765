"""Turn one workload process's records into the benchmark's metrics.

Timings are medians over operations; counts are medians over warm
operations too, so one odd operation cannot move them. Every metric
named in BENCHMARK.json is produced for every workload: a layer the
workload never calls reports 0.
"""

from __future__ import annotations

from statistics import median

from spans import self_times


def _m(values, default=0.0):
    values = list(values)
    return median(values) if values else default


def _union_s(intervals, lo: float, hi: float) -> float:
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, end), min(b, hi)
        if b > a:
            total += b - a
            end = b
    return total


def end_to_end(res: dict, input_mb: float) -> dict:
    ok_warm = [o["wall_s"] for o in _warm(res)]
    if not ok_warm or not res["ops"][0]["ok"]:
        raise RuntimeError("no successful cold and warm operations to time")
    p50 = median(ok_warm)
    return {
        "setup_s": res["setup"]["setup_s"] + res["prepare_s"],
        "cold_s": res["ops"][0]["wall_s"],
        "warm_p50_ms": p50 * 1e3,
        "mb_per_s": input_mb / p50,
        "ops_per_s": len(ok_warm) / sum(ok_warm),
        "peak_rss_mb": res["peak_rss_mb"],
    }


def _warm(res: dict) -> list[dict]:
    return [o for o in res["ops"] if not o["cold"] and o["ok"]]


def _stages(op: dict, suffix: str | None = None) -> list[dict]:
    return [
        s
        for g, c in op.get("counters", {}).items()
        if suffix is None or g.endswith("." + suffix)
        for s in c["stages"]
    ]


def _jobs(op: dict, suffix: str | None = None) -> list[int]:
    return [
        j
        for g, c in op.get("counters", {}).items()
        if suffix is None or g.endswith("." + suffix)
        for j in c["jobs"]
    ]


def _span_s(spans, op_ids, name) -> list[float]:
    return [s["end"] - s["start"] for s in spans if s["op"] in op_ids and s["name"].endswith(name)]


def per_layer(res: dict, workload: str, inputs: dict, quality: dict, failed_frac: float) -> dict:
    warm = _warm(res)
    spans = res["spans"]
    traced_ids = {o["n"] for o in warm if o["traced"]}
    out = {
        "session.get_spark_s": res["setup"]["get_spark_s"],
        "session.first_job_s": res["setup"]["first_job_s"],
        "failed_frac": failed_frac,
    }
    out.update(quality)

    # driver: what Spark did per operation, and the operation wall not
    # covered by any running job (plan building, py4j, result handling).
    out["driver.jobs"] = _m(len(_jobs(o)) for o in warm)
    out["driver.stages"] = _m(len(_stages(o)) for o in warm)
    out["driver.tasks"] = _m(sum(s["tasks"] for s in _stages(o)) for o in warm)
    out["driver.gc_ms"] = _m(o["gc_ms"] for o in warm)
    out["driver.idle_ms"] = _m(
        (o["wall_s"] - _union_s(
            [iv for c in o["counters"].values() for iv in c["intervals"]], o["start"], o["end"]
        )) * 1e3
        for o in warm
    )
    traced = [o["wall_s"] for o in warm if o["traced"]]
    plain = [o["wall_s"] for o in warm if not o["traced"] and o["n"] > 1]
    overhead = _m(traced) - _m(plain)
    out["trace.overhead_ms"] = overhead * 1e3
    out["trace.overhead_frac"] = overhead / _m(plain, 1.0)

    # sources.text_manifest: the eager listing happens on the first read
    # of a manifest in a session (later reads hit its relation cache).
    read = _span_s(spans, {-1, 0}, "text_manifest.read_manifest_documents")
    out["text_manifest.read_s"] = read[0] if read else 0.0
    corpus = inputs.get("corpus")
    out["text_manifest.files"] = corpus["docs"] if corpus else 0
    out["text_manifest.input_bytes"] = corpus["input_bytes"] if corpus else 0

    # index_build: stages by role. The scan stage tokenizes and writes
    # the word shuffle; the first stage reading a shuffle builds the
    # postings; later shuffle readers run the range ordering; stages
    # with output bytes write the letter partitions. Below the engine's
    # small-corpus threshold ordering and writing run inside the
    # postings task, so those roles share one stage.
    def role(o, pick):
        st = _stages(o, "cli")
        readers = [s for s in st if s["shuffle_read_bytes"] > 0]
        return {
            "map": [s for s in st if s["input_bytes"] > 0],
            "reduce": readers[:1],
            "order": readers[1:],
            "write": [s for s in st if s["output_bytes"] > 0],
        }[pick]

    ib = [o for o in warm if workload == "index_build"]
    out["tokenize.pairs"] = _m((sum(s["shuffle_write_records"] for s in role(o, "map")) for o in ib), 0)
    out["tokenize.map_stage_run_ms"] = _m((sum(s["run_ms"] for s in role(o, "map")) for o in ib), 0)
    out["inverted_index.shuffle_bytes"] = _m((sum(s["shuffle_write_bytes"] for s in role(o, "map")) for o in ib), 0)
    out["inverted_index.shuffle_records"] = out["tokenize.pairs"]
    out["inverted_index.reduce_stage_run_ms"] = _m((sum(s["run_ms"] for s in role(o, "reduce")) for o in ib), 0)
    out["inverted_index.reduce_max_task_ms"] = _m((max([s["max_task_ms"] for s in role(o, "reduce")], default=0) for o in ib), 0)
    out["inverted_index.order_stage_run_ms"] = _m((sum(s["run_ms"] for s in role(o, "order")) for o in ib), 0)
    out["text_sink.write_stage_run_ms"] = _m((sum(s["run_ms"] for s in role(o, "write")) for o in ib), 0)
    out["text_sink.bytes_written"] = _m((sum(s["output_bytes"] for s in role(o, "write")) for o in ib), 0)
    merge = []
    for o in ib:
        done = [s["completed"] for s in _stages(o) if s["completed"]]
        ends = [s["end"] for s in spans if s["op"] == o["n"] and s["name"] == "sinks.text_sink.write_letter_files"]
        if done and ends:
            merge.append(ends[0] - max(done))
    out["text_sink.driver_merge_s"] = _m(merge)

    # neardup: the minhash kernel stage is the one scanning the input.
    nd = [o for o in warm if workload == "neardup"]

    def kern(o):
        return [s for s in _stages(o, "minhash") if s["input_bytes"] > 0]

    out["dedup.kernel_rows_in"] = _m((sum(s["input_records"] for s in kern(o)) for o in nd), 0)
    out["dedup.minhash_stage_run_ms"] = _m((sum(s["run_ms"] for s in kern(o)) for o in nd), 0)
    out["dedup.minhash_stage_cpu_ms"] = _m((sum(s["cpu_ms"] for s in kern(o)) for o in nd), 0)
    out["dedup.band_shuffle_bytes"] = _m((sum(s["shuffle_write_bytes"] for s in _stages(o, "minhash")) for o in nd), 0)
    out["dedup.lsh_candidates"] = _m((len(o["output"]["cand"]) for o in nd), 0)
    out["dedup.jaccard_shuffle_records"] = _m((sum(s["shuffle_write_records"] for s in _stages(o, "jaccard")) for o in nd), 0)
    out["dedup.jaccard_pairs"] = _m((len(o["output"]["jac"]) for o in nd), 0)
    out["dedup.jaccard_max_task_ms"] = _m(
        (max([s["max_task_ms"] for s in _stages(o, "jaccard") if s["shuffle_read_bytes"] > 0], default=0) for o in nd), 0
    )

    # serve: per request type.
    sv = [o for o in warm if workload == "serve"]
    for layer, kind, fn in (
        ("search", "bm25", "search.bm25_rank_batch"),
        ("similarity", "ann", "similarity.lsh_ann_topk_indexed"),
    ):
        ids = {o["n"] for o in sv} & traced_ids
        out[f"{layer}.plan_ms"] = _m(v * 1e3 for v in _span_s(spans, ids, fn))
        out[f"{layer}.jobs_per_request"] = _m((len(_jobs(o, kind)) for o in sv), 0)
        out[f"{layer}.request_p50_ms"] = _m(o["output"][kind]["wall_s"] * 1e3 for o in sv)
        sql = [o["counters"][g]["sql"] for o in sv for g in o["counters"] if g.endswith("." + kind)]
        if kind == "bm25":
            out["search.tf_buckets_read"] = _m((s["buckets"][0][0] for s in sql if s["buckets"]), 0)
        else:
            out["similarity.store_partitions_read"] = _m(
                (s["metrics"].get("number of partitions read", 0) for s in sql), 0
            )
            out["similarity.candidates_per_query"] = _m(
                (sum(s["shuffle_write_records"] for s in _stages(o, kind)) for o in sv), 0
            )
    return out


def layer_self_times(spans: list[dict]) -> dict[str, float]:
    """Self time per span name over the traced warm operations."""
    return self_times([s for s in spans if s["op"] is not None and s["op"] > 0])
