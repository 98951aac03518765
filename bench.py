"""Benchmark harness: times the headline queries at $SPARK_GRAFT_SF_DIR.

Prints exactly ONE JSON line on stdout:
    {"metric": "headline_total", "value": N, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

The driver captures only a ~2 KB TAIL of stdout (round-3 lesson: the
line grew past the buffer when per-query medians were added, and the
driver recorded ``parsed: null`` — a failed bench round despite rc=0).
So the stdout line stays SMALL: per-query best-of times only, hard
size guard at STDOUT_BUDGET bytes (drops the per-query map rather than
overflow). The full detail (best + median + every raw run) goes to
``BENCH_DETAIL.json`` next to this file, and to stderr.

Usage: python bench.py [query ...]   (default: the HEADLINE set)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import SparkSession

from parallel_map_reduce_spark.registry import all_queries

# Headline set: one per major operator family (SURVEY.md §2), heaviest
# representative each — scan-agg, fact join, window, dedup chain, LSH,
# similarity, text, sessionization, multimodal UDF path. Rotation
# policy (round-4 lesson: grow the line and the driver drops the whole
# deliverable): when adding round-N heavies, RETIRE an equal number of
# fast, multi-round-stable micro-queries so the set size stays ~36 —
# the binding constraint is the STDOUT_BUDGET byte cap on the summary
# line (asserted with the current set in tests/test_registry_contract
# .py), and holding the set size steady keeps real headroom under it.
# Round 6: retired event_type_distinct_users (0.16 s; its salted twin
# carries the family in the gate) and top_customers_per_segment
# (0.19 s; window family benched by orders_value_deciles), squaring
# the round-5 add-9/retire-7 imbalance back to a 36-entry set.
HEADLINE = (
    "reference_corpus_index",
    "inverted_index",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "events_sessionized",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "similarity_topk_bruteforce",
    # round-10 rotation (VERDICT r9 task 6): the persisted LSH store's
    # serving entry — at its pruning-effective 20-query batch, where
    # partition pruning actually skips directories and serving beats inline
    # re-bucketing (lsh_serving_notch: 1.37 vs 1.73 s) — replaces the
    # inline build-per-batch form; the inline operator keeps its
    # registry entry, equality pytests, and the notch's b400 row.
    "similarity_ann_lsh_served",
    "text_tfidf",
    "streaming_hourly_tumbling",
    "multimodal_image_features",
    "q7_nation_trade_matrix",
    "q18_large_orders",
    "similarity_ann_ivf",
    "orders_value_deciles",
    "trade_graph_pagerank",
    "dedup_incremental_lsh",
    "search_bm25_served",
    "q21_waiting_suppliers",
    "neardup_triangle_census",
    "similarity_two_stage_topk",
    # round-5 rotation: new heavies in, seven <0.5 s stable micros out
    # (text_quality_scores, text_fingerprints, text_winnowing_
    # fingerprints, text_repetition_signals, event_value_quantiles,
    # funnel_view_click_purchase, curation_pipeline)
    "q8_market_share",
    "q9_product_profit",
    "q10_returned_items",
    "curation_temperature_mix",
    "similarity_two_stage_ivf_topk",
    "documents_chunked",
    # round-6 rotation: the PQ serving path and the basket-mining
    # exchange are the session's new heavies; decontaminate_benchmark_
    # overlap (0.25 s, stable r4-r6) and multimodal_video_frames
    # (0.24 s, stable since r2; the family stays benched via
    # multimodal_image_features) retire to hold the set at 36.
    # Round-8 rotation (VERDICT r7 finding 3): similarity_pq_topk —
    # the flat full-code-scan BASELINE the docs say not to serve from
    # (3.76 s, the set's slowest entry) — retires to BENCH_DETAIL's
    # equality pytests; its slot goes to inverted_index_chunked, the
    # never-benched gate-permanent scale path past the full-array
    # posting ceiling. HEADLINE now measures only paths the docs
    # recommend serving from.
    "inverted_index_chunked",
    "basket_part_pairs",
    # session-2 round-6 rotation: the CDC MERGE shuffle and the Holt
    # pandas-recursion surface are the new family representatives;
    # asof_purchase_last_click (0.2 s, stable r2-r6; joins stay benched
    # via the TPC-H block) and text_bigram_counts (0.5 s, stable r3-r6;
    # text stays benched via tfidf/lm_perplexity/chunked) retire to
    # hold the set at 36.
    "orders_cdc_merge",
    "events_value_holt",
    # round-7 rotation: the composed IVFPQ serving path (VERDICT r6
    # task 1: bench must show it at or under the two_stage_ivf number),
    # the exact-substring span detector (token-stream exchange + span
    # windows) and the leakage-guarded split (5 min-label supersteps
    # over the shared edge artifact) are the round's new heavies;
    # dedup_passage_clean (0.45 s, r4-r6), q15_top_supplier (0.47 s,
    # r5-r6) and text_lm_perplexity (0.34 s, r5-r6; text stays benched
    # via tfidf / documents_chunked) retire to hold the set at 36.
    "similarity_ivfpq_topk",
    "dedup_repeated_substrings",
    "curation_leakage_split",
    # round-9 rotation: search_bm25_served (the persisted word-bucketed
    # index serving path — HEADLINE measures documented serving paths)
    # replaces search_bm25 (0.9 s, build-per-query; the family's
    # serving shape is what production pays, and the single-query
    # formula keeps its oracle + pytests in the registry).
)

# A change to HEADLINE membership OR to the measurement basis makes
# round-over-round totals non-comparable; the stdout summary and
# BENCH_DETAIL both carry this set identifier so totals are only
# compared within the same (set, basis) pair (advisor r6: regressions
# must not be absorbable by silent set drift).
# Basis history: rounds 1-8 timed `.count()` per query — WRONG in the
# plan sense (VERDICT r8, verified empirically): Catalyst prunes
# unreferenced aggregate payload out of a count plan, so the flagship's
# terminal collect_list/sort_array never executed in the timed window.
# Round 9 on times a noop-sink write of every output column
# (_materialize below); r9 totals are NOT comparable to r1-r8.
BENCH_BASIS = "noop-sink-e2e"
import hashlib as _hashlib

HEADLINE_SET_VERSION = _hashlib.md5(
    ("\n".join(HEADLINE) + "|basis=" + BENCH_BASIS).encode()
).hexdigest()[:8]


def _materialize(df) -> None:
    """Execute ``df`` COMPLETELY: push every output column through the
    noop v2 sink (rows consumed executor-side, nothing written, nothing
    returned to the driver). ``.count()`` is NOT full execution —
    Catalyst prunes columns a count never references, dropping e.g. the
    flagship's terminal ``collect_list``/``sort_array`` payload from
    the optimized count plan (VERDICT r8, probe-verified). A v2 write
    consumes ALL columns, so nothing is prunable; the timed window
    therefore pays exactly the work the query claims to do.
    tests/test_bench_contract.py pins both the pruning fact and that no
    timed window in this file calls .count()."""
    df.write.format("noop").mode("overwrite").save()

# Scale-curve notches run n=2 back-to-back and commit the min — one
# bad host window must not put a 5x outlier into the committed curve
# (r7: x64 recorded 22 s where adjacent windows measured 4.4-4.7 s).
_CURVE_RUNS = int(os.environ.get("SPARK_GRAFT_CURVE_RUNS", "2"))


def _probe_chunk(_: int) -> int:
    x = 0
    for i in range(2_000_000):
        x += (i * i) & 1023
    return x


def _contention_probe() -> float:
    """Fixed single-threaded pure-Python workload, in seconds. This box
    (shared-host VM) swings 2-4x across bench windows with NO code
    change (BASELINE.md noise note); the probe series — taken at
    section boundaries, OUTSIDE every timed window — makes each
    committed window self-describing: a window whose probes run 1.5-2x
    another window's is host contention, not a code regression, and
    its per-query deltas should be read accordingly."""
    t0 = time.perf_counter()
    _probe_chunk(0)
    return time.perf_counter() - t0


def _spark_probe(spark) -> float:
    """A fixed two-stage mini Spark job (range → exchange → hash agg →
    noop), in seconds — the SCHEDULING probe. Round-9 windows showed a
    third contention mode neither CPU probe sees: scan-agg headline
    queries held steady (+5%) while stage-heavy ones (supersteps,
    stream drains, multi-exchange joins) inflated 1.3-2x — per-stage
    scheduling latency degraded, not compute throughput. This probe is
    stage-overhead-dominated by construction (tiny data, one
    exchange), so its wall tracks exactly that mode. Warm readings
    under the degraded round-9 window: 0.74-1.0 s at local[32]; no
    quiet-window reading exists yet, so compare the series ACROSS
    windows rather than against an absolute floor."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    t0 = time.perf_counter()
    (
        spark.range(1_000_000)
        .repartition(32)
        .groupBy((F.col("id") % 101).alias("k"))
        .agg(F.count(F.lit(1)).alias("n"))  # agg form: the no-count
        # source pin (test_no_timed_window_in_bench_uses_count) scans
        # every timed window textually for the count action's spelling
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    return time.perf_counter() - t0


_PROBE_WORKERS = 8


def _contention_probe_parallel() -> float:
    """The same fixed workload fanned over 8 forked processes; wall
    time ≈ the scalar probe on an idle box, and inflates under host
    CPU steal. This is the probe that matters here: measured windows
    with FLAT scalar probes (0.16-0.24 s) have shown uniformly
    1.3-2x-inflated Spark timings — the guest's single thread runs
    clean while its 32-way parallelism is being stolen (first
    documented r6, reproduced r9). Returns -1.0 if multiprocessing is
    unavailable rather than killing the bench."""
    try:
        from multiprocessing import get_context

        ctx = get_context("fork")
        t0 = time.perf_counter()
        with ctx.Pool(_PROBE_WORKERS) as pool:
            pool.map(_probe_chunk, range(_PROBE_WORKERS))
        return time.perf_counter() - t0
    except Exception as e:  # noqa: BLE001
        print(f"bench: parallel probe unavailable: {e}", file=sys.stderr)
        return -1.0

# Hard cap on the final stdout JSON line. The driver keeps a ~2 KB tail
# of stdout; leave headroom for the trailing newline and any buffering
# slop. tests/test_registry_contract.py asserts the HEADLINE set's line
# fits with margin.
STDOUT_BUDGET = 1800


# ---------------------------------------------------------------------------
# Paired baseline measurement (VERDICT r6 task 2). Cross-window bench
# deltas on this host are noise below ~50% (BASELINE.md), so the
# flagship-vs-reference ratio is only meaningful when BOTH sides are
# timed in the SAME process window, interleaved. bench.py compiles the
# reference C++ binary (public source, /root/reference/src/tema1.cpp,
# build line per its src/Makefile), runs it on its own 355-file corpus,
# and alternates it with the repo flagship (reference_corpus_index —
# the identical workload end-to-end); the emitted ratio is
# best(flagship)/best(C++ sequential), immune to the minute-scale host
# drift that made r5→r6 totals incomparable.

REF_SRC = "/root/reference/src/tema1.cpp"
REF_MANIFEST = "/root/reference/checker/test.txt"
REF_CORPUS_BASE = "/root/reference/checker"


def _ensure_reference_binary() -> str | None:
    """Compile the reference binary once (cached by source mtime)."""
    import hashlib
    import subprocess
    import tempfile

    if not os.path.exists(REF_SRC):
        return None
    tag = hashlib.md5(
        f"{REF_SRC}:{int(os.path.getmtime(REF_SRC))}".encode()
    ).hexdigest()[:12]
    binpath = os.path.join(tempfile.gettempdir(), "pmrs_ref_bin", tag, "tema1")
    if not os.path.exists(binpath):
        os.makedirs(os.path.dirname(binpath), exist_ok=True)
        # g++ tema1.cpp -o tema1 -lpthread  (reference src/Makefile:4)
        r = subprocess.run(
            ["g++", "-O2", REF_SRC, "-o", binpath, "-lpthread"],
            capture_output=True,
        )
        if r.returncode != 0:
            print(
                f"bench: reference compile failed: {r.stderr.decode()[:300]}",
                file=sys.stderr,
            )
            return None
    return binpath


def _reference_workdir() -> str | None:
    """Scratch cwd for the binary's 26 output files, holding a manifest
    whose paths are absolute (the checker manifest is relative to the
    checker dir; the binary fopen()s paths verbatim)."""
    import tempfile

    if not os.path.exists(REF_MANIFEST):
        return None
    workdir = os.path.join(tempfile.gettempdir(), "pmrs_ref_run", str(os.getpid()))
    os.makedirs(workdir, exist_ok=True)
    with open(REF_MANIFEST) as f:
        lines = f.read().split()
    n, rels = int(lines[0]), lines[1:]
    with open(os.path.join(workdir, "manifest.txt"), "w") as f:
        f.write(f"{n}\n")
        for rel in rels:
            f.write(os.path.join(REF_CORPUS_BASE, rel) + "\n")
    return workdir


def _time_reference_binary(
    binpath: str,
    workdir: str,
    mappers: int,
    reducers: int,
    manifest: str = "manifest.txt",
) -> float:
    import subprocess

    t0 = time.perf_counter()
    r = subprocess.run(
        [binpath, str(mappers), str(reducers), manifest],
        cwd=workdir,
        capture_output=True,
    )
    secs = time.perf_counter() - t0
    if r.returncode != 0:
        raise RuntimeError(f"reference binary rc={r.returncode}: {r.stderr[:200]}")
    return secs


def _int_list_env(name: str, default: str) -> list[int]:
    """Tolerant comma-separated int env parse: malformed entries warn
    and are skipped instead of killing the whole bench deliverable."""
    out = []
    for x in os.environ.get(name, default).split(","):
        try:
            out.append(int(x.strip()))
        except ValueError:
            if x.strip():
                print(
                    f"bench: ignoring malformed {name} entry {x!r}",
                    file=sys.stderr,
                )
    return out


def _flagship_e2e(spark, manifest: str, out_dir: str) -> float:
    """Time the flagship END-TO-END on ``manifest``: scan → inverted
    index → per-letter ordered formatted rows → 26-way letter-
    partitioned text write. The C++ binary formats and fprintf's 26
    letter files as part of every timed run (src/tema1.cpp:236-309);
    rounds 1-8 timed the flagship side with ``.count()``, which both
    skipped that terminal stage entirely AND let Catalyst prune the
    collect_list payload (VERDICT r8 tasks 1-2). This pays the same
    complete job on both sides: all bytes formatted and written
    through the production partitioned sink."""
    from parallel_map_reduce_spark.operators.inverted_index import (
        format_index_rows,
        index_order_partitions,
        inverted_index,
        rank_within_letter,
    )
    from parallel_map_reduce_spark.sources.text_manifest import (
        manifest_total_bytes,
        read_manifest_documents,
    )

    t0 = time.perf_counter()
    # Size-adaptive terminal ordering (driver-side stat metadata): a
    # megabyte-scale corpus skips the range-boundary sampling job and
    # the second shuffle — one final task orders/formats/writes, the
    # same terminal stage shape the C++ binary runs. No-op from 8x up.
    # The same size rule turns AQE off for the run: adaptive
    # re-optimization triggers per stage and is pure latency on a
    # two-stage megabyte-scale job (measured 1.478 -> 1.398 interleaved
    # at 1x); at 8x+ the corpus passes the threshold and AQE stays on.
    n_order = index_order_partitions(manifest_total_bytes(manifest))
    _AQE = "spark.sql.adaptive.enabled"
    old_aqe = spark.conf.get(_AQE, None)
    try:
        if n_order == 1:
            spark.conf.set(_AQE, "false")
        idx = inverted_index(read_manifest_documents(spark, manifest), n_order)
        rows = format_index_rows(rank_within_letter(idx, n_order))
        rows.write.mode("overwrite").partitionBy("letter").text(out_dir)
    finally:
        if old_aqe is None:
            spark.conf.unset(_AQE)
        else:
            spark.conf.set(_AQE, old_aqe)
    return time.perf_counter() - t0


# Probe-gated pairing (VERDICT r10 task 1): the round-10 DRIVER window
# committed a 1x ratio of 2.299 while three quiet builder windows read
# 1.42-1.65 — same code, 5x-hotter probes. A paired ratio is only
# evidence when the window around it was quiet, so each pair now
# carries ADJACENT probe readings; a pair whose surrounding probes
# exceed the pinned quiet thresholds is recorded as discarded and
# re-run (capped retries, short backoff to let the burst pass). The
# committed ratio comes from QUIET pairs; if the whole window stays
# hot past the retry cap, the ratio falls back to best-of-ALL attempts
# and the artifact says so ("paired_quiet": false) — an honest hot
# number beats a silent one. Thresholds are ~2x the quiet-window
# readings in BASELINE.md (par idle 0.27-0.35 s, spark quiet
# 0.34-0.81 s), env-overridable for future host changes.
_QUIET_PAR = float(os.environ.get("SPARK_GRAFT_QUIET_PAR", "0.9"))
_QUIET_SPARK = float(os.environ.get("SPARK_GRAFT_QUIET_SPARK", "1.6"))
_PAIR_RETRIES = int(os.environ.get("SPARK_GRAFT_PAIR_RETRIES", "6"))
_PAIR_BACKOFF_S = float(os.environ.get("SPARK_GRAFT_PAIR_BACKOFF_S", "10"))


def _dirty_kb() -> int:
    """Dirty-page backlog from /proc/meminfo, in kB (-1 when the file
    is unavailable). The THIRD documented contention mode (r15): heavy
    write phases (the 512x/1024x e2e corpora, artifact builds) leave
    gigabytes of dirty pages whose background writeback steals disk
    bandwidth from the next window's reads — a fresh-process walker
    subset measured 30-40% slower under a writeback backlog and
    reverted to band after sync + drain, while BOTH CPU probes stayed
    quiet (BASELINE.md r15). The reading is Dirty + Writeback — pages
    still waiting AND pages already queued to the device both steal
    read bandwidth until flushed (advisor r15: Dirty alone undercounts
    the backlog mid-flush)."""
    total, seen = 0, False
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(("Dirty:", "Writeback:")):
                    total += int(line.split()[1])
                    seen = True
    except OSError:
        pass
    return total if seen else -1


# Writeback gate (VERDICT r15 task 4): the r15 driver window ran with
# ~3.0 GB of dirty pages at headline start and read +10% on identical
# plans — background writeback steals disk bandwidth from timed reads
# while BOTH CPU probes stay quiet. Before each timed section, if the
# Dirty+Writeback backlog exceeds the pinned threshold, sync and wait
# for the flush (bounded), recording pre/post readings so the artifact
# shows the gate acted. 512 MB threshold: the quiet-band windows in
# BASELINE.md read 10-200 MB; the contaminated ones read gigabytes.
_DIRTY_KB_MAX = int(os.environ.get("SPARK_GRAFT_DIRTY_KB_MAX", "524288"))
_DIRTY_DRAIN_TIMEOUT_S = float(
    os.environ.get("SPARK_GRAFT_DIRTY_DRAIN_TIMEOUT_S", "180")
)


def _drain_dirty_pages(label: str, probes: dict) -> None:
    """Sync + threshold-wait until the writeback backlog is below
    _DIRTY_KB_MAX (or timeout). Records ``{label}_dirty_kb_pre_drain``
    always and ``{label}_dirty_drain_s`` when the gate acted, so a
    reader can tell a gated window from a naturally-quiet one."""
    before = _dirty_kb()
    probes[f"{label}_dirty_kb_pre_drain"] = before
    if before < 0 or before <= _DIRTY_KB_MAX:
        return
    print(
        f"bench: {label} dirty backlog {before} kB > {_DIRTY_KB_MAX} kB"
        " — sync + drain",
        file=sys.stderr,
    )
    t0 = time.monotonic()
    os.sync()
    while True:
        now = _dirty_kb()
        if now < 0 or now <= _DIRTY_KB_MAX:
            break
        if time.monotonic() - t0 > _DIRTY_DRAIN_TIMEOUT_S:
            print(
                f"bench: {label} dirty drain TIMED OUT at {now} kB",
                file=sys.stderr,
            )
            break
        time.sleep(2.0)
        os.sync()
    probes[f"{label}_dirty_drain_s"] = round(time.monotonic() - t0, 1)


def _window_probes(spark) -> dict:
    """One par + one spark probe reading, as a dict for the attempt log.
    The scalar CPU probe is deliberately omitted: both documented
    contention modes (CPU steal, scheduling latency) leave it flat.
    dirty_kb (r15) records the writeback-backlog mode neither CPU
    probe can see."""
    return {
        "par": round(_contention_probe_parallel(), 3),
        "spark": round(_spark_probe(spark), 3),
        "dirty_kb": _dirty_kb(),
    }


def _probes_quiet(*readings: dict) -> bool:
    return all(
        r["par"] <= _QUIET_PAR and r["spark"] <= _QUIET_SPARK for r in readings
    )


# Scale-curve notches get the same treatment (VERDICT r10 task 8): the
# r10 driver window's chunked x1024→x2048 step read 2.2x-for-2x-data
# where adjacent-minima windows read 1.965x. Each notch runs its
# _CURVE_RUNS batch inside a probed window; a hot window earns up to
# _NOTCH_RETRIES extra batches after a backoff. The committed number is
# still the min over ALL runs (a min only improves with more samples);
# the companion detail records every window's probes so a reader can
# see whether the committed notch came from a quiet window.
_NOTCH_RETRIES = int(os.environ.get("SPARK_GRAFT_NOTCH_RETRIES", "2"))


def _probe_gated_notch(spark, build, label: str) -> tuple[float, dict]:
    """Run one curve notch (build() → noop-materialize, _CURVE_RUNS per
    window) with probe-gated retry windows. Returns (min_seconds,
    detail) where detail carries per-window runs + adjacent probes."""
    runs: list[float] = []
    windows: list[dict] = []
    quiet_seen = False
    for window_i in range(1 + _NOTCH_RETRIES):
        if window_i > 0:
            time.sleep(_PAIR_BACKOFF_S)
        before = _window_probes(spark)
        these: list[float] = []
        for _ in range(_CURVE_RUNS):
            t0 = time.perf_counter()
            _materialize(build())
            these.append(time.perf_counter() - t0)
        after = _window_probes(spark)
        is_quiet = _probes_quiet(before, after)
        windows.append(
            {
                "runs": [round(r, 3) for r in these],
                "probe_before": before,
                "probe_after": after,
                "quiet": is_quiet,
            }
        )
        runs.extend(these)
        if is_quiet:
            quiet_seen = True
            break
        print(
            f"bench: {label} window {window_i} HOT "
            f"(probes {before}|{after}) — retrying",
            file=sys.stderr,
        )
    return min(runs), {"windows": windows, "quiet": quiet_seen}


def _paired_baseline(spark) -> dict:
    """Interleave C++ reference runs with the repo flagship in one
    window, gating each pair on adjacent host-contention probes;
    return {} if the reference toolchain/corpus is absent."""
    binpath = _ensure_reference_binary()
    workdir = _reference_workdir()
    if binpath is None or workdir is None:
        return {}
    pairs = int(os.environ.get("SPARK_GRAFT_BASELINE_PAIRS", "3"))
    manifest = os.path.join(workdir, "manifest.txt")
    flag_out = os.path.join(workdir, "flagship_out")
    quiet: list[tuple[float, float, float]] = []
    hot: list[tuple[float, float, float]] = []
    attempts: list[dict] = []
    try:
        # One untimed warmup e2e: the partitioned text writer + commit
        # protocol pay one-time init (~4-5 s) on their first use in a
        # session; without this the first pair's flagship reading is
        # warmup, not the engine (measured 7.09 s first vs 2.35 s
        # second in an otherwise quiet window).
        _flagship_e2e(spark, manifest, flag_out)
        for attempt in range(pairs + _PAIR_RETRIES):
            if len(quiet) >= pairs:
                break
            if hot and attempt > 0:
                time.sleep(_PAIR_BACKOFF_S)  # let the burst pass
            before = _window_probes(spark)
            seq = _time_reference_binary(binpath, workdir, 1, 1)
            flag = _flagship_e2e(spark, manifest, flag_out)
            par = _time_reference_binary(binpath, workdir, 4, 4)
            after = _window_probes(spark)
            is_quiet = _probes_quiet(before, after)
            (quiet if is_quiet else hot).append((seq, flag, par))
            attempts.append(
                {
                    "cpp_seq": round(seq, 3),
                    "flagship": round(flag, 3),
                    "cpp_par": round(par, 3),
                    "probe_before": before,
                    "probe_after": after,
                    "quiet": is_quiet,
                }
            )
            print(
                f"bench: paired attempt {attempt} "
                f"{'QUIET' if is_quiet else 'HOT (discarded)'} "
                f"seq={seq:.2f} flag={flag:.2f} par={par:.2f} "
                f"probes={before}|{after}",
                file=sys.stderr,
            )
    except Exception as e:  # noqa: BLE001
        print(f"bench: paired baseline ERROR: {e}", file=sys.stderr)
        if not quiet and not hot:
            return {}
    used = quiet or hot  # all-hot window: honest fallback, flagged below
    cpp_seq = [u[0] for u in used]
    flagship = [u[1] for u in used]
    cpp_par = [u[2] for u in used]
    out = {
        "flagship_vs_reference_ratio": round(min(flagship) / min(cpp_seq), 3),
        "paired_flagship_runs": [round(x, 3) for x in flagship],
        "paired_cpp_seq_runs": [round(x, 3) for x in cpp_seq],
        "paired_cpp_par_runs": [round(x, 3) for x in cpp_par],
        "flagship_vs_reference_parallel_ratio": round(
            min(flagship) / min(cpp_par), 3
        ),
        "paired_quiet": bool(quiet),
        "paired_discarded": len(hot) if quiet else 0,
        "paired_attempts": attempts,
        "paired_quiet_thresholds": {"par": _QUIET_PAR, "spark": _QUIET_SPARK},
    }
    print(
        "bench: paired ratio (flagship/C++ seq, best-of-quiet-interleaved"
        f"{'' if quiet else ', NO QUIET WINDOW — all-attempts fallback'}) "
        f"{out['flagship_vs_reference_ratio']}  flagship={out['paired_flagship_runs']} "
        f"cpp_seq={out['paired_cpp_seq_runs']} cpp_par={out['paired_cpp_par_runs']}",
        file=sys.stderr,
    )
    return out


def _mem_gb(mem: str) -> float:
    """Parse a JVM memory string ('24g', '16gb', '16384m', '1t', bare
    bytes) into GiB; unrecognized values parse as 0 WITH a stderr
    warning (advisor r8: '16gb' previously parsed to 0 silently and
    dropped the 512x notch — the same silent-drop class the r7
    '16384m' fix targeted)."""
    raw = mem
    mem = mem.strip().lower().replace(" ", "")
    mult = {"k": 1.0 / (1024 * 1024), "m": 1.0 / 1024, "g": 1.0, "t": 1024.0}
    if len(mem) >= 2 and mem.endswith("b") and mem[-2] in mult:
        mem = mem[:-1]  # '16gb' -> '16g'
    try:
        if mem and mem[-1] in mult:
            return float(mem[:-1]) * mult[mem[-1]]
        return float(mem) / (1024**3)  # bare bytes
    except ValueError:
        print(
            f"bench: unparseable memory string {raw!r} — treating as 0g, "
            "which SKIPS the >64x scale-curve notches",
            file=sys.stderr,
        )
        return 0.0


def _scaled_reference_manifest(factor: int) -> str | None:
    """Materialize the reference's 355-file corpus replicated
    ``factor`` times as REAL on-disk files (hardlinks into /tmp when
    the filesystem allows, byte-copies otherwise) plus a manifest —
    cached per factor, atomic publish. Both engines then ingest the
    SAME files through their own production paths: the C++ binary
    fopen()s every manifest entry, the flagship reads the manifest via
    read_manifest_documents. Replica r of document d is a distinct
    manifest entry, so both sides assign it a distinct doc id — the
    same replication semantics as sources/scaled_corpus.py."""
    import shutil

    if not os.path.exists(REF_MANIFEST):
        return None
    from parallel_map_reduce_spark.sources.artifact_cache import (
        ensure_artifact,
        source_key,
    )
    from parallel_map_reduce_spark.sources.text_manifest import parse_manifest

    base_paths = parse_manifest(REF_MANIFEST)
    # Staleness key covers the SOURCE files, not just the factor
    # (advisor r8): a regenerated reference corpus must invalidate the
    # replicated file set like every other cached artifact. source_key
    # is ns-mtime + size per file; paths are absolute so the sf_dir
    # argument is the filesystem root.
    cache_key = f"x{factor}-{source_key('scaled_ref', '/', [REF_MANIFEST] + base_paths)}"

    def build(tmp: str) -> None:
        entries = []
        for rep in range(factor):
            for i, src in enumerate(base_paths):
                dst = os.path.join(tmp, f"r{rep:04d}_f{i:04d}.txt")
                try:
                    os.link(src, dst)
                except OSError:
                    shutil.copyfile(src, dst)
                entries.append(dst)
        # Manifest paths point at the FINAL location (tmp is renamed
        # over it on publish).
        final = _scaled_files_dir(cache_key)
        with open(os.path.join(tmp, "manifest.txt"), "w") as f:
            f.write(f"{len(entries)}\n")
            for e in entries:
                f.write(os.path.join(final, os.path.basename(e)) + "\n")

    return os.path.join(
        ensure_artifact("pmrs_scaled_files", cache_key, build), "manifest.txt"
    )


def _scaled_files_dir(cache_key: str) -> str:
    # Must equal the publish destination ensure_artifact renames into —
    # the manifest's pre-computed absolute paths point here.
    from parallel_map_reduce_spark.sources.artifact_cache import artifact_path

    return artifact_path("pmrs_scaled_files", cache_key)


def _paired_baseline_scaled(spark, factors: tuple[int, ...]) -> dict:
    """VERDICT r7 task 2: the 1x paired ratio only shows Spark's ~1 s
    scheduling floor against a 6.4 MB corpus; THIS measurement pairs
    the two engines in the same process window at 8x (51 MB) and 64x
    (410 MB), where the architectures actually diverge. Same
    interleaving discipline as _paired_baseline; file materialization
    is a cached build step outside every timed window."""
    import tempfile

    binpath = _ensure_reference_binary()
    if binpath is None:
        return {}

    def run_cpp(m: int, r: int, manifest: str, scratch: str) -> float:
        return _time_reference_binary(binpath, scratch, m, r, manifest=manifest)

    import resource

    raw_limit = resource.getrlimit(resource.RLIMIT_NOFILE)[0]
    fd_limit = float("inf") if raw_limit == resource.RLIM_INFINITY else raw_limit
    base_pairs = int(os.environ.get("SPARK_GRAFT_BASELINE_SCALE_PAIRS", "2"))
    out: dict = {}
    for factor in factors:
        # x8 quiet-pair budget raised to 4 (VERDICT r12 task 8): the
        # committed r12 margin read 0.969 vs 0.78-0.89 in builder
        # windows; n>=4 quiet pairs settles whether that was drift or
        # one slow window. Other factors sit far from their bars and
        # keep the cheaper budget.
        pairs = max(base_pairs, 4) if factor == 8 else base_pairs
        try:
            manifest = _scaled_reference_manifest(factor)
            if manifest is None:
                continue
            # The reference fopen()s EVERY manifest file before reading
            # any (src/tema1.cpp:331-343): one simultaneous FD per
            # input file, so a corpus larger than the FD ulimit crashes
            # it (observed: SIGSEGV in its error path at 22,720 files
            # under ulimit 20,000, unraisable in this container). That
            # ceiling is an architectural finding, recorded as a note;
            # the flagship side — which streams files through tasks —
            # is still timed at such factors. Entry count comes from
            # the manifest itself (first line), not a hardcoded 355.
            with open(manifest) as mf:
                n_entries = int(mf.readline())
            cpp_ok = n_entries + 64 < fd_limit
            scratch = os.path.join(
                tempfile.gettempdir(), "pmrs_ref_run", f"x{factor}-{os.getpid()}"
            )
            os.makedirs(scratch, exist_ok=True)
            # Probe-gated like the 1x pairing (VERDICT r10 tasks 1+8),
            # with a smaller retry budget — at-scale pairs cost tens of
            # seconds each, and the at-scale ratios sit far enough from
            # their bars that one quiet pair settles them.
            scale_retries = int(
                os.environ.get("SPARK_GRAFT_SCALE_PAIR_RETRIES", "2")
            )
            quiet: list[tuple[float | None, float, float | None]] = []
            hot: list[tuple[float | None, float, float | None]] = []
            attempts: list[dict] = []
            flag_out = os.path.join(scratch, "flagship_out")
            for attempt in range(pairs + scale_retries):
                if len(quiet) >= pairs:
                    break
                if hot and attempt > 0:
                    time.sleep(_PAIR_BACKOFF_S)
                before = _window_probes(spark)
                seq = run_cpp(1, 1, manifest, scratch) if cpp_ok else None
                flag = _flagship_e2e(spark, manifest, flag_out)
                par = run_cpp(4, 4, manifest, scratch) if cpp_ok else None
                after = _window_probes(spark)
                is_quiet = _probes_quiet(before, after)
                (quiet if is_quiet else hot).append((seq, flag, par))
                attempts.append(
                    {
                        "cpp_seq": None if seq is None else round(seq, 3),
                        "flagship": round(flag, 3),
                        "cpp_par": None if par is None else round(par, 3),
                        "probe_before": before,
                        "probe_after": after,
                        "quiet": is_quiet,
                    }
                )
                print(
                    f"bench: paired x{factor} attempt {attempt} "
                    f"{'QUIET' if is_quiet else 'HOT (discarded)'} "
                    f"flag={flag:.2f} probes={before}|{after}",
                    file=sys.stderr,
                )
            used = quiet or hot
            cpp_seq = [u[0] for u in used if u[0] is not None]
            flagship = [u[1] for u in used]
            cpp_par = [u[2] for u in used if u[2] is not None]
            out[f"paired_x{factor}_flagship_runs"] = [round(x, 3) for x in flagship]
            out[f"paired_x{factor}_quiet"] = bool(quiet)
            out[f"paired_x{factor}_attempts"] = attempts
            if cpp_ok:
                out[f"flagship_vs_reference_ratio_x{factor}"] = round(
                    min(flagship) / min(cpp_seq), 3
                )
                out[f"flagship_vs_reference_parallel_ratio_x{factor}"] = round(
                    min(flagship) / min(cpp_par), 3
                )
                out[f"paired_x{factor}_cpp_seq_runs"] = [round(x, 3) for x in cpp_seq]
                out[f"paired_x{factor}_cpp_par_runs"] = [round(x, 3) for x in cpp_par]
                print(
                    f"bench: paired x{factor} ratio seq "
                    f"{out[f'flagship_vs_reference_ratio_x{factor}']} par "
                    f"{out[f'flagship_vs_reference_parallel_ratio_x{factor}']} "
                    f"flagship={out[f'paired_x{factor}_flagship_runs']} "
                    f"cpp_seq={out[f'paired_x{factor}_cpp_seq_runs']} "
                    f"cpp_par={out[f'paired_x{factor}_cpp_par_runs']}",
                    file=sys.stderr,
                )
            else:
                out[f"paired_x{factor}_note"] = (
                    f"reference binary needs {n_entries} simultaneous FDs "
                    f"(fopen-all-then-read, src/tema1.cpp:331), over the "
                    f"ulimit of {fd_limit}; flagship timed solo"
                )
                print(
                    f"bench: paired x{factor} flagship="
                    f"{out[f'paired_x{factor}_flagship_runs']} — "
                    f"{out[f'paired_x{factor}_note']}",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            print(f"bench: paired x{factor} ERROR: {e}", file=sys.stderr)
    return out


def _sf_from_dir(sf_dir: str) -> float:
    base = os.path.basename(sf_dir.rstrip("/"))
    if base.startswith("sf"):
        try:
            return float(base[2:])
        except ValueError:
            pass
    return -1.0


def _make_session(cpus: str):
    spark = (
        SparkSession.builder.appName("bench")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        # 24g default (box has 128 GiB): the 512x scale-curve notch
        # materializes ~512M (word, doc) posting entries through the
        # full-array inverted index, which needs >8g of executor heap in
        # local mode. Headline queries are unaffected (they fit in 8g).
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Commit-protocol v2 (task outputs promoted directly; O(1) job
        # commit instead of a rename per partition dir). Measured on the
        # paired flagship e2e at 1x: 3.35 -> 2.09 s — the v1 job-commit
        # rename storm was ~60% of the 26-way partitioned text write,
        # pure protocol overhead the C++ binary (fprintf, no committer)
        # never pays. Semantics of the written bytes are identical; v2's
        # weaker failure atomicity is irrelevant to a bench scratch dir.
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        # Long-lived-driver hygiene (r15, the measured cause of the
        # r12->r14 headline walk — BASELINE.md "driver aging"): with a
        # 24g heap the driver JVM may not GC for the entire headline
        # loop, so the ContextCleaner (which reclaims broadcast blocks
        # and shuffle state only when GC collects their references)
        # never runs and per-query state accumulates — late-positioned
        # queries inflate 1.3-1.6x in-process while a fresh process
        # reproduces their r12-band bests. periodicGC at 1 min (default
        # 30 min — longer than the whole bench) bounds that
        # accumulation; the retained* caps bound listener-state growth
        # (the SQL listener retains execution metadata even with the UI
        # disabled). Production clusters run exactly these knobs on
        # long-lived drivers; this is measurement hygiene, not a
        # workload change.
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.sql.ui.retainedExecutions", "8")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "100")
        .config("spark.ui.retainedTasks", "1000")
        # JVM unified logging writes to STDOUT by default, and a
        # GC-pressure warning ('[gc,alloc] ... Retried waiting for
        # GCLocker') was observed interleaving with the bench's
        # one-JSON-line stdout contract during a heap-stressed x512
        # notch — the exact failure class that cost round 3 its bench
        # deliverable. Route JVM logs off stdout for the bench session.
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _revive(spark, cpus: str):
    """Return a LIVE session: probe with a 1-row job and rebuild the
    whole JVM if it is gone. In local mode one executor OOM kills the
    single JVM, and the first honest-basis bench run proved the blast
    radius: the x1024 chunked notch died and every downstream section —
    both remaining curves, all four paired baselines, the final stdout
    JSON line — was lost with it. Each section now passes through this
    guard so one dead notch costs one ERROR entry, not the round's
    whole bench deliverable. The probe runs OUTSIDE every timed
    window."""
    try:
        spark.range(1).count()
        return spark
    except Exception:  # noqa: BLE001
        print(
            "bench: session JVM is dead — rebuilding for the remaining "
            "sections",
            file=sys.stderr,
        )
        try:
            spark.stop()
        except Exception:  # noqa: BLE001
            pass
        # Clear every cached handle to the dead gateway; getOrCreate()
        # would otherwise hand back a session wired to a dead JVM.
        from pyspark import SparkContext

        SparkContext._active_spark_context = None
        SparkContext._gateway = None
        SparkContext._jvm = None
        SparkSession._instantiatedSession = None
        SparkSession._activeSession = None
        return _make_session(cpus)


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    names = sys.argv[1:] or list(HEADLINE)

    spark = _make_session(cpus)
    # Untimed warmup: absorb executor-thread spin-up, codegen compiler
    # init, and shuffle machinery into setup instead of the first query.
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()

    specs = all_queries()
    _spark_probe(spark)  # discard one: first use pays noop-writer +
    # codegen init (~2 s) regardless of host state; the recorded series
    # must measure scheduling latency, not one-time shape warmup
    probes: dict[str, float] = {}
    # Writeback gate BEFORE the headline window (VERDICT r15 task 4):
    # start_dirty_kb below records the post-drain state the window
    # actually ran under; the pre-drain reading and drain duration are
    # recorded by the gate itself when it acts.
    _drain_dirty_pages("start", probes)
    probes.update(
        {
            "start": round(_contention_probe(), 3),
            "start_par": round(_contention_probe_parallel(), 3),
            "start_spark": round(_spark_probe(spark), 3),
            "start_dirty_kb": _dirty_kb(),
        }
    )
    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    all_runs: dict[str, list[float]] = {}
    # n=3 by default: this box has 2-3x run-to-run variance, so alongside
    # best (the stable engine cost) we record the median — a regression
    # moves both, noise moves only one.
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    for name in names:
        if name not in specs:
            print(f"bench: unknown query {name!r}, skipping", file=sys.stderr)
            continue
        runs: list[float] = []
        spark = _revive(spark, cpus)
        try:
            # first run pays JIT/codegen warmup; min is the stable engine
            # cost the gate compares, median the noise-aware companion.
            for _ in range(n_runs):
                t0 = time.perf_counter()
                df = specs[name].build(spark, sf_dir)
                _materialize(df)  # full execution of EVERY output column
                runs.append(time.perf_counter() - t0)
            best = min(runs)
            med = sorted(runs)[len(runs) // 2]
            timings[name] = round(best, 3)
            medians[name] = round(med, 3)
            all_runs[name] = [round(r, 3) for r in runs]
            print(f"bench: {name} {best:.2f}s median {med:.2f}s", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            timings[name] = -1.0
            medians[name] = -1.0
            all_runs[name] = []
            print(f"bench: {name} ERROR: {e}", file=sys.stderr)
        # Release the just-benched query's pinned caches and checkpoint
        # blocks: registry.release_pins() unpersists every pin() this
        # build made, and dropping the DataFrame refs + gc lets the
        # ContextCleaner reclaim localCheckpoint blocks (iterative
        # entries) — 100+ executions without the nudge lets dead blocks
        # accumulate against the heap and degrade later queries
        # (observed: tail-of-run timings 2-3x early-run ones).
        from parallel_map_reduce_spark.registry import release_pins

        release_pins()
        df = None
        import gc

        gc.collect()

    probes["after_headline"] = round(_contention_probe(), 3)
    probes["after_headline_par"] = round(_contention_probe_parallel(), 3)
    probes["after_headline_dirty_kb"] = _dirty_kb()
    # Reassign before probing (advisor r9): discarding _revive's return
    # would orphan a freshly-built JVM if the prior section killed ours.
    spark = _revive(spark, cpus)
    probes["after_headline_spark"] = round(_spark_probe(spark), 3)

    # Heat-aware headline retry (r13): the paired/notch sections are
    # probe-gated, but the headline section was not — a hot window
    # inflated the ONE number the driver's round record leads with
    # (r13 observed 35.2/42.0 best/median at probe_spark 1.04 vs 29.4
    # committed r12 at 0.34-0.81, same code). If the window around the
    # headline loop read hot, run ONE more pass (single run per query)
    # and fold it into best/median — a min only improves with samples,
    # the extra pass is ~1/(n_runs+1) of headline cost, and the
    # artifact records that the retry happened plus both probe sets,
    # so a reader can attribute the committed number either way.
    headline_retried = False
    if not _probes_quiet(
        {"par": probes["after_headline_par"], "spark": probes["after_headline_spark"]}
    ):
        print(
            "bench: headline window HOT "
            f"(par {probes['after_headline_par']} spark "
            f"{probes['after_headline_spark']}) — one retry pass",
            file=sys.stderr,
        )
        headline_retried = True
        time.sleep(_PAIR_BACKOFF_S)
        for name in names:
            if name not in specs or not all_runs.get(name):
                continue
            spark = _revive(spark, cpus)
            try:
                t0 = time.perf_counter()
                df = specs[name].build(spark, sf_dir)
                _materialize(df)
                runs = all_runs[name] + [round(time.perf_counter() - t0, 3)]
            except Exception as e:  # noqa: BLE001
                print(f"bench: retry {name} ERROR: {e}", file=sys.stderr)
                continue
            all_runs[name] = runs
            timings[name] = round(min(runs), 3)
            medians[name] = round(sorted(runs)[len(runs) // 2], 3)
            from parallel_map_reduce_spark.registry import release_pins

            release_pins()
            df = None
        probes["after_headline_retry_par"] = round(
            _contention_probe_parallel(), 3
        )
        spark = _revive(spark, cpus)
        probes["after_headline_retry_spark"] = round(_spark_probe(spark), 3)

    # Scale curve (BENCH_DETAIL only, never stdout): the reference's own
    # 355-doc workload replicated 1x/8x/64x with distinct doc ids
    # (sources/scaled_corpus.py) through the full inverted-index
    # pipeline, ONE timed run per factor — corpus generation is a cached
    # build step outside the timed window. The C++ reference mmap-loads
    # the whole corpus (src/tema1.cpp:344-364), so ITS curve ends at
    # RAM; this one is the sub-linearity evidence BASELINE.md cites.
    # 512x (~3.3 GB of text) extends the curve past the page-cache
    # regime (VERDICT r6 task 7); generation is cached on disk across
    # runs, so only the first-ever bench pays it.
    # Tolerant env parse (advisor r7): a malformed entry (trailing
    # comma, stray space) warns and is skipped instead of killing the
    # whole bench deliverable with a ValueError.
    scale_factors = tuple(_int_list_env("SPARK_GRAFT_SCALE_FACTORS", "1,8,64,512"))
    # A JVM OOM kills the whole session (not just the query), so the
    # 512x notch only runs when the driver heap can hold its posting
    # arrays — a too-small SPARK_GRAFT_DRIVER_MEM drops it rather than
    # risking the entire bench deliverable.
    mem_gb = _mem_gb(os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    if mem_gb < 16:
        scale_factors = tuple(f for f in scale_factors if f <= 64)
    scale_curve: dict[str, float] = {}
    curve_detail: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_SCALE_CURVE", "1") != "0" and not sys.argv[1:]:
        from parallel_map_reduce_spark.operators.inverted_index import inverted_index
        from parallel_map_reduce_spark.sources.scaled_corpus import (
            scaled_reference_corpus,
        )

        for factor in scale_factors:
            try:
                spark = _revive(spark, cpus)
                docs = scaled_reference_corpus(spark, factor)  # cached build
                # Probe-gated windows of _CURVE_RUNS runs, commit the
                # min (VERDICT r7 task 4 + r10 task 8): this host shows
                # up to 4-5x same-code swings across windows; a
                # single-run notch inherits all of it.
                secs, nd = _probe_gated_notch(
                    spark,
                    lambda: inverted_index(docs),
                    f"scale_curve x{factor}",
                )
                scale_curve[f"x{factor}"] = round(secs, 3)
                curve_detail[f"index_x{factor}"] = nd
                print(
                    f"bench: scale_curve x{factor} {secs:.2f}s "
                    f"(quiet={nd['quiet']})",
                    file=sys.stderr,
                )
            except Exception as e:  # noqa: BLE001
                scale_curve[f"x{factor}"] = -1.0
                print(f"bench: scale_curve x{factor} ERROR: {e}", file=sys.stderr)

    # Second curve: exact dedup (the canonical 100 TB pre-pass) over the
    # same replicated corpus — one digest-keyed exchange whose work is
    # linear in rows (replicas are REAL duplicates the operator must
    # group, so the workload is honest: n_copies scales with the factor,
    # pair-explosion families are deliberately NOT curved this way).
    dedup_curve: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_SCALE_CURVE", "1") != "0" and not sys.argv[1:]:
        from parallel_map_reduce_spark.operators.dedup import exact_dup_groups
        from parallel_map_reduce_spark.sources.scaled_corpus import (
            scaled_reference_corpus,
        )

        for factor in scale_factors:
            try:
                spark = _revive(spark, cpus)
                docs = scaled_reference_corpus(spark, factor)  # cached build
                secs, nd = _probe_gated_notch(
                    spark,
                    lambda: exact_dup_groups(docs),
                    f"dedup_curve x{factor}",
                )
                dedup_curve[f"x{factor}"] = round(secs, 3)
                curve_detail[f"dedup_x{factor}"] = nd
                print(
                    f"bench: dedup_curve x{factor} {secs:.2f}s "
                    f"(quiet={nd['quiet']})",
                    file=sys.stderr,
                )
            except Exception as e:  # noqa: BLE001
                dedup_curve[f"x{factor}"] = -1.0
                print(f"bench: dedup_curve x{factor} ERROR: {e}", file=sys.stderr)

    # Third curve (VERDICT r7 task 5): the CHUNKED posting formulation
    # through the knee where the full-array one goes GC-bound
    # (BASELINE.md locates it at ~1024x: the terminal per-word
    # collect_list holds 363k-entry arrays). build_postings_chunked
    # bounds every collected array at chunk_size, so the curve should
    # stay linear at bounded memory — the measured witness for the
    # 100 TB claim. Below a 16g heap the default knee factors (512,
    # 1024) are all skipped — loudly, so a missing curve in the
    # committed artifact is attributable.
    chunked_curve: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_SCALE_CURVE", "1") != "0" and not sys.argv[1:]:
        from parallel_map_reduce_spark.operators.inverted_index import (
            build_postings_chunked,
        )
        from parallel_map_reduce_spark.operators.tokenize import doc_word_pairs
        from parallel_map_reduce_spark.sources.scaled_corpus import (
            scaled_reference_corpus,
        )

        chunked_factors = _int_list_env("SPARK_GRAFT_CHUNKED_FACTORS", "512,1024")
        if mem_gb < 16:
            dropped = [f for f in chunked_factors if f > 64]
            chunked_factors = [f for f in chunked_factors if f <= 64]
            if dropped:
                print(
                    f"bench: chunked_curve factors {dropped} skipped "
                    f"(driver heap {mem_gb:.0f}g < 16g)",
                    file=sys.stderr,
                )
        for factor in chunked_factors:
            try:
                spark = _revive(spark, cpus)
                docs = scaled_reference_corpus(spark, factor)  # cached build
                secs, nd = _probe_gated_notch(
                    spark,
                    lambda: build_postings_chunked(doc_word_pairs(docs)),
                    f"chunked_curve x{factor}",
                )
                chunked_curve[f"x{factor}"] = round(secs, 3)
                curve_detail[f"chunked_x{factor}"] = nd
                print(
                    f"bench: chunked_curve x{factor} {secs:.2f}s "
                    f"(quiet={nd['quiet']})",
                    file=sys.stderr,
                )
            except Exception as e:  # noqa: BLE001
                chunked_curve[f"x{factor}"] = -1.0
                print(f"bench: chunked_curve x{factor} ERROR: {e}", file=sys.stderr)

    # Fifth curve (VERDICT r11 task 2): MinHash-LSH incremental dedup —
    # the north star's signature operator — at growing corpus size with
    # a FIXED increment, served from the persisted corpus band table
    # (queries/dedup.py:ensure_corpus_band_table's shape). The corpus
    # band artifact is a build-once step OUTSIDE the timed window (the
    # point of incremental serving); the timed wall is the increment's
    # signature compute (fixed) + the bucketed band equi-join, whose
    # output grows linearly (each original doc matches its ``factor``
    # replicas), so ~linear wall growth in corpus size is the witness
    # that candidate generation never goes all-pairs. The self-join
    # form (dedup_minhash_lsh_pairs) is deliberately NOT curved over
    # replicas: byte-identical replicas make ITS workload quadratic by
    # construction (factor² true-duplicate pairs), which would measure
    # the workload, not the operator.
    incr_lsh_curve: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_INCR_LSH_CURVE", "1") != "0" and not sys.argv[1:]:
        try:
            from parallel_map_reduce_spark.operators.dedup import (
                incremental_lsh_matches_indexed,
                lsh_band_signatures,
            )
            from parallel_map_reduce_spark.operators.layout import (
                ensure_bucketed_table,
            )
            from parallel_map_reduce_spark.sources.artifact_cache import source_key
            from parallel_map_reduce_spark.sources.scaled_corpus import (
                REF_CORPUS_PARQUET,
                scaled_reference_corpus,
            )

            incr_factors = _int_list_env("SPARK_GRAFT_INCR_LSH_FACTORS", "8,64,512")
            if mem_gb < 16:
                incr_factors = [f for f in incr_factors if f <= 64]
            for factor in incr_factors:
                spark = _revive(spark, cpus)
                corpus = scaled_reference_corpus(spark, factor)  # cached build
                key = source_key(
                    f"incr_lsh_bands_x{factor}",
                    os.path.dirname(REF_CORPUS_PARQUET),
                    os.path.basename(REF_CORPUS_PARQUET),
                )
                table = ensure_bucketed_table(
                    spark,
                    f"pmrs_scaled_bands_x{factor}",
                    "pmrs_scaled_bands",
                    key,
                    lambda c=corpus: lsh_band_signatures(c),
                    "sig",
                    16,
                )
                corpus_bands = spark.table(table)
                increment = scaled_reference_corpus(spark, 1)
                secs, nd = _probe_gated_notch(
                    spark,
                    lambda: incremental_lsh_matches_indexed(
                        lsh_band_signatures(increment), corpus_bands
                    ),
                    f"incr_lsh_curve x{factor}",
                )
                incr_lsh_curve[f"x{factor}"] = round(secs, 3)
                curve_detail[f"incr_lsh_x{factor}"] = nd
                print(
                    f"bench: incr_lsh_curve x{factor} {secs:.2f}s "
                    f"(quiet={nd['quiet']})",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            print(f"bench: incr_lsh_curve ERROR: {e}", file=sys.stderr)

    # Promotion-lifecycle notch (VERDICT r12 task 1): the crawl loop is
    # match → clean → PROMOTE; each promotion APPENDS the increment's
    # band signatures into the corpus band artifact
    # (layout.ensure_bucketed_append — base files hardlinked, corpus
    # never rebuilt). Two committed witnesses: (a) the serving match
    # against the 4-promotion table costs the same as against the base
    # table (the accumulated per-promotion files don't degrade the
    # bucket join), and (b) the promote step itself is O(increment) —
    # its wall is increment-signature compute + a bucketed append,
    # INDEPENDENT of corpus size. Promotion artifacts are built outside
    # the timed windows except the one step deliberately timed.
    promote_notch: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_PROMOTE_NOTCH", "1") != "0" and not sys.argv[1:]:
        try:
            from parallel_map_reduce_spark.operators.dedup import (
                incremental_lsh_matches_indexed,
                lsh_band_signatures,
            )
            from parallel_map_reduce_spark.operators.layout import (
                ensure_bucketed_append,
                ensure_bucketed_table,
            )
            from parallel_map_reduce_spark.sources.artifact_cache import (
                artifact_path,
                source_key,
            )
            from parallel_map_reduce_spark.sources.scaled_corpus import (
                REF_CORPUS_PARQUET,
                scaled_reference_corpus,
            )

            spark = _revive(spark, cpus)
            base_factor = 8
            corpus = scaled_reference_corpus(spark, base_factor)
            pkey = source_key(
                f"promote_base_x{base_factor}",
                os.path.dirname(REF_CORPUS_PARQUET),
                os.path.basename(REF_CORPUS_PARQUET),
            )
            base_table = ensure_bucketed_table(
                spark,
                "pmrs_promote_base",
                "pmrs_promote_bands",
                pkey,
                lambda: lsh_band_signatures(corpus),
                "sig",
                16,
            )
            increment = scaled_reference_corpus(spark, 1)

            # Promoted increments come from a DIFFERENT corpus (the
            # testdata documents table) so the fixed probe's match set
            # — and therefore the timed match workload — is identical
            # at v0 and v4; promoting replicas of the probe itself
            # would grow the output linearly in promotions and measure
            # the workload, not the table layout.
            from parallel_map_reduce_spark.sources.catalog import load_table

            promo_docs = load_table(spark, sf_dir, "documents")

            def inc_shifted(i: int):
                return lsh_band_signatures(
                    promo_docs.filter(F.col("doc_id") % 4 == (i % 4)).withColumn(
                        "doc_id", F.col("doc_id") + F.lit(10_000_000 * i)
                    )
                )

            # Build promotions v1..v3 untimed, TIME the v4 promote step.
            prev_dir = artifact_path("pmrs_promote_bands", pkey)
            table = base_table
            for i in range(1, 4):
                table = ensure_bucketed_append(
                    spark,
                    f"pmrs_promote_v{i}",
                    "pmrs_promote_bands",
                    f"{pkey}v{i}",
                    prev_dir,
                    lambda i=i: inc_shifted(i),
                    "sig",
                    16,
                )
                prev_dir = artifact_path("pmrs_promote_bands", f"{pkey}v{i}")
            # pid-keyed v4: the timed step must be a BUILD every run —
            # a stable key would serve the previous bench run's cached
            # artifact and time the fast-path registration instead
            # (family LRU bounds the per-run leftovers).
            t0 = time.perf_counter()
            table = ensure_bucketed_append(
                spark,
                "pmrs_promote_v4",
                "pmrs_promote_bands",
                f"{pkey}v4p{os.getpid()}",
                prev_dir,
                lambda: inc_shifted(4),
                "sig",
                16,
            )
            promote_step = time.perf_counter() - t0
            # O(increment) must mean HARDLINKS, not silent cross-device
            # copies: the fallback ledger has to be empty after the
            # timed step (VERDICT r13 task 4) — a non-empty ledger
            # means the measured step actually paid O(corpus) copy
            # bytes and the number is a lie. Checked BEFORE the number
            # is recorded (review r14): the section's blanket except
            # swallows this assert into a stderr line, so a
            # post-record assert would still let the lying value land
            # in BENCH_DETAIL.json.
            from parallel_map_reduce_spark.operators.layout import (
                _bucket_file_counts,
                pop_link_fallbacks,
            )

            fallbacks = pop_link_fallbacks()
            assert not fallbacks, (
                f"promote notch degraded to copyfile on {len(fallbacks)} "
                f"files (cross-device artifact cache?): {fallbacks[:3]}"
            )
            promote_notch["promote_step"] = round(promote_step, 3)
            probe = lsh_band_signatures(increment)
            # v0/v4 probes run BEFORE the chain-32 extension below:
            # 28 more published versions would push v0/v4 past the
            # family LRU's KEEP=8 and the probe would time a corpus
            # rebuild instead of serving.
            for label, tbl in (("match_v0", base_table), ("match_v4", table)):
                secs, nd = _probe_gated_notch(
                    spark,
                    lambda t=tbl: incremental_lsh_matches_indexed(
                        probe, spark.table(t)
                    ),
                    f"promote_notch {label}",
                )
                promote_notch[label] = round(secs, 3)
                curve_detail[f"promote_{label}"] = nd
            # Chain-32 auto-compaction witness (VERDICT r13 task 3):
            # continue the chain v5..v32 with the file-count policy at
            # 8 files/bucket — compaction must hold the bound in every
            # published version, zero link fallbacks, and serving
            # against v32 must stay in the v0/v4 band (recorded as
            # match_v32).
            t0 = time.perf_counter()
            v32_dir = artifact_path(
                "pmrs_promote_bands", f"{pkey}v4p{os.getpid()}"
            )
            peak_per_bucket = 0
            for i in range(5, 33):
                table = ensure_bucketed_append(
                    spark,
                    f"pmrs_promote_v{i}",
                    "pmrs_promote_bands",
                    f"{pkey}v{i}p{os.getpid()}",
                    v32_dir,
                    lambda i=i: inc_shifted(i),
                    "sig",
                    16,
                    compact_files_per_bucket=8,
                )
                v32_dir = artifact_path(
                    "pmrs_promote_bands", f"{pkey}v{i}p{os.getpid()}"
                )
                counts = _bucket_file_counts(v32_dir)
                peak_per_bucket = max(peak_per_bucket, max(counts.values()))
            assert peak_per_bucket <= 8, (
                f"auto-compaction never held the bound: {peak_per_bucket}"
            )
            assert pop_link_fallbacks() == []
            promote_notch["chain32_total"] = round(time.perf_counter() - t0, 3)
            promote_notch["chain32_peak_files_per_bucket"] = peak_per_bucket
            secs, nd = _probe_gated_notch(
                spark,
                lambda t=table: incremental_lsh_matches_indexed(
                    probe, spark.table(t)
                ),
                "promote_notch match_v32",
            )
            promote_notch["match_v32"] = round(secs, 3)
            curve_detail["promote_match_v32"] = nd
            print(f"bench: promote_notch {promote_notch}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            print(f"bench: promote_notch ERROR: {e}", file=sys.stderr)

    # LSH serving notch (VERDICT r9 task 6): the persisted (band,
    # bucket)-partitioned ANN store only beats inline re-bucketing when
    # partition pruning actually skips directories — HEADLINE's
    # 400-query batch probes all 48 buckets, so the store is
    # cost-neutral there. Time inline vs served at BOTH batch sizes
    # (b20 = vec_id%1000, prunes; b400 = vec_id%50, probes everything)
    # so the crossover is a committed artifact, not a claim. Store
    # build is a cached artifact OUTSIDE the timed window (that is the
    # point of a serving index).
    lsh_notch: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_LSH_NOTCH", "1") != "0" and not sys.argv[1:]:
        try:
            from parallel_map_reduce_spark.operators import similarity as _S
            from parallel_map_reduce_spark.queries.similarity import _lsh_index_dir
            from parallel_map_reduce_spark.sources.catalog import load_table

            spark = _revive(spark, cpus)
            _idx_dir = _lsh_index_dir(spark, sf_dir)  # cached build, untimed
            _emb = load_table(spark, sf_dir, "embeddings")
            for _label, _mod in (("b20", 1000), ("b400", 50)):
                _pred = F.col("vec_id") % _mod == 0
                for _form, _build in (
                    ("inline", lambda: _S.lsh_ann_topk(_emb, _pred, k=10)),
                    (
                        "served",
                        lambda: _S.lsh_ann_topk_indexed(_emb, _idx_dir, _pred, k=10),
                    ),
                ):
                    runs_l = []
                    for _ in range(_CURVE_RUNS):
                        t0 = time.perf_counter()
                        _materialize(_build())
                        runs_l.append(time.perf_counter() - t0)
                    lsh_notch[f"{_form}_{_label}"] = round(min(runs_l), 3)
            print(f"bench: lsh_serving_notch {lsh_notch}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            print(f"bench: lsh_serving_notch ERROR: {e}", file=sys.stderr)

    # Fourth curve: multimodal decode throughput — the per-row-pure
    # Arrow decode path (REAL PNG/GIF/BMP/JPEG pixel decode + resize,
    # multimodal/codec.py:resize_map) over the committed fixture
    # replicated with distinct doc ids. No shuffle exists anywhere in
    # the plan except the deliberate fan-out repartition that stands in
    # for "payloads arrive as many files"; the curve's evidence is
    # LINEARITY in payload count at fixed core count — the property
    # that makes the 100 TB story "add executors".
    mm_curve: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_MM_CURVE", "1") != "0" and not sys.argv[1:]:
        try:
            from parallel_map_reduce_spark.multimodal.codec import (
                RESIZE_SCHEMA,
                resize_map,
            )

            spark = _revive(spark, cpus)
            _fixture = spark.read.parquet(
                "/root/repo/refdata/image_fixture.parquet"
            ).select("doc_id", "payload")
            for factor in _int_list_env("SPARK_GRAFT_MM_FACTORS", "1,8,64"):
                reps = spark.range(factor).withColumnRenamed("id", "rep")
                replicated = (
                    _fixture.crossJoin(reps)
                    .select(
                        (F.col("doc_id") * factor + F.col("rep")).alias("doc_id"),
                        "payload",
                    )
                    .repartition(int(cpus) * 2)
                )
                secs, nd = _probe_gated_notch(
                    spark,
                    lambda: replicated.mapInPandas(resize_map, schema=RESIZE_SCHEMA),
                    f"mm_decode_curve x{factor}",
                )
                mm_curve[f"x{factor}"] = round(secs, 3)
                curve_detail[f"mm_decode_x{factor}"] = nd
                print(
                    f"bench: mm_decode_curve x{factor} {secs:.2f}s "
                    f"(quiet={nd['quiet']})",
                    file=sys.stderr,
                )
        except Exception as e:  # noqa: BLE001
            print(f"bench: mm_decode_curve ERROR: {e}", file=sys.stderr)

    # WARC ingest throughput (r16): the crawl chain's front end is a
    # Python-side parser behind the Arrow boundary — the one ingest hop
    # that does NOT ride JVM codegen, so its throughput is measured,
    # not assumed. Stage N copies of the committed fixture (one file =
    # one task, the Common Crawl unit), parse + envelope-decode every
    # record, report wall + MB/s over the staged wire bytes.
    warc_curve: dict[str, dict] = {}
    if os.environ.get("SPARK_GRAFT_WARC_NOTCH", "1") != "0" and not sys.argv[1:]:
        try:
            import shutil as _sh
            import tempfile

            from parallel_map_reduce_spark.sources.warc import read_warc

            spark = _revive(spark, cpus)
            src_dir = "/root/repo/refdata/warc"
            srcs = [
                os.path.join(src_dir, n)
                for n in sorted(os.listdir(src_dir))
                if n.endswith((".warc", ".warc.gz"))
            ]
            for factor in _int_list_env("SPARK_GRAFT_WARC_FACTORS", "4,32"):
                stage = os.path.join(
                    tempfile.gettempdir(), f"warc_bench_x{factor}"
                )
                _sh.rmtree(stage, ignore_errors=True)
                os.makedirs(stage)
                staged_bytes = 0
                for rep in range(factor):
                    for s in srcs:
                        base = os.path.basename(s)
                        dst = os.path.join(stage, f"r{rep:04d}-{base}")
                        try:
                            os.link(s, dst)
                        except OSError:
                            _sh.copyfile(s, dst)
                        staged_bytes += os.path.getsize(s)
                n_files = factor * len(srcs)
                secs, nd = _probe_gated_notch(
                    spark,
                    lambda: read_warc(spark, stage).select(
                        "warc_type", "http_status", "n_bytes"
                    ),
                    f"warc_ingest x{factor}",
                )
                mb = staged_bytes / 1e6
                warc_curve[f"x{factor}"] = {
                    "secs": round(secs, 3),
                    "files": n_files,
                    "mb": round(mb, 1),
                    "mb_per_s": round(mb / secs, 1),
                }
                curve_detail[f"warc_ingest_x{factor}"] = nd
                print(
                    f"bench: warc_ingest x{factor} {secs:.2f}s "
                    f"{mb / secs:.1f} MB/s over {n_files} files "
                    f"(quiet={nd['quiet']})",
                    file=sys.stderr,
                )
                _sh.rmtree(stage, ignore_errors=True)
        except Exception as e:  # noqa: BLE001
            print(f"bench: warc_ingest ERROR: {e}", file=sys.stderr)

    probes["after_curves"] = round(_contention_probe(), 3)
    probes["after_curves_par"] = round(_contention_probe_parallel(), 3)
    spark = _revive(spark, cpus)  # reassign: do not orphan a revived JVM
    probes["after_curves_spark"] = round(_spark_probe(spark), 3)

    # Paired flagship-vs-reference ratio, same process window (task: the
    # only noise-immune form of the driver's 2x-of-baseline metric).
    paired: dict = {}
    if os.environ.get("SPARK_GRAFT_PAIRED_BASELINE", "1") != "0" and not sys.argv[1:]:
        # The curves above stage gigabytes of corpora — exactly the
        # write phase that leaves the dirty backlog the paired window
        # must not run under. Same gate as the headline.
        _drain_dirty_pages("paired", probes)
        spark = _revive(spark, cpus)
        paired = _paired_baseline(spark)
        # Same pairing at 8x/64x corpus scale — where the architectures
        # diverge (VERDICT r7 task 2); skipped only by explicit env.
        # 128x extends the only end-to-end curve (sink inside the timed
        # window) one octave past the reference's FD-ulimit death at
        # 64x — flagship timed solo there, same note mechanism
        # (VERDICT r11 task 8).
        # 256x (~1.6 GB, ~91k files) extends the curve a second octave
        # past the reference's FD-ulimit ceiling (VERDICT r12 task 5)
        # 512x (~3.2 GB, ~182k files) adds a third octave (VERDICT r13
        # task 8) — the 128->256 step already showed the page-cache
        # knee (~2.05x wall per 2x data vs ~1.8x below it); 512x
        # records whether the out-of-cache regime holds that slope
        # 1024x (~6.5 GB, ~364k files) adds a fourth octave (VERDICT
        # r14 task 7): r15 probe-gated readings 153.4 s best quiet
        # (first attempt 230.7 — staging-cold), i.e. ~2.2x wall per 2x
        # data vs ~1.9-2.0x below — the manifest/scheduling path past
        # this knee is the next thing to watch, not a wall
        scale_pairs = _int_list_env(
            "SPARK_GRAFT_PAIRED_SCALE_FACTORS", "8,32,64,128,256,512,1024"
        )
        if os.environ.get("SPARK_GRAFT_PAIRED_SCALE", "1") != "0" and scale_pairs:
            spark = _revive(spark, cpus)
            paired.update(_paired_baseline_scaled(spark, tuple(scale_pairs)))
    spark.stop()
    probes["end"] = round(_contention_probe(), 3)
    probes["end_par"] = round(_contention_probe_parallel(), 3)

    total = round(sum(t for t in timings.values() if t >= 0), 3)
    total_median = round(sum(t for t in medians.values() if t >= 0), 3)
    sf = _sf_from_dir(sf_dir)

    # Full per-query detail to a side file (and stderr) — NOT stdout.
    detail = {
        "metric": "headline_total",
        "value": total,
        "value_median": total_median,
        "unit": "sec",
        "n_runs": n_runs,
        "headline_retry_pass": headline_retried,
        "sf": sf,
        "set_version": HEADLINE_SET_VERSION,
        "basis": BENCH_BASIS,
        "queries": timings,
        "queries_median": medians,
        "queries_runs": all_runs,
        "reference_corpus_scale_curve": scale_curve,
        "exact_dedup_scale_curve": dedup_curve,
        "chunked_index_scale_curve": chunked_curve,
        "multimodal_decode_scale_curve": mm_curve,
        "warc_ingest_curve": warc_curve,
        "incremental_lsh_scale_curve": incr_lsh_curve,
        "corpus_promote_notch": promote_notch,
        # Per-notch probe windows (VERDICT r10 task 8): every committed
        # curve number above carries its adjacent probe readings here,
        # so a hot-window notch is attributable from the artifact alone.
        "scale_curve_detail": curve_detail,
        "lsh_serving_notch": lsh_notch,
        # Host-contention probes at section boundaries (outside every
        # timed window): compare ACROSS committed windows — a window
        # whose probes run materially slower than another's measured
        # the host, not the code.
        "host_probe_s": probes,
        **paired,
    }
    detail_path = os.path.join(os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json")
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(f"bench: detail written to {detail_path}", file=sys.stderr)

    summary = {
        "metric": "headline_total",
        "value": total,
        "unit": "sec",
        "value_median": total_median,
        "n_runs": n_runs,
        "sf": sf,
        "set_version": HEADLINE_SET_VERSION,
        # Worst parallel host-contention probe of the window (idle
        # ≈ 0.27-0.35 s on this box): lets a reader of the captured
        # stdout line alone flag a steal-inflated window — windows at
        # 55-59 s have been measured with the same code that runs
        # 44 s quiet (BASELINE.md). -1.0 = probe unavailable.
        "probe_par_max": max(
            (v for k, v in probes.items() if k.endswith("_par")), default=-1.0
        ),
        # Worst fixed two-stage mini-Spark-job probe: flags the
        # scheduling-latency contention mode that leaves CPU probes
        # flat while stage-heavy queries inflate 1.3-2x. Cross-window
        # comparison only. Reference readings: 0.34-0.81 s across the
        # quiet committed r9/r10 windows; 1.0-4.1 s measured at
        # contended boundaries.
        "probe_spark_max": max(
            (v for k, v in probes.items() if k.endswith("_spark")), default=-1.0
        ),
        "queries": timings,
    }
    for k in (
        "flagship_vs_reference_ratio",
        "paired_quiet",
        "paired_discarded",
        "paired_x8_quiet",
        "paired_x32_quiet",
        "paired_x64_quiet",
        "paired_x128_quiet",
        "flagship_vs_reference_ratio_x8",
        "flagship_vs_reference_ratio_x32",
        "flagship_vs_reference_ratio_x64",
        "flagship_vs_reference_parallel_ratio_x8",
        "flagship_vs_reference_parallel_ratio_x32",
        "flagship_vs_reference_parallel_ratio_x64",
    ):
        if k in paired:
            summary[k] = paired[k]
    line = json.dumps(summary)
    if len(line) > STDOUT_BUDGET:
        # Never overflow the driver's tail capture: the compact totals
        # always parse; the per-query map lives in BENCH_DETAIL.json.
        summary.pop("queries")
        line = json.dumps(summary)
    print(line)
    return 0 if all(t >= 0 for t in timings.values()) else 1


if __name__ == "__main__":
    raise SystemExit(main())
