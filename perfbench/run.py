"""Benchmark entry point.

    python3 perfbench/run.py --workload {index_build,neardup,serve} \
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Generates the workload's inputs from
the seed, runs the workload in a fresh process (see workloads.py),
checks every operation's output against an independent expectation
(see checks.py), and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every ``end_to_end`` metric of BENCHMARK.json when ``--trace 0``
and every ``per_layer`` metric when ``--trace 1``. The line before it
records the basis of the numbers; the full record (every operation,
its Spark counters and, when traced, its spans) is written to
``.perfbench_out/``. Temporary files live under ``.perfbench_work/``
and are removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [HERE, ROOT]

CHILD_TIMEOUT_S = 150
SERVE_REQUESTS = 400
# Nominal seconds per warm operation on 4 cores. A run times
# round(--seconds / nominal) warm operations (at least MIN_WARM): the
# same operations on every run, however fast the machine is at the
# moment. Session-level JIT warm-up makes later operations faster, so a
# window that held more operations on a faster run would report a
# lower median for that reason alone.
NOMINAL_OP_S = {"index_build": 2.0, "neardup": 2.0, "serve": 2.5}
MIN_WARM = 3
DRIVER_MEM = "1g"


def _nproc() -> int:
    return len(os.sched_getaffinity(0))


def _spawn(cfg: dict, work: str, tag: str) -> dict:
    """Run workloads.py on ``cfg`` in a fresh process; return its result."""
    cfg = dict(cfg, result=os.path.join(work, f"result-{tag}.json"))
    cfg_path = os.path.join(work, f"config-{tag}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(
        os.environ,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        SPARK_GRAFT_CPUS=str(cfg["nproc"]),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        TMPDIR=tmp,
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    )
    log_path = os.path.join(work, f"log-{tag}.txt")
    with open(cfg_path, "w") as fh:
        json.dump(cfg, fh)
    with open(log_path, "w") as log:
        # The child measures set-up from this instant (CLOCK_MONOTONIC is
        # system-wide, so the two processes share it).
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "workloads.py"), cfg_path, repr(time.monotonic())],
            cwd=work,
            env=env,
            stdout=log,
            stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=CHILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, 9)
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path, errors="replace") as fh:
            tail = fh.read()[-4000:]
        raise RuntimeError(f"workload process {tag} exited with {rc}:\n{tail}")
    with open(cfg["result"]) as fh:
        return json.load(fh)


def _check(workload: str, inputs: dict, ops: list[dict], expect) -> tuple[int, dict]:
    """Count operations that raised or whose output is wrong; return
    (failed, quality metrics)."""
    import checks

    quality = {"dedup.lsh_precision": 0.0, "dedup.planted_recall": 0.0, "similarity.recall_at_10": 0.0}
    bad = [o for o in ops if not o["ok"]]
    good = [o for o in ops if o["ok"]]
    if workload == "index_build":
        want = checks.letter_digests(checks.letter_files(checks.read_corpus(inputs["corpus"]["manifest"])))
        bad += [o for o in good if checks.letter_mismatches(want, o["output"]["letters"])]
    elif workload == "neardup":
        cand, jac = checks.neardup_expected(inputs["neardup"]["documents"])
        bad += [o for o in good if not checks.neardup_ok(o["output"]["cand"], o["output"]["jac"], cand, jac)]
        planted = {tuple(p) for p in inputs["neardup"]["planted"]}
        quality["dedup.lsh_precision"] = len(cand & jac.keys()) / max(1, len(cand))
        quality["dedup.planted_recall"] = len(cand & planted) / max(1, len(planted))
    else:
        emb = checks.load_vectors(inputs["vectors"]["embeddings"])
        recalls = []
        for o in good:
            bm25, ann = o["output"]["bm25"], o["output"]["ann"]
            if not (
                checks.bm25_ok(bm25["rows"], expect.rank(bm25["arg"]))
                and checks.ann_ok(ann["rows"], emb, ann["arg"])
            ):
                bad.append(o)
            exact = set(checks.ann_exact(emb, ann["arg"]))
            recalls.append(len(exact & {r[1] for r in ann["rows"]}) / len(exact))
        quality["similarity.recall_at_10"] = sum(recalls) / max(1, len(recalls))
    return len(bad), quality


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("index_build", "neardup", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    if not os.path.isdir(os.path.join(ROOT, "parallel_map_reduce_spark")):
        print("run.py: no parallel_map_reduce_spark package here; run from the repo root", file=sys.stderr)
        return 2

    import checks
    import gen
    import report

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        inputs = gen.generate(args.seed, ROOT, os.path.join(work, "inputs"), args.workload)
        cfg = {
            "workload": args.workload,
            "seed": args.seed,
            "warm_ops": max(MIN_WARM, round(args.seconds / NOMINAL_OP_S[args.workload])),
            "trace": args.trace,
            "nproc": _nproc(),
            "work": work,
            "inputs": inputs,
        }
        expect = None
        if args.workload == "serve":
            expect = checks.Bm25(checks.read_corpus(inputs["corpus"]["manifest"]))
            rng = random.Random(args.seed)
            cfg["requests"] = [
                (terms, rng.randint(1, inputs["vectors"]["vectors"]))
                for terms in expect.requests(args.seed, SERVE_REQUESTS)
            ]
        res = _spawn(cfg, work, "run")
        failed, quality = _check(args.workload, inputs, res["ops"], expect)
        attempted = len(res["ops"])
        input_bytes = sum(v["input_bytes"] for v in inputs.values())
        if args.trace:
            metrics = report.per_layer(res, args.workload, inputs, quality, failed / attempted)
        else:
            metrics = report.end_to_end(res, input_bytes / 1e6)
        missing = [m["name"] for m in wanted if m["name"] not in metrics]
        if missing:
            raise RuntimeError(f"metrics not produced: {missing}")

        basis = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": cfg["nproc"],
            **res["basis"],
            "inputs": {
                k: {f: v for f, v in d.items() if isinstance(v, int)} for k, d in inputs.items()
            },
            "input_bytes": input_bytes,
            "cold": "cold_s: first operation of a fresh session, after set-up",
            "warm": f"{cfg['warm_ops']} warm operations, pins released before each",
        }
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        record = {"basis": basis, "result": res, "metrics": metrics}
        if args.trace:
            record["self_time_s"] = report.layer_self_times(res["spans"])
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as fh:
            json.dump(record, fh)
        print(json.dumps({"basis": basis}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]} for m in wanted},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
