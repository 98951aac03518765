"""Per-query wall-time attribution for the optimization rounds.

For each named registry query, under the SAME session confs bench.py
uses, measures separately:
  - build_s:   spec.build() wall (driver-side plan construction; the
               NFC r17 fix showed this can dominate — py4j chatter,
               expression-tree size, eager artifact builds)
  - run1_s:    first noop-sink materialize (cold: codegen, broadcast
               build, artifact cache misses)
  - warm_s:    best of N warm materializes (the steady-state engine
               cost bench's best-of-3 converges to); warm_build_s is
               the spec.build() part of each
  - warm_jobs / warm_stages / warm_tasks: per warm run, the jobs,
               the stages that ran and their tasks, read from the
               status tracker under a job group per run (stages
               skipped for reused shuffle output do no work and are
               not counted) — stage-count × scheduling-latency is the
               local floor for multi-exchange plans.

Usage: python tools/profile_query.py [sf_dir] <query> [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parallel_map_reduce_spark.registry import all_queries, release_pins

N_WARM = int(os.environ.get("SPARK_GRAFT_PROFILE_WARM", "3"))


def _materialize(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages that ran, their tasks) of one job group. Status
    events reach the tracker asynchronously, so the listener bus is
    drained first."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        stage_ids.update(info.stageIds if info else ())
    ran = [
        info
        for info in map(tracker.getStageInfo, stage_ids)
        if info is not None and info.numCompletedTasks > 0
    ]
    return len(jobs), len(ran), sum(i.numCompletedTasks for i in ran)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = "/root/testdata/sf0.1"
    if args and os.path.isdir(args[0]):
        sf_dir, args = args[0], args[1:]
    names = args

    from pyspark.sql import SparkSession

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = (
        SparkSession.builder.appName("profile")
        .master(f"local[{cpus}]")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(int(cpus), 8)))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config(
            "spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2"
        )
        .config("spark.cleaner.periodicGC.interval", "1min")
        .config("spark.driver.extraJavaOptions", "-Xlog:disable")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    spark.range(1_000_000).groupBy(F.col("id") % 7).count().collect()  # warmup

    specs = all_queries()
    sc = spark.sparkContext
    out = {}
    for name in names:
        if name not in specs:
            print(f"unknown query {name!r}", file=sys.stderr)
            continue
        release_pins()
        sc.setJobGroup(f"profile:{name}", f"profile:{name}")
        try:
            t0 = time.perf_counter()
            df = specs[name].build(spark, sf_dir)
            build_s = time.perf_counter() - t0

            t0 = time.perf_counter()
            _materialize(df)
            run1_s = time.perf_counter() - t0

            # Warm runs replicate bench.py EXACTLY: pins are released
            # only after the whole per-query batch, so runs 2-3 reuse
            # run-1's cached pin blocks (the CacheManager matches the
            # rebuilt identical logical plan) — that IS the bench's
            # best-of-3 basis.
            warm_runs, warm_builds, counts = [], [], []
            for i in range(N_WARM):
                group = f"profile:{name}:warm{i}"
                sc.setJobGroup(group, f"profile:{name}")
                t0 = time.perf_counter()
                df = specs[name].build(spark, sf_dir)
                warm_builds.append(time.perf_counter() - t0)
                _materialize(df)
                warm_runs.append(time.perf_counter() - t0)
                counts.append(_job_counts(sc, group))
            rec = {
                "build_s": round(build_s, 3),
                "run1_s": round(run1_s, 3),
                "warm_best_s": round(min(warm_runs), 3),
                "warm_runs": [round(r, 3) for r in warm_runs],
                "warm_build_s": [round(b, 3) for b in warm_builds],
                "warm_jobs": [c[0] for c in counts],
                "warm_stages": [c[1] for c in counts],
                "warm_tasks": [c[2] for c in counts],
            }
        except Exception as e:  # noqa: BLE001
            rec = {"error": str(e)[:300]}
        out[name] = rec
        print(f"{name:35s} {json.dumps(rec)}", flush=True)
        release_pins()
    print("PROFILE_JSON " + json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
