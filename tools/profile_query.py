"""Per-query job/driver-gap profiler (guide §1: measure first).

Runs ONE bench query against the noop sink and decomposes its wall time
into (a) Spark job execution and (b) driver-side gaps between jobs
(planning, analysis, Janino codegen, collect post-processing).  For the
iterative operators (k-center, BPE, EM, pagerank, CC) the gap share is
the tell: a loop whose every round re-plans/re-codegens a fresh literal
projection spends most of its wall OFF the executors, which no amount of
data parallelism recovers.

Usage: python tools/profile_query.py <query> [more queries...]
       [--runs N | --runs=N] (timed runs per query, best kept; default 1)

Per query prints: wall, sum(job durations), gap = wall - sum(jobs),
job count, compiles (generated classes compiled during the timed run; a
steady run that still compiles is thrashing the codegen cache), top jobs
by duration with their group/description, and the cumulative
shuffle/input deltas across the run.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def jobs_snapshot(ui: str, app_id: str) -> list[dict]:
    with urllib.request.urlopen(
        f"{ui}/api/v1/applications/{app_id}/jobs?status=succeeded"
    ) as r:
        return json.load(r)


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-query job/driver-gap profiler")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.plans.queries import QUERIES
    from re_data_pipeline_spark.session import codegen_compiles, get_spark
    from tools.rest_metrics import stage_totals

    spark = get_spark(
        app_name="profile_query",
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # the port this session bound: 4040 is taken while another app runs
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId

    # JVM/codegen warmup (mirrors bench.py)
    QUERIES["q01_pricing_summary"](spark, sf_dir).limit(1).collect()

    for name in args.queries:
        fn = QUERIES[name]
        best = None
        for _ in range(args.runs):
            spark.catalog.clearCache()
            pre_jobs = {j["jobId"] for j in jobs_snapshot(ui, app_id)}
            pre_stage = stage_totals(ui, app_id)
            spark.sparkContext.setJobDescription(f"profile: {name}")
            c0 = codegen_compiles(spark)
            t0 = time.time()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            wall = time.time() - t0
            compiles = codegen_compiles(spark) - c0
            release_spines(df)
            post = [
                j for j in jobs_snapshot(ui, app_id) if j["jobId"] not in pre_jobs
            ]
            post_stage = stage_totals(ui, app_id)
            if best is None or wall < best[0]:
                best = (wall, post, pre_stage, post_stage, compiles)
        wall, post, pre_stage, post_stage, compiles = best
        # job wall from submission->completion timestamps (ISO GMT)
        from datetime import datetime

        def ts(s: str) -> float:
            return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

        tot_job = sum(
            ts(j["completionTime"]) - ts(j["submissionTime"]) for j in post
        )
        print(f"\n=== {name}: wall={wall:.2f}s jobs={len(post)} "
              f"job_time={tot_job:.2f}s driver_gap={wall - tot_job:.2f}s "
              f"compiles={compiles}")
        top = sorted(
            post,
            key=lambda j: ts(j["completionTime"]) - ts(j["submissionTime"]),
            reverse=True,
        )[:12]
        for j in top:
            dur = ts(j["completionTime"]) - ts(j["submissionTime"])
            desc = (j.get("description") or j.get("name") or "")[:90]
            print(f"  job {j['jobId']:>5} {dur:6.2f}s  tasks={j['numTasks']:>4}  {desc}")
        for k in ("shuffle_write_bytes", "shuffle_write_records",
                  "input_bytes", "input_records"):
            print(f"  {k}: {post_stage[k] - pre_stage[k]:,}")
        spark.catalog.clearCache()


if __name__ == "__main__":
    main()
