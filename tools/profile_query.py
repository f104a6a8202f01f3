"""Per-query job/driver-gap profiler (guide §1: measure first).

Runs each query as ``bench.run_cold`` (cold cache, noop sink, pins
released) in a ``bench.rest_session`` and decomposes its wall time
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
import os
import sys
from datetime import datetime

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def ts(s: str) -> float:
    """A REST job timestamp (ISO, GMT) as epoch seconds."""
    return datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()


def main() -> None:
    ap = argparse.ArgumentParser(description="Per-query job/driver-gap profiler")
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--runs", type=int, default=1)
    args = ap.parse_args()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from bench import rest_session, run_cold, stage_totals, succeeded_jobs, warm_up
    from re_data_pipeline_spark.plans.queries import QUERIES
    from re_data_pipeline_spark.session import codegen_compiles

    spark = rest_session("profile_query")
    warm_up(spark, sf_dir)

    for name in args.queries:
        fn = QUERIES[name]
        best = None
        for _ in range(args.runs):
            pre_jobs = {j["jobId"] for j in succeeded_jobs(spark)}
            pre_stage = stage_totals(spark)
            spark.sparkContext.setJobDescription(f"profile: {name}")
            c0 = codegen_compiles(spark)
            wall = run_cold(spark, fn, sf_dir)
            compiles = codegen_compiles(spark) - c0
            post = [j for j in succeeded_jobs(spark) if j["jobId"] not in pre_jobs]
            post_stage = stage_totals(spark)
            if best is None or wall < best[0]:
                best = (wall, post, pre_stage, post_stage, compiles)
        wall, post, pre_stage, post_stage, compiles = best
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


if __name__ == "__main__":
    main()
