"""Shuffle-volume audit: measure, per headline query, how many bytes and
records actually cross a shuffle boundary, plus input volume — the numbers
the 100 TB design argument stands on (PLANS.md asserts plan *shapes*; this
measures the *traffic*).

Method: run each query once as ``bench.run_cold`` (cold cache, noop sink,
pins released) and diff the cumulative per-stage shuffle-write / input
metrics that ``bench.stage_totals`` reads from Spark's status REST API.
The UI is off in every ``get_spark`` session, so the audit runs in a
``bench.rest_session``, which turns it on.  Writes SHUFFLES.md.

Usage: python tools/shuffle_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt_bytes(n: int) -> str:
    for unit in ("B", "KB", "MB", "GB"):
        if n < 1024 or unit == "GB":
            return f"{n:.1f} {unit}" if unit != "B" else f"{n} B"
        n /= 1024
    return f"{n:.1f} GB"


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from bench import HEADLINE, rest_session, run_cold, stage_totals, warm_up
    from re_data_pipeline_spark.plans.queries import QUERIES

    spark = rest_session("shuffle_audit")
    warm_up(spark, sf_dir)

    lines = [
        "# SHUFFLES — measured shuffle/input volume per headline query\n",
        f"Generated by `tools/shuffle_audit.py` on `{sf_dir}`.  Shuffle write",
        "is the data that actually crossed an exchange; input rows are what",
        "the scans produced after pushdown.  The ratio is the design signal:",
        "map-side combine and broadcast joins keep it near 0% for aggregating",
        "queries (q01 600k→6 rows, q14 600k→693); window/sort/merge-join",
        "queries legitimately shuffle ~100% ONCE, but only pruned columns",
        "(see bytes); scoring-only queries shuffle nothing (q35/q38 0 B).",
        "Ratios >100% are explode fan-out (q96 tokens, q100 n-grams) —",
        "the shuffle carries generated rows, still bounded by the combine.",
        "Local-FS inputBytes is unreliable for mmap'd parquet, so volumes",
        "are record-based.\n",
        "| query | input rows | shuffled rows | shuffle write | shuffled/input rows |",
        "|---|---|---|---|---|",
    ]
    for name in HEADLINE:
        # cold cache per query (r13 fix, inside run_cold): guard-carrying
        # operators pin plan-identical persisted subtrees; without it a
        # later query sharing one (q33's signature frame inside q71) is
        # served the earlier query's cache and its shuffle volume undercounts
        before = stage_totals(spark)
        run_cold(spark, QUERIES[name], sf_dir)
        after = stage_totals(spark)
        d = {k: after[k] - before[k] for k in before}
        ratio = (
            f"{d['shuffle_write_records'] / d['input_records']:.1%}"
            if d["input_records"]
            else "n/a"
        )
        lines.append(
            f"| {name} | {d['input_records']:,} | {d['shuffle_write_records']:,} | "
            f"{fmt_bytes(d['shuffle_write_bytes'])} | {ratio} |"
        )
        print(f"{name}: in_rows={d['input_records']:,} "
              f"shuffled={d['shuffle_write_records']:,} ({ratio})")

    lines.append(
        "\nCaveats: AvailableNow streaming stages and driver-side collects "
        "(warmup, centroid exchanges) attribute to the query that triggered "
        "them; noop sink writes nothing, so output volume is excluded by "
        "construction.\n"
    )
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "SHUFFLES.md"), "w") as f:
        f.write("\n".join(lines))
    print("wrote SHUFFLES.md")


if __name__ == "__main__":
    main()
