"""Per-query storage-leak audit: the release contract, asserted for ALL
registered queries.

The repo's cache discipline says: materialize a query's result, call the
release path (``ids.release_spines`` on the result — the function
``Engine.release`` delegates to — which frees every pin the query body
made, the result itself included when it is a checkpoint), and executor
storage returns to baseline — nothing pinned survives.  parity.py RELIES
on this but papers over violations with ``clearCache`` between queries
(which also cannot see checkpoint blocks).  This tool asserts the
contract per query, with NO clearCache: any query whose release leaves
new persistent RDDs behind persisted or checkpointed a frame without
registering it (``ids.pin`` / ``ids.hold``).

Usage: python tools/leak_audit.py [sf_dir] [query ...]   (~10-15 min full)
Prints one line per query; exits 1 if any query leaks.
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from re_data_pipeline_spark.session import get_spark


def persistent_ids(spark) -> set[int]:
    return {
        int(k)
        for k in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()
    }


def leaked_rdds(spark, fn, sf_dir: str) -> set[int]:
    """Materialize one query body into the noop sink, release the result
    with ``ids.release_spines`` alone, and return the persistent RDD ids
    it leaves behind."""
    from re_data_pipeline_spark.operators.ids import release_spines

    # settle any async unpersists from the previous query before the
    # baseline snapshot (unpersist(blocking=False) races the probe)
    time.sleep(0.05)
    before = persistent_ids(spark)
    df = fn(spark, sf_dir)
    df.write.format("noop").mode("overwrite").save()
    release_spines(df)
    # async unpersist: give the ContextCleaner a beat, then re-probe
    leaked = persistent_ids(spark) - before
    if leaked:
        time.sleep(1.0)
        leaked = persistent_ids(spark) - before
    return leaked


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    from re_data_pipeline_spark.plans.queries import QUERIES

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    leakers: list[str] = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            leaked = leaked_rdds(spark, fn, sf_dir)
        except Exception as e:  # noqa: BLE001 — report and continue
            print(f"ERR  {name}: {type(e).__name__}: {e}")
            leakers.append(name)
            spark.catalog.clearCache()
            continue
        status = "LEAK" if leaked else "ok  "
        print(f"{status} {name}: {len(leaked)} pinned ({time.time()-t0:.1f}s)"
              + (f" rdds={sorted(leaked)}" if leaked else ""))
        if leaked:
            leakers.append(name)
            # contain the damage so later queries measure their own leaks
            spark.catalog.clearCache()
    if leakers:
        print(f"\n{len(leakers)} queries violate the release contract: "
              + ", ".join(leakers))
        return 1
    print("\nall queries release to baseline")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
