"""End-to-end and per-layer benchmark of the engine.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

One run is one fresh Spark process (``local[4]``) and one client submitting
jobs in a closed loop, each job after the previous one finished, with the
cache cleared and spines/checkpoints released around every job as
``bench.py`` does.  A run:

1. derives the workload's inputs from ``--seed`` (``gen.py``, untimed);
2. sets the session up (``get_spark`` + catalog registration + warm-up);
3. runs a first pass that collects every result and checks it against
   DuckDB (``check.py``, the check itself untimed);
4. repeats steady passes into the ``noop`` sink (the ingest DAG writes a
   real table) until ``--seconds`` have passed, at least one;
5. sets the session up twice more, to report the median set-up time.

The last stdout line is one JSON object ``{"correct", "attempted",
"failed", "metrics"}``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1`` (``spans.py``).  The exit code is 1 when
any output or job failed, 2 when the engine package is missing.  A full
record, with per-job times and plan hashes, goes to
``perfbench/.work/records/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
CPUS = 4
DRIVER_MEM = "1g"
SETUPS = 3
WARMUP_QUERY = "q01_pricing_summary"

# scan / join / aggregate / window in the final action, plus the listings
# DAG with real writes: read and write paths of the relational engine
RELATIONAL = (
    "q01_pricing_summary",
    "q04_multi_join_revenue",
    "q07_topk_per_group",
    "q14_grid_agg",
    "q29_session_window",
    "q38_radius_join",
    "q57_asof_join",
)
# corpus curation: shuffle-heavy dedup chains and fixed-point loops whose
# wall is mostly plan construction and driver gaps
CURATION = (
    "q167_simhash_radius",
    "q82_connected_components",
    "q136_pagerank",
    "q161_bpe_train",
)
WORKLOADS = {
    "relational": {
        "queries": RELATIONAL,
        "ingest": True,
        "inputs": (
            "region", "nation", "customer", "supplier", "part", "orders",
            "lineitem", "events", "listings", "pois", "zones",
        ),
    },
    "curation": {"queries": CURATION, "ingest": False, "inputs": ("documents",)},
}
OPERATOR_MODULES = (
    "dedup", "lm", "maintenance", "ids", "quality", "membership",
    "graph", "bpe", "unigram", "selection",
    "spatial", "asof", "windows", "upsert",
)
END_TO_END_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "pass_s": "s",
    "rows_per_s": "1/s",
    "peak_rss_mb": "MB",
}
POI_SCHEMA = "poi_id long, kind string, name string, x double, y double, poi_type string"
ZONE_SCHEMA = "zoning string, description string, ring array<struct<x:double,y:double>>"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, from /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
    out, todo = [], list(children.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def tree_peak_rss_mb() -> float:
    """Sum of peak resident sizes (VmHWM) of this process and all of its
    descendants (the JVM and any Python workers), from /proc."""
    total_kb = 0
    for pid in [os.getpid(), *descendants(os.getpid())]:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024


def parquet_files(path: Path) -> dict[str, int]:
    return {
        str(p): p.stat().st_size for p in path.rglob("*.parquet") if p.is_file()
    } if path.exists() else {}


class Run:
    """State of one benchmark process: session, inputs, tracer, tallies."""

    def __init__(self, args, sf_dir: Path, tracer):
        # imported only now: a traced run must install its wrappers first
        from re_data_pipeline_spark.plans import pipelines
        from re_data_pipeline_spark.plans.queries import ORACLES, QUERIES

        import check

        self.wl = WORKLOADS[args.workload]
        self.sf_dir = sf_dir
        self.tracer = tracer
        self.queries, self.oracles, self.pipelines = QUERIES, ORACLES, pipelines
        self.check = check
        self.con = check.oracle_connection(str(sf_dir))
        self.table = WORK / "tables" / f"{args.workload}-{os.getpid()}" / "listings"
        self.snapshot = self.table.with_name("listings-before-last-day")
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.plan_hashes: dict[str, str] = {}
        self.job_times: dict[str, list[float]] = {}
        self.bytes_written = 0
        self.table_bytes = 0
        self.setup_snaps: list[dict] = []

    def span(self, layer: str):
        return self.tracer.span(layer) if self.tracer else contextlib.nullcontext()

    def paused(self):
        return self.tracer.paused() if self.tracer else contextlib.nullcontext()

    def fail(self, job: str, why: str) -> None:
        self.failed += 1
        self.errors.append(f"{job}: {why}")
        print(f"FAIL {job}: {why}", file=sys.stderr)

    # -- set-up ------------------------------------------------------------
    def setup(self) -> float:
        from re_data_pipeline_spark import catalog, session

        conf = {
            "spark.sql.warehouse.dir": str(WORK / "warehouse"),
            # a pre-touched heap keeps peak RSS from following G1's
            # run-to-run heap sizing; heap use shows in spark.* counters
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.tracer:
            conf.update(
                {
                    "spark.ui.enabled": "true",
                    "spark.ui.port": "0",
                    "spark.ui.retainedJobs": "100000",
                    "spark.ui.retainedStages": "100000",
                }
            )
            self.tracer.phase = f"setup{len(self.setup_snaps)}"
        t0 = time.perf_counter()
        self.spark = session.get_spark(
            app_name="perfbench", master=f"local[{CPUS}]", extra_conf=conf
        )
        if self.tracer:
            self.tracer.sc = self.spark.sparkContext
        catalog.load_tables(self.spark, str(self.sf_dir))
        with self.span("plans.construct"):
            warm = self.queries[WARMUP_QUERY](self.spark, str(self.sf_dir))
        with self.span("plans.action"):
            warm.limit(1).collect()
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.tracer:
            self.setup_snaps.append(self.tracer.take())
        return dt

    def stop(self) -> None:
        if self.tracer:
            self.tracer.sc = None
        self.spark.stop()

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until the JVM and the
        Python workers it started have exited."""
        from pyspark import SparkContext

        procs = descendants(os.getpid())
        gateway = SparkContext._gateway
        if self.spark is not None:
            self.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
        deadline = time.monotonic() + 10
        while procs and time.monotonic() < deadline:
            procs = [p for p in procs if os.path.exists(f"/proc/{p}")]
            time.sleep(0.1)
        for p in procs:  # workers that outlived the JVM
            with contextlib.suppress(ProcessLookupError):
                os.kill(p, signal.SIGKILL)
        shutil.rmtree(self.table.parent, ignore_errors=True)

    # -- jobs --------------------------------------------------------------
    def release(self, df) -> None:
        from re_data_pipeline_spark.operators.ids import (
            release_local_checkpoint,
            release_spines,
        )

        with self.paused():
            release_spines(df)
            release_local_checkpoint(df)
            self.spark.catalog.clearCache()

    def sample_storage(self) -> None:
        if self.tracer:
            self.tracer.sample_storage()

    def query(self, name: str, first: bool) -> float:
        self.spark.catalog.clearCache()
        self.attempted += 1
        df = None
        t0 = time.perf_counter()
        try:
            with self.span("plans.construct"):
                df = self.queries[name](self.spark, str(self.sf_dir))
            self.sample_storage()
            with self.span("plans.action"):
                if first:
                    result = df.toPandas()
                else:
                    df.write.format("noop").mode("overwrite").save()
            dt = time.perf_counter() - t0
            self.sample_storage()
            if first:
                self.verify_query(name, df, result)
        except Exception as e:  # counted in error_rate; the run goes on
            dt = time.perf_counter() - t0
            self.fail(name, f"{type(e).__name__}: {e}")
        finally:
            if df is not None:
                self.release(df)
        self.job_times.setdefault(name, []).append(dt)
        return dt

    def verify_query(self, name: str, df, result) -> None:
        import bench

        with self.paused():
            self.plan_hashes[name] = bench.plan_hash(df)
            rows = list(result.itertuples(index=False, name=None))
            why = self.check.compare_query(
                self.con, self.oracles[name], df.columns, dict(df.dtypes), rows
            )
        if why:
            self.fail(name, why)

    def ingest(self, first: bool) -> float:
        """The listings DAG: one daily batch through the pipeline, then
        upsert and archival delete into a parquet table.  The first pass
        builds the table from empty over every day; a steady pass applies
        the last day to a copy of the table as the day before left it."""
        import gen

        listings = self.sf_dir / "listings"
        shutil.rmtree(self.table, ignore_errors=True)
        total = 0.0
        if first:
            for day in range(gen.DAYS - 1):
                total += self.batch(listings, day)
            with self.paused():
                shutil.copytree(self.table, self.snapshot, dirs_exist_ok=True)
        elif self.snapshot.exists():
            shutil.copytree(self.snapshot, self.table)
        self.bytes_written = 0
        total += self.batch(listings, gen.DAYS - 1)
        self.table_bytes = sum(parquet_files(self.table).values())
        if first:
            self.verify_ingest(listings / f"day{gen.DAYS - 1}")
        return total

    def batch(self, listings: Path, day: int) -> float:
        from re_data_pipeline_spark.plans.fixtures import (
            AV_SCHEMA,
            OMADA_SCHEMA,
            ROYAL_PARK_SCHEMA,
        )
        from re_data_pipeline_spark.sinks import ParquetAntiJoinSink

        job = f"ingest_day{day}"
        d = listings / f"day{day}"
        keys = self.pipelines.LISTING_KEY
        read = self.spark.read
        self.attempted += 1
        seen = parquet_files(self.table)
        t0 = time.perf_counter()
        try:
            with self.span("plans.construct"):
                out = self.pipelines.property_listings_pipeline(
                    self.spark,
                    read.schema(AV_SCHEMA).parquet(str(d / "av.parquet")),
                    read.schema(OMADA_SCHEMA).parquet(str(d / "omada.parquet")),
                    read.schema(ROYAL_PARK_SCHEMA).parquet(str(d / "royal_park.parquet")),
                    read.schema(POI_SCHEMA).parquet(str(listings / "pois.parquet")),
                    read.schema(ZONE_SCHEMA).parquet(str(listings / "zones.parquet")),
                )
                combined = out["combined"]
                sink = ParquetAntiJoinSink(self.spark, str(self.table), combined.schema)
            sink.upsert(combined, keys)
            mid = parquet_files(self.table)
            sink.delete_absent(combined, keys)
            dt = time.perf_counter() - t0
            after = parquet_files(self.table)
            self.bytes_written += sum(s for p, s in mid.items() if p not in seen) + sum(
                s for p, s in after.items() if p not in mid
            )
            self.sample_storage()
        except Exception as e:
            dt = time.perf_counter() - t0
            self.fail(job, f"{type(e).__name__}: {e}")
        self.job_times.setdefault(job, []).append(dt)
        with self.paused():
            self.spark.catalog.clearCache()
        return dt

    def verify_ingest(self, last_day: Path) -> None:
        with self.paused():
            try:
                keys = self.spark.read.parquet(str(self.table)).select(
                    "latitude", "longitude", "address"
                ).collect()
                why = self.check.compare_ingest(keys, str(last_day))
            except Exception as e:
                why = f"{type(e).__name__}: {e}"
        if why:
            self.fail("ingest", why)

    def run_pass(self, phase: str, first: bool = False) -> float:
        if self.tracer:
            self.tracer.phase = phase
        wall = sum(self.query(q, first) for q in self.wl["queries"])
        if self.wl["ingest"]:
            wall += self.ingest(first)
        return wall


def median_metrics(dicts: list[dict]) -> dict:
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}


def layer_metrics(run: Run, snap: dict, spark: dict, wall: float) -> dict:
    """Per-layer metrics of one traced pass."""
    calls, self_s, total_s = snap["calls"], snap["self_s"], snap["total_s"]
    by_top, by_layer = spark["jobs_by_top"], spark["jobs_by_layer"]
    m = {
        "catalog.calls": calls.get("catalog", 0),
        "catalog.load_s": self_s.get("catalog", 0.0),
        "plans.construct_s": total_s.get("plans.construct", 0.0),
        "plans.construct_jobs": by_top.get("plans.construct", 0),
        "plans.action_s": total_s.get("plans.action", 0.0),
        "plans.action_jobs": by_top.get("plans.action", 0),
    }
    for mod in OPERATOR_MODULES:
        layer = f"operators.{mod}"
        m[f"{layer}.calls"] = calls.get(layer, 0)
        m[f"{layer}.self_s"] = self_s.get(layer, 0.0)
        m[f"{layer}.jobs"] = by_layer.get(layer, 0)
    m["functions.calls"] = calls.get("functions", 0)
    m["functions.self_s"] = self_s.get("functions", 0.0)
    for op in ("read", "upsert", "delete_absent"):
        m[f"sinks.{op}_s"] = self_s.get(f"sinks.{op}", 0.0)
    m["sinks.bytes_written"] = run.bytes_written
    m["sinks.write_amp"] = run.bytes_written / run.table_bytes if run.table_bytes else 0.0
    for k in (
        "jobs", "stages", "tasks", "job_s", "executor_run_s", "executor_cpu_s",
        "gc_s", "shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
        "spill_bytes", "failed_tasks",
    ):
        m[f"spark.{k}"] = spark[k]
    m["spark.driver_gap_s"] = wall - spark["job_s"]
    m["spark.core_util"] = (
        spark["executor_run_s"] / (spark["job_s"] * CPUS) if spark["job_s"] else 0.0
    )
    m["spark.storage_peak_mb"] = snap["storage_peak_b"] / 2**20
    m["trace.label_s"] = snap["label_s"]
    return m


LAYER_UNITS = {
    "_s": "s", "calls": "count", "jobs": "count", "stages": "count",
    "tasks": "count", "_bytes": "bytes", "bytes_written": "bytes",
    "write_amp": "ratio", "core_util": "ratio", "_mb": "MB",
}


def layer_unit(name: str) -> str:
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    raise KeyError(name)


def wait_for_listeners(sc) -> None:
    """Let the status store catch up with the jobs just finished."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, str(HERE))
    sys.path.insert(0, str(ROOT))
    try:
        import re_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    import gen
    from spans import Tracer, spark_counters

    for sub in ("tmp", "spark-local"):
        (WORK / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(CPUS)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ["TMPDIR"] = str(WORK / "tmp")
    # every JVM, the spark-submit launcher included: no hsperfdata in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    tempfile.tempdir = None

    sf_dir = WORK / "inputs" / f"seed-{args.seed}"
    rows = gen.generate(sf_dir, args.seed)
    input_rows = sum(rows[t] for t in WORKLOADS[args.workload]["inputs"])

    tracer = Tracer() if args.trace else None
    if tracer:
        tracer.install()  # before plans.* import, inside Run()
    run = Run(args, sf_dir, tracer)

    try:
        setups = [run.setup()]
        first_pass = run.run_pass("first", first=True)
        first_counters = None
        if tracer:
            tracer.take()
            wait_for_listeners(run.spark.sparkContext)
            first_counters = spark_counters(run.spark.sparkContext, "first")

        plain: list[float] = []
        traced: list[tuple[float, dict]] = []
        t_start = time.perf_counter()
        i = 0
        while (
            not (plain and (traced or not tracer))
            or time.perf_counter() - t_start < args.seconds
        ):
            if tracer:
                # traced pass first: JIT warm-up then inflates, never hides, the
                # measured tracing overhead
                tracer.enabled = i % 2 == 0
            wall = run.run_pass(f"p{i}")
            if tracer and tracer.enabled:
                snap = tracer.take()
                sc = run.spark.sparkContext
                wait_for_listeners(sc)
                counters = spark_counters(sc, f"p{i}")
                traced.append((wall, layer_metrics(run, snap, counters, wall)))
            else:
                plain.append(wall)
            i += 1
        if tracer:
            tracer.enabled = True

        for _ in range(SETUPS - 1):
            run.stop()
            setups.append(run.setup())
        peak_rss = tree_peak_rss_mb()
    finally:
        run.shutdown()

    pass_s = statistics.median(plain)
    e2e = {
        "setup_s": statistics.median(setups),
        "first_pass_s": first_pass,
        "pass_s": pass_s,
        "rows_per_s": input_rows / pass_s,
        "peak_rss_mb": peak_rss,
    }
    error_rate = run.failed / run.attempted
    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"input {input_rows} rows ({', '.join(f'{t}={rows[t]}' for t in WORKLOADS[args.workload]['inputs'])}); "
          f"{len(plain)} steady passes")
    for k, v in e2e.items():
        print(f"{k:<14} {v:12.4f} {END_TO_END_UNITS[k]}")
    print(f"{'error_rate':<14} {error_rate:12.4f} ratio ({run.failed}/{run.attempted})")
    for name, h in run.plan_hashes.items():
        print(f"plan_hash {name} {h}")

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "input_rows": rows,
        "end_to_end": e2e,
        "error_rate": error_rate,
        "setups_s": setups,
        "passes_s": plain,
        "job_times_s": run.job_times,
        "plan_hashes": run.plan_hashes,
        "errors": run.errors,
    }
    if tracer:
        layers = median_metrics([m for _, m in traced])
        layers["session.start_s"] = statistics.median(
            s["total_s"].get("session", 0.0) for s in run.setup_snaps
        )
        layers["catalog.setup_s"] = statistics.median(
            s["self_s"].get("catalog", 0.0) for s in run.setup_snaps
        )
        layers["spark.driver_gap_first_s"] = first_pass - first_counters["job_s"]
        layers["trace.pass_s"] = statistics.median(w for w, _ in traced)
        layers["trace.overhead_s"] = layers["trace.pass_s"] - pass_s
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in sorted(layers.items())}
        record["per_layer"] = layers
        for k, v in sorted(layers.items()):
            print(f"{k:<34} {v:14.4f} {layer_unit(k)}")
    else:
        metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in e2e.items()}
    rec_dir = WORK / "records"
    rec_dir.mkdir(parents=True, exist_ok=True)
    (rec_dir / f"{args.workload}-seed{args.seed}-trace{args.trace}.json").write_text(
        json.dumps(record, indent=1)
    )
    correct = run.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
