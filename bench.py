"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default sf0.1).

Prints ONE JSON line:
  {"metric": "total_headline_sec", "value": N, "unit": "sec",
   "queries": {"q01_pricing_summary": sec, ...}, "sf": 0.1}

Each query is fully executed via the `noop` sink (computes everything,
writes nothing — no driver collect bottleneck, no result materialization
skew), which is how you'd benchmark a cluster job.

Per-query time is the min of three executions (SPARK_GRAFT_BENCH_RUNS sets
the count): the first run of an expression-heavy plan pays Janino/whole-
stage-codegen compilation (seconds of single-threaded JVM work that a
long-lived cluster session amortizes away and that varies with host load);
later runs measure the actual data-path cost, and min-of-3 absorbs
host-load spikes that can swing an unchanged plan by 1.7×.  Every run
starts from a cleared cache, so each recomputes from the parquet scan.

Each query also records a PLAN HASH (md5 of the formatted physical plan
with exec-ids/locations/codegen-stage numbers normalized out): if a later
round's timing moves but the plan hash is unchanged, the delta is host
noise, not a plan regression.  Every hash that differs from the reference
record (the newest .benchmarks/bench_rNN.json at the same sf) prints a
`plan-change` warning on stderr, so a lost broadcast, a new shuffle or a
pushdown that stopped firing is flagged in the run where it appears
instead of as unexplained timing drift a round later.  Intentional
changes arrive with a commit that explains them.

Usage: python bench.py [query ...]   (default: every HEADLINE query)

The measuring tools share this module's harness rather than copying it:
``warm_up``, ``run_cold`` (one cold-cache noop-sink run, pins released),
``probe_plan_hash``, and the status REST reader (``rest_session``,
``stage_totals``, ``succeeded_jobs``).  Importing it starts no Spark
session.

The payload is also written to .benchmarks/bench_rNN.json when
SPARK_GRAFT_ROUND=NN is set (the round's committed record), otherwise to
.benchmarks/bench_latest.json (git-ignored, never a reference).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".benchmarks")

HEADLINE = [
    "q01_pricing_summary",    # scan → filter → hash agg
    "q04_multi_join_revenue", # star join, broadcast dims
    "q07_topk_per_group",     # rank window
    "q12_running_total",      # cumulative window
    "q14_grid_agg",           # grid-cell stats (reference A1)
    "q24_collect_sorted",     # sorted list agg
    "q27_tumbling_window",    # event-time window
    "q29_session_window",     # session window
    "q33_minhash_lsh",        # MinHash-LSH near-dup
    "q35_cosine_topk",        # vector top-k
    "q38_radius_join",        # spatial radius join
    "q57_asof_join",          # as-of temporal join
    "q96_tfidf_top_terms",    # corpus TF-IDF (explode + 2 aggs + rank)
    "q100_contamination",     # n-gram overlap, broadcast bench set
    # round-2 heavy extensions: keep the dedup/text path visible so a
    # regression in candidate generation / verification / packing shows up
    "q71_near_dedup_pipeline",   # LSH candidates → Jaccard verify → anti-join
    "q82_connected_components",  # iterative min-label propagation
    "q97_sequence_packing",      # recursive packing window
    "q107_incremental_dedup",    # batch-vs-index LSH dedup
    "q119_multipolygon_zones",   # PIP join with holes (bbox + ray cast)
    # round-5 operators: keep the curation/maintenance family visible
    "q128_keep_best_dedup",      # CC spine + quality argmax window
    "q130_bloom_prefilter",      # bloom-routed incremental anti-join
    "q132_bpe_pair_counts",      # word-table-first tokenizer pass
    "q135_inverted_index",       # df + capped postings build
    "q136_pagerank",             # fixed-point iterative propagation
    # round-6 additions: the distributed skyline, the exact
    # set-similarity join, and the BPE trainer — keep them visible
    "q152_skyline",              # range-partitioned frontier scan
    "q153_prefix_filter_join",   # prefix-indexed exact Jaccard join
    "q161_bpe_train",            # iterative tokenizer merge loop
    # round-7 additions: binary-code ANN, distributed shard packing, and
    # the containment join (the heaviest of the new curation family)
    "q167_simhash_radius",       # pigeonhole band join + popcount verify
    "q168_snake_shards",         # global ordinals + snake arithmetic
    "q169_containment_best",     # prefix-filtered containment + verify
    # round-8 additions: the prefix-sum spine (Arrow scan), the vocab
    # coverage curve riding it, and the signature-estimate join
    "q175_global_cumsum",        # range exchange + map-only Arrow scan
    "q176_vocab_coverage",       # prefix-sum spine over the vocab table
    "q178_minhash_estimate",     # persisted signatures + lane-agreement join
    # round-10 additions: the ExactSubstr tier (winnowed anchor join +
    # token-verified extension) and the iterative classifier trainer
    "q197_exact_substring_dedup",  # winnowing anchors → verify/extend → rewrite
    "q200_exact_substring_grams",  # same semantics, guaranteed-linear all-grams
    "q198_classifier_train",     # 2 aggregates/iteration logistic GD
    "q201_intra_substring_dedup",  # map-only within-doc span rewrite
    # round-11 additions: the word-trigram LM (3 gram aggs + 3-tier
    # coalesce join — the heaviest new op) and its per-language cut
    "q202_ngram_lm_nll",         # Stupid-Backoff model build + score
    "q203_ccnet_buckets",        # LM + ordinal-spine tertile cut
    # round-12 additions: the pruned clean-reference LM deployment and
    # the unigram tokenizer trainer (EM loop → multi-job, plan hash n/a)
    "q210_ngram_lm_pruned",      # head-bounded model tables, split train/score
    "q211_unigram_train",        # Viterbi hard-EM over the word table
    "q213_kcenter_select",       # farthest-point greedy, k 1-row argmaxes
    # round-13 additions: coreset-scale k-center (65 argmax rounds on the
    # persisted-min-dist route — wall is k×job-overhead-bound locally) and
    # the composed D4 pipeline (SemDeDup → k-center → diversity keep)
    "q214_kcenter_incremental",  # persisted __md, checkpoint every 32 rounds
    "q215_d4_curation",          # semdedup → prototypes → keep-farthest-3/4
    # round-15 additions: the frozen-tokenizer regression gate (unigram
    # EM train on snapshot A + fertility/drift on B) and the composed
    # FineWeb-style trace (blocklist → Gopher → LM cut → ExactSubstr →
    # manifest, stage-boundary checkpoint between curation and spans)
    "q218_tokenizer_rot",        # A-trained vocab scored on both snapshots
    "q219_fineweb_trace",        # 5-tier curation composition, one action
    # round-16 addition: the incremental crawl-update trace (q219's tiers
    # applied to the new batch only, frozen-A LM/threshold/index, A×B-only
    # span pass, manifest merge — the maintenance path of the recipe)
    "q220_incremental_crawl_update",  # frozen-corpus batch ingest + manifest fold
    # round-17 addition: q220's inverse — corpus retraction (broadcast id
    # fetch, manifest un-fold, broadcast index prune; the fixture's
    # index/manifest recompute is the only corpus-proportional wall)
    "q221_corpus_retraction",        # frozen-corpus delete + receipt un-fold
    # round-18 addition: the receipt audit completing the maintenance
    # triptych (append/retract/AUDIT) — manifest compare → literal-IN
    # shard prune on both scans → full-outer row-level delta over only
    # the divergent shards' rows
    "q222_corpus_receipt_diff",      # shard-localized corpus version diff
]


def normalize_plan_text(txt: str) -> str:
    """Strip everything that varies run-to-run / host-to-host without the
    plan SHAPE changing: plan/exec ids, codegen-stage numbers, file
    paths/sizes, statistics, RDD ids and their creation call sites."""
    txt = re.sub(r"#\d+", "#N", txt)                       # expression ids
    txt = re.sub(r"\[codegen id : \d+\]", "[codegen]", txt)
    txt = re.sub(r"\[plan_id=\d+\]", "[plan]", txt)
    # mask to END OF LINE: `Location: InMemoryFileIndex(1 paths)[file:/...]`
    # carries paths/counts after the first token, which round 4 proved leak
    # host state into the hash (identical code, three changed hashes)
    txt = re.sub(r"Location:.*", "Location: X", txt)
    # localCheckpoint / createDataFrame scans embed the JVM RDD id
    # (`MapPartitionsRDD[67] at localCheckpoint …`), which counts every RDD
    # ever created in the session — it varies with execution HISTORY, not
    # plan shape (the r4→r5 false hash drift on q82/q107/q119).  The
    # CREATION CALL SITE after it is history-dependent too: py4j reflective
    # calls inflate to `GeneratedMethodAccessorNN` after ~15 invocations,
    # so a LocalRelation hashed early in a session reads
    # `at applySchemaToPythonRDD at NativeMethodAccessorImpl.java:0` and
    # the same plan hashed late reads `…GeneratedMethodAccessorNN…` —
    # mask the whole callsite (r13: q213/q214 ad-hoc vs bench-sequence).
    txt = re.sub(r"RDD\[\d+\] at \S+ at \S+", "RDD[N] at X", txt)
    txt = re.sub(r"RDD\[\d+\]", "RDD[N]", txt)
    # higher-order-function lambda args are numbered by a session-global
    # counter (`lambda x_1` … `lambda x_19`) — same history dependence
    txt = re.sub(r"lambda ([a-z]+)_\d+", r"lambda \1_N", txt)
    txt = re.sub(r"file:/\S+", "file:/X", txt)             # any other path refs
    txt = re.sub(r"/tmp/\S+", "/tmp/X", txt)               # staged temp dirs
    txt = re.sub(r"Statistics\(.*?\)", "Statistics(X)", txt)
    # ordinal-spine base-offset maps are LAYOUT literals, not plan shape:
    # `element_at(map(keys: [partition ids], values: [cumulative counts]))`
    # embeds the persisted frame's per-partition row counts, which vary
    # with cache/session state while the RESULT is invariant (r13: q203
    # hashed differently across two builds in ONE fresh session; q215
    # differed across vantages).  Mask the whole literal-map payload —
    # a genuine plan regression always also changes surrounding operators.
    txt = re.sub(
        r"map\(keys: \[[^\]]*\], values: \[[^\]]*\]\)",
        "map(keys: X, values: X)",
        txt,
    )
    # AQE query-stage ids (`(37) BroadcastQueryStage … Arguments: 19`) are
    # assigned in MATERIALIZATION order — parallel broadcast stages race,
    # so identical plans number them differently run to run (r13: q203
    # flipped across two builds in one session).  Narrow mask: only the
    # Arguments line directly under a QueryStage header, so a genuine
    # bare-integer argument elsewhere (e.g. CollectLimit) stays visible.
    txt = re.sub(
        r"(QueryStage[^\n]*\nOutput[^\n]*\nArguments: )\d+", r"\1N", txt
    )
    return txt


def plan_hash(df) -> str:
    """md5 of the formatted physical plan after normalize_plan_text."""
    import hashlib

    txt = df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    return hashlib.md5(normalize_plan_text(txt).encode("utf-8")).hexdigest()[:16]


def prior_plan_hashes(
    sf: float | None, bdir: str = BENCH_DIR
) -> tuple[str, dict[str, str]]:
    """plan_hashes from the newest parseable round record bench_rNN.json in
    ``bdir`` taken at scale factor ``sf`` (plans differ across scales);
    ("", {}) when no such record holds plan hashes."""
    rounds = sorted(
        (int(m.group(1)), f)
        for f in glob.glob(os.path.join(bdir, "bench_r*.json"))
        if (m := re.search(r"bench_r(\d+)\.json$", f))
    )
    for _, path in reversed(rounds):
        try:
            with open(path) as f:
                rec = json.load(f)
            hashes = rec.get("plan_hashes")
        except (OSError, ValueError, AttributeError):
            continue
        if hashes and rec.get("sf") == sf:
            return os.path.basename(path), hashes
    return "", {}


def warn_plan_changes(
    plans: dict[str, str], sf: float | None, bdir: str = BENCH_DIR
) -> None:
    """One `plan-change` line on stderr per hash that differs from the
    reference record's (the newest at the same ``sf``), or one line saying
    that nothing was compared; multi-job queries ("n/a") are never
    compared."""
    ref_file, prior = prior_plan_hashes(sf, bdir)
    if not prior:
        print(
            f"plan-change: no bench_rNN.json record at sf={sf}; "
            "no plan hashes compared",
            file=sys.stderr,
        )
    for name, h in plans.items():
        old = prior.get(name)
        if old and h != "n/a" and old != "n/a" and h != old:
            print(
                f"plan-change: {name} {old} -> {h} (vs {ref_file}) — "
                "verify intentional (new shuffle / lost broadcast / pushdown?)",
                file=sys.stderr,
            )


def warm_up(spark, sf_dir: str) -> None:
    """JVM/codegen warm-up on the smallest table, so the first measured
    query is not billed for it."""
    from re_data_pipeline_spark.plans.queries import QUERIES

    QUERIES["q01_pricing_summary"](spark, sf_dir).limit(1).collect()


def run_cold(spark, fn, sf_dir: str) -> float:
    """One cold-cache run of query body ``fn`` into the noop sink; returns
    its wall seconds (build plus write).

    The cache is cleared first: the CacheManager serves a plan-identical
    rebuild from any frame a previous run persisted, so a repeat run would
    otherwise time the cached path.  The result's pins are released after
    the timed region, and also when the write raises: checkpoint pins
    survive ``clearCache``, so a checkpointing query would otherwise grow
    executor storage by one RDD per run."""
    from re_data_pipeline_spark.operators.ids import release_spines

    spark.catalog.clearCache()
    t0 = time.time()
    df = fn(spark, sf_dir)
    try:
        df.write.format("noop").mode("overwrite").save()
        return time.time() - t0
    finally:
        release_spines(df)


def probe_plan_hash(spark, fn, sf_dir: str) -> str:
    """``plan_hash`` of a fresh build of ``fn``, whose pins (the probe
    itself when it is a checkpoint scan, q59) are freed whether or not
    hashing succeeds; "n/a" when building or hashing raises (multi-job
    pipelines have no single plan)."""
    from re_data_pipeline_spark.operators.ids import release_spines

    try:
        probe = fn(spark, sf_dir)
    except Exception:
        return "n/a"
    try:
        return plan_hash(probe)
    except Exception:
        return "n/a"
    finally:
        release_spines(probe)


def rest_session(app_name: str):
    """A ``get_spark`` session with the UI on, for tools that read the
    status REST API (``stage_totals``, ``succeeded_jobs``).

    The REST job and stage stores evict past ``retainedJobs`` /
    ``retainedStages`` (default 1000), which makes cumulative diffs
    NEGATIVE once a long session rolls over (seen on the r12 q211 anchor),
    so both keep every entry."""
    from re_data_pipeline_spark.session import get_spark

    spark = get_spark(
        app_name=app_name,
        extra_conf={
            "spark.ui.enabled": "true",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _rest(spark, path: str):
    """GET one status REST endpoint of ``spark``'s application, at the UI
    port this session bound (another running app may hold 4040)."""
    import urllib.request

    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url) as r:
        return json.load(r)


_STAGE_FIELDS = {
    "shuffle_write_bytes": "shuffleWriteBytes",
    "shuffle_write_records": "shuffleWriteRecords",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
}


def stage_totals(spark) -> dict[str, int]:
    """Cumulative shuffle-write / input volume across COMPLETED stages of a
    ``rest_session``; take the ``before`` snapshot after in-flight work
    has finished."""
    stages = _rest(spark, "stages?status=complete")
    return {k: sum(s.get(f, 0) for s in stages) for k, f in _STAGE_FIELDS.items()}


def succeeded_jobs(spark) -> list[dict]:
    """Every succeeded job of a ``rest_session``, as the REST API lists it."""
    return _rest(spark, "jobs?status=succeeded")


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None
    runs = os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3")
    try:
        n_runs = int(runs)
    except ValueError:
        n_runs = 0
    if n_runs < 1:
        # 0 would leave every timing at float('inf'), which json.dumps
        # emits as the non-standard token Infinity: an unparseable record
        raise SystemExit(f"SPARK_GRAFT_BENCH_RUNS must be >= 1; got {runs}")

    from re_data_pipeline_spark.plans.queries import QUERIES
    from re_data_pipeline_spark.session import get_spark

    names = sys.argv[1:] or HEADLINE
    if unknown := [n for n in names if n not in QUERIES]:
        raise SystemExit(f"unknown queries: {' '.join(unknown)}")

    # host load at run start (1/5/15-min) explains drift on unchanged plans
    loadavg = list(os.getloadavg())

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    warm_up(spark, sf_dir)

    timings: dict[str, float] = {}
    plans: dict[str, str] = {}
    for name in names:
        fn = QUERIES[name]
        # hash FIRST, on a cold catalog: hashing after the timed runs
        # raced the query's own spine-cache release (async unpersist) —
        # a still-registered InMemoryRelation flipped q203's hash once in
        # r12, firing a spurious plan-change warning
        plans[name] = probe_plan_hash(spark, fn, sf_dir)
        best = min(run_cold(spark, fn, sf_dir) for _ in range(n_runs))
        timings[name] = round(best, 3)
        spark.catalog.clearCache()

    warn_plan_changes(plans, sf)

    total = round(sum(timings.values()), 3)
    payload = {
        "metric": "total_headline_sec",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "plan_hashes": plans,
        "runs_per_query": n_runs,
        "sf": sf,
        "loadavg_start": loadavg,
        # r1-r13 records took min-of-n with runs 2..n served from run 1's
        # pinned caches (warm); comparisons across the protocol change
        # should expect persist-carrying queries to read higher from r13
        "timing_protocol": "cold-cache-runs",
    }
    print(json.dumps(payload))
    # the complete record: the driver keeps only a truncated stdout tail
    try:
        env_round = os.environ.get("SPARK_GRAFT_ROUND")
        label = f"r{int(env_round):02d}" if env_round else "latest"
        os.makedirs(BENCH_DIR, exist_ok=True)
        with open(os.path.join(BENCH_DIR, f"bench_{label}.json"), "w") as f:
            json.dump(payload, f, indent=1)
    except Exception as e:  # the record is best-effort; never fail the bench
        print(f"local bench record not written: {e}", file=sys.stderr)


if __name__ == "__main__":
    main()
