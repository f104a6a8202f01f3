"""sf1 same-host anchor for the heavy operator family.

BENCH_r*.json times the headline queries at sf0.1; SCALING.md §Measured
scaling covers synthetic corpora to 50k docs; this tool closes the gap: it
runs the heaviest BENCH queries — q71 near-dedup, q82 connected
components, q128 keep-best dedup, q136 PageRank, q153 prefix-filter join,
q167 simhash radius (120-bit bands), q169 containment join —
against an sf1-equivalent ``documents`` table (50k docs, 10× sf0.1) on the
SAME host and records wall time + plan hash into SCALING.md, so later
rounds can judge a 2× drift against a bigger-than-bench anchor instead of
extrapolating.

sf1 corpus construction (deterministic, replica suffixing): replica
r ∈ 0..9 of the driver's sf0.1 documents with ``doc_id + 5000·r`` and every
whitespace token suffixed ``r<r>`` (replica 0 keeps the original text, so
sf0.1 is a strict subset).  Within a replica, lengths / token-frequency
profile / near-dup structure are EXACTLY sf0.1's; across replicas, token
sets are disjoint, so clusters multiply in COUNT (what a larger crawl
does) rather than in size (what naive 10× duplication would do, which
would quadratically inflate the dedup family's candidate pairs and measure
a corpus that looks like nothing real).  Vocabulary grows 10× — the
Heaps-law direction.

q136's query body is subset-bounded (``doc_id < 100`` builds its graph),
so its sf1 point measures fixed graph work plus a scan that grows with the
table — it is the control row: large moves beyond scan growth mean the
host, not a plan, moved.

Usage: python tools/sf1_anchor.py        (~2-4 min; writes SCALING.md)
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from bench import probe_plan_hash, rest_session, run_cold, stage_totals

SF01_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
REPLICAS = 10
HEAVY = [
    "q71_near_dedup_pipeline",
    "q82_connected_components",
    "q128_keep_best_dedup",
    "q136_pagerank",          # control: subset-bounded body, fixed work
    "q153_prefix_filter_join",
    # r8: the two slowest headline queries — wide-fingerprint band join and
    # the containment prefix join — anchored before r9 judges them
    "q167_simhash_radius",
    "q169_containment_best",
    # r12: the current heaviest headliners — the winnowed-anchor
    # ExactSubstr join, the trigram LM (self-scoring: model grows with
    # the replica-suffixed vocab, the shape q210's pruning targets), and
    # the unigram EM trainer (vocab grows 10× under replica suffixes)
    "q197_exact_substring_dedup",
    # ...and its guaranteed-linear sibling ON THE SAME planted corpus:
    # q197's boilerplate-planting fixture breaks the anchor's
    # cluster-COUNT premise (clusters grow in SIZE across replicas →
    # pair-listing superlinear, ×17.1); the all-grams route's volume is
    # duplication-structure independent — the measured escape hatch
    "q200_exact_substring_grams",
    "q202_ngram_lm_nll",
    "q211_unigram_train",
    # r14: the two D4 heavies (r13 verdict, next #4) — the incremental
    # k-center whose zero-shuffle claim must hold at 10× rows, and the
    # composed D4 pipeline (SemDeDup → k-center → farthest-quartile keep).
    # Both read `embeddings`, so the anchor also builds an sf1 embeddings
    # table (see build_sf1_embeddings).
    "q214_kcenter_incremental",
    "q215_d4_curation",
    # r15: the round's two net-new heavies — the frozen-tokenizer gate
    # (EM train on snapshot A + fertility/drift over the union) and the
    # composed FineWeb trace (5 tiers, stage-boundary checkpoint)
    "q218_tokenizer_rot",
    "q219_fineweb_trace",
    # r16: the incremental crawl-update trace — q219's tiers on the new
    # batch only against frozen-A state; the anchor must show batch-sided
    # work scaling with the batch and the A×B candidate joins staying
    # equi-join-shaped at 10× docs
    "q220_incremental_crawl_update",
    # r17: q220's inverse — corpus retraction (manifest un-fold +
    # broadcast index prune); the anchor must show the index prune
    # staying a broadcast anti-join (zero index-side shuffle) and the
    # receipt math staying num_shards-row at 10× docs — the fixture's
    # index/manifest recompute is the only corpus-proportional wall
    "q221_corpus_retraction",
    # r18: the receipt audit — the anchor must show the row-level pass
    # bounded by the DIVERGENT shards' mass (the literal IN predicate on
    # both scans), with the fixture's manifest recompute as the only
    # corpus-proportional wall (injected receipts remove it in
    # production)
    "q222_corpus_receipt_diff",
]


def build_sf1_documents(spark, out_dir: str) -> int:
    base = spark.read.parquet(os.path.join(SF01_DIR, "documents.parquet"))
    n_base = base.count()
    # replica id offset = max(doc_id)+1, NOT the row count: sparse or
    # non-zero-based ids would otherwise collide across replicas and the
    # dedup-family anchors would silently measure a corrupted corpus
    id_stride = (base.agg(F.max("doc_id")).first()[0] or 0) + 1
    reps = []
    for r in range(REPLICAS):
        d = base
        if r > 0:
            suffixed = F.array_join(
                F.transform(
                    F.split(F.col("text"), r"\s+"),
                    lambda w: F.concat(w, F.lit(f"r{r}")),
                ),
                " ",
            )
            d = d.withColumn("text", suffixed).withColumn(
                "n_chars", F.length("text")
            )
        reps.append(
            d.withColumn("doc_id", F.col("doc_id") + F.lit(r * id_stride))
        )
    out = reps[0]
    for d in reps[1:]:
        out = out.unionByName(d)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "documents.parquet")
    )
    return n_base * REPLICAS


def build_sf1_embeddings(spark, out_dir: str) -> int:
    """sf1 ``embeddings`` under the same cluster-COUNT-scales premise as
    the documents builder: replica r ∈ 0..9 of the sf0.1 table with
    ``vec_id + stride·r`` and the embedding CYCLICALLY ROTATED by r
    dimensions.  Rotation is an orthogonal transform, so every pairwise
    cosine WITHIN a replica is exactly sf0.1's (near-dup clusters and
    k-center geometry reproduce per replica); ACROSS replicas a rotated
    64-dim vector decorrelates (E[cos] ≈ 0 ± 1/√64 ≪ the 0.95 SemDeDup
    threshold), so clusters multiply in COUNT — naive 10× duplication
    would instead grow every cluster 10× in SIZE and quadratically
    inflate the candidate stage, measuring a corpus shaped like nothing
    real.  Replica 0 keeps the originals, so sf0.1 is a strict subset.
    q215's planted-dup salt (vec_id<50 copies) applies AFTER load and
    stays constant-size, which is exactly what a fixture should do while
    the corpus underneath grows 10×."""
    base = spark.read.parquet(os.path.join(SF01_DIR, "embeddings.parquet"))
    n_base = base.count()
    dim = len(base.select("embedding").first()[0])
    id_stride = (base.agg(F.max("vec_id")).first()[0] or 0) + 1
    reps = []
    for r in range(REPLICAS):
        d = base
        if r > 0:
            rotated = F.concat(
                F.slice(F.col("embedding"), r + 1, dim - r),
                F.slice(F.col("embedding"), 1, r),
            )
            d = d.withColumn("embedding", rotated)
        reps.append(d.withColumn("vec_id", F.col("vec_id") + F.lit(r * id_stride)))
    out = reps[0]
    for d in reps[1:]:
        out = out.unionByName(d)
    out.repartition(32).write.mode("overwrite").parquet(
        os.path.join(out_dir, "embeddings.parquet")
    )
    return n_base * REPLICAS


def main() -> int:
    from re_data_pipeline_spark.plans.queries import QUERIES

    # the shuffle-row columns read the status REST API
    spark = rest_session("sf1_anchor")

    stage = tempfile.mkdtemp(prefix="sf1_anchor_")
    try:
        n_docs = build_sf1_documents(spark, stage)
        n_vecs = build_sf1_embeddings(spark, stage)
        print(f"sf1 documents: {n_docs:,} docs, embeddings: {n_vecs:,} at {stage}")

        def best_of(fn, sf_path, runs=2):
            """(best wall of `runs` cold runs, shuffle-write rows of the
            LAST run — the volume is plan-deterministic, so any single
            run's delta is the number; the last one excludes
            codegen-warmup stages).  Shuffle rows are the r8/r9 verdicts'
            missing column: wall ratio alone cannot tell fixed-cost
            amortization loss from super-linear candidate growth."""
            best, shuf = float("inf"), 0
            for _ in range(runs):
                before = stage_totals(spark)["shuffle_write_records"]
                best = min(best, run_cold(spark, fn, sf_path))
                shuf = stage_totals(spark)["shuffle_write_records"] - before
            return best, shuf

        rows = []
        for name in HEAVY:
            fn = QUERIES[name]
            # hash FIRST, on a cold catalog — the same vantage bench.py
            # records (hashing after the runs raced the query's own
            # spine-cache release and could fold an InMemoryRelation into
            # the hash; bench re-baselined q82/q152/q178 in r12)
            ph = probe_plan_hash(spark, fn, stage)
            # same-session sf0.1 baseline FIRST (also warms codegen so the
            # sf1 number isn't billed for Janino compilation)
            base_s, base_r = best_of(fn, SF01_DIR)
            sf1_s, sf1_r = best_of(fn, stage)
            rows.append((name, base_s, sf1_s, base_r, sf1_r, ph))
            print(f"{name}: sf0.1={base_s:.2f}s sf1={sf1_s:.2f}s "
                  f"x{sf1_s / base_s:.1f} rows {base_r:,}->{sf1_r:,} "
                  f"x{sf1_r / max(base_r, 1):.1f} plan={ph}")

        lines = [
            "## sf1 anchor (tools/sf1_anchor.py)\n",
            f"The heaviest BENCH queries against an sf1-equivalent "
            f"`documents` table ({n_docs:,} docs = 10 replica-suffixed "
            "copies of sf0.1 — cluster COUNT scales, cluster size does "
            f"not; see the tool docstring) and, for q214/q215, an sf1 "
            f"`embeddings` table ({n_vecs:,} vectors = 10 cyclically "
            "dimension-rotated replicas — rotation is orthogonal, so "
            "within-replica cosine geometry is exactly sf0.1's and "
            "clusters multiply in count), min of 2 noop-sink runs.  The "
            "sf0.1 column is measured in the SAME session, so the 10× "
            "ratio is host-noise-free; a ratio well under 10 means the "
            "operator amortizes its fixed stage costs and scales "
            "sublinearly at this step.  The SHUFFLE-ROW columns separate "
            "the two readings of a wall ratio: rows growing ~10× at 10× "
            "docs = linear candidate volume (a wall ratio below that is "
            "fixed-cost amortization, above it is per-row cost); rows "
            "growing ≫10× = super-linear candidate growth — tighten the "
            "prefix/bands or route to LSH.  q136 is the control row: its "
            "GRAPH work is subset-bounded (`doc_id < 100`), so only its "
            "scan grows with sf.\n",
            "| query | sf0.1 wall | sf1 wall | wall ratio (10× data) "
            "| sf0.1 shuffle rows | sf1 shuffle rows | row ratio | plan hash |",
            "|---|---|---|---|---|---|---|---|",
        ]
        for name, base_s, sf1_s, base_r, sf1_r, ph in rows:
            lines.append(
                f"| {name} | {base_s:.2f}s | {sf1_s:.2f}s "
                f"| {sf1_s / base_s:.1f}× | {base_r:,} | {sf1_r:,} "
                f"| {sf1_r / max(base_r, 1):.1f}× | `{ph}` |"
            )
        section = "\n".join(lines) + "\n"

        scaling_md = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "SCALING.md",
        )
        with open(scaling_md) as f:
            txt = f.read()
        marker = "## sf1 anchor"
        if marker in txt:
            head, _, tail = txt.partition(marker)
            nxt = tail.find("\n## ")
            old_sec, rest = (tail[:nxt], tail[nxt:]) if nxt >= 0 else (tail, "\n")
            # preserve hand-written reading subsections (### ...) below the
            # table — the r12 clobber lessons apply here
            sub = old_sec.find("\n### ")
            if sub >= 0:
                section = section.rstrip() + "\n" + old_sec[sub:].rstrip() + "\n"
            txt = head + section + "\n" + rest.lstrip("\n")
        else:
            txt = txt.rstrip() + "\n\n" + section
        with open(scaling_md, "w") as f:
            f.write(txt)
        print("wrote SCALING.md §sf1 anchor")
        return 0
    finally:
        shutil.rmtree(stage, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
