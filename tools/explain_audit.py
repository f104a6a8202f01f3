"""Physical-plan audit: assert the plan properties the 100 TB design relies
on, and write PLANS.md with evidence excerpts.

Checks per query family:
- scans: predicate pushdown (PushedFilters) + column pruning (ReadSchema)
- dimension joins: BroadcastHashJoin (no fact-side shuffle)
- top-k: TakeOrderedAndProject (partial per-partition top-k, no global sort)
- aggregations: partial HashAggregate before the shuffle (map-side combine)
- whole-stage codegen coverage on the hot path

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from re_data_pipeline_spark.session import get_spark


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def formatted(df) -> str:
    import io
    from contextlib import redirect_stdout

    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


CHECKS = [
    (
        "q01_pricing_summary",
        "scan: pushdown + pruning + partial agg",
        [
            (r"PushedFilters: \[.*l_shipdate", "l_shipdate filter pushed to parquet"),
            (r"ReadSchema: [^\n]*l_returnflag", "pruned read schema"),
            (r"HashAggregate.*partial", "map-side partial aggregation"),
        ],
        "At 100 TB: the scan reads 4 of 11 lineitem columns and skips row "
        "groups via min/max stats on l_shipdate; partial aggregation means "
        "the shuffle carries |groups| rows per task, not the table.",
    ),
    (
        "q04_multi_join_revenue",
        "star join: broadcast dims",
        [
            (r"BroadcastHashJoin", "dimension sides broadcast"),
            (r"HashAggregate.*partial", "partial agg above the join"),
        ],
        "customer/nation/region broadcast to every executor — the lineitem "
        "fact never shuffles for the dim joins; only the final 2-key group "
        "shuffles, post-combine.  AQE would demote to shuffle join if a dim "
        "outgrew the threshold.",
    ),
    (
        "q05_anti_join",
        "anti join",
        [(r"LeftAnti", "left-anti join strategy")],
        "Anti joins shuffle only the key projection of each side (or "
        "broadcast the filtered orders side).",
    ),
    (
        "q07_topk_per_group",
        "rank window",
        [
            (r"Window", "single window operator"),
            (r"WindowGroupLimit|RunningWindowFunction|rank-limit", "group-limit pushdown"),
        ],
        "Spark's WindowGroupLimit pushes rk<=3 into the sort so each "
        "partition keeps 3 rows per key before the filter — no full "
        "materialization of ranked rows.",
    ),
    (
        "q14_grid_agg",
        "grid agg: computed keys",
        [
            (r"HashAggregate.*partial", "map-side partial stats"),
            (r"PushedFilters", "scan-level pushdown present"),
        ],
        "The 4096-cell containment loop of the reference is a 3-key hash "
        "aggregate here: avg/count/stddev combine map-side; shuffle volume "
        "is |cells × flags| regardless of input size.",
    ),
    (
        "q35_cosine_topk",
        "vector top-k",
        [(r"TakeOrderedAndProject", "partial top-k, no global sort")],
        "Each partition computes its local top-10 by cosine score; the "
        "driver merges partition winners — O(n) scan, O(k) result, no "
        "shuffle of scored rows.",
    ),
    (
        "q55_limit_topn",
        "fetch-first",
        [(r"TakeOrderedAndProject", "TakeOrdered physical op")],
        "ORDER BY + LIMIT never becomes a global sort.",
    ),
    (
        "q33_minhash_lsh",
        "LSH candidate join (uncheckpointed lineage)",
        [
            (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "hash/merge join on band keys"),
            (r"HashAggregate", "pair distinct combines map-side"),
        ],
        "Candidate generation is an equi-join on (band, band_key): shuffle "
        "keyed by bucket, skew-splittable by AQE.  The production form "
        "persists the bucket table and localCheckpoints the pair list (its "
        "executed plan is deliberately just a checkpoint scan); this audit "
        "inspects the lineage via materialize=False.",
    ),
    (
        "q96_tfidf_top_terms",
        "TF-IDF: size-gated df re-join (no hint)",
        [
            (r"BroadcastHashJoin", "df side broadcast at THIS scale — Catalyst's size-estimate choice"),
            (r"HashAggregate.*partial", "map-side partial tf/df counts"),
        ],
        "The df re-join carries NO broadcast hint (the term→df table is "
        "vocabulary-sized and unbounded at 100 TB).  At test scale "
        "Catalyst's size estimate is under autoBroadcastJoinThreshold, so "
        "it broadcasts — the correct, size-bounded choice; the companion "
        "check below proves the broadcast disappears when the gate closes, "
        "i.e. nothing forces it.",
    ),
    (
        "q96_tfidf_top_terms",
        "TF-IDF: broadcast is gated, not forced",
        [
            (r"SortMergeJoin", "term join falls back to shuffle sort-merge when the size gate closes"),
            (r"!BroadcastHashJoin", "no hint forces the vocabulary-sized df broadcast"),
        ],
        "With autoBroadcastJoinThreshold=-1 (simulating a df table too big "
        "to broadcast — the 100 TB vocabulary case), the un-hinted term "
        "join reverts to shuffle sort-merge.  Only the 1-row corpus-count "
        "cross join keeps its explicit (bounded) broadcast hint.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q100_contamination",
        "decontamination: broadcast bench grams",
        [(r"BroadcastHashJoin", "benchmark gram set broadcast to corpus stream")],
        "The held-out benchmark's distinct 8-grams are tiny relative to the "
        "corpus; broadcasting them means the 100 TB corpus-side gram stream "
        "is filtered in place with zero corpus shuffle before the per-doc "
        "count agg.",
    ),
    (
        "q38_radius_join",
        "spatial radius join",
        [(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "equi-join on cell keys")],
        "The 3×3 neighbor-cell explode bounds candidates by local density; "
        "the join key is (cell_x, cell_y) — an ordinary shuffle key.",
    ),
    (
        "q130_bloom_prefilter",
        "Bloom-prefilter anti-join: broadcast probes + scoped exact verify",
        [
            (r"BroadcastHashJoin.*LeftOuter", "bitmap probes are broadcast joins (batch side map-only)"),
            (r"LeftAnti", "exact verification is an anti join scoped to filter-positives"),
        ],
        "The k membership probes broadcast the (word_idx, word) bitmap — the "
        "batch never shuffles for them; only the filter-positive sliver "
        "(true dupes + ~fpp false positives) reaches the shuffling anti join.",
    ),
    (
        "q133_salted_join",
        "explicit salted skew join",
        [
            (r"(ShuffledHashJoin|SortMergeJoin).*__salt", "join keys on (hot_key, __salt) — hot keys spread over salted sub-keys"),
            (r"HashAggregate.*partial", "post-join agg combines map-side"),
        ],
        "5 hot keys would pin the whole fact table onto 5 shuffle partitions; "
        "the salt spreads each over 8 sub-keys while the 5-row dimension "
        "replicates 8× — the explicit form of AQE's skew split for layouts "
        "AQE can't re-plan.",
    ),
    (
        "q129_domain_mixture",
        "domain mixture: corpus reduces before any wide work",
        [
            (r"HashAggregate.*partial", "domain counts combine map-side"),
            (r"BroadcastExchange|BroadcastNestedLoop", "1-row total/leftover aggregates broadcast"),
        ],
        "The 100 TB token count collapses to |domains| rows in the first "
        "map-combined agg; everything after (total, leftover, rank window) "
        "runs on domain-cardinality data.",
    ),
    (
        "q134_scd2_history",
        "SCD2 build: one key exchange, two windows",
        [
            (r"hashpartitioning\(user_id", "single hash exchange on the natural key"),
            (r"Window", "run-collapse + interval close as key-partitioned windows"),
        ],
        "Both windows share the user_id partitioning, so the change log "
        "shuffles once; per-entity partitions are change-log sized (no skew).",
    ),
    (
        "q132_bpe_pair_counts",
        "BPE pair counts: text collapses to word table first",
        [
            (r"HashAggregate.*partial", "word-freq and pair counts both combine map-side"),
        ],
        "Raw text reduces to (word, freq) in the first shuffle; pair "
        "expansion runs over that compact table — the property that makes "
        "corpus-scale tokenizer training cheap after pass one.",
    ),
    (
        "q141_interval_lookup",
        "interval lookup: bucket equi-join, NOT a nested-loop range join",
        [
            (r"!BroadcastNestedLoopJoin", "no nested-loop range join anywhere in the plan"),
            (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin).*__b", "equi-join keyed on the interval bucket"),
        ],
        "A bare range-predicate join plans as BroadcastNestedLoopJoin — "
        "O(|facts|·|intervals|) per executor.  Bucketing both sides turns "
        "it into an ordinary hash join; the exact range check runs only on "
        "bucket-collocated candidates.",
    ),
    (
        "q145_bm25_topk",
        "BM25: query-term filter below the tf aggregation",
        [
            (r"HashAggregate.*partial", "tf/df aggregations combine map-side"),
            (r"TakeOrderedAndProject", "global top-10 as partial top-k, no full sort"),
        ],
        "The IN (query terms) filter reaches the scan side of the tf agg, "
        "so the aggregation state is |matching terms| × |docs|, not the "
        "whole posting space; the final ranking is TakeOrdered.",
    ),
    (
        "q147_hll_sketch",
        "HLL: corpus reduces to registers before any wide work",
        [
            (r"HashAggregate.*partial", "register max combines map-side"),
            (r"!CartesianProduct", "no cartesian anywhere (1-row broadcasts only)"),
        ],
        "100 TB of items reduce map-side to ≤m register rows; the estimate "
        "and the register digest are 1-row aggregates crossed via "
        "broadcast.",
    ),
    (
        "q152_skyline",
        "skyline: distributed sort-scan, no row-scale single-partition stage",
        [
            (r"rangepartitioning\(cost", "points range-partition on the sort order"),
            (r"hashpartitioning\(__pid", "running-min window is pid-partitioned (parallel), not a global Window.orderBy"),
            (r"BroadcastHashJoin.*__pid|BroadcastExchange", "prefix-min over earlier partitions broadcast back (|partitions| rows)"),
            (r"!(SortMergeJoin|ShuffledHashJoin|BroadcastNestedLoopJoin|CartesianProduct)",
             "no shuffled/theta join — the NOT-EXISTS O(n²) formulation is fully rewritten"),
        ],
        "The naive Pareto frontier is a NOT EXISTS theta self-join; the r5 "
        "advisory flagged the single-window rewrite's Exchange "
        "SinglePartition as a 100 TB bottleneck.  pareto_frontier_2d keeps "
        "the O(n log n) scan but splits the running min into per-range-"
        "partition windows plus a broadcast partition-prefix min — the only "
        "SinglePartition exchange left is over the partition-count-sized "
        "min table.",
    ),
    (
        "q128_keep_best_dedup",
        "keep-best dedup: cluster-scoped window, corpus passes via anti-join",
        [
            (r"hashpartitioning\(component", "rank window shuffles by component id — its input is cluster members only (df ⨝ comps inner), never the corpus"),
            (r"LeftAnti", "corpus exits through an anti-join against the small loser list"),
            (r"!Exchange SinglePartition", "no single-partition stage anywhere"),
        ],
        "The CC spine (iterative label propagation) localCheckpoints its "
        "edge list and every iteration's labels (operators/dedup.py "
        "connected_components), so this final plan reads the labels as a "
        "checkpoint scan — per-iteration lineage never accumulates.  The "
        "quality window runs over clustered rows only (≤ 2·|confirmed "
        "pairs|); 100 TB of singletons never shuffle — they stream through "
        "the broadcast anti-join map-side.",
    ),
    (
        "q160_epoch_shuffle",
        "epoch shuffle: distributed ordinals, no global sort, map-only spine",
        [
            (r"rangepartitioning\(__pri", "positions come from a range partition on the md5 priority"),
            (r"!Exchange SinglePartition", "no single-partition stage anywhere in the executed plan"),
            (r"!Exchange hashpartitioning\(__pid", "no second full-data exchange — ordinals are id arithmetic, not a __pid window"),
            (r"monotonically_increasing_id", "local index from the id encoding on the sorted cache"),
        ],
        "A naive ROW_NUMBER() OVER (ORDER BY md5) funnels every row "
        "through one task; assign_ordinals range-partitions on the "
        "priority, sorts within partitions, and prefix-sums the "
        "partition-count-sized offsets.  Since r8 the local index is "
        "monotonically_increasing_id arithmetic over the persisted sorted "
        "frame — the r7 row_number-over-__pid window (which re-exchanged "
        "the full data by __pid) is gone: a 100 TB epoch shuffle pays ONE "
        "data-scale exchange per epoch.",
    ),
    (
        "q163_record_linkage",
        "record linkage: blocking equi-join, no cross join",
        [
            (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "candidates come from an equi-join on the blocking keys"),
            (r"!(CartesianProduct|BroadcastNestedLoopJoin)", "no |A|x|B| comparison anywhere"),
        ],
        "Blocking bounds candidate pairs at Σ block² — the linkage scale "
        "lever; agreement scoring is map-side column algebra above the "
        "join, and AQE skew-splits hot blocks.",
    ),
    (
        "q158_stratified_sample",
        "stratified sample: one stratum-keyed rank window",
        [
            (r"hashpartitioning\(lang", "single shuffle keyed by the stratum"),
            (r"WindowGroupLimit|Window", "rank window (group-limit pushdown where available)"),
            (r"!Exchange SinglePartition", "no global sort"),
        ],
        "Exactly one exchange on the stratum key; WindowGroupLimit keeps "
        "k rows per stratum before the filter, so per-partition state is "
        "k-bounded regardless of stratum size.",
    ),
    (
        "q153_prefix_filter_join",
        "prefix-filter join: equi-join on prefix tokens, never all-pairs",
        [
            (r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)", "candidate generation is an equi-join on the prefix token"),
            (r"!CartesianProduct", "no cross join despite exact (non-LSH) semantics"),
        ],
        "Zero-false-negative set-similarity without O(n²): only prefix "
        "tokens (the (1−t) rarest fraction) are indexed and joined; exact "
        "Jaccard verifies candidates only.",
    ),
    (
        "q153_prefix_filter_join__nobcast",
        "prefix-filter join: token-df rank join is gated, not forced",
        [
            (r"!BroadcastHashJoin", "no hint forces the vocabulary-sized token→df broadcast"),
            (r"!CartesianProduct", "still no cross join with every broadcast disabled"),
        ],
        "With autoBroadcastJoinThreshold=-1 (the 100 TB vocabulary case), "
        "every join in the body — the df rank-back join, the prefix "
        "self-join, the Jaccard verify joins — runs as a shuffle join; no "
        "relation in this plan carries a broadcast hint.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q87_rank_distribution",
        "distribution windows on the ordinal spine — map-only after the range exchange",
        [
            (r"!Exchange SinglePartition", "ntile/percent_rank via exact_ntile/exact_percent_rank, not a global window"),
            (r"rangepartitioning", "ordinals from range partition + id arithmetic"),
            (r"!Exchange hashpartitioning\(__pid", "no second full-data exchange (the r7 __pid-window cost, removed)"),
            (r"!Window", "no window operator anywhere — bucket/fraction are row-local arithmetic"),
        ],
        "The filtered frame is a constant fraction of orders — corpus-"
        "scale — so NTILE and PERCENT_RANK ride assign_ordinals (range "
        "exchange, in-partition sort, monotonically_increasing_id local "
        "index + partition-count offsets) with the bucket/fraction as "
        "row-local arithmetic on the ordinal.  ONE data-scale exchange "
        "total.",
    ),
    (
        "q117_rfm_segments",
        "RFM quartiles on the ordinal spine — no global ntile window, no __pid exchange",
        [
            (r"!ntile\(", "no windowed NTILE anywhere — quartiles are row-local arithmetic on ordinals"),
            (r"rangepartitioning", "one range exchange per quartile ordering"),
            (r"!Exchange hashpartitioning\(__pid", "r7 paid this 2x-data-movement exchange three times; r8 pays zero"),
        ],
        "The per-user profile scales with the corpus; each quartile "
        "ordering costs exactly one range exchange (the q118/q160/q168 "
        "spine) — the row_number-over-__pid windows that re-exchanged the "
        "profile by __pid after every range partition are replaced by "
        "monotonically_increasing_id arithmetic on the persisted sorted "
        "frames.  The plan's one remaining Exchange SinglePartition is "
        "the 1-row max-timestamp anchor aggregate — map-side partials "
        "reducing to a single row, fine at any scale (same class as "
        "assign_ordinals' partition-count exchange).",
    ),
    (
        "q167_simhash_radius",
        "wide-fingerprint band join: pigeonhole candidates, never all-pairs",
        [
            (r"!CartesianProduct", "candidates come from the (band, value) equi-join"),
            (r"bit_count", "row-local per-word XOR popcount verify"),
            (r"HashAggregate.*partial", "fingerprint bit sums combine map-side"),
        ],
        "120-bit array<bigint> fingerprints from simhash_multi: bands are "
        "~17 bits at radius 6 here and WIDEN with the corpus (bits ≥ "
        "(radius+1)·log₂ n), so the per-band n²/2^width uniform candidate "
        "floor falls as the corpus grows — the r7 single-BIGINT cap (≤16-"
        "bit bands at radius 3 forever) is gone.  One explode emits all "
        "radius+1 bands; band values assemble across word boundaries with "
        "shift/mask/or inside codegen; the Σ bucket² guard estimates "
        "candidate volume from the persisted fingerprint frame before the "
        "join runs.  Measured cold (guard on): shuffle rows 25k/75k/250k "
        "at 5k/15k/50k docs (SCALING.md) — exponent 1.00 at fixed radius.",
    ),
    (
        "q175_global_cumsum",
        "prefix-sum spine: one range exchange, then a map-only Arrow scan",
        [
            (r"rangepartitioning\(o_orderkey", "running totals from a range partition on the order key"),
            (r"MapInPandas", "the scan is one Arrow-batched pass with a per-partition carry"),
            (r"!Exchange SinglePartition", "never the naive global-window single reducer"),
            (r"!Window", "no window operator — the scan is imperative per-partition state"),
        ],
        "SUM() OVER (ORDER BY …) with no PARTITION BY plans one reducer "
        "scanning the world; assign_prefix_sums range-partitions, sorts "
        "within partitions, prefix-sums the partition TOTALS on the "
        "driver (partition-count rows), and adds offset + within-"
        "partition cumulative in a single mapInPandas pass — the one "
        "place the engine uses imperative per-partition state, because "
        "no relational form expresses a scan without a second full-data "
        "exchange.",
    ),
    (
        "q169_containment_best",
        "containment join: prefix-vs-full equi-join, never all-pairs, no vocab broadcast",
        [
            (r"!CartesianProduct", "no cross join despite exact containment semantics"),
            (r"!BroadcastHashJoin", "no hint forces the vocabulary-sized token-df broadcast"),
            (r"WindowGroupLimit|Window", "best-container rank window on exact integer counts"),
        ],
        "Candidates come from a's rarest-prefix tokens equi-joined against "
        "the full token table (zero false negatives by the containment "
        "prefix rule); with autoBroadcastJoinThreshold=-1 every join is a "
        "shuffle join — nothing in the body carries a broadcast hint.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q162_bpe_encode",
        "BPE encode: word-lookup join is gated, not forced",
        [
            (r"!BroadcastHashJoin", "no hint forces the word-vocabulary lookup broadcast"),
            (r"HashAggregate.*partial", "per-doc token counts combine map-side"),
        ],
        "With autoBroadcastJoinThreshold=-1 (word vocabulary too big to "
        "broadcast), the distinct-word→token-count lookup joins the word "
        "stream as a shuffle join on `w` — the stream shuffles on `w` "
        "either way, so the fallback adds no new asymptotic cost.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q197_exact_substring_dedup",
        "ExactSubstr: equi-join candidates, no quadratic stage",
        [
            (r"SortMergeJoin|ShuffledHashJoin", "anchor/verify joins are key-shuffled equi-joins"),
            (r"!CartesianProduct", "no all-pairs stage"),
            (r"!BroadcastNestedLoopJoin", "no nested-loop fallback"),
            (r"HashAggregate.*partial", "guard/count aggregates combine map-side"),
        ],
        "Candidates come from ONE equi-join on winnowed anchor hashes "
        "(~2/(w+1) of k-gram positions survive winnowing); token arrays "
        "travel only on the candidates-sized verification legs; the "
        "interval merge is a per-doc fold over collected spans.  With "
        "autoBroadcastJoinThreshold=-1 every join must survive as a "
        "key-shuffled equi-join — at 100 TB the shuffle carries "
        "(id, pos, hash64) anchor rows plus candidate-scoped token "
        "arrays, never an all-pairs or corpus-broadcast stage.  (q198's "
        "training loop returns a driver-built weight table, so its plan "
        "discipline — literal-array weight lookup, two map-combined "
        "aggregates per iteration — is asserted by its tests, not here.)",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q201_intra_substring_dedup",
        "intra-doc substring rewrite: map-only, zero shuffle",
        [
            (r"!Exchange", "NO exchange anywhere — one scan pass"),
            (r"!Join", "no join of any kind"),
            (r"ReadSchema: [^\n]*text", "reads only the needed columns"),
        ],
        "Within-document repeat detection is per-row array algebra "
        "(128-bit gram keys → one array_sort → adjacent-equal scan → "
        "interval fold-merge → indexed-filter rewrite): at 100 TB this "
        "is exactly one parquet scan pass that pipelines into the "
        "consuming filter — the cheapest tier of the ExactSubstr triad, "
        "run FIRST in a curation pipeline to strip self-repetition "
        "before the shuffle-bearing cross-doc tiers.",
    ),
    (
        "q202_ngram_lm_nll",
        "trigram LM: model tables join by key, never broadcast",
        [
            (r"SortMergeJoin|ShuffledHashJoin", "model lookups survive as key-shuffled equi-joins"),
            (r"!CartesianProduct", "no all-pairs stage (the only cross joins are broadcast 1-row stats)"),
            (r"HashAggregate.*partial", "gram counts combine map-side"),
        ],
        "With autoBroadcastJoinThreshold=-1 (the model is |observed "
        "grams| rows — corpus-bounded, NOT broadcastable at 100 TB) the "
        "three scoring lookups plan as key-shuffled equi-joins on the "
        "gram string; the trigram-position stream shuffles on its key "
        "either way, so losing the broadcast adds no asymptotic cost.  "
        "Training is three explode→partial-agg passes whose shuffles "
        "carry (gram, count), never token positions.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q203_ccnet_buckets",
        "CCNet buckets: ordinal spine, no per-language window",
        [
            (r"rangepartitioning", "ONE range exchange orders (lang, nll, id)"),
            (r"!Window", "no window operator — per-lang rank is spine arithmetic"),
            (r"!CartesianProduct", "no all-pairs stage"),
        ],
        "The per-language tertile cut never plans a "
        "Window.partitionBy(lang): languages are few and skewed, so a "
        "window would funnel the corpus into |langs| reducers.  Instead "
        "ONE rangepartitioning exchange builds the global (lang, nll, id) "
        "spine; group sizes and first-ordinals come from a |langs|-row "
        "partial-combined agg broadcast back; the band is row-local "
        "integer arithmetic.",
    ),
    (
        "q204_domain_blocklist",
        "domain blocklist: suffix equi-join, no regex scan, no hint",
        [
            (r"SortMergeJoin|ShuffledHashJoin", "suffix⨝rules survives threshold=-1 as a key-shuffled equi-join"),
            (r"!CartesianProduct", "no all-pairs host×rule stage"),
            (r"!BroadcastNestedLoopJoin", "no nested-loop LIKE fallback"),
        ],
        "Wildcard-subdomain matching is an equi-join on the DNS-label-"
        "bounded suffix chain (constant ≤~10 fan-out per distinct host), "
        "so a UT1-sized blocklist (millions of rules) joins by key — with "
        "the threshold disabled the plan degrades to a shuffle join, not "
        "a nested-loop regex scan.  Under default confs AQE broadcasts a "
        "small curated list by MEASURED size; the operator carries no "
        "hint either way.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q206_curation_v3",
        "curation composition: every stage keeps its audited shape",
        [
            (r"!CartesianProduct", "no all-pairs stage anywhere in the composition"),
            (r"rangepartitioning", "the CCNet cut rides the ordinal spine"),
            (r"!Window", "no window operator — dedup is groupBy(min)+semi-join"),
            (r"HashAggregate.*partial", "manifest/model counters combine map-side"),
            (r"LeftSemi", "fingerprint winners re-join as a semi-join"),
        ],
        "The end-to-end trace (blocklist → LM cut → dedup → manifest) "
        "composes through (doc_id)-keyed joins: the one plan risk a "
        "composition adds over its audited stages is an accidental "
        "cross-product or a stage swap into a per-key window — both "
        "asserted absent here.  The InMemoryRelation for the persisted "
        "survivor frame is deliberate (6 downstream consumers).",
    ),
    (
        "q208_contiguous_pack",
        "concat-and-chunk packing: one range exchange, then map-only",
        [
            (r"rangepartitioning", "ONE range exchange builds the token-offset spine"),
            (r"!Window", "no window operator — the cumsum is the Arrow scan"),
            (r"!Join", "no join of any kind"),
            (r"Generate explode", "window fan-out pipelines into the scan output"),
        ],
        "The pretraining layout needs every document's global token "
        "offset — ONE prefix-sum spine (range exchange + map-only Arrow "
        "scan with a cross-batch carry) — after which window ids and "
        "slice bounds are row-local integer arithmetic and the per-doc "
        "explode (its own window count) pipelines without another "
        "exchange.  At 100 TB: one shuffle of (doc_id, n_tokens) rows, "
        "never the text.",
    ),
    (
        "q210_ngram_lm_pruned",
        "pruned LM: model-side count filters, q202's no-broadcast shape",
        [
            (r"SortMergeJoin|ShuffledHashJoin", "model lookups survive threshold=-1 as key-shuffled equi-joins"),
            (r">= 2", "min-count prune filters sit on the model tables"),
            (r"!CartesianProduct", "no all-pairs stage (cross joins are broadcast 1-row stats)"),
            (r"HashAggregate.*partial", "gram counts combine map-side"),
        ],
        "The CCNet-faithful deployment: the model trains on the clean "
        "reference slice (pushed-down doc_id filter) and scores the full "
        "corpus; the `c >= 2` filters apply AFTER the count aggregates "
        "(pruning must see every gram once) and BEFORE the scoring "
        "joins, so the probe side joins against head-bounded tables.  "
        "At 100 TB the model tables are reference-corpus-bounded — they "
        "do not grow with the scored crawl at all.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q212_unigram_fertility",
        "unigram fertility: corpus explode joins vocab-sized tables by key",
        [
            (r"SortMergeJoin|ShuffledHashJoin", "word→fertility lookup survives threshold=-1 as a key-shuffled equi-join"),
            (r"!CartesianProduct", "no all-pairs stage"),
            (r"HashAggregate.*partial", "per-language counters combine map-side"),
        ],
        "The trained tokenizer's fertility dashboard touches the corpus "
        "exactly twice — the word explode joined BY WORD to the "
        "vocabulary-sized per-word fertility table (no broadcast hint: "
        "with the threshold disabled it plans as a key-shuffled join; "
        "under defaults AQE broadcasts by MEASURED size), and the "
        "map-only proxy counters — both landing in one |langs|-key "
        "partial-combined agg.  The trained piece table itself is a "
        "parameter-bounded LocalTableScan (≤ seed_multi + alphabet "
        "rows), the k-row-collect class, not a corpus relation.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q214_kcenter_incremental",
        "incremental k-center: per-round frame is map-only, lineage checkpoint-truncated",
        [
            (r"!Exchange", "zero shuffles in the per-round min-dist frame"),
            (r"!Join", "no join — the newest center is O(dim) driver literals"),
            (r"Scan ExistingRDD", "localCheckpoint truncated the lineage (round 34 scans the round-32 checkpoint)"),
        ],
        "The large-k route's contract: round r's frame is the PREVIOUS "
        "checkpoint plus ≤8 filter+least() layers — the "
        "plan here is round 34's, two rounds after the r=32 "
        "localCheckpoint, and contains no exchange, no join, and scans "
        "the checkpointed RDD instead of replaying 34 rounds of lineage.  "
        "Per-round cluster traffic is one 1-row TakeOrdered argmax; plan "
        "size is O(8·dim) regardless of k (the greedy "
        "route's O(k·dim)-literals-per-round growth is the r12 verdict's "
        "What's-wrong §1, closed by this route).",
    ),
    (
        "q215_d4_curation",
        "D4 composition: each stage keeps its audited shape",
        [
            (r"!CartesianProduct", "no all-pairs stage anywhere (SemDeDup bucketed, assignment vs 8 literals)"),
            (r"rangepartitioning", "cluster-scoped rank rides the ordinal spine"),
            (r"!Window", "no window operator — 8 cluster keys over a corpus is the window-skew trap"),
            (r"BroadcastHashJoin", "per-cluster bases/counts join back as an 8-row broadcast"),
            # the embedding column only survives in the dedup survivor
            # frame (the ordinal spine cache drops it), so this pattern is
            # NOT satisfied by assign_ordinals' own InMemoryTableScan —
            # remove kept.persist() and the semdedup subtree inlines
            # instead, failing this check
            (r"InMemoryTableScan \[[^\]]*embedding", "SemDeDup survivor frame persisted once across the k-center rounds (cache scan carries the embedding column)"),
        ],
        "The published D4 shape composed from its three audited legs: "
        "SemDeDup (q123's bucketed candidates + CC closure) → greedy "
        "k-center prototypes (q213's k 1-row argmaxes) → map-only "
        "nearest-center assignment against 8×64 driver literals (the "
        "q103 pattern) → ONE rangepartitioning exchange for the global "
        "(cluster, -dist, id) spine → 8-row broadcast agg for bases.  "
        "The composition risks — an accidental cross-product, a "
        "partitionBy(cluster_id) window, or re-running the dedup stage "
        "once per k-center round — are asserted absent here.",
    ),
    (
        "q216_cluster_safe_split",
        "cluster-safe split: the split itself is a row-local Project",
        [
            (r"SortMergeJoin \[doc_id", "doc-keyed label join survives threshold=-1 as a key-shuffled equi-join"),
            (r"CASE WHEN.*md5", "fold assignment is row-local md5 bucket arithmetic (no added exchange)"),
            (r"!CartesianProduct", "no all-pairs stage (LSH candidates come from band equi-joins)"),
            (r"!Window", "no window operator anywhere in the composition"),
            (r"Scan ExistingRDD", "CC closure lineage checkpoint-truncated"),
            (r"ReadSchema: struct<doc_id:bigint>", "the label side prunes documents to the id column"),
        ],
        "The leakage-safe split composes three audited legs — LSH "
        "candidates (band equi-joins, never all-pairs), big-star/small-"
        "star CC (checkpoint-truncated, the Scan ExistingRDD), and the "
        "q137 md5 bucket split — and the composition adds exactly ONE "
        "relation op of its own: the (doc_id)-keyed left join of the "
        "pair-graph-sized component labels, after which train/test "
        "assignment is a CASE over md5(cluster_id), pure Project.  At "
        "100 TB: future members of an existing cluster route to that "
        "cluster's side with zero recomputation of the split state.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q217_sssp_weighted",
        "SSSP round frame: one node-keyed join + map-combined min",
        [
            (r"SortMergeJoin|ShuffledHashJoin", "frontier × out-edges relaxation survives threshold=-1 as a key-shuffled equi-join"),
            (r"HashAggregate.*partial_min", "per-destination min-combine is map-side partial"),
            (r"!CartesianProduct", "no all-pairs stage"),
            (r"Scan ExistingRDD", "frontier and dist are checkpoint scans (lineage truncated each round)"),
        ],
        "Frontier-limited Bellman-Ford's per-round plan (round 2, "
        "captured pre-checkpoint via the operator's _plan_probe — the "
        "kcenter_select precedent): candidates come from ONE node-keyed "
        "join of the improved-last-round frontier against out-edges, "
        "min-combined map-side so the shuffle carries |touched "
        "destinations| rows, then a left join against the current dist "
        "frame keeps only improvements — settled regions generate ZERO "
        "traffic.  Both inputs scan round-1 checkpoints, so round r's "
        "plan is O(1) regardless of r.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q205_shard_manifest",
        "shard manifest: one map-combined agg, nothing else moves",
        [
            (r"HashAggregate.*partial", "per-shard counters combine map-side"),
            (r"!Join", "no join of any kind"),
            (r"ReadSchema: [^\n]*doc_id", "reads only id + content columns"),
        ],
        "The integrity manifest is ONE groupBy over num_shards md5-"
        "derived keys: partial aggregation means each task emits at most "
        "num_shards rows (count/xor/sum/min/max are all mergeable), so "
        "the single exchange carries tasks×shards counter rows — at "
        "100 TB the payload is scanned once and never shuffled.",
    ),
    (
        "q218_tokenizer_rot",
        "tokenizer-rot gate: vocab-sized joins, map-combined per-lang aggs",
        [
            (r"SortMergeJoin|ShuffledHashJoin", "word→fertility lookup survives threshold=-1 as a key-shuffled equi-join"),
            (r"!CartesianProduct", "no all-pairs stage"),
            (r"HashAggregate.*partial", "per-language fertility/OOV counters combine map-side"),
            (r"InMemoryTableScan", "the drift tier's |union-vocabulary| count table is pinned once (token_js_divergence's r14 pin), not re-tokenized per consumer"),
        ],
        "The frozen-vocabulary regression gate touches the corpus three "
        "times — q211's word-table training pass (parameter-bounded "
        "LocalTableScan vocab, the k-row-collect class), the word "
        "explode joined BY WORD to the vocabulary-sized per-word "
        "fertility table, and q171's tokenization into the pinned "
        "joined count table — and every aggregate (fertility, OOV, JS "
        "terms) is map-combined into |languages|-key exchanges.  No "
        "broadcast hints: under the disabled threshold both lookups "
        "plan as key-shuffled equi-joins; under defaults AQE broadcasts "
        "by MEASURED size.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q219_fineweb_trace",
        "FineWeb trace: stage-boundary checkpoint, span tier on a shallow plan",
        [
            (r"Scan ExistingRDD", "the curation→span stage boundary is a localCheckpoint (span jobs re-plan a LogicalRDD scan, not the blocklist→Gopher→LM tree)"),
            (r"SortMergeJoin|ShuffledHashJoin", "anchor/verify joins survive threshold=-1 as key-shuffled equi-joins"),
            (r"!CartesianProduct", "no all-pairs stage in any tier"),
            (r"!BroadcastNestedLoopJoin", "no nested-loop fallback"),
            (r"HashAggregate.*partial", "manifest/guard aggregates combine map-side"),
        ],
        "The composed five-tier recipe's returned plan starts at the s2 "
        "stage-boundary checkpoint (the inter-stage parquet write a "
        "production run has): the span tier's ~14 internal jobs re-plan "
        "a LogicalRDD scan instead of the full curation tree (measured "
        "15.5 s → 3.7 s for identical span work at sf0.1, r15).  "
        "Downstream keeps q197's discipline — winnowed-anchor equi-join "
        "candidates, candidate-scoped token legs, per-doc interval "
        "merge — and ends in q205's single map-combined manifest agg.  "
        "The curation tiers upstream of the checkpoint are asserted by "
        "their own sections (q204/q194/q202/q203).",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q220_incremental_crawl_update",
        "incremental crawl update: frozen-A state, batch-sided tiers, manifest fold",
        [
            (r"Scan ExistingRDD", "both stage boundaries (curation→dedup, dedup→span) are localCheckpoints — the dedup and span tiers re-plan shallow LogicalRDD scans, not the blocklist→Gopher→LM tree"),
            (r"SortMergeJoin|ShuffledHashJoin", "the index-collision and A×B anchor joins survive threshold=-1 as key-shuffled equi-joins"),
            (r"!CartesianProduct", "no all-pairs stage in any tier"),
            (r"!BroadcastNestedLoopJoin", "no nested-loop fallback"),
            (r"HashAggregate.*partial", "the 16+16-row manifest fold and guard aggregates combine map-side"),
        ],
        "The maintenance form of q219: the frozen corpus A is touched "
        "only by the passes production pays (bucket-index scan, bench "
        "anchor pass, its own 16-row manifest), the new batch B carries "
        "all rewrite work, and candidates come from (band, band_key) / "
        "anchor-hash equi-joins — batch×index collision, never "
        "corpus×corpus.  The returned plan starts at the two "
        "stage-boundary checkpoints, and the final merge_shard_manifests "
        "agg is a 32-row map-combined fold — at 100 TB the incremental "
        "run's cost is batch-sized plus one A index/anchor scan.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q221_corpus_retraction",
        "corpus retraction: manifest un-fold, broadcast index prune",
        [
            (r"BroadcastHashJoin [^\n]*LeftAnti", "the index prune is a HINT-driven broadcast anti-join — zero index-side shuffle even with the threshold disabled"),
            (r"BroadcastHashJoin [^\n]*Inner", "D's content fetch broadcasts the id set over the corpus scan"),
            (r"DataFilters: \[[^\]]*% 13\)", "the retraction predicate reaches the parquet scans (id-pruned point reads in production)"),
            (r"!CartesianProduct", "no all-pairs stage"),
            (r"!BroadcastNestedLoopJoin", "no nested-loop fallback"),
            (r"HashAggregate.*partial", "manifest/un-fold/index-summary aggregates combine map-side"),
        ],
        "The inverse of q220: A's payload is touched once (the broadcast "
        "id fetch of D's rows — both corpus scans carry the pushed "
        "retraction predicate); the un-fold is a 2×16-row group fold "
        "(XOR self-inverse, counts subtract); the index prune is a "
        "broadcast anti-join the explicit hint keeps broadcast under "
        "threshold=-1, so the corpus×bands index never shuffles; the "
        "receipt join at the end is 16 rows a side.  At 100 TB the "
        "fixture's manifest/index recompute disappears (production "
        "loads frozen state — index_a/manifest_a), leaving "
        "batch-sized work plus one id-pruned fetch.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
    (
        "q222_corpus_receipt_diff",
        "receipt audit: divergent-shard localization, literal-IN prune, row-level delta",
        [
            (r"Filter [^\n]*IN \(3,7,11\)", "the receipt-derived divergent-shard set is a LITERAL IN predicate (bounded ≤num_shards-row collect) sitting ON both corpus scans — partition pruning under a shard-partitioned production layout"),
            (r"DataFilters: \[[^\n]*pmod", "the shard-key expression reaches the scans' DataFilters on both sides"),
            (r"SortMergeJoin [^\n]*FullOuter", "the row-level compare is ONE full-outer id join over only the pruned shards' rows — the only row-mass exchange, bounded by divergent-shard size"),
            (r"!CartesianProduct", "no all-pairs stage"),
            (r"!BroadcastNestedLoopJoin", "no nested-loop fallback"),
            (r"!HashAggregate", "the returned row-level plan carries NO aggregate — the 16-row receipts (map-combined aggs in their own right, see q205) are consumed at LOCALIZATION time by the bounded ≤num_shards-row collect, so the delta plan is pure scan→prune→join"),
        ],
        "The audit leg of the maintenance triptych: the manifests are "
        "16-row receipts (loaded from storage in production — the "
        "fixture's recompute is its only corpus-proportional cost); "
        "their compare is a 16-row full-outer join whose divergent "
        "shards become a literal IN filter pushed onto BOTH corpus "
        "scans, so the row-level pass reads 3/16 of each corpus here "
        "and |divergent shards|/num_shards in general.  The full-outer "
        "id join shuffles only those rows once.  At 100 TB: wall "
        "scales with the divergence, not the corpus; nothing is "
        "corpus×corpus; the only driver-side data is the ≤16-row "
        "shard list.",
        {"spark.sql.autoBroadcastJoinThreshold": "-1"},
    ),
]


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    from re_data_pipeline_spark.operators.ids import release_spines
    from re_data_pipeline_spark.plans.queries import QUERIES

    spark = get_spark(master="local[8]")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — physical-plan audit\n",
        f"Generated by `tools/explain_audit.py` on `{sf_dir}`.  Each section",
        "asserts the plan property the 100 TB design depends on, with the",
        "actual Spark physical-plan evidence.\n",
    ]
    def q33_lineage(spark, sf_dir):
        from re_data_pipeline_spark.catalog import load_table
        from re_data_pipeline_spark.operators.dedup import lsh_candidate_pairs

        d = load_table(spark, sf_dir, "documents")
        return lsh_candidate_pairs(d, materialize=False)

    def q153_nobcast(spark, sf_dir):
        # defensive: if any earlier check cached a semantically-equal
        # subtree, the cache manager would serve its build plan (compiled
        # under default confs, WITH broadcasts) and defeat the threshold
        # override — rebuild from a cold cache
        spark.catalog.clearCache()
        return QUERIES["q153_prefix_filter_join"](spark, sf_dir)

    def q214_round_frame(spark, sf_dir):
        # audit the INCREMENTAL route's per-round frame (the returned df is
        # a k-row LocalTableScan — the interesting plan is the round
        # update): capture round 34, two rounds past the r=32 checkpoint
        from re_data_pipeline_spark.catalog import load_table
        from re_data_pipeline_spark.operators.selection import kcenter_select

        captured = {}

        def probe(r, frame):
            if r == 34:
                captured["f"] = frame

        e = load_table(spark, sf_dir, "embeddings")
        kcenter_select(e, 65, _plan_probe=probe)  # q214's k: incremental route
        if "f" not in captured:
            # fewer than 35 usable rows: the loop exhausted before round
            # 34 — fail THIS check cleanly instead of KeyError-aborting
            # the whole audit run
            raise RuntimeError(
                "q214 audit fixture too small: k-center exhausted before "
                "round 34, no per-round frame to audit"
            )
        return captured["f"]

    def q216_coldcache(spark, sf_dir):
        # same defense as q153: a semantically-equal cached subtree from
        # an earlier check would serve a plan compiled under default
        # confs (with broadcasts) and defeat the threshold override
        spark.catalog.clearCache()
        return QUERIES["q216_cluster_safe_split"](spark, sf_dir)

    def q217_round_frame(spark, sf_dir):
        # audit the PER-ROUND relaxation frame (the returned df is a
        # checkpoint scan — the interesting plan is the round update):
        # capture round 2, where frontier and dist are round-1 checkpoints
        import pyspark.sql.functions as F

        from re_data_pipeline_spark.catalog import load_table
        from re_data_pipeline_spark.operators.graph import sssp_distances

        captured = {}

        def probe(r, frame):
            if r == 2:
                captured["f"] = frame

        n = load_table(spark, sf_dir, "customer").where(
            F.col("c_custkey") < 100
        ).select(F.col("c_custkey").alias("n"))
        e1 = n.where((F.col("n") * 7 + 3) % 100 != F.col("n")).select(
            F.col("n").alias("src"),
            ((F.col("n") * 7 + 3) % 100).alias("dst"),
            ((F.col("n") % 5) + 1).cast("long").alias("w"),
        )
        e2 = n.where((F.col("n") * 13 + 1) % 100 != F.col("n")).select(
            F.col("n").alias("src"),
            ((F.col("n") * 13 + 1) % 100).alias("dst"),
            ((F.col("n") % 3) + 1).cast("long").alias("w"),
        )
        srcs = n.where(F.col("n") % 37 == 0).select(F.col("n").alias("node"))
        sssp_distances(e1.unionByName(e2), srcs, _plan_probe=probe)
        if "f" not in captured:
            raise RuntimeError(
                "q217 audit fixture settled in one round — no round-2 "
                "relaxation frame to audit"
            )
        return captured["f"]

    overrides = {
        "q33_minhash_lsh": q33_lineage,
        "q153_prefix_filter_join__nobcast": q153_nobcast,
        "q214_kcenter_incremental": q214_round_frame,
        "q216_cluster_safe_split": q216_coldcache,
        "q217_sssp_weighted": q217_round_frame,
    }
    # plan-inspection-only checks: q214's captured round frame must NOT be
    # re-executed after kcenter_select returns — its lineage roots at a
    # checkpoint RDD the operator has already RELEASED (the storage-
    # retention fix); the plan text is all the check needs
    # (q217's captured frame additionally roots at checkpoints the
    # operator has already RELEASED — same storage-retention fix)
    PLAN_ONLY = {"q214_kcenter_incremental", "q217_sssp_weighted"}

    failures = []
    for entry in CHECKS:
        # optional 5th element: session confs pinned for THIS check only
        # (e.g. autoBroadcastJoinThreshold=-1 to prove a join is size-gated
        # rather than hint-forced), restored afterward
        name, title, patterns, scale_note = entry[:4]
        confs = entry[4] if len(entry) > 4 else {}
        saved = {}
        for k, v in confs.items():
            saved[k] = spark.conf.get(k)
            spark.conf.set(k, v)
        try:
            # cold cache for EVERY check (r13 fix): a semantically-equal
            # subtree cached by an earlier check would be served with the
            # plan it was COMPILED under — with broadcasts, defeating a
            # threshold=-1 override, or as an InMemoryTableScan satisfying
            # a cache assertion the query didn't earn.  Previously only
            # q153/q216 defended (their fixtures still do, redundantly).
            spark.catalog.clearCache()
            build = overrides[name] if name in overrides else QUERIES[name]
            df = build(spark, sf_dir)
            if name not in PLAN_ONLY:
                # trigger AQE finalization for cache/exchange visibility
                df.write.format("noop").mode("overwrite").save()
            plan = plan_of(df)
            fmt = formatted(df)
            # clearCache above frees persisted frames, not checkpoints:
            # free the check's pins now that its plan text is captured
            release_spines(df)
        except Exception as exc:  # a broken build fails THIS check, not the run
            lines.append(f"## {name} — {title}\n")
            lines.append(f"- ❌ check could not run: `{type(exc).__name__}: {exc}`")
            lines.append(f"\n**Scale note.** {scale_note}\n")
            failures.append((name, "build/execute"))
            print(f"FAIL {name} (build/execute: {exc})")
            continue
        finally:
            for k, v in saved.items():
                spark.conf.set(k, v)
        text = plan + "\n" + fmt
        suffix = f" [confs: {confs}]" if confs else ""
        lines.append(f"## {name} — {title}{suffix}\n")
        ok_all = True
        for pat, desc in patterns:
            # leading "!" = NEGATIVE assertion (pattern must be absent)
            if pat.startswith("!"):
                ok = re.search(pat[1:], text) is None
            else:
                ok = re.search(pat, text) is not None
            ok_all = ok_all and ok
            mark = "✅" if ok else "❌"
            lines.append(f"- {mark} {desc} (`{pat}`)")
            if not ok:
                failures.append((name, pat))
        lines.append(f"\n**Scale note.** {scale_note}\n")
        # short evidence excerpt: first lines of the simple plan
        excerpt = "\n".join(plan.splitlines()[:12])
        lines.append("```\n" + excerpt + "\n```\n")
        print(("OK  " if ok_all else "FAIL") + f" {name}")

    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as f:
        f.write("\n".join(lines))
    print(f"\n{len(failures)} failed checks: {failures}" if failures else "\nall plan checks OK")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
