#!/usr/bin/env python
"""Regenerate PLANS.md: `.explain` audits of the headline plans with the
scale commentary. Run after changing any operator: python tools/gen_plans.py
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ocr_spark.session import build_session  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue().strip()


def main() -> None:
    spark = build_session(app_name="plans", master="local[4]", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    import ocr_spark.queries as Q
    from ocr_spark import fixtures
    from ocr_spark.operators.aggregate import conv_text_salted
    from ocr_spark.operators.extract import extract, extract_into

    tpath = "/tmp/ocr_spark_plans_input"
    fixtures.transcripts_df(spark, 20).write.mode("overwrite").parquet(tpath)
    t = spark.read.parquet(tpath)
    snap = "/tmp/ocr_spark_plans_snapshot"
    extract(t).write.mode("overwrite").parquet(snap)

    sections = [
        (
            "Extraction stage (narrow)",
            "Scan -> column-pruned Project -> MapInArrow. ZERO exchanges: "
            "extraction cost scales linearly with input splits and never "
            "shuffles the raw text. Input split size is the knob that "
            "matters (see session.py note on maxPartitionBytes: size splits "
            "by UDF-seconds, not IO-bytes).",
            plan(extract(t)),
        ),
        (
            "Production extraction: narrow extract behind the resume anti-join",
            "What run_resumable collects on a non-empty store: the input "
            "left-anti-joins the committed (conv_id, turn_idx) keys "
            "(broadcast while the key set is small), then one MapInArrow "
            "parses each remaining turn in the task that scanned it and "
            "writes the task's rows as one parquet file from the Python "
            "worker; the stage returns one row per file (its name and "
            "totals), and the plan holds no Spark write. No payload-hash "
            "shuffle: on an empty store the anti-join is gone and the plan "
            "has zero exchanges. extract_deduped stays the opt-in shape "
            "for expensive parsers.",
            plan(
                extract_into(
                    t.join(
                        spark.read.parquet(snap).select("conv_id", "turn_idx"),
                        ["conv_id", "turn_idx"],
                        "left_anti",
                    ),
                    "/tmp/ocr_spark_plans_staging",
                )
            ),
        ),
        (
            "Production rollup: two-phase ordered concat over the snapshot",
            "The rollup reads the committed snapshot (nested columns pruned "
            "at the scan) and has exactly 2 exchanges: (1) partial "
            "ordered-concat keyed (conv_id, turn bucket) so no single "
            "reducer sees a whole 10^4-turn agent trace; (2) final merge of "
            "a few bucket rows per conversation. This is where "
            "conversation-length skew is handled.",
            plan(conv_text_salted(spark.read.parquet(snap))),
        ),
        (
            "TPC-H Q6: pushdown + pruning",
            "All predicates land in PushedFilters on the parquet scan; "
            "ReadSchema carries only 4 of lineitem's 11 columns. At 100 TB "
            "this is the difference between scanning ~35% of column chunks "
            "and scanning everything.",
            plan(Q.q_tpch_q6(spark, SF_DIR)),
        ),
        (
            "Dimension join: broadcast",
            "The nation dimension broadcasts (BroadcastHashJoin) — no "
            "shuffle of the fact side. AQE would also convert at runtime if "
            "the estimate were off.",
            plan(Q.q_dim_broadcast_join(spark, SF_DIR)),
        ),
        (
            "MinHash-LSH near-dup: bucket join, no cross product",
            "Candidates come from an equi-join on (band, band_key) — the "
            "plan must never contain CartesianProduct / "
            "BroadcastNestedLoopJoin; verification joins shingles onto the "
            "candidate pairs (cost ~ |candidates|, not |docs|^2).",
            plan(Q.q_minhash_lsh_pairs(spark, SF_DIR), mode="simple"),
        ),
        (
            "MinHash signature: one digest, partial-aggregated, codegen'd",
            "K=128 permutations derive from a single md5 per shingle via "
            "Carter-Wegman integer hashing; the 128 min() aggregates "
            "partial-aggregate map-side (one 129-column row per doc per "
            "partition crosses the one Exchange) and stay inside "
            "whole-stage codegen (session raises codegen.maxFields).",
            plan(Q._minhash_wide(spark, SF_DIR), mode="simple"),
        ),
        (
            "Top-k: TakeOrderedAndProject, never a global Window",
            "orderBy().limit(k) compiles to a distributed partial top-k "
            "per partition with a k-rows-per-partition driver merge; a "
            "row_number() over a non-partitioned Window would funnel every "
            "surviving row through ONE task.",
            plan(Q.q_a8_top_k(spark, SF_DIR), mode="simple"),
        ),
        (
            "Benchmark decontamination: broadcast eval grams",
            "The held-out eval set's distinct n-grams are tiny regardless "
            "of corpus size, so the contamination join must be a "
            "BroadcastHashJoin — the 100 TB training-gram stream joins "
            "map-side and only the per-doc hit counts shuffle "
            "(partial-aggregated).",
            plan(Q.q_benchmark_decontam(spark, SF_DIR), mode="simple"),
        ),
        (
            "n-gram Jaccard: hot-shingle DF cap below the self-join",
            "A shingle shared by k documents contributes k^2 rows to the "
            "pair join, so boilerplate shingles are dropped FIRST: shingle "
            "document frequencies aggregate (partial map-side), the tiny "
            "df>cap set broadcasts, and a LeftAnti BroadcastHashJoin "
            "filters the shingle stream before any pairing. The pair join "
            "cost then scales with discriminative co-occurrences only.",
            plan(Q.q_ngram_jaccard_pairs(spark, SF_DIR), mode="simple"),
        ),
        (
            "Embedding near-dup: 16-bit sign-LSH + Hamming<=1 multiprobe",
            "Per-vector probe set = home signature + 16 single-bit flips "
            "(a narrow 17x explode, no shuffle); the probe->home equi-join "
            "emits each candidate pair exactly once, so there is no "
            "pair-dedup shuffle, and exact cosine runs on candidates only. "
            "Bucket occupancy ~N/2^16 per key vs N/256 for the old 8-bit "
            "bucket; recall at Hamming<=1 matches the 8-bit bucket's on "
            "sign-stable near-dups.",
            plan(Q.q_embedding_near_dup(spark, SF_DIR), mode="simple"),
        ),
        (
            "Domain blocklist: broadcast left-anti",
            "The blocklist is an external table but always tiny relative "
            "to the corpus: a LeftAnti BroadcastHashJoin drops blocked "
            "documents without shuffling the corpus side.",
            plan(Q.q_domain_blocklist_filter(spark, SF_DIR), mode="simple"),
        ),
        (
            "Hashed-bigram classifier: zero-exchange scoring",
            "fastText-style quality scoring is pure per-row array math "
            "(transform + aggregate over the token array): no explode, no "
            "shuffle, whole-stage codegen from scan to score.",
            plan(Q.q_hashed_ngram_classifier(spark, SF_DIR), mode="simple"),
        ),
        (
            "T5 cleanup: pure builtins, JVM-side",
            "The whitespace-normalization chain is regexp_replace/trim "
            "builtins only — no python evaluation node; it stays inside "
            "whole-stage codegen next to the scan.",
            plan(Q.q_t5_cleanup_normalize(spark, SF_DIR), mode="simple"),
        ),
        (
            "Winnowing overlap candidates: DF cap below the pair join",
            "Same discipline as the shingle path applied to local "
            "fingerprints: hot fingerprints (df > cap) leave via a "
            "broadcast LeftAnti BEFORE the self-equi-join, so a "
            "boilerplate hash shared by k docs cannot emit k^2 candidate "
            "rows; the top-20 compiles to TakeOrderedAndProject.",
            plan(Q.q_winnowing_candidates(spark, SF_DIR), mode="simple"),
        ),
        (
            "Intra-doc segment dedup: zero key shuffles",
            "Within-document repeated-segment removal is pure per-row "
            "array math (order-preserving array_distinct) — no Exchange "
            "beyond the gated scan-widening round-robin, at any corpus "
            "size.",
            plan(Q.q_intra_doc_segment_dedup(spark, SF_DIR), mode="simple"),
        ),
        (
            "Funnel / ordered-pattern match: one shuffle + codegen'd fold",
            "groupBy(user) collects (ts, id, stage) structs, array_sort "
            "recovers time order post-shuffle, and the stage progression "
            "is a fold with one int of state — the collect-then-sort "
            "pattern of the ordered rollup applied to sequence matching.",
            plan(Q.q_funnel_analysis(spark, SF_DIR), mode="simple"),
        ),
        (
            "CDC merge-upsert: single full-outer key join",
            "The Iceberg MERGE INTO shape: one key shuffle per side into "
            "a full-outer join classifying insert/update/keep; AQE "
            "broadcasts small change batches (the common CDC case).",
            plan(Q.q_merge_upsert(spark, SF_DIR), mode="simple"),
        ),
        (
            "Chat-template spans: closed-form offsets, rendering never built",
            "Per-turn payload offsets into the '<|role|>\\n{text}\\n' SFT "
            "rendering come from ONE conv-keyed running-sum window over "
            "turn LENGTHS — the rendered string itself never materializes "
            "or shuffles, and the adapter's row_number Exchange (keyed "
            "conv_id after the pre-window rename) is the only turn-stream "
            "shuffle in the plan.",
            plan(Q.q_chat_template_spans(spark, SF_DIR), mode="simple"),
        ),
        (
            "Incremental corpus-append dedup: fingerprints before the join",
            "Both the frozen corpus and the incoming batch reduce to "
            "72-byte (source, sha2) rows BEFORE any join, the frozen side "
            "is distinct-reduced map-side, and one LEFT mark-join + a "
            "single conditional aggregate replaces left_anti plus a "
            "second per-source rescan: two scans total, shuffle width "
            "independent of document size.",
            plan(Q.q_incremental_dedup_new_docs(spark, SF_DIR), mode="simple"),
        ),
        (
            "k-means training: literal-centroid argmin, vectors never shuffle",
            "Each Lloyd round aggregates (cluster, dim) means "
            "(partial-aggregated, k*d rows out) and re-enters the k x d "
            "centroid matrix as a driver-collected LITERAL, so "
            "reassignment is a narrow per-row argmin over k fold-computed "
            "distances — the final model plan holds ONE k-row Exchange "
            "and the vector table itself never shuffles at any corpus "
            "size (the MLlib shape).",
            plan(Q.q_kmeans_train(spark, SF_DIR), mode="simple"),
        ),
        (
            "CCNet LM buckets: broadcast per-lang cutoffs, no per-lang sort",
            "Per-language head/middle/tail tercile cutoffs come from ONE "
            "partial-aggregated groupBy(lang); the |langs|-row cutoff "
            "table broadcasts back onto the score stream so bucket "
            "assignment is narrow per-row arithmetic — never the per-lang "
            "global sort an ntile formulation would force through single "
            "tasks at 100 TB.",
            plan(Q.q_ccnet_lm_buckets(spark, SF_DIR), mode="simple"),
        ),
        (
            "BM25 retrieval: posting-list plan, pre-shuffle term filter",
            "The query-term isin filter lands on the exploded token "
            "stream BEFORE any exchange, so corpus tokens that miss the "
            "query never shuffle; corpus stats (1 row) and per-term idf "
            "(|query| rows) broadcast; the head is TakeOrderedAndProject, "
            "never a global sort.",
            plan(Q.q_bm25_topk(spark, SF_DIR), mode="simple"),
        ),
        (
            "Logistic-regression training: literal-weight sigmoid, "
            "vectors never shuffle",
            "Each batch-GD round scores rows with a narrow sigmoid whose "
            "65-double weight vector is a driver-collected literal, then "
            "aggregates the gradient in ONE partial-aggregated "
            "groupBy(dim) (d+1 rows out, bias folded in as a constant "
            "feature); the final model plan holds one tiny "
            "confusion-matrix Exchange and the feature vectors never "
            "shuffle at any corpus size.",
            plan(Q.q_logreg_train(spark, SF_DIR), mode="simple"),
        ),
        (
            "PageRank: relational Pregel, ranks never driver-collected",
            "Each power iteration is edges ⋈ ranks on src + ONE "
            "partial-aggregated groupBy(dst) + a left join back onto the "
            "vertex set; ranks stay a DataFrame at every step, so the "
            "loop scales to any vertex count. At 100 TB the edge table "
            "is pre-partitioned once by src and every round reuses that "
            "layout.",
            plan(Q.q_pagerank(spark, SF_DIR), mode="simple"),
        ),
        (
            "Reward pairs: struct-extreme aggregation, no window",
            "Per-source chosen/rejected extremes come from lexicographic "
            "struct min/max inside one partial-aggregated groupBy "
            "(tie-break encoded as a negated doc_id field) — no "
            "row_number window, so no per-group sort of the corpus.",
            plan(Q.q_reward_pairs(spark, SF_DIR), mode="simple"),
        ),
        (
            "Bloom decontamination: constant-size broadcast summary",
            "Where benchmark_decontam broadcasts the eval grams "
            "themselves, the Bloom variant broadcasts only their SET BIT "
            "positions — at most 2^18 rows (~2 MB) no matter how large "
            "the blocklist corpus grows — so the probe join stays a "
            "BroadcastHashJoin and the 100 TB training-gram stream never "
            "shuffles for the membership test.",
            plan(Q.q_bloom_decontam(spark, SF_DIR), mode="simple"),
        ),
        (
            "Edit-distance near-dup: block cap + length band below verify",
            "The df<=64 block cap (broadcast semi-join) and the "
            "+-64-char length band (|len_a - len_b| lower-bounds edit "
            "distance) both sit UNDER the pair join, so the O(len^2) "
            "levenshtein builtin prices only banded candidates inside a "
            "capped block — never corpus^2 and never a cross join.",
            plan(Q.q_levenshtein_near_dup(spark, SF_DIR), mode="simple"),
        ),
        (
            "Count-Min sketch: vocab-bounded build, constant-size result",
            "The corpus stream partial-aggregates to the exact "
            "(gram, count) vocab table FIRST; the d*w sketch is built "
            "from vocab rows and is 1024 counters total — a mergeable "
            "summary whose size is independent of corpus AND vocab "
            "cardinality; probes broadcast against it.",
            plan(Q.q_countmin_freq(spark, SF_DIR), mode="simple"),
        ),
        (
            "Column-aware reading order: layout analysis with zero exchanges",
            "The XY-cut first vertical cut (two-column iff no block "
            "straddles the midline) and the column-major sort both run "
            "as per-document higher-order array functions — layout "
            "analysis is data-parallel, costs one scan, and never "
            "shuffles at any corpus size.",
            plan(Q.q_pdf_column_layout_order(spark, SF_DIR), mode="simple"),
        ),
        (
            "Table-grid reconstruction: one shuffle, in-aggregate ordering",
            "Cells group by (doc, row) — exactly one Exchange; the "
            "within-row column order comes from array_sort over "
            "collect_list(struct) INSIDE the aggregate, so no Sort or "
            "Window node exists and skew is bounded by page size.",
            plan(Q.q_pdf_table_grid(spark, SF_DIR), mode="simple"),
        ),
        (
            "Band dedup (streaming-gate twin): state keyed on band keys",
            "The per-row signature is higher-order array math (narrow); "
            "ownership is one groupBy(band_key) + a join-back + one "
            "per-doc groupBy — state and shuffles scale with distinct "
            "band keys, never doc pairs, and no Sort/Window exists.",
            plan(Q.q_band_dedup_keep_first(spark, SF_DIR), mode="simple"),
        ),
        (
            "Duplicate spans: gaps-and-islands, no global sort",
            "Gram counts partial-aggregate map-side (hot stopword grams "
            "absorbed before the shuffle); the join-back adds no fanout "
            "(one row per distinct gram); the only Sort is the doc-keyed "
            "window sort, and the island aggregate reuses the window's "
            "doc partitioning.",
            plan(Q.q_dup_span_islands(spark, SF_DIR), mode="simple"),
        ),
        (
            "Incremental batch-vs-corpus dedup: corpus reduced to keys once",
            "The frozen corpus becomes a DISTINCT band-key set (reusable "
            "across every future ingest if materialized); the incoming "
            "batch left-joins that set and aggregates per doc — cost is "
            "|corpus keys| + |batch| per ingest, never batch x corpus.",
            plan(Q.q_incremental_band_dedup(spark, SF_DIR), mode="simple"),
        ),
        (
            "Compaction plan: the bin groupBy reuses the window Exchange",
            "Binpack compaction planning shuffles the manifest ONCE: the "
            "cumulative-size window hash-partitions on source, and the "
            "(source, bin_id) aggregate's keys are a superset of that "
            "partitioning, so Catalyst adds no second Exchange. The only "
            "Sort is the window's partition-local (source, doc_id).",
            plan(Q.q_compaction_plan(spark, SF_DIR), mode="simple"),
        ),
        (
            "Z-order layout: key-range bucketing, zero sorts",
            "The Morton key is codegen'd bit arithmetic on the scan and "
            "files are assigned by key RANGE (z div 128), so the layout "
            "audit needs no Sort/Window/join at all — per-file spans are "
            "one partial-aggregated groupBy per layout. The physical "
            "rewrite at scale is repartitionByRange(z) + "
            "sortWithinPartitions, also never a global sort.",
            plan(Q.q_zorder_layout(spark, SF_DIR), mode="simple"),
        ),
        (
            "Snapshot CDC diff: one full-outer equi-join",
            "Version-over-version diff is a single key join with the "
            "action classification in codegen; unchanged keys are "
            "filtered before anything downstream. AQE broadcasts the "
            "delta side when it is delta-sized (the common CDC case).",
            plan(Q.q_snapshot_cdc_diff(spark, SF_DIR), mode="simple"),
        ),
        (
            "RRF hybrid fusion: rank windows only over bounded heads",
            "Both retrievers end in TakeOrderedAndProject (k=20), so the "
            "single-partition rank windows and the fusion join see 20-row "
            "inputs — never the corpus. The only nested-loop joins are "
            "three 1-row broadcast scalars (query vector, BM25 corpus "
            "stats).",
            plan(Q.q_rrf_fusion(spark, SF_DIR), mode="simple"),
        ),
        (
            "SCD2 history: one Exchange serves two windows and the rollup",
            "The lag-change flag, the running run-number, and the (doc, "
            "run) aggregate all cluster on doc_id, so Catalyst plans ONE "
            "hash Exchange for the whole chain — version history costs "
            "rows x versions, linear, never a per-version self-join.",
            plan(Q.q_scd2_history(spark, SF_DIR), mode="simple"),
        ),
        (
            "Gap-fill interpolation: fused bidirectional fill",
            "Carry-forward (last ignore-nulls) and carry-back (first "
            "ignore-nulls) share one (user, hr) partitioning+ordering, so "
            "the plan holds ONE Window over ONE Sort; the dense grid "
            "explodes from per-user bounds — never a calendar cross-join.",
            plan(Q.q_gap_fill_interpolate(spark, SF_DIR), mode="simple"),
        ),
        (
            "Weighted reservoir: the top-k IS the reservoir",
            "Efraimidis-Spirakis keys are narrow per-row math; the whole "
            "operator is scan -> project -> TakeOrderedAndProject. Zero "
            "exchanges, zero windows, any corpus size.",
            plan(Q.q_weighted_reservoir_sample(spark, SF_DIR), mode="simple"),
        ),
        (
            "Hard-negative mining: rank pushdown below the shuffle",
            "The anchor set broadcasts; Spark inserts WindowGroupLimit "
            "(per-partition partial top-k) BELOW the rank window's "
            "Exchange, so only ~k rows per partition per anchor shuffle — "
            "the Window equivalent of TakeOrdered's partial merge.",
            plan(Q.q_hard_negative_mining(spark, SF_DIR), mode="simple"),
        ),
        (
            "Robots gating: broadcast rules, in-aggregate longest match",
            "The crawl-config-sized rule table broadcasts into a "
            "startswith theta-join; RFC 9309 longest-prefix-wins is a "
            "max(struct(len, verdict)) inside one partial-aggregated "
            "groupBy per URL — no window, no second shuffle, corpus side "
            "never re-partitions for the match.",
            plan(Q.q_robots_gate(spark, SF_DIR), mode="simple"),
        ),
        (
            "TPC-H Q5 shape: co-nationality through broadcast dims",
            "The supplier-side dimension (supplier ⋈ nation ⋈ region, "
            "region/date predicates pushed) assembles via forced "
            "broadcasts; customer joins un-hinted (AQE broadcasts at "
            "small sf, shuffles at scale); the only unavoidable big-side "
            "shuffle is lineitem ⋈ orders on orderkey.",
            plan(Q.q_tpch_q5_local_supplier(spark, SF_DIR), mode="simple"),
        ),
        (
            "TPC-H Q21 shape: correlated EXISTS as aggregate-then-join-back",
            "The per-order aggregate (max shipdate + distinct suppliers) "
            "partial-aggregates map-side; Catalyst folds the last-shipper "
            "filter INTO the join back as a (shipdate, orderkey) equi-join "
            "— tighter buckets for the price of re-keying the tiny "
            "order-cardinality side. No window, no raw-stream self-join, "
            "TakeOrdered head.",
            plan(Q.q_tpch_q21ish(spark, SF_DIR), mode="simple"),
        ),
        (
            "TPC-H Q18 shape: HAVING as a join gate",
            "The quantity rollup partial-aggregates map-side and its "
            "HAVING cut runs BEFORE the join back, so only qualifying "
            "orderkeys (a tiny set AQE broadcasts) meet orders/customer; "
            "the head is TakeOrdered.",
            plan(Q.q_tpch_q18ish(spark, SF_DIR), mode="simple"),
        ),
        (
            "TPC-H Q2 shape: correlated MIN as aggregate-then-join-back",
            "The region-restricted supplier dim broadcasts BEFORE the "
            "offer aggregation (the min is region-filtered map-side); "
            "the per-part best-cost table joins back on (partkey, cost) "
            "equality as an equi join — SMJ is the right call since both "
            "sides scale with #parts; part filter broadcasts; the head "
            "is TakeOrdered. Never a per-part re-scan.",
            plan(Q.q_tpch_q2ish(spark, SF_DIR), mode="simple"),
        ),
        (
            "TPC-H Q19 shape: equi-key extracted from under a disjunction",
            "The OR-of-ANDs references both join sides; Catalyst still "
            "extracts the partkey equi-key into a BroadcastHashJoin and "
            "evaluates the residual disjunction in codegen — never a "
            "nested-loop over the cross space, never three unioned scans.",
            plan(Q.q_tpch_q19ish(spark, SF_DIR), mode="simple"),
        ),
        (
            "TPC-H Q15 shape: scalar max via broadcast equi join",
            "The per-supplier revenue view aggregates once; crossJoin("
            "1-row max) + equality filter is rewritten by Catalyst into a "
            "broadcast EQUI join on total_revenue == max_revenue — ties "
            "kept, no global sort, no window.",
            plan(Q.q_tpch_q15ish(spark, SF_DIR), mode="simple"),
        ),
        (
            "TPC-H Q13 shape: zero-preserving outer-join histogram",
            "The priority exclusion folds into the LEFT OUTER join "
            "condition (a pre-filter would turn it inner and silently "
            "drop zero-order customers); both aggregates partial-"
            "aggregate and the second groupBy runs on the tiny count "
            "domain.",
            plan(Q.q_tpch_q13ish(spark, SF_DIR), mode="simple"),
        ),
        (
            "n-gram novelty: gram-key equi-join, two-phase aggs",
            "Per-doc novel-shingle fraction (data-pruning signal): "
            "first-seen docs come from one partial-aggregated "
            "groupBy(shingle).min(doc_id) and join back on the gram key "
            "— never a cross join; the final per-doc count is again "
            "two-phase. Both shuffles are combiner-friendly, so the "
            "gram stream reduces before it moves.",
            plan(Q.q_ngram_novelty(spark, SF_DIR)),
        ),
        (
            "Deterministic shard plan: one Exchange total",
            "Reproducible epoch ordering without rng: shard and order "
            "keys are md5-derived in a narrow projection, then ONE "
            "two-phase aggregate builds the per-shard audit card "
            "(membership pinned by a hash checksum). The physical write "
            "this card audits is repartition(shard) + "
            "sortWithinPartitions(hkey).",
            plan(Q.q_corpus_shard_plan(spark, SF_DIR)),
        ),
        (
            "Semantic decontam: broadcast eval multiprobe, no self-join",
            "Embedding decontamination (third tier after exact n-gram "
            "and MinHash-band fuzzy): the benchmark-sized eval side "
            "expands to 17 sign-LSH probes and BROADCASTS; the corpus "
            "stream joins map-side on its own 16-bit signature "
            "(BroadcastHashJoin), cosine-verifies candidates only, and "
            "rolls up per doc in one two-phase aggregate. Never a "
            "corpus self-join.",
            plan(Q.q_semantic_decontam(spark, SF_DIR)),
        ),
        (
            "Incremental novelty gate: batch left-joins the corpus gram set",
            "Ingest-time novelty: the frozen corpus reduces to DISTINCT "
            "shingles once (reusable across every future batch if "
            "materialized); the batch's grams LEFT-join on the gram key "
            "and aggregate per doc. Never batch x corpus.",
            plan(Q.q_ngram_novelty_incremental(spark, SF_DIR)),
        ),
        (
            "Triangle census: degree-ordered wedge equi-joins",
            "Dedup-graph quality audit: edges orient from their lower "
            "(degree, id) endpoint, bounding per-node wedge fan-out to "
            "O(sqrt E); wedge and closure joins are node-keyed "
            "equi-joins; the three crossJoins are 1-row broadcast count "
            "totals (the corpus-totals pattern).",
            plan(Q.q_dedup_graph_triangles(spark, SF_DIR)),
        ),
        (
            "Tool transitions: one conv-keyed Exchange, no joins",
            "First-order tool->tool transition counts: the adapter's "
            "turn-numbering window and the lag window share ONE "
            "conv_id Exchange; the rollup key is bounded by |tools|^2.",
            plan(Q.q_tool_transition_stats(spark, SF_DIR)),
        ),
        (
            "Mutual NN pairs: max_by argmax, zero windows",
            "Reciprocal-NN alignment mining: candidates from the "
            "sign-bucket equi-join (17-probe multiprobe), per-vector "
            "best as a max_by PARTIAL aggregate (no Window, no Sort "
            "before the final join), mutuality as a |V|-row self "
            "equi-join.",
            plan(Q.q_mutual_nn_pairs(spark, SF_DIR)),
        ),
        (
            "k-core peel (final round + membership join)",
            "k-core peeling: each round is one partial-aggregated "
            "degree count plus two node-keyed semi-join restrictions; "
            "rounds are localCheckpoint-truncated so the plan below is "
            "the final-round degree count joined back to the node set — "
            "iteration depth never bloats the plan.",
            plan(Q.q_kcore_peel(spark, SF_DIR)),
        ),
        (
            "Boilerplate phrases: one gram shuffle + distributed top-k",
            "Template-phrase report: the gram stream partial-aggregates "
            "(count + min doc) before its single shuffle; the corpus "
            "total is a 1-row broadcast; the ranking is "
            "TakeOrderedAndProject.",
            plan(Q.q_boilerplate_phrases(spark, SF_DIR)),
        ),
        (
            "Mergeable moments: 64 rows then a bounded fold",
            "Chan-merge variance card: one partial-aggregated "
            "groupBy(shard) to SHARD_COUNT moment rows, then the "
            "pairwise merge folds over the tiny sorted shard list "
            "inside a single aggregate expression — the incremental "
            "corpus-card path with nothing wide ever moving.",
            plan(Q.q_mergeable_variance_card(spark, SF_DIR)),
        ),
        (
            "JL projection recall eval: TakeOrdered shortlists",
            "Both the full-dim truth top-10 and the projected-space "
            "top-100 shortlist are TakeOrderedAndProject (distributed "
            "partial top-k, no global sort materialized); the query row "
            "broadcasts; the rerank window runs over the 100-row "
            "shortlist only. The projection itself is 16 codegen'd "
            "ordered folds — a narrow map.",
            plan(Q.q_rp_recall_report(spark, SF_DIR)),
        ),
        (
            "Agent loop detector: gaps-and-islands on ONE Exchange",
            "Stuck-agent gate: the lag window, the running-sum window, "
            "and both conv-keyed groupBys all ride the adapter's single "
            "conv_id Exchange — run-length analysis of arbitrarily many "
            "conversations with per-conversation state only.",
            plan(Q.q_agent_loop_detector(spark, SF_DIR)),
        ),
        (
            "Rollout dedup + pass@k: hashes-only after the first rollup",
            "Shared-prompt rollout reductions: one conv-keyed rollup "
            "builds 32-byte fingerprints (collect_list bounded by "
            "turns-per-conversation); everything downstream — distinct-"
            "completion counts, the pass@k (n, c) rollup, best-of-n "
            "ranking, GRPO advantage windows — moves only fingerprint "
            "rows, never re-shuffles raw text, and uses no self-joins.",
            plan(Q.q_prompt_rollout_dedup(spark, SF_DIR)),
        ),
        (
            "DPO pairs: struct max/min, no pairing window",
            "Preference mining: per-group (chosen, rejected) reward "
            "extremes via lexicographic struct max/min inside ONE "
            "partial-aggregated groupBy — no pairing window, no "
            "self-join; the margin filter is a narrow post-aggregate "
            "predicate. Tie-heavy (binary) reward schemes stay "
            "deterministic.",
            plan(Q.q_dpo_pairs(spark, SF_DIR)),
        ),
        (
            "Length-debiased reward: 1-row OLS broadcast",
            "Verbosity-bias correction: covar_pop/var_pop fit in a "
            "single-row stats aggregate, broadcast back over the "
            "scored trajectories (the corpus-totals pattern) for a "
            "narrow residual projection — trajectory rows never "
            "shuffle.",
            plan(Q.q_length_debiased_reward(spark, SF_DIR)),
        ),
        (
            "Rollout divergence profile: conv-local prefix hashes",
            "Trajectory-tree fan-out per (prompt group, depth): the "
            "cumulative prefix hash is one conv-partitioned window "
            "(frame bounded by the depth cap's early filter), then a "
            "(bucket, depth)-keyed two-phase distinct count — the tree "
            "shape of a best-of-n sampler without ever building the "
            "tree.",
            plan(Q.q_rollout_divergence_profile(spark, SF_DIR)),
        ),
        (
            "Majority vote: two item-keyed rollups, no window",
            "Multi-judge label aggregation: (item, label) counts then an "
            "item rollup whose winner is a min_by composite-struct "
            "aggregate — two partial-aggregated Exchanges and NO per-item "
            "window or join-back, so a billion-item judge table reduces "
            "map-side before either shuffle.",
            plan(Q.q_judge_majority_vote(spark, SF_DIR)),
        ),
        (
            "Cohen's kappa: item-keyed self-join, broadcast marginals",
            "Inter-judge agreement: the only big op is the item-keyed "
            "self-join pairing each item's verdicts; the judge x label "
            "marginal and pe tables are tiny and ride BroadcastHashJoins. "
            "Judge count is small and fixed, so pair fan-out per item is "
            "bounded.",
            plan(Q.q_judge_kappa_pairs(spark, SF_DIR)),
        ),
        (
            "Dawid-Skene EM round: broadcast theta, one item window",
            "Noisy-judge inference: per round the judges x classes^2 "
            "confusion state is collected (tiny, the k-means "
            "centroid-loop pattern) and re-broadcast as literals; the "
            "E-step is one BroadcastHashJoin over the labels table plus "
            "an item-keyed normalization window, and each round restarts "
            "from the source table so lineage never deepens.",
            plan(Q.q_dawid_skene_labels(spark, SF_DIR)),
        ),
        (
            "Bradley-Terry: battles reduce once to model^2 cells",
            "Arena strength fit: the battle table reduces to pair-count "
            "cells in ONE partial-aggregated groupBy before the "
            "driver-side MM loop touches only that model^2 state; the "
            "returned strengths join a 1-row total broadcast. Win-rate "
            "matrix (arena_win_matrix) is the same single-Exchange "
            "reduction without the fit.",
            plan(Q.q_bradley_terry_strengths(spark, SF_DIR)),
        ),
        (
            "Prefix-cache savings: set-LCP from the lexicographic extremes",
            "KV-prefix-cache accounting over rollout groups: after the "
            "conv-keyed fingerprint rollup, ONE group-keyed partial-"
            "aggregated groupBy keeps only the lexicographic min and max "
            "trajectory per prompt group (the set's LCP equals the LCP "
            "of its extremes), so a million-rollout group never "
            "materializes; the LCP itself is an O(L) two-level block-"
            "compare expression fold evaluated on group-count rows — "
            "2 Exchanges total, no Python eval, no rangepartitioning "
            "(pinned in test_plans.py).",
            plan(Q.q_prefix_cache_savings(spark, SF_DIR)),
        ),
        (
            "Prefix-trie profile: 33-byte running state, shared conv Exchange",
            "Turn-granular cache-hit mass: per-turn md5 first, then the "
            "depth row_number and the cumulative hash-fold windows both "
            "ride the ONE conv-keyed Exchange; node- and depth-keyed "
            "groupBys are partial-aggregated, so the widest thing "
            "shuffled after the adapter is a 33-byte (depth, node) row — "
            "never text.",
            plan(Q.q_prefix_trie_profile(spark, SF_DIR)),
        ),
        (
            "Self-consistency vote: plurality via struct min, no window",
            "Answer-consensus reduction: (group, answer) vote counts "
            "then ONE group rollup whose plurality pick is a single "
            "min(struct(-votes, answer)) — no per-answer window, no "
            "self-join; vote entropy comes from sum(v*ln v) in the same "
            "rollup, so the answer table is touched exactly once and the "
            "conv rollup reuses the adapter's conv-keyed Exchange "
            "(3 Exchanges total, pinned).",
            plan(Q.q_self_consistency_vote(spark, SF_DIR)),
        ),
        (
            "Context-budget audit: literal budget ladder, no row explosion",
            "Context-window capacity card: per-turn token counts, one "
            "conv-keyed cumulative window riding the adapter Exchange, "
            "then per-budget CONDITIONAL SUMS with the budgets folded in "
            "as plan-time literals — no budget x turn crossJoin, no "
            "second pass per budget; a 1-row global aggregate stacks to "
            "|budgets| rows (the only Generate). 2 Exchanges total, "
            "pinned.",
            plan(Q.q_context_budget_audit(spark, SF_DIR)),
        ),
        (
            "Incremental turn novelty: corpus reduces once, never batch x corpus",
            "Ingest-time novelty gate: the frozen corpus reduces to "
            "DISTINCT 32-byte turn hashes in one partial-aggregated "
            "groupBy (materialize it and every future ingest reuses "
            "it); the batch left-joins that set on the hash key and "
            "keeps within-batch first occurrence via the same "
            "hash-keyed window as the batch-form mask. Cost per ingest "
            "is |corpus hashes| + |batch| — never batch x corpus "
            "(no-nested-loop pinned).",
            plan(Q.q_turn_novelty_incremental(spark, SF_DIR)),
        ),
        (
            "Turn novelty mask: order inside duplicate groups only",
            "Turn-level loss masking: the only data shuffle is "
            "hashpartitioning on the 32-byte turn hash; first-occurrence "
            "ranking sorts INSIDE each tiny duplicate group (no "
            "rangepartitioning / global sort anywhere), so a boilerplate "
            "turn repeated millions of times costs one hot partition of "
            "(conv_id, turn_idx) ids only.",
            plan(Q.q_turn_novelty_mask(spark, SF_DIR)),
        ),
    ]

    # Large-star/small-star CC: audit ONE alternation's shape (the full
    # operator iterates this to convergence with localCheckpoint lineage
    # truncation — the per-round shape is the audit that matters).
    from ocr_spark.dedup import _cc_large_star, _cc_small_star

    cc_edges = spark.createDataFrame(
        [(0, 1), (1, 2), (5, 6)], "u: long, v: long"
    )
    sections.append(
        (
            "Two-phase CC: one large-star + small-star alternation",
            "Large-star/small-star connected components (the O(log^2 n) "
            "CC): each phase is ONE partial-aggregated groupBy(min) plus "
            "ONE equi-join — no collect_list, so a hot node (boilerplate "
            "doc with millions of near-dup edges) never materializes its "
            "neighbor list in a task; no CartesianProduct / "
            "BroadcastNestedLoopJoin (pinned in test_cc_two_phase.py). "
            "The operator loop localCheckpoints EVERY round (min-label "
            "checkpoints every 5) so iteration depth never bloats the "
            "plan or task binaries.",
            plan(_cc_small_star(_cc_large_star(cc_edges))),
        )
    )

    # Bucketed-output co-located join (jobs/extract_job.py
    # --bucketed-output; registry query bucketed_layout_audit): write the
    # two conv_id-bucketed tables the job emits, then explain their join
    # with broadcast disabled — the shape every post-extraction conv-keyed
    # join takes at 100 TB.
    from ocr_spark.operators.bucketing import bucketed_join, write_bucketed

    ext = extract(t).localCheckpoint()
    write_bucketed(ext, "plans_extracted_b", 4)
    write_bucketed(
        conv_text_salted(ext), "plans_conv_text_b", 4, sort_cols=("conv_id",)
    )
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sections.append(
        (
            "Bucketed-output co-located join: zero Exchange, forever after",
            "extract_job --bucketed-output persists extracted and "
            "conv_text bucketed+sorted by conv_id (bucketBy via "
            "saveAsTable; Iceberg bucket(N, conv_id) transform on a real "
            "catalog). Every later conv-keyed join between them — here "
            "with broadcast disabled, the 100 TB regime where neither "
            "side broadcasts — is a SortMergeJoin over pairwise bucket "
            "files with NO Exchange node: the dominant repeated shuffle "
            "becomes a one-time layout cost at write time. Registry "
            "query bucketed_layout_audit re-proves this at the driver's "
            "own sf every round (join_exchanges = 0 in its result row).",
            plan(bucketed_join(spark, "plans_extracted_b", "plans_conv_text_b")),
        )
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
    spark.sql("DROP TABLE IF EXISTS plans_extracted_b")
    spark.sql("DROP TABLE IF EXISTS plans_conv_text_b")

    sections.append(
        (
            "Branching-trace forest resolution (pointer doubling) + fork audit",
            "resolve_message_forest ran its O(log depth) doubling loop "
            "EAGERLY (one hash self-equi-join on the 8-byte pointer key "
            "per round, localCheckpoint truncating the lineage each "
            "round), so the plan below starts from the checkpoint scan. "
            "What remains visible is branch_stats: the leaf anti-join "
            "against the distinct parent set and one partial-aggregated "
            "groupBy(root_id) — hash joins only; a million-leaf fork "
            "tree is build-side fan-out, never one task's list.",
            plan(Q.q_trace_branch_stats(spark, SF_DIR)),
        )
    )
    sections.append(
        (
            "Incremental forest resolution: one join + batch-local rounds",
            "The ingest path: batch messages left-join the materialized "
            "(msg_id -> root, depth) table on the 8-byte parent key — "
            "bucket both by msg_id and this is co-located — and only "
            "batch-internal parent chains enter the doubling loop, so "
            "rounds are bounded by the batch's own depth, never the "
            "corpus's. The plan below is the post-loop state scan (the "
            "loop ran eagerly, checkpoint-truncated per round); at "
            "10^12 resolved messages the per-ingest cost is |batch| + "
            "one key-partitioned join, not a corpus re-resolution.",
            plan(Q.q_forest_resolve_incremental(spark, SF_DIR)),
        )
    )
    sections.append(
        (
            "Tool-payload schema-drift audit: JVM-side key enumeration",
            "get_json_object + json_object_keys run inside codegen (no "
            "Python anywhere), keys explode row-locally (the single "
            "Generate), and the only Exchanges are the two "
            "partial-aggregated groupBys — (tool, key) cells and the "
            "|tools|-row totals, which come back as a BroadcastHashJoin. "
            "No shuffle ever carries payload text, only (name, key, day) "
            "triples: at 10^12 turns the shuffled bytes are the key "
            "cells, not the corpus.",
            plan(Q.q_tool_arg_schema_drift(spark, SF_DIR)),
        )
    )

    out = [
        "# PLANS — physical-plan audits of the headline operators\n",
        "Generated by `python tools/gen_plans.py`; asserted in "
        "`tests/test_plans.py` (pushdown, pruning, broadcast, narrowness, "
        "exchange counts, two-phase aggregation, no-cross-join). "
        "Regenerate after operator changes.\n",
    ]
    for title, why, p in sections:
        out.append(f"## {title}\n\n{why}\n\n```\n{p}\n```\n")
    with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md"), "w") as fh:
        fh.write("\n".join(out))
    print("PLANS.md written")
    spark.stop()


if __name__ == "__main__":
    main()
