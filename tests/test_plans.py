"""Physical-plan hygiene tests (the 100 TB checklist, SURVEY §4).

These pin the *shape* of the plans Catalyst produces, not just results:
filters and projections must reach the parquet scan, small dimensions
must broadcast, the extraction stage must stay narrow, and the
two-phase rollup must be exactly two exchanges. A regression here is a
silent 10-100x at scale even though every correctness test stays green.
"""

from __future__ import annotations

import io
import re
from contextlib import redirect_stdout

import pytest
from pyspark.sql import functions as F

import ocr_spark.queries as Q
from ocr_spark import fixtures
from ocr_spark.operators.aggregate import conv_text_salted
from ocr_spark.operators.extract import extract

SF_DIR = "/root/testdata/sf0.001"


def plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


def n_ops(p: str, op: str) -> int:
    """Count physical operators via their '(N) Op' detail headers
    (formatted mode prints each node in the tree AND a detail section)."""
    return len(re.findall(rf"^\(\d+\) {op}", p, flags=re.MULTILINE))


def test_filter_pushdown_reaches_parquet_scan(spark):
    p = plan(Q.q_tpch_q6(spark, SF_DIR))
    assert "PushedFilters:" in p
    # the shipdate/discount/quantity predicates must be pushed, not post-scan
    assert "GreaterThanOrEqual(l_shipdate" in p or "GreaterThanOrEqual(l_disc" in p


def test_column_pruning_reads_only_needed_columns(spark):
    p = plan(Q.q_tpch_q6(spark, SF_DIR))
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read, p
    schema_line = read[0]
    # q6 needs 4 columns; the 11-column lineitem must be pruned
    assert "l_returnflag" not in schema_line and "l_orderkey" not in schema_line


def test_small_dimension_join_broadcasts(spark):
    p = plan(Q.q_dim_broadcast_join(spark, SF_DIR))
    assert "BroadcastHashJoin" in p


@pytest.fixture(scope="module")
def transcripts_parquet(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "transcripts")
    fixtures.transcripts_df(spark, 20).write.mode("overwrite").parquet(path)
    return path


def test_rollup_prunes_nested_snapshot_columns(spark, transcripts_parquet, tmp_path):
    # the committed snapshot carries heavy nested columns (spans, lines,
    # blocks); the rollup needs only 4 scalars — its scan must prune the
    # nested structs or every downstream agg pays the full snapshot width
    from ocr_spark.operators.extract import extract

    snap = str(tmp_path / "snap")
    extract(spark.read.parquet(transcripts_parquet)).write.parquet(snap)
    p = plan(conv_text_salted(spark.read.parquet(snap)))
    read = [ln for ln in p.splitlines() if "ReadSchema" in ln]
    assert read, p
    line = read[0]
    for col in ("spans", "lines", "blocks"):
        assert col not in line, line
    assert "extracted_text" in line


def test_extract_is_narrow(spark, transcripts_parquet):
    t = spark.read.parquet(transcripts_parquet)
    p = plan(extract(t))
    # scan -> mapInArrow, zero shuffles
    assert n_ops(p, "Exchange") == 0


def test_extract_deduped_one_exchange_one_arrow_node(spark, transcripts_parquet):
    """The opt-in memoized shape crosses the Python boundary exactly
    once, through the same Arrow worker as ``extract``: one payload-hash
    Exchange, one MapInArrow, and no pandas round trip."""
    from ocr_spark.operators.extract import extract_deduped

    t = spark.read.parquet(transcripts_parquet)
    p = plan(extract_deduped(t))
    assert n_ops(p, "Exchange") == 1
    assert n_ops(p, "MapInArrow") == 1
    assert n_ops(p, "MapInPandas") == 0


def test_run_resumable_writes_one_arrow_map_without_payload_shuffle(
    spark, transcripts_parquet, tmp_path, monkeypatch
):
    """What production runs (the DataFrame ``run_resumable`` collects):
    on an empty store scan -> one MapInArrow with no Exchange at all; on
    a resume the anti-join against committed keys sits in front of the
    same single MapInArrow, and no payload-hash dedup shuffle appears.
    The Python workers write the rows, so the plan holds no Spark write."""
    from ocr_spark import pipeline

    collected = []
    extract_into = pipeline.extract_into

    def capture(df, staging):
        out = extract_into(df, staging)
        collected.append(plan(out))
        return out

    monkeypatch.setattr(pipeline, "extract_into", capture)
    t = spark.read.parquet(transcripts_parquet)
    store = str(tmp_path / "store")
    pipeline.run_resumable(spark, t.filter("turn_idx % 2 = 0"), store)
    pipeline.run_resumable(spark, t, store)
    empty, resume = collected
    assert n_ops(empty, "Exchange") == 0, empty
    assert n_ops(empty, "MapInArrow") == 1, empty
    assert "payload_sha" not in resume, resume
    assert n_ops(resume, "MapInArrow") == 1, resume
    for p in collected:
        assert "WriteFiles" not in p, p


def test_observed_snapshot_write_copies_no_row(spark, transcripts_parquet):
    """The snapshot totals are observed on the extracted rows as they are
    written: CollectMetrics sits on the MapInArrow with no Project around
    it, so no row (nested spans/lines/blocks included) is copied just to
    count it."""
    from ocr_spark import pipeline

    observed, _obs = pipeline._observed(extract(spark.read.parquet(transcripts_parquet)))
    p = plan(observed)
    assert n_ops(p, "CollectMetrics") == 1, p
    assert n_ops(p, "Project") == 0, p


def test_read_metrics_scans_no_file_and_starts_no_python(
    spark, transcripts_parquet, tmp_path
):
    """The per-snapshot totals come from small JSON files the driver
    reads: the frame never scans a file or starts Python workers, and it
    is one partition, so summing it needs no Exchange."""
    from ocr_spark import pipeline

    store = str(tmp_path / "store")
    t = spark.read.parquet(transcripts_parquet)
    pipeline.run_resumable(spark, t.filter("turn_idx % 2 = 0"), store)
    pipeline.run_resumable(spark, t, store)
    metrics = pipeline.read_metrics(spark, store)
    p = plan(metrics, mode="simple")
    assert "FileScan" not in p and "ExistingRDD" not in p, p
    assert n_ops(plan(metrics.groupBy().sum("parse_failures")), "Exchange") == 0
    assert metrics.count() == 2


def test_snapshot_rollup_is_two_phase(spark, transcripts_parquet, tmp_path):
    """Production rolls up the committed snapshot: exactly the bucket
    partial-agg shuffle and the conversation final-agg shuffle."""
    snap = str(tmp_path / "snap")
    extract(spark.read.parquet(transcripts_parquet)).write.parquet(snap)
    p = plan(conv_text_salted(spark.read.parquet(snap)))
    assert n_ops(p, "Exchange") == 2


def test_whole_stage_codegen_covers_relational_ops(spark):
    # AQE hides codegen spans pre-execution; ask codegen mode directly
    p = plan(Q.q_tpch_q1(spark, SF_DIR), mode="codegen")
    assert "WholeStageCodegen" in p


def test_aggregation_is_two_phase_partial_final(spark):
    p = plan(Q.q_tpch_q1(spark, SF_DIR), mode="simple")
    assert "partial_sum" in p  # map-side combine before the shuffle


def test_cleanup_normalize_stays_jvm_side(spark):
    # T5 is pure builtins — no python evaluation node may appear
    p = plan(Q.q_t5_cleanup_normalize(spark, SF_DIR))
    assert "Python" not in p and "mapInPandas" not in p


def test_dedupe_memoization_is_single_shuffle(spark, transcripts_parquet):
    from ocr_spark.operators.extract import extract_deduped

    t = spark.read.parquet(transcripts_parquet)
    p = plan(extract_deduped(t))
    # groupBy(sha) is the only exchange; fan-back is an explode, never a
    # second shuffle or a wide sort-merge join of the nested results
    assert n_ops(p, "Exchange") == 1
    assert "SortMergeJoin" not in p and "Generate" in p


def test_lsh_candidates_never_cross_join(spark):
    for fn in (Q.q_minhash_lsh_pairs, Q.q_simhash_near_dup, Q.q_embedding_near_dup):
        p = plan(fn(spark, SF_DIR))
        assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, fn


def test_topk_is_take_ordered(spark):
    # top-k must compile to TakeOrderedAndProject (distributed partial
    # top-k per partition + driver merge of k rows each), never a global
    # single-partition Window that funnels every row through one task
    topk_queries = (
        Q.q_a8_top_k,
        Q.q_tpch_q3,
        Q.q_cosine_topk,
        Q.q_ngram_jaccard_pairs,
        Q.q_embedding_near_dup,
        Q.q_ann_bucketed_topk,
        Q.q_ivf_search_topk,
        Q.q_bpe_top_merges,
    )
    for fn in topk_queries:
        p = plan(fn(spark, SF_DIR), mode="simple")
        assert "TakeOrderedAndProject" in p, fn
        # a global (non-partitioned) row_number window would print as a
        # Window node over windowspecdefinition() with no partition keys;
        # per-partition windows (ivf argmin per vec_id) are allowed, but
        # none of these queries should need any Window at all
        if fn is not Q.q_ivf_search_topk:
            assert n_ops(plan(fn(spark, SF_DIR)), "Window") == 0, fn


def test_ngram_df_cap_precedes_self_join(spark):
    # hot-shingle cap: the broadcast left-anti join (drop df > cap) must sit
    # BELOW the pair-producing inner join, so a boilerplate shingle shared
    # by k docs can never contribute k^2 rows to the pair join at web scale
    p = plan(Q.q_ngram_jaccard_pairs(spark, SF_DIR), mode="simple")
    lines = p.splitlines()
    anti_idx = next(
        (i for i, ln in enumerate(lines) if "LeftAnti" in ln), None
    )
    inner_idx = next(
        (
            i
            for i, ln in enumerate(lines)
            if "Join" in ln and "Inner" in ln and "LeftAnti" not in ln
        ),
        None,
    )
    assert anti_idx is not None and "BroadcastHashJoin" in lines[anti_idx]
    assert inner_idx is not None
    # children print BELOW their parents in simple mode: the anti join
    # must be inside the inner join's input subtree, i.e. printed later
    assert anti_idx > inner_idx, p
    assert "CartesianProduct" not in p


def test_embedding_near_dup_multiprobe_no_dedup_shuffle(spark):
    # probe->home join emits each Hamming<=1 pair exactly once, so the
    # query needs NO aggregation anywhere — a pair-dedup regression would
    # reintroduce a HashAggregate/Aggregate between join and top-k
    p = plan(Q.q_embedding_near_dup(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p
    assert "Aggregate" not in p, p  # covers HashAggregate/ObjectHashAggregate


def test_blocklist_filter_broadcasts(spark):
    # the domain blocklist is tiny regardless of corpus size: its anti
    # join must broadcast, never shuffle the 100 TB document side
    p = plan(Q.q_domain_blocklist_filter(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p


def test_hashed_classifier_is_narrow(spark):
    # the hashed-bigram classifier is pure per-row array math: zero
    # exchanges, stays inside whole-stage codegen
    p = plan(Q.q_hashed_ngram_classifier(spark, SF_DIR))
    # the only exchange allowed is the round-robin spread of an
    # under-parallelized source scan — never a key (hash) shuffle
    assert n_ops(p, "Exchange") <= 1, p
    assert "hashpartitioning" not in p, p
    assert "WholeStageCodegen" in plan(
        Q.q_hashed_ngram_classifier(spark, SF_DIR), mode="codegen"
    )


def test_decontam_broadcasts_eval_grams(spark):
    # the eval benchmark's gram set is tiny regardless of corpus size, so
    # the contamination join must broadcast it — a shuffle join here would
    # re-shuffle the full training-gram stream (the 100 TB side)
    p = plan(Q.q_benchmark_decontam(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_fuzzy_decontam_broadcasts_eval_bands_no_cross_join(spark):
    # the eval set's band keys are benchmark-sized at any corpus scale,
    # so candidate generation must broadcast them (the banded training
    # stream never shuffles to find candidates), and nothing in the
    # chain may degenerate to a cross join
    p = plan(Q.q_fuzzy_decontam(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_sequence_packing_window_is_sharded(spark):
    # the running-offset window must be keyed by the packing shard —
    # a non-partitioned window would sort the entire corpus in ONE task
    p = plan(Q.q_sequence_packing(spark, SF_DIR))
    assert n_ops(p, "Window") == 1
    # the exchange feeding the window hashes on the shard key, not a
    # SinglePartition gather
    assert "SinglePartition" not in p


def test_minhash_is_partial_aggregated(spark):
    # the K=128 signature must partial-aggregate map-side (one row per
    # doc per partition crosses the shuffle), and explode, not K digests
    p = plan(Q._minhash_wide(spark, SF_DIR), mode="simple")
    assert "partial_min" in p
    pf = plan(Q._minhash_wide(spark, SF_DIR))
    # exactly one KEY shuffle (the doc_id aggregate); the second allowed
    # exchange is the round-robin spread of an under-parallelized scan
    # (hash work at full parallelism — see queries._t_spread)
    assert n_ops(pf, "Exchange") <= 2
    assert pf.count("hashpartitioning") == 1, pf


def test_wide_aggregates_stay_in_codegen(spark):
    # 129-col minhash agg exceeds the default 100-field codegen cutoff;
    # the session must raise spark.sql.codegen.maxFields so the hot
    # HashAggregate keeps whole-stage codegen (interpreted agg is a
    # silent multi-x regression at scale). AQE hides the stars, so
    # toggle it off for the check.
    old = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        p = plan(Q._minhash_wide(spark, SF_DIR), mode="simple")
        agg_lines = [ln for ln in p.splitlines() if "HashAggregate" in ln]
        assert agg_lines and all("*(" in ln for ln in agg_lines), p
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)


def test_temporal_joins_are_hash_joins(spark):
    # the bucket-quantized range join and union-window as-of join must
    # never degrade to a nested-loop or cartesian plan
    for q in (Q.q_asof_join_view_value, Q.q_range_join_click_burst):
        p = plan(q(spark, SF_DIR))
        assert "BroadcastNestedLoop" not in p and "Cartesian" not in p


def test_dsir_weight_table_broadcasts(spark):
    # the ≤1024-row hashed-bigram weight table must broadcast into the
    # per-doc scoring join — shuffling the 100 TB (doc, bucket) side for
    # the lookup would be a full extra pass; and the only SinglePartition
    # exchange allowed is the window over the tiny bucket histogram
    p = plan(Q.q_dsir_importance(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    # both histogram branches must canonicalize to the same subtree so the
    # corpus explode+aggregate executes once (AQE exchange reuse) — pinned
    # by executing and checking the final adaptive plan
    df = Q.q_dsir_importance(spark, SF_DIR)
    df.collect()
    assert "ReusedExchange" in plan(df, mode="simple")


def test_semdedup_pairs_join_within_cluster(spark):
    # SemDeDup's whole point: pairs come from an equi-join on the cluster
    # id (candidate volume sum_c |c|^2), never an all-pairs cross join.
    # The only nested-loop join allowed is the k-row centroid broadcast.
    p = plan(Q.q_semdedup(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in p
    joins = [ln for ln in p.splitlines() if "Join" in ln and "BroadcastNestedLoop" not in ln]
    assert any("cluster" in ln for ln in joins), p
    for ln in p.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Inner" in ln  # centroid attach, build side is k rows


def test_semdedup_pair_join_carries_the_skew_split_key(spark):
    # the pair equi-join must key on (cluster, sub) — the hash-split
    # sub-cluster id — not cluster alone, so a degenerate mega-cluster
    # cannot recreate the N^2 edge; the cluster-size table broadcasts
    p = plan(Q.q_semdedup(spark, SF_DIR), mode="simple")
    joins = [
        ln for ln in p.splitlines()
        if "Join" in ln and "BroadcastNestedLoop" not in ln
    ]
    assert any("cluster" in ln and "sub" in ln for ln in joins), p
    assert "BroadcastHashJoin" in p  # sizes attach


def test_semdedup_bounded_candidates_under_degenerate_clustering(spark):
    """Skew-guard property: with EVERY vector assigned to one cluster
    (the worst case one Lloyd step can produce), per-group candidate
    volume stays ~max_cluster^2 and total candidates collapse from
    O(N^2) to O(N * max_cluster)."""
    import pyspark.sql.types as T

    from ocr_spark.queries import _SEMDEDUP_MAX_CLUSTER, semdedup_pairs

    n = 512
    rows = [(i, [float(i % 7), 1.0], 0) for i in range(n)]
    schema = T.StructType([
        T.StructField("vec_id", T.LongType()),
        T.StructField("embedding", T.ArrayType(T.DoubleType())),
        T.StructField("cluster", T.IntegerType()),
    ])
    assigned = spark.createDataFrame(rows, schema)
    pairs = semdedup_pairs(assigned, tau=-1.0)  # tau=-1: count ALL candidates
    total = pairs.count()
    # unguarded would be n*(n-1)/2 = 130816; hash-split bounds each of
    # the ceil(n/max) sub-groups to ~max vectors -> ~n*max/2 total, with
    # slack for hash imbalance
    assert total < n * _SEMDEDUP_MAX_CLUSTER * 2, total
    per_group = (
        assigned.groupBy("cluster").count().collect()
    )
    assert per_group[0]["count"] == n  # the input really was degenerate


def test_line_dedup_rebuild_two_key_shuffles(spark):
    # segment groupBy + per-doc rebuild groupBy; never a join back to the
    # full segment stream (the winners ARE the rebuild input)
    p = plan(Q.q_line_dedup_rebuild(spark, SF_DIR))
    assert p.count("hashpartitioning") == 2, p
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p


def test_mixture_weights_single_corpus_scan(spark):
    # the normalizer must come from a window over the aggregated
    # |sources|-row table, not a second .agg() branch that rescans the
    # corpus: exactly one FileScan of documents in the plan
    p = plan(Q.q_source_mixture_weights(spark, SF_DIR), mode="simple")
    assert p.count("FileScan") == 1, p


def test_winnowing_candidates_df_cap_precedes_self_join(spark):
    # same discipline as the shingle path: the hot-fingerprint broadcast
    # anti-join must sit inside the pair-producing inner join's subtree,
    # and the top-20 must compile to TakeOrderedAndProject, not a global
    # sort over all candidate pairs
    p = plan(Q.q_winnowing_candidates(spark, SF_DIR), mode="simple")
    lines = p.splitlines()
    anti_idx = next((i for i, ln in enumerate(lines) if "LeftAnti" in ln), None)
    inner_idx = next(
        (
            i
            for i, ln in enumerate(lines)
            if "Join" in ln and "Inner" in ln and "LeftAnti" not in ln
        ),
        None,
    )
    assert anti_idx is not None and "BroadcastHashJoin" in lines[anti_idx]
    assert inner_idx is not None and anti_idx > inner_idx, p
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p


def test_vocab_oov_scoring_join_broadcasts(spark):
    # the bounded top-V vocab must broadcast into the per-doc scoring
    # join — the corpus side shuffles once (doc_id agg), never on the
    # join key
    p = plan(Q.q_vocab_oov_rate(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p and "LeftOuter" in p, p
    assert "SortMergeJoin" not in p
    assert "TakeOrderedAndProject" in p  # vocab head, not a global sort


def test_prefix_dedup_is_single_shuffle_no_join(spark):
    # window min over partitionBy(prefix): group winners are computed
    # where the group lives — one Exchange, no join back to the corpus
    p = plan(Q.q_prefix_dedup(spark, SF_DIR))
    assert p.count("hashpartitioning") == 1, p
    assert "Join" not in p


def test_iqr_fences_broadcast_back(spark):
    # the |langs|-row fence table broadcasts onto the scan; the corpus
    # shuffles once for the percentile agg and never for the flag join
    p = plan(Q.q_iqr_length_outliers(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p


def test_intra_doc_dedup_is_narrow(spark):
    # within-doc segment dedup is pure per-row array math: no key
    # shuffle anywhere (the only Exchange allowed is _t_spread's gated
    # round-robin scan widening, which a wide production scan skips)
    p = plan(Q.q_intra_doc_segment_dedup(spark, SF_DIR))
    assert "hashpartitioning" not in p, p
    assert "Join" not in p and "Aggregate" not in p


def test_source_pair_overlap_no_cartesian(spark):
    # pair generation is an equi-join on shingle over the distinct
    # (source, shingle) stream — bounded fan-out, never a cross join
    p = plan(Q.q_source_pair_overlap(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q10ish_broadcasts_and_takeordered(spark):
    p = plan(Q.q_tpch_q10ish(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p


def test_tpch_q5_supplier_dims_broadcast_dates_push(spark):
    # supplier/nation/region assemble via broadcast joins, the order-year
    # predicate reaches the orders scan, and the deep join tree never
    # degenerates to a cross join
    p = plan(Q.q_tpch_q5_local_supplier(spark, SF_DIR))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any(re.search(r"GreaterThanOrEqual\(o_orderdate", ln) for ln in pushed), p


def test_tpch_q21ish_pushdown_takeordered_no_cross(spark):
    # the finalized-orders predicate must reach the orders scan, the
    # top-10 head must be TakeOrdered (never a global sort), and the
    # aggregate-then-join-back must never degenerate to a cross join
    p = plan(Q.q_tpch_q21ish(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    pushed = [ln for ln in p.splitlines() if "PushedFilters" in ln]
    assert any("EqualTo(o_orderstatus,F)" in ln for ln in pushed), p


def test_char_ngram_profiles_broadcast(spark):
    # the bounded char-bigram profile (and per-lang floor) tables must
    # broadcast into the scoring join; the only nested-loop join allowed
    # is the |langs|-row floor fan-out
    p = plan(Q.q_char_ngram_lang_id(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p
    for ln in p.splitlines():
        if "BroadcastNestedLoopJoin" in ln:
            assert "Inner" in ln or "Cross" in ln  # tiny floors side


def test_ivf_multiprobe_broadcasts_probes(spark):
    # the 2-row probe set broadcasts into the cluster equi-join; top-5
    # compiles to TakeOrderedAndProject over probed candidates only
    p = plan(Q.q_ivf_search_multiprobe(spark, SF_DIR), mode="simple")
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p
    joins = [ln for ln in p.splitlines() if "BroadcastHashJoin" in ln]
    assert any("cluster" in ln for ln in joins), p


def test_lang_id_confusion_single_aggregate(spark):
    # one partial-aggregated cross-tab; the per-label normalizer is a
    # window over the tiny cell table, never a corpus rescan
    p = plan(Q.q_lang_id_confusion(spark, SF_DIR), mode="simple")
    assert p.count("FileScan") == 1, p
    assert "CartesianProduct" not in p


def test_span_offset_window_is_per_conversation(spark):
    # running char offsets: ONE window keyed by conv_id (per-conv state,
    # never a SinglePartition global sort); the all-plain-text keep set
    # broadcasts onto the extract stream
    p = plan(Q.q_turn_span_offsets(spark, SF_DIR), mode="simple")
    assert "SinglePartition" not in p, p
    assert "windowspecdefinition(conv_id" in p
    assert "BroadcastHashJoin" in p


def test_incremental_dedup_two_scans_only(spark):
    # one incoming scan + one frozen scan: the LEFT mark-join + single
    # conditional aggregate replaces left_anti + a separate rescan for
    # per-source totals; both scans are column-pruned and the doc_id
    # split predicate reaches the scan
    p = plan(Q.q_incremental_dedup_new_docs(spark, SF_DIR))
    assert n_ops(p, "Scan parquet") == 2, p
    assert "CartesianProduct" not in p
    assert p.count("ReadSchema: struct<doc_id:bigint,text:string,source:string>") == 1
    assert p.count("ReadSchema: struct<doc_id:bigint,text:string>") == 1


def test_truncate_tail_agg_reuses_window_partitioning(spark):
    # the descending running sum and the per-conv aggregate share the
    # conv_id partitioning: no extra Exchange between Window and the
    # final HashAggregate (partial/final pair collapses onto it)
    p = plan(Q.q_conv_truncate_tail(spark, SF_DIR), mode="simple")
    assert "SinglePartition" not in p
    win = p.index("Window [sum")
    assert "Exchange" not in p[:win], "no exchange between agg and window:\n" + p


def test_chat_template_spans_single_window_no_render(spark):
    # closed-form span arithmetic: ONE conv_id-keyed window over turn
    # LENGTHS — no global sort, and the rendered string never appears in
    # the plan (no concat of the full conversation)
    p = plan(Q.q_chat_template_spans(spark, SF_DIR), mode="simple")
    assert "SinglePartition" not in p, p
    assert p.count("Window [") == 2  # adapter row_number + span running sum
    assert "windowspecdefinition(conv_id" in p


def test_conv_dedup_two_exchanges(spark):
    # turn texts shuffle exactly once (conv_id rollup); the second
    # exchange carries only the conv-cardinality fingerprint table
    p = plan(Q.q_conv_dedup_exact(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 2, p
    assert "SinglePartition" not in p


def test_reward_pairs_is_single_aggregate_no_window(spark):
    # struct-min/max extremes: one partial-aggregated groupBy, zero
    # window sorts (a row_number formulation would sort every group)
    p = plan(Q.q_reward_pairs(spark, SF_DIR))
    assert "Window" not in p, p
    assert n_ops(p, "Exchange") == 1, p
    assert "partial_min" in p and "partial_max" in p, p


def test_adapter_partitioning_is_reused(spark):
    # doc_transcripts renames source->conv_id BEFORE its row_number
    # window, so a conv-keyed aggregate directly on the adapter reuses
    # the window's Exchange: exactly ONE exchange end-to-end
    df = Q.doc_transcripts(spark, SF_DIR).groupBy("conv_id").count()
    p = plan(df)
    assert n_ops(p, "Exchange") == 1, p


def test_kmeans_assignment_never_shuffles_vectors(spark):
    # final model plan: scan -> narrow literal-centroid argmin -> ONE
    # k-row aggregate exchange; the vector table itself never shuffles
    # and no per-vector window appears
    p = plan(Q.q_kmeans_train(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1, p
    assert n_ops(p, "Window") == 0, p
    assert n_ops(p, "Scan parquet") == 1, p


def test_bm25_filters_before_shuffle_and_takes_ordered(spark):
    # posting-list shape: the query-term isin filter must be a plain
    # Filter on the exploded token stream (pre-Exchange, narrow), corpus
    # stats and idf must broadcast, and the head must be TakeOrdered,
    # never a global Sort+Limit
    p = plan(Q.q_bm25_topk(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p
    assert n_ops(p, "BroadcastExchange") >= 2, p
    assert "term#" in p, p  # the isin filter survives into the plan
    # no cartesian/nested-loop join of the corpus against itself
    assert "CartesianProduct" not in p, p


def test_logreg_gradient_single_aggregate_no_vector_shuffle(spark):
    # final model plan (kmeans twin): scan -> narrow literal-weight
    # sigmoid -> ONE tiny confusion-matrix aggregate exchange; the
    # feature vectors never shuffle and no window appears
    p = plan(Q.q_logreg_train(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1, p
    assert n_ops(p, "Window") == 0, p
    assert n_ops(p, "Scan parquet") == 1, p


def test_sessionize_single_conv_exchange(spark):
    # gap -> break -> running session index all ride ONE conv-keyed
    # window partitioning; only the final (conv, session) rollup may
    # add an Exchange on top of the adapter's
    p = plan(Q.q_conv_sessionize(spark, SF_DIR))
    assert n_ops(p, "Exchange") <= 2, p
    assert n_ops(p, "Scan parquet") == 1, p


def test_sft_pairs_no_join_single_window(spark):
    # nearest-preceding-user pairing is a conditional last_value window,
    # never a self-join of the transcript table
    p = plan(Q.q_sft_pairs(spark, SF_DIR))
    assert n_ops(p, "SortMergeJoin") == 0 and n_ops(p, "BroadcastHashJoin") == 0, p
    assert n_ops(p, "Exchange") == 1, p


def test_context_assembly_bounded_frame(spark):
    # the replay context must be a bounded ROWS frame (constant state
    # per conversation), reusing the adapter's conv partitioning
    p = plan(Q.q_context_assembly(spark, SF_DIR))
    assert "specifiedwindowframe(RowFrame, -3, -1)" in p, p
    assert n_ops(p, "Exchange") == 1, p


def test_pagerank_head_is_take_ordered_no_cartesian(spark):
    # relational Pregel: every round is an equi-join + partial aggregate;
    # the head must be TakeOrdered and nothing may degenerate into a
    # cartesian/nested-loop join or a global window
    p = plan(Q.q_pagerank(spark, SF_DIR))
    assert "TakeOrderedAndProject" in p, p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p
    assert n_ops(p, "Window") == 0, p


def test_levenshtein_block_cap_precedes_pair_join(spark):
    # the block-DF cap (keep blocks with <= 64 docs) must be applied
    # below the pair-producing self-join, and the expensive levenshtein
    # verify must run on banded candidates only — never a cross join
    p = plan(Q.q_levenshtein_near_dup(spark, SF_DIR), mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    lines = p.splitlines()
    pair_idx = next(
        i for i, ln in enumerate(lines)
        if "Join" in ln and "Inner" in ln and "doc_id" in ln
    )
    # the cap semi-join (blk_df <= 64) sits in the pair join's subtree
    cap_idx = next(
        (i for i, ln in enumerate(lines[pair_idx:], start=pair_idx)
         if "Join" in ln and "blk" in ln and "doc_id" not in ln),
        None,
    )
    assert cap_idx is not None, p


def test_bloom_decontam_broadcasts_bit_positions(spark):
    # the Bloom summary is <= 2^18 distinct bit positions no matter how
    # large the eval corpus is — the probe join must broadcast it so the
    # training-gram stream (the 100 TB side) never shuffles for the probe
    p = plan(Q.q_bloom_decontam(spark, SF_DIR), mode="simple")
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_column_layout_order_is_narrow(spark):
    """XY-cut-style layout analysis is per-document array math: the plan
    must have ZERO exchanges — at 100 TB layout ordering costs exactly
    one scan, no shuffle."""
    p = plan(Q.q_pdf_column_layout_order(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 0
    assert n_ops(p, "Sort") == 0


def test_table_grid_single_shuffle_no_sort(spark):
    """Table reconstruction groups cells by (doc, row): exactly one
    Exchange for the groupBy; within-row column ordering happens inside
    the aggregate (array_sort over collect_list), so no Sort/Window node
    may appear."""
    p = plan(Q.q_pdf_table_grid(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1
    assert n_ops(p, "Sort") == 0
    assert n_ops(p, "Window") == 0


def test_band_dedup_no_sort_no_pairjoin(spark):
    """The streaming-gate batch twin keys state on band_key, never doc
    pairs: the plan is (spread) -> narrow per-row signature -> ownership
    groupBy -> join-back -> per-doc groupBy. At most 4 exchanges (spread
    + 2 aggs + join-back), and NO Sort/Window/cartesian anywhere — cost
    scales with distinct band keys, not docs^2."""
    p = plan(Q.q_band_dedup_keep_first(spark, SF_DIR))
    assert n_ops(p, "Exchange") <= 4
    assert n_ops(p, "Sort") == 0
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "CartesianProduct") == 0


def test_dup_span_islands_no_global_sort_single_window(spark):
    """Duplicate-span detection: the only Sort is the doc-keyed window
    sort for run grouping (never global), the island groupBy reuses the
    window's doc partitioning (4 exchanges total: spread, gram counts,
    join-back, window), and nothing is pairwise."""
    p = plan(Q.q_dup_span_islands(spark, SF_DIR))
    assert n_ops(p, "Exchange") <= 4
    assert n_ops(p, "Window") == 1
    assert n_ops(p, "Sort") == 1  # the doc-keyed window sort only
    assert n_ops(p, "CartesianProduct") == 0


def test_incremental_band_dedup_never_pairwise(spark):
    """Batch-vs-frozen-corpus fuzzy dedup joins the batch's band keys
    against the corpus's DISTINCT key set — never doc x doc: no
    cartesian/nested-loop join anywhere, no Sort, no Window."""
    p = plan(Q.q_incremental_band_dedup(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert n_ops(p, "Sort") == 0
    assert n_ops(p, "Window") == 0


def test_compaction_plan_reuses_window_partitioning(spark):
    """Compaction planning: ONE Exchange (hash on source) feeds the
    cumulative-size window; the (source, bin_id) groupBy's keys are a
    superset of the window's partition key, so it must reuse that
    partitioning — a second Exchange would shuffle the manifest twice.
    The only Sort is the window's partition-local (source, doc_id)."""
    p = plan(Q.q_compaction_plan(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1
    assert n_ops(p, "Window") == 1
    assert n_ops(p, "Sort") == 1


def test_zorder_layout_no_sort_no_join(spark):
    """Z-order layout telemetry buckets by key RANGE, never by rank: the
    Morton key is codegen'd bit math on the scan, so the plan has no
    Sort, no Window, no join — only the per-file aggregates (and their
    1-row roll-ups) shuffle."""
    p = plan(Q.q_zorder_layout(spark, SF_DIR))
    assert n_ops(p, "Sort") == 0
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert "aggregate(" in p or "shiftleft" in p  # Morton key stayed in codegen


def test_manifest_prune_stats_pure_aggregate(spark):
    """Manifest pruning stats: per layout one partial-aggregated
    groupBy(file_id) + a 1-row roll-up — no joins, no windows, no sort
    anywhere. The cost model must itself be metadata-cheap."""
    p = plan(Q.q_manifest_prune_stats(spark, SF_DIR))
    assert n_ops(p, "Sort") == 0
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "HashAggregate") >= 4  # 2 layouts x (partial+final)


def test_snapshot_cdc_diff_single_equi_join(spark):
    """CDC diff is ONE full-outer equi-join on the key: never
    cartesian/nested-loop, no Sort beyond the join's own SMJ sorts, no
    Window. (AQE broadcasts the delta side at runtime when small.)"""
    p = plan(Q.q_snapshot_cdc_diff(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert n_ops(p, "Window") == 0
    assert (
        n_ops(p, "SortMergeJoin") + n_ops(p, "ShuffledHashJoin") == 1
    )


def test_rrf_fusion_bounded_heads(spark):
    """Rank fusion runs over two TakeOrdered(k=20) heads: both
    retrievers end in TakeOrderedAndProject (never a global Sort of the
    corpus), and the only single-partition windows rank those bounded
    heads. The only nested-loop joins allowed are the three intentional
    1-row broadcast scalars: the dense query vector plus BM25's two
    corpus-stat crossJoins (n_docs/avgdl)."""
    p = plan(Q.q_rrf_fusion(spark, SF_DIR))
    assert n_ops(p, "TakeOrderedAndProject") >= 2
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") <= 3


def test_ndcg_heads_are_take_ordered(spark):
    """nDCG@10: both the system and ideal rankings are bounded
    TakeOrdered heads; the posting stream is term-filtered BEFORE its
    aggregation shuffle (PushedFilters/Filter above the scan, as in
    bm25); no cartesian joins."""
    p = plan(Q.q_ndcg_at_10(spark, SF_DIR))
    assert n_ops(p, "TakeOrderedAndProject") >= 2
    assert n_ops(p, "CartesianProduct") == 0


def test_length_bucket_batches_pure_aggregate(spark):
    """Padding-efficiency planning: narrow token math + one
    partial-aggregated groupBy(bucket) + a 1-row baseline aggregate —
    no sort, no join, no window."""
    p = plan(Q.q_length_bucket_batches(spark, SF_DIR))
    assert n_ops(p, "Sort") == 0
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0


def test_md_structure_is_narrow(spark):
    """Markdown structure extraction is per-row regexp builtins on the
    scan: ZERO exchanges — one embarrassingly parallel pass."""
    p = plan(Q.q_md_structure(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 0
    assert n_ops(p, "Sort") == 0


def test_morton_key_is_bijective_on_16_bits(spark):
    """The Z-order key must be a bijection from (x, y) in [0,256)^2 to
    [0, 65536): distinct z count == distinct (x, y) count, and the key
    stays in range — otherwise file spans lie."""
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"), (F.col("id") / 64).cast("bigint").alias("y")
    )
    keyed = df.withColumn("z", F.expr(Q._ZORDER_EXPR))
    stats = keyed.agg(
        F.countDistinct("z").alias("nz"),
        F.countDistinct("x", "y").alias("nxy"),
        F.min("z").alias("zmin"),
        F.max("z").alias("zmax"),
    ).collect()[0]
    assert stats.nz == stats.nxy == 4096
    assert 0 <= stats.zmin and stats.zmax <= 65535


def test_analyze_table_stats_single_pass(spark):
    """CBO column stats must touch the data exactly once: ONE parquet
    scan feeds every column's aggregate (multi-distinct via Catalyst's
    Expand), two exchanges (partial/final of the expanded agg), no
    joins; the unpivot runs on the 1-row result."""
    p = plan(Q.q_analyze_table_stats(spark, SF_DIR))
    assert n_ops(p, "Scan") == 1
    assert n_ops(p, "Exchange") <= 2
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "Expand") == 1


def test_gap_fill_single_window_single_sort(spark):
    """Gap filling: the carry-forward and carry-back fills share one
    (user, hr) partitioning+ordering, so Catalyst must fuse them into
    ONE Window node over ONE Sort; the dense grid comes from per-user
    bounds (Generate), never a calendar cross-join."""
    p = plan(Q.q_gap_fill_interpolate(spark, SF_DIR))
    assert n_ops(p, "Window") == 1
    assert n_ops(p, "Sort") == 1
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "Generate") == 1


def test_weighted_reservoir_is_scan_plus_take_ordered(spark):
    """Efraimidis-Spirakis sampling must be a pure narrow pass ending in
    TakeOrderedAndProject — zero exchanges, zero windows: the
    distributed top-k IS the reservoir."""
    p = plan(Q.q_weighted_reservoir_sample(spark, SF_DIR))
    assert n_ops(p, "TakeOrderedAndProject") == 1
    assert n_ops(p, "Exchange") == 0
    assert n_ops(p, "Window") == 0


def test_column_correlations_single_scan_no_join(spark):
    """All pairwise corr() moments come from ONE pruned scan and one
    two-phase aggregate — never a self-join."""
    p = plan(Q.q_column_correlations(spark, SF_DIR))
    assert n_ops(p, "Scan") == 1
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0


def test_hard_negative_mining_broadcasts_anchors(spark):
    """Hard-negative mining joins the tiny anchor set via broadcast —
    never corpus x corpus: no SortMergeJoin/CartesianProduct; the only
    window is anchor-keyed (parallel across anchors)."""
    p = plan(Q.q_hard_negative_mining(spark, SF_DIR))
    assert n_ops(p, "BroadcastNestedLoopJoin") <= 1  # the anchor broadcast
    assert n_ops(p, "SortMergeJoin") == 0
    assert n_ops(p, "CartesianProduct") == 0
    # exactly one true Window; WindowGroupLimit nodes are Spark's rank
    # pushdown (per-partition partial top-k BEFORE the shuffle) — keep them
    assert n_ops(p, "Window") - n_ops(p, "WindowGroupLimit") == 1
    assert n_ops(p, "WindowGroupLimit") >= 1


def test_scd2_history_single_exchange(spark):
    """SCD2 run-numbering: the lag window, the running-sum window, and
    the (doc, run) aggregate all reuse ONE doc-keyed Exchange — never a
    per-version self-join, never a second shuffle."""
    p = plan(Q.q_scd2_history(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0


def test_robots_gate_broadcast_rules_no_window(spark):
    """Crawl gating: the rule table broadcasts into the prefix match and
    the longest-rule-wins argmax is an in-aggregate max(struct) — no
    Window, no SortMergeJoin; the corpus side never shuffles for the
    match itself."""
    p = plan(Q.q_robots_gate(spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in p  # theta prefix-match, rules side tiny
    assert n_ops(p, "SortMergeJoin") == 0
    assert n_ops(p, "Window") == 0


def test_anchor_aggregation_two_phase_no_join_back(spark):
    """Anchor-text rollup: (dst, anchor) counts then a per-dst
    max(struct) mode — aggregates only, never a join back to the
    corpus, no Window, no sort."""
    p = plan(Q.q_anchor_text_aggregation(spark, SF_DIR))
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "Window") == 0


def test_bm25_batch_semi_join_and_parallel_rank(spark):
    """Batched BM25: the corpus-side term filter is a broadcast
    semi-join on the batch's distinct terms (tokens missing every query
    never shuffle); the per-query head is a query-keyed rank window
    with WindowGroupLimit pushed below its Exchange — never a global
    sort, never a per-query rescan."""
    p = plan(Q.q_bm25_batch_topk(spark, SF_DIR))
    assert "LeftSemi" in p
    assert n_ops(p, "WindowGroupLimit") >= 1
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "SortMergeJoin") == 0


# --- round 4 (cont.): remaining TPC-H family plan shapes -------------------


def test_q2ish_min_cost_join_back_broadcasts_dims(spark):
    # the correlated MIN re-expression: supplier-region dim and part
    # filter broadcast; the offer<->best join-back is an equi join (SMJ
    # is correct — both sides scale with #parts, so broadcast would be
    # the wrong 100 TB shape); head is TakeOrdered, never a global sort
    p = plan(Q.q_tpch_q2ish(spark, SF_DIR))
    assert n_ops(p, "BroadcastHashJoin") >= 3, p
    assert "TakeOrderedAndProject" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, p


def test_q4ish_exists_is_left_semi_with_folded_predicate(spark):
    # the EXISTS must plan as ONE semi join (no duplicate-producing inner
    # join + distinct), with the lateness predicate in the join condition
    p = plan(Q.q_tpch_q4ish(spark, SF_DIR))
    assert "LeftSemi" in p, p
    assert n_ops(p, "HashAggregate") == 2, p  # one partial + one final


def test_q13ish_outer_join_survives_priority_exclusion(spark):
    # the exclusion must fold into the join condition; a pre-filter that
    # turns LEFT OUTER into INNER silently drops zero-order customers
    p = plan(Q.q_tpch_q13ish(spark, SF_DIR))
    assert "LeftOuter" in p, p


def test_q15ish_scalar_max_join_is_equi_broadcast(spark):
    # Catalyst rewrites crossJoin(1-row max) + equality filter into a
    # broadcast EQUI join on total_revenue == max_revenue — never a
    # global sort or window over the per-supplier view
    p = plan(Q.q_tpch_q15ish(spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert n_ops(p, "Sort") == 0, p
    assert n_ops(p, "Window") == 0, p


def test_q17ish_brand_filter_reaches_both_aggregate_and_probe(spark):
    # both branches of the aggregate-then-join-back must be brand-
    # filtered via the broadcast part join — the unfiltered lineitem
    # must never reach the avg aggregation
    p = plan(Q.q_tpch_q17ish(spark, SF_DIR))
    assert n_ops(p, "BroadcastHashJoin") >= 2, p
    # per-part avg: partial+final, plus the final 1-row sum: 2 more
    assert "SortMergeJoin" not in p or "avg_qty" in p


def test_q19ish_disjunction_keeps_equi_key(spark):
    # Catalyst must still extract the partkey equi-key from under the
    # OR-of-ANDs (broadcast hash join with a residual condition), never
    # degrade to a nested-loop over the full cross space
    p = plan(Q.q_tpch_q19ish(spark, SF_DIR))
    assert "BroadcastHashJoin" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_q22ish_anti_join_prunes_orders_scan(spark):
    # the NOT EXISTS must plan as an anti join and the recency predicate
    # must push to the orders parquet scan
    p = plan(Q.q_tpch_q22ish(spark, SF_DIR))
    assert "LeftAnti" in p, p
    assert "PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate" in p, p


def test_q20ish_red_part_in_list_is_semi_broadcast(spark):
    # the IN (SELECT p_partkey ...) must become a broadcast semi join
    # feeding the suppkey aggregate — the part table never shuffles
    p = plan(Q.q_tpch_q20ish(spark, SF_DIR))
    assert "LeftSemi" in p and "BroadcastHashJoin" in p, p


def test_ngram_novelty_equi_join_partial_aggs(spark):
    """Novelty scoring: grams equi-join their first-seen doc (shuffle on
    the gram key, never a cross join) and both aggregates are two-phase
    (partial min / partial count before the exchange)."""
    p = plan(Q.q_ngram_novelty(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert "partial_min" in p or "partial min" in p.lower()
    # gram-key shuffles for agg+join plus the final doc_id agg; any more
    # means a lost reuse
    assert n_ops(p, "Exchange") <= 4


def test_corpus_shard_plan_single_exchange(spark):
    """The deterministic shard card is one narrow hash projection plus
    ONE two-phase aggregate — no joins, no windows, one Exchange."""
    p = plan(Q.q_corpus_shard_plan(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0


def test_rp_recall_shortlist_is_take_ordered_broadcast(spark):
    """JL recall eval: the query row broadcasts (one-row broadcast is
    the legitimate nested-loop), both top-k sides are
    TakeOrderedAndProject (never a global sort materialized), and the
    final rerank window runs over the 100-row shortlist only."""
    p = plan(Q.q_rp_recall_report(spark, SF_DIR))
    assert n_ops(p, "TakeOrderedAndProject") >= 2
    assert n_ops(p, "CartesianProduct") == 0
    # global Sort allowed only under the tiny shortlist window
    assert n_ops(p, "Window") - n_ops(p, "WindowGroupLimit") <= 1


def test_semantic_decontam_broadcast_eval_no_self_join(spark):
    """Semantic decontam: the benchmark-sized eval probe set broadcasts
    (BroadcastHashJoin on the sign key); the corpus never self-joins —
    no SortMergeJoin, no cartesian; the per-doc rollup is two-phase."""
    p = plan(Q.q_semantic_decontam(spark, SF_DIR))
    assert n_ops(p, "BroadcastHashJoin") == 1
    assert n_ops(p, "SortMergeJoin") == 0
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "Exchange") <= 2  # broadcast + the vec_id agg


def test_ngram_novelty_incremental_never_batch_x_corpus(spark):
    """Incremental novelty: the corpus reduces to distinct grams once
    and the batch LEFT-joins it on the gram key — equi-join only, both
    aggregates two-phase, never a pairwise batch x corpus shape."""
    p = plan(Q.q_ngram_novelty_incremental(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") == 0
    assert n_ops(p, "BroadcastNestedLoopJoin") == 0
    assert "partial_count" in p or "partial" in p.lower()
    assert n_ops(p, "Exchange") <= 4


def test_triangle_census_equi_joins_only(spark):
    """Triangle census: degree-ordered wedge join is equi-keyed on node
    ids (the three crossJoins are 1-row broadcast count aggregates —
    the corpus-totals pattern); never a true cartesian over edges."""
    p = plan(Q.q_dedup_graph_triangles(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") == 0
    # 1-row broadcast totals are BroadcastNestedLoopJoin; bounded at 3
    assert n_ops(p, "BroadcastNestedLoopJoin") <= 3


def test_tool_transitions_single_window_no_join(spark):
    """Tool-transition mining: the adapter's turn-numbering window and
    the lag window share ONE conv-keyed Exchange (2 total with the
    final transition rollup) — no joins anywhere."""
    p = plan(Q.q_tool_transition_stats(spark, SF_DIR))
    assert n_ops(p, "Window") == 2  # adapter row_number + transition lag
    assert n_ops(p, "Exchange") == 2  # conv partitioning reused + final agg
    assert (
        n_ops(p, "SortMergeJoin")
        + n_ops(p, "BroadcastHashJoin")
        + n_ops(p, "CartesianProduct")
        == 0
    )


def test_mutual_nn_no_window_no_cartesian(spark):
    """Reciprocal-NN mining: per-vector best is a max_by PARTIAL
    aggregate (zero Window/Sort before the final join); candidates come
    from the sign-bucket equi-join; mutuality is a |V|-row self
    equi-join — no cartesian anywhere."""
    p = plan(Q.q_mutual_nn_pairs(spark, SF_DIR))
    assert n_ops(p, "Window") == 0
    assert n_ops(p, "CartesianProduct") == 0
    assert "partial_max" in p or "partial" in p.lower()


def test_boilerplate_phrases_single_shuffle_take_ordered(spark):
    """Template-phrase report: one partial-aggregated gram groupBy, the
    1-row corpus total broadcast, distributed top-k."""
    p = plan(Q.q_boilerplate_phrases(spark, SF_DIR))
    assert n_ops(p, "TakeOrderedAndProject") == 1
    assert n_ops(p, "CartesianProduct") == 0
    # gram agg + 1-row corpus total + the deliberate _t_spread input
    # repartition; the 1-row total rides a BroadcastExchange
    assert n_ops(p, "Exchange") <= 3


def test_epoch_shuffle_single_exchange(spark):
    """Epoch-salted shard card: narrow epoch explode + ONE two-phase
    aggregate — no joins, no windows."""
    p = plan(Q.q_epoch_shuffle_plan(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1
    assert n_ops(p, "Generate") == 1  # the epoch explode
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0


def test_agent_loop_detector_single_exchange(spark):
    """Gaps-and-islands rides the adapter's conv_id Exchange: lag +
    running-sum windows and both conv-keyed groupBys add NO shuffle —
    exactly one Exchange end-to-end, no joins."""
    p = plan(Q.q_agent_loop_detector(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1, p
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p


def test_prompt_rollout_dedup_hashes_only_after_first_rollup(spark):
    """Conv rollup reuses the adapter Exchange; after it only 32-byte
    fingerprints move: one Exchange for the two-phase distinct partial
    on (bucket, fp) and one for the final bucket agg — three total,
    no joins, no raw-text re-shuffle."""
    p = plan(Q.q_prompt_rollout_dedup(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 3, p
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p


def test_pass_at_k_two_exchanges_scalar_tail(spark):
    """Estimator tail is pure per-group scalar arithmetic: adapter
    Exchange + one bucket-keyed count/sum rollup, nothing else."""
    p = plan(Q.q_pass_at_k(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 2, p
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p


def test_best_of_n_and_grpo_single_window_no_join(spark):
    """Winner pick / advantage normalization use ONE bucket-partitioned
    window over fingerprint rows (adapter Exchange + window Exchange),
    never a self-join back onto the rollout table."""
    for fn in (Q.q_best_of_n_selection, Q.q_grpo_advantages):
        p = plan(fn(spark, SF_DIR))
        assert n_ops(p, "Exchange") == 2, p
        assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p


def test_rollout_divergence_prefix_stays_conv_local(spark):
    """Running-prefix hash rides the adapter's conv_id Exchange; only
    the (bucket, depth) distinct-count adds shuffles — three Exchanges
    total and no joins."""
    p = plan(Q.q_rollout_divergence_profile(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 3, p
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p


def test_dpo_pairs_struct_minmax_no_pairing_window(spark):
    """Preference pairing is ONE partial-aggregated groupBy using struct
    max/min — no pairing window, no join (the reward_pairs contract).
    The single Window in the plan is the doc_transcripts adapter's
    turn_idx derivation, not the pairing."""
    p = plan(Q.q_dpo_pairs(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 2, p  # adapter + group agg
    assert n_ops(p, "Window") == 1, p  # adapter row_number only
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p


def test_length_debiased_reward_broadcast_stats(spark):
    """Corpus-totals pattern: the 1-row OLS stats broadcast back over
    the scored rows via BroadcastNestedLoopJoin — never a shuffled join
    or cartesian; the two adapter branches (rows + stats) account for
    the Exchanges."""
    p = plan(Q.q_length_debiased_reward(spark, SF_DIR))
    assert n_ops(p, "BroadcastNestedLoopJoin") == 1, p
    assert n_ops(p, "CartesianProduct") + n_ops(p, "SortMergeJoin") == 0, p
    assert n_ops(p, "Exchange") <= 3, p


def test_majority_vote_two_exchanges_no_window_no_join(spark):
    """Two item-keyed partial-aggregated groupBys; the winner pick is a
    min_by struct aggregate, NOT a per-item window or join-back — at
    100 TB that's one reduced shuffle instead of a full row sort."""
    p = plan(Q.q_judge_majority_vote(spark, SF_DIR))
    assert n_ops(p, "Exchange") <= 2, p
    assert n_ops(p, "Window") == 0, p
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p
    assert "partial_min" in p or "min_by" in p or "partial_" in p, p


def test_kappa_pairs_item_keyed_join_marginals_broadcast(spark):
    """The only big op is the item-keyed self-join; the judge x label
    marginal tables and the pe cells are tiny and must broadcast."""
    p = plan(Q.q_judge_kappa_pairs(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") == 0, p
    assert n_ops(p, "BroadcastHashJoin") >= 2, p


def test_krippendorff_alpha_corpus_totals_broadcast(spark):
    """1-row totals x 1-row chance term: BroadcastNestedLoopJoin, never
    a shuffled join."""
    p = plan(Q.q_judge_alpha(spark, SF_DIR))
    assert n_ops(p, "BroadcastNestedLoopJoin") == 1, p
    assert n_ops(p, "SortMergeJoin") == 0, p


def test_dawid_skene_estep_broadcasts_theta(spark):
    """The E-step joins the big labels table to the judges x classes^2
    theta literals: that join must be broadcast (theta is tiny), and
    the posterior normalization is one item-keyed window."""
    p = plan(Q.q_dawid_skene_labels(spark, SF_DIR))
    assert n_ops(p, "BroadcastHashJoin") >= 1, p
    assert n_ops(p, "SortMergeJoin") == 0, p
    assert n_ops(p, "CartesianProduct") == 0, p


def test_winrate_single_exchange(spark):
    """One narrow projection + one partial-aggregated pair rollup."""
    p = plan(Q.q_arena_win_matrix(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 1, p
    assert n_ops(p, "Window") == 0, p
    assert "partial_count" in p or "partial_sum" in p, p


def test_bradley_terry_battles_reduced_before_collect(spark):
    """The returned strengths DF is model-sized: the battle table
    reduces to pair cells BEFORE the driver-side MM loop, so the final
    plan contains no big-table scan beyond the one count branch."""
    p = plan(Q.q_bradley_terry_strengths(spark, SF_DIR))
    assert n_ops(p, "SortMergeJoin") == 0, p
    assert n_ops(p, "CartesianProduct") == 0, p
    # model-sized result x 1-row total: broadcast
    assert n_ops(p, "BroadcastNestedLoopJoin") == 1, p


def test_consensus_confusion_cells_before_window(spark):
    """The labels x consensus join reduces to judge x classes^2 cells in
    a partial-aggregated groupBy BEFORE the row-fraction window, so the
    window sorts a tiny cell table, never the verdict stream."""
    p = plan(Q.q_judge_consensus_confusion(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") == 0, p
    assert n_ops(p, "Window") == 1, p
    assert "partial_count" in p, p


# --------------------------------------------------------------------------
# Prefix-cache / turn-novelty family (round 5)
# --------------------------------------------------------------------------


def test_prefix_cache_savings_two_exchanges_no_range_no_python(spark):
    """Conv-keyed rollup + group-keyed aggregate = exactly 2 hash
    Exchanges; the LCP fold is pure expressions (no Python eval), and
    nothing range-partitions (no global sort at any scale)."""
    p = plan(Q.q_prefix_cache_savings(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 2
    assert "rangepartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_prefix_trie_profile_windows_share_conv_exchange(spark):
    """The row_number and collect_list windows must both ride the ONE
    conv-keyed Exchange; node- and depth-keyed groupBys add one each
    (3 total), all partial-aggregated, nothing range-partitioned."""
    p = plan(Q.q_prefix_trie_profile(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 3
    assert n_ops(p, "Window") == 2
    assert "rangepartitioning" not in p
    # partial + final pairs for both groupBys
    assert n_ops(p, "HashAggregate") == 4


def test_turn_novelty_mask_shuffles_on_hash_only(spark):
    """The mask's only data shuffle beyond the adapter's conv window is
    the 32-byte turn-hash partition; ordering happens INSIDE duplicate
    groups (no rangepartitioning anywhere)."""
    p = plan(Q.q_turn_novelty_mask(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 2
    assert "hashpartitioning(turn_h" in p
    assert "rangepartitioning" not in p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p


def test_self_consistency_no_window_no_selfjoin(spark):
    """Plurality pick is min(struct(-v, answer)) inside the group rollup
    — no per-answer window or self-join; the conv rollup reuses the
    adapter's conv-keyed Exchange, so exactly 3 Exchanges total."""
    p = plan(Q.q_self_consistency_vote(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 3
    assert n_ops(p, "Window") == 1  # the adapter's turn_idx row_number only
    assert "SortMergeJoin" not in p and "BroadcastHashJoin" not in p
    assert "rangepartitioning" not in p


def test_context_budget_audit_two_exchanges_no_explosion(spark):
    """Budgets are plan-time literals folded into conditional sums — no
    budget x turn row explosion, no join; the cumulative window and the
    conv rollup ride the adapter's conv Exchange, the 1-row global agg
    adds the only other one."""
    p = plan(Q.q_context_budget_audit(spark, SF_DIR))
    assert n_ops(p, "Exchange") == 2
    assert "rangepartitioning" not in p
    assert "Join" not in p
    assert n_ops(p, "Generate") == 1  # the stack() to |budgets| rows


def test_turn_novelty_incremental_never_batch_x_corpus(spark):
    """The corpus reduces to distinct hashes before the join; the join
    key is the 32-byte hash (no text comparison at join time) and there
    is no nested-loop/cartesian fallback."""
    p = plan(Q.q_turn_novelty_incremental(spark, SF_DIR))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert n_ops(p, "HashAggregate") >= 2  # partial+final corpus distinct
    assert "rangepartitioning" not in p


def test_tool_arg_schema_drift_jvm_only_broadcast_totals(spark):
    """Key enumeration stays JVM-side (json_object_keys inside codegen,
    no Python eval); the |tools|-row totals broadcast back onto the
    (tool, key) cells — never a shuffled or nested-loop join; only
    (name, key, day) triples reach an Exchange."""
    p = plan(Q.q_tool_arg_schema_drift(spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, p
    assert n_ops(p, "BroadcastHashJoin") == 1, p
    assert n_ops(p, "SortMergeJoin") + n_ops(p, "CartesianProduct") == 0, p
    assert n_ops(p, "Generate") == 1, p  # the arg-key explode


def test_message_forest_resolution_is_hash_joined(spark):
    """The resolved output is a localCheckpoint scan (the doubling loop
    ran eagerly — O(log depth) rounds); the ADAPTER's parent join and
    the branch-stats leaf anti-join must be hash joins on the 8-byte id,
    never nested-loop."""
    msgs = Q._doc_message_forest(spark, SF_DIR)
    assert n_ops(plan(msgs), "CartesianProduct") == 0
    resolved = plan(Q.q_trace_tree_paths(spark, SF_DIR))
    assert "Scan ExistingRDD" in resolved or "LocalTableScan" in resolved, resolved
    p = plan(Q.q_trace_branch_stats(spark, SF_DIR))
    assert n_ops(p, "CartesianProduct") + n_ops(p, "BroadcastNestedLoopJoin") == 0, p


def test_watermark_lateness_single_type_keyed_exchange(spark):
    """The running-max window and the percentile rollup both key on
    event_type: one hashpartitioning Exchange serves the window and the
    final aggregate partials on the same key — no rangepartitioning
    (global sort) sneaks in for the arrival ordering."""
    p = plan(Q.q_watermark_lateness(spark, SF_DIR))
    assert "rangepartitioning" not in p, p
    assert n_ops(p, "Window") == 1, p
    assert n_ops(p, "CartesianProduct") + n_ops(p, "SortMergeJoin") == 0, p


def test_tool_schema_diff_joins_cells_not_calls(spark):
    """The era diff joins the tiny (tool, key) share cells, never call
    volume: both era passes keep their broadcast totals join, the final
    full-outer join is over aggregated cells, and no Python eval or
    cartesian appears anywhere."""
    p = plan(Q.q_tool_schema_diff(spark, SF_DIR))
    assert "BatchEvalPython" not in p and "ArrowEval" not in p, p
    assert n_ops(p, "CartesianProduct") == 0, p
    assert n_ops(p, "BroadcastHashJoin") >= 2, p  # the two era totals
    assert n_ops(p, "Generate") == 2, p  # one arg-key explode per era
