"""End-to-end spark-submit --py-files launch (north-rule launch path):
package the engine, submit the extraction job against parquet input in a
fresh JVM, resume it, and check snapshots + metrics + rollup outputs."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(zip_path, input_dir, out_dir, extra=(), conf=()):
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        *(x for c in conf for x in ("--conf", c)),
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "extract_job.py"),
        "--input", input_dir,
        "--output", out_dir,
        *extra,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.slow
def test_spark_submit_pyfiles_end_to_end(spark, tmp_path):
    from ocr_spark import fixtures
    from tools.make_pyfiles import build

    input_dir = str(tmp_path / "transcripts")
    fixtures.transcripts_df(spark, 10).write.mode("overwrite").parquet(input_dir)
    n_turns = spark.read.parquet(input_dir).count()

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    out_dir = str(tmp_path / "out")

    summary = _submit(
        zip_path, input_dir, out_dir, conf=("spark.sql.codegen.maxFields=200",)
    )
    assert summary["turns_committed"] == n_turns
    assert summary["conversations"] == 10
    assert summary["parse_failures"] is not None
    # one session factory under spark-submit: every --conf wins (the
    # factory's own default maxFields is 256), and the factory fills
    # the keys spark-submit left unset
    conf = summary["sql_conf"]
    assert conf["spark.sql.shuffle.partitions"] == "8"
    assert conf["spark.sql.codegen.maxFields"] == "200"
    assert conf["spark.sql.execution.arrow.maxRecordsPerBatch"] == "16384"
    assert conf["spark.sql.parquet.compression.codec"] == "zstd"

    # committed snapshot + metrics tables exist and reconcile
    extracted = spark.read.parquet(os.path.join(out_dir, "extracted", "snapshot=0"))
    assert extracted.count() == n_turns
    metrics = spark.read.parquet(os.path.join(out_dir, "extracted", "metrics"))
    assert metrics.groupBy().sum("turns_in").collect()[0][0] == n_turns

    # resume in a fresh JVM: nothing new to do, output unchanged, and the
    # fully-caught-up rerun leaves NO extra snapshot directory behind.
    # Also exercises --bucketed-output through the job path: both output
    # tables bucketed by conv_id, and the job's own plan audit must see a
    # shuffle-free (zero-Exchange) conv_id join between them.
    summary2 = _submit(
        zip_path,
        input_dir,
        out_dir,
        ("--bucketed-output", "4", "--bucketed-prefix", "jobtest"),
        conf=(f"spark.sql.warehouse.dir={tmp_path / 'wh'}",),
    )
    assert summary2["turns_committed"] == n_turns
    assert summary2["bucketed_tables"] == ["jobtest_extracted", "jobtest_conv_text"]
    assert summary2["bucketed_join_exchanges"] == 0
    snaps = [
        n
        for n in os.listdir(os.path.join(out_dir, "extracted"))
        if n.startswith("snapshot=")
    ]
    assert snaps == ["snapshot=0"]


@pytest.mark.slow
def test_dedup_job_spark_submit_end_to_end(spark, tmp_path):
    """The fuzzy-dedup chain as a production job: spark-submit --py-files
    over the sf0.01 documents table; the printed funnel must reconcile
    with the written corpus/cluster/pair tables (exactly one
    representative kept per cluster, everything else untouched)."""
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    out_root = str(tmp_path / "dedup_out")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "dedup_job.py"),
        "--input", "/root/testdata/sf0.01/documents.parquet",
        "--output", out_root,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])

    assert summary["docs_in"] == 500
    assert summary["docs_kept"] + summary["docs_dropped"] == summary["docs_in"]
    # dropping all-but-one per cluster: dropped == clustered - clusters
    assert (
        summary["docs_dropped"]
        == summary["docs_in_clusters"] - summary["n_clusters"]
    )
    assert summary["n_clusters"] >= 1  # sf0.01 does contain near-dups

    kept = spark.read.parquet(os.path.join(out_root, "deduped"))
    clusters = spark.read.parquet(os.path.join(out_root, "clusters"))
    assert kept.count() == summary["docs_kept"]
    assert kept.select("doc_id").distinct().count() == summary["docs_kept"]
    # exactly one kept member per cluster
    kept_per_cluster = (
        clusters.join(kept, "doc_id").groupBy("cluster_id").count().collect()
    )
    assert kept_per_cluster and all(r["count"] == 1 for r in kept_per_cluster)


def test_maintenance_job_spark_submit_end_to_end(spark, tmp_path):
    """Table maintenance as a production job: build a 3-snapshot store,
    spark-submit the maintenance pass, and reconcile its JSON summary —
    changelog written before compaction collapses history, snapshots
    compacted to one, row count preserved."""
    from ocr_spark import fixtures
    from ocr_spark.pipeline import read_snapshots, run_resumable
    from tools.make_pyfiles import build

    full = spark.createDataFrame(
        fixtures.generate_transcripts(9), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    store = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx % 3 = 0"), store)
    run_resumable(spark, full.filter("turn_idx % 3 <= 1"), store)
    run_resumable(spark, full, store)
    n_total = read_snapshots(spark, store).count()
    n_first = full.filter("turn_idx % 3 = 0").count()

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    changelog = str(tmp_path / "changelog")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "maintenance_job.py"),
        "--store", store,
        "--changelog", changelog,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])

    assert summary["snapshots_before"] == 3
    assert summary["compacted"] == 3
    assert summary["snapshots_after"] == 1
    # changelog = keys added between snapshot 0 and the head
    assert summary["changelog_rows"] == n_total - n_first
    diff = spark.read.parquet(changelog)
    assert {r["action"] for r in diff.select("action").distinct().collect()} == {
        "added"
    }
    # the compacted table still holds every turn exactly once
    after = read_snapshots(spark, store)
    assert after.count() == n_total
    assert after.select("conv_id", "turn_idx").distinct().count() == n_total


def test_report_job_dataset_card(spark, tmp_path):
    """The dataset-card job reconciles against independent recomputation:
    doc/token totals, duplicate rate, and composition maps."""
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    card_path = str(tmp_path / "card.json")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "report_job.py"),
        "--input", "/root/testdata/sf0.01/documents.parquet",
        "--output", card_path,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    card = json.loads(open(card_path).read())

    doc = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    assert card["n_docs"] == doc.count() == sum(card["sources"].values())
    # n_bytes is genuinely bytes (octet_length), not characters
    assert (
        card["n_bytes"]
        == doc.selectExpr("sum(octet_length(text))").collect()[0][0]
    )
    assert sum(card["languages"].values()) == card["n_docs"]
    uniq = doc.selectExpr("count(distinct sha2(text, 256))").collect()[0][0]
    assert card["exact_duplicate_rate"] == round(1.0 - uniq / card["n_docs"], 6)
    q1, q2, q3 = card["token_len_quartiles"]
    assert q1 <= q2 <= q3
    # novelty card reconciles with the oracle-checked production fn
    from pyspark.sql import functions as F

    from ocr_spark.curate import ngram_novelty

    nov = ngram_novelty(doc.select("doc_id", "text")).agg(
        F.count("*").alias("n"),
        F.round(F.avg("novelty"), 6).alias("m"),
        F.sum(F.expr("if(novelty < 0.3, 1, 0)")).alias("lo"),
    ).collect()[0]
    assert card["mean_novelty"] == float(nov.m)
    assert card["low_novelty_rate"] == round(int(nov.lo) / int(nov.n), 6)


def test_table_lifecycle_extract_append_maintain_report(spark, tmp_path):
    """Day-in-the-life capstone: extract job commits snapshot 0 -> a
    second batch appends snapshot 1 -> maintenance writes the changelog
    and compacts to one snapshot -> every read (latest, changelog) and
    the final inventory reconcile with the inputs."""
    from ocr_spark import fixtures
    from ocr_spark.pipeline import read_snapshots, snapshots_df
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    in1 = str(tmp_path / "batch1")
    in2 = str(tmp_path / "batch2")
    fixtures.transcripts_df(spark, 6).write.mode("overwrite").parquet(in1)
    # batch 2 = batch 1 plus four new conversations (re-delivery + growth)
    fixtures.transcripts_df(spark, 10).write.mode("overwrite").parquet(in2)
    out_dir = str(tmp_path / "out")
    store = os.path.join(out_dir, "extracted")

    s1 = _submit(zip_path, in1, out_dir)
    n1 = s1["turns_committed"]
    s2 = _submit(zip_path, in2, out_dir)
    n_total = spark.read.parquet(in2).count()
    # resume semantics: run 2 committed only the delta
    assert s2["turns_committed"] == n_total

    changelog = str(tmp_path / "changelog")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "maintenance_job.py"),
        "--store", store,
        "--changelog", changelog,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    m = json.loads(proc.stdout.strip().splitlines()[-1])
    assert m["snapshots_before"] == 2 and m["snapshots_after"] == 1
    assert m["changelog_rows"] == n_total - n1  # exactly the appended turns

    final = read_snapshots(spark, store)
    assert final.count() == n_total
    assert final.select("conv_id", "turn_idx").distinct().count() == n_total
    inv = snapshots_df(spark, store).collect()
    assert len(inv) == 1 and not inv[0]["is_deletes"]


def test_decontam_job_spark_submit_end_to_end(spark, tmp_path):
    """Exact + fuzzy benchmark decontamination as a production job: the
    eval set is a slice of the corpus itself (doc_id % 97 == 0), so its
    members' twins must flag under the exact rule, the funnel must
    reconcile with the written tables, and clean ∪ flagged == input."""
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    evaldir = str(tmp_path / "evalset")
    docs = spark.read.parquet("/root/testdata/sf0.01/documents.parquet")
    docs.filter("doc_id % 97 = 0").select("doc_id", "text").write.parquet(evaldir)
    out_root = str(tmp_path / "decon_out")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "decontam_job.py"),
        "--train", "/root/testdata/sf0.01/documents.parquet",
        "--eval", evaldir,
        "--output", out_root,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])

    assert summary["docs_in"] == 500
    assert summary["docs_kept"] + summary["flagged_total"] == summary["docs_in"]
    assert summary["flagged_total"] >= summary["eval_docs"]  # eval docs ARE in train
    assert summary["exact_flagged"] >= summary["fuzzy_flagged"] > 0

    clean = spark.read.parquet(os.path.join(out_root, "clean"))
    flagged = spark.read.parquet(os.path.join(out_root, "flagged"))
    assert clean.count() == summary["docs_kept"]
    assert flagged.count() == summary["flagged_total"]
    # the eval slice itself sits in train and must flag (jaccard 1.0 twins)
    ev_ids = {r["doc_id"] for r in docs.filter("doc_id % 97 = 0").collect()}
    flagged_ids = {r["doc_id"] for r in flagged.select("doc_id").collect()}
    assert ev_ids <= flagged_ids
    # disjoint partition of the input
    assert not (flagged_ids & {r["doc_id"] for r in clean.select("doc_id").collect()})


@pytest.mark.slow
def test_rollout_job_spark_submit_end_to_end(spark, tmp_path):
    """The RL-rollout reduction chain as a production job: spark-submit
    --py-files over fixture transcripts; the printed metrics must
    reconcile with the written loop_stats / group_stats / winners /
    advantages / pass_at_k tables."""
    from ocr_spark import fixtures
    from tools.make_pyfiles import build

    input_dir = str(tmp_path / "transcripts")
    fixtures.transcripts_df(spark, 24).write.mode("overwrite").parquet(input_dir)

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    out_root = str(tmp_path / "rollout_out")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "rollout_job.py"),
        "--input", input_dir,
        "--output", out_root,
        "--prompt-group-mod", "4",
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])

    assert summary["convs_in"] == 24
    assert summary["reward_source"] == "hash-uniform-standin"
    loop = spark.read.parquet(os.path.join(out_root, "loop_stats"))
    assert loop.count() == 24
    assert loop.filter("stuck").count() == summary["convs_stuck"]

    # every non-stuck conversation is scored exactly once
    assert summary["rollouts_scored"] == summary["convs_in"] - summary["convs_stuck"]
    gs = spark.read.parquet(os.path.join(out_root, "group_stats"))
    assert gs.count() == summary["prompt_groups"] <= 4

    adv = spark.read.parquet(os.path.join(out_root, "advantages"))
    assert adv.count() == summary["rollouts_scored"]
    winners = spark.read.parquet(os.path.join(out_root, "winners"))
    assert winners.count() == summary["prompt_groups"]
    # winner rows carry a non-negative selection gain
    assert all(r["selection_gain"] >= 0 for r in winners.collect())

    pk = spark.read.parquet(os.path.join(out_root, "pass_at_k"))
    assert pk.count() == summary["prompt_groups"]

    # one debiased-reward row per scored trajectory; OLS residuals with
    # an intercept sum to ~zero and the slope is a single corpus value
    deb = spark.read.parquet(os.path.join(out_root, "debiased"))
    assert deb.count() == summary["rollouts_scored"]
    assert deb.select("bias_slope").distinct().count() == 1
    assert abs(deb.groupBy().sum("debiased_reward").collect()[0][0]) < 1e-3

    # margin 0.0: every multi-rollout group yields a preference pair
    pairs = spark.read.parquet(os.path.join(out_root, "preference_pairs"))
    assert pairs.count() == summary["preference_pairs"]
    multi = gs.filter("n_rollouts >= 2").count()
    assert pairs.count() == multi
    assert all(
        r["chosen_reward"] > r["rejected_reward"] for r in pairs.collect()
    )

    # prefix-cache accounting: internal algebra holds row-by-row and the
    # summed savings reconcile with the metrics line
    pc = spark.read.parquet(os.path.join(out_root, "prefix_cache"))
    assert pc.count() == summary["prompt_groups"]
    total_saved = 0
    for r in pc.collect():
        assert r["chars_saved"] == (r["n_rollouts"] - 1) * r["lcp_chars"]
        assert 0 <= r["saved_frac"] < 1
        total_saved += r["chars_saved"]
    assert total_saved == summary["prefix_chars_saved"]

    # self-consistency: one consensus row per group; plurality count is
    # bounded by the group size and the mean fraction reconciles
    cons = spark.read.parquet(os.path.join(out_root, "consensus"))
    rows = cons.collect()
    assert len(rows) == summary["prompt_groups"]
    assert all(1 <= r["consensus_count"] <= r["n_rollouts"] for r in rows)
    mean_frac = sum(r["consensus_frac"] for r in rows) / len(rows)
    assert abs(mean_frac - summary["mean_consensus_frac"]) < 1e-5


@pytest.mark.slow
def test_eval_job_spark_submit_end_to_end(spark, tmp_path):
    """The judge/arena evaluation reductions as a production job:
    spark-submit --py-files over labels + battles parquet; the printed
    metrics must reconcile with the written consensus / kappa / alpha /
    ds_labels / confusion / win_matrix / bt_strengths tables, and the
    Bradley-Terry fit must recover the battle generator's latent
    strength order (model_0 strongest)."""
    from ocr_spark.queries import _judge_labels, _model_battles
    from tools.make_pyfiles import build

    sf_dir = "/root/testdata/sf0.001"
    labels_dir = str(tmp_path / "labels")
    battles_dir = str(tmp_path / "battles")
    _judge_labels(spark, sf_dir).write.mode("overwrite").parquet(labels_dir)
    _model_battles(spark, sf_dir).select(
        "model_a", "model_b", "winner"
    ).write.mode("overwrite").parquet(battles_dir)

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    out_root = str(tmp_path / "eval_out")
    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "eval_job.py"),
        "--labels", labels_dir,
        "--battles", battles_dir,
        "--output", out_root,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])

    consensus = spark.read.parquet(os.path.join(out_root, "consensus"))
    assert consensus.count() == summary["items"]
    assert summary["judges"] == 3
    # every unordered judge pair gets a kappa row: C(3,2) = 3
    assert summary["judge_pairs"] == 3
    kappa = spark.read.parquet(os.path.join(out_root, "kappa"))
    assert kappa.count() == 3
    # the adapter's 1/4 contrarian-flip rate leaves better-than-chance
    # but imperfect agreement; alpha/kappa must land strictly inside (0, 1)
    assert 0.0 < summary["mean_kappa"] < 1.0
    assert 0.0 < summary["krippendorff_alpha"] < 1.0
    ds = spark.read.parquet(os.path.join(out_root, "ds_labels"))
    assert ds.count() == summary["items"]
    confusion = spark.read.parquet(os.path.join(out_root, "confusion"))
    # per-judge rows over observed (vote, label) cells; every judge appears
    assert confusion.select("judge_id").distinct().count() == 3

    assert summary["models"] == 4
    bt = spark.read.parquet(os.path.join(out_root, "bt_strengths"))
    assert bt.count() == 4
    assert summary["battles"] == 500  # one battle per sf0.001 document
    # latent order: smaller model index wins 3/4 -> model_0 ranks first
    assert summary["top_model"] == "model_0"
    wm = spark.read.parquet(os.path.join(out_root, "win_matrix"))
    # canonical unordered pairs only, at most C(4,2)
    assert 1 <= wm.count() <= 6


@pytest.mark.slow
def test_tree_store_extract_job_linearizes_then_extracts(spark, tmp_path, monkeypatch):
    """--tree-store: a branching message store (heap-shaped trees built
    from the fixture transcripts) goes in; the job resolves the forest,
    linearizes every root-to-leaf path into a thread, and runs the
    normal resumable extraction over the flat transcripts. Thread and
    turn counts are re-derived in pure Python from the heap shape."""
    from pyspark.sql import functions as F

    from ocr_spark import fixtures
    from tools.make_pyfiles import build

    t = fixtures.transcripts_df(spark, 6)
    cnum = F.regexp_extract("conv_id", r"(\d+)", 1).cast("long")
    msgs = t.select(
        (cnum * 100000 + F.col("turn_idx")).alias("msg_id"),
        F.when(F.col("turn_idx") == 0, F.lit(None).cast("long"))
        .otherwise(cnum * 100000 + F.floor((F.col("turn_idx") - 1) / 2))
        .alias("parent_id"),
        "role",
        "text",
        "tool",
        "ts",
    )
    input_dir = str(tmp_path / "msgs")
    msgs.write.mode("overwrite").parquet(input_dir)

    lengths = [
        r["count"] for r in fixtures.transcripts_df(spark, 6).groupBy("conv_id").count().collect()
    ]
    exp_threads = sum(max(n - n // 2, 1) for n in lengths)

    def heap_turns(n: int) -> int:
        total = 0
        for leaf in range(n // 2, n) if n > 1 else [0]:
            d, x = 0, leaf
            while x > 0:
                x = (x - 1) // 2
                d += 1
            total += d + 1
        return total

    exp_turns = sum(heap_turns(n) for n in lengths)

    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    out_dir = str(tmp_path / "out")
    summary = _submit(zip_path, input_dir, out_dir, ("--tree-store",))
    assert summary["linearized_threads"] == exp_threads
    assert summary["conversations"] == exp_threads
    assert summary["turns_committed"] == exp_turns
    assert summary["forest_issues"] == 0
    assert summary["messages_unreached"] is None

    # dirty store: point one mid-tree message at a non-existent parent.
    # The gate must quarantine it (side output), and the chain hanging
    # under it must be REPORTED as unreached, not silently dropped.
    parent_map = {
        r["msg_id"]: r["parent_id"] for r in spark.read.parquet(input_dir).collect()
    }
    victim = next(
        m for m in sorted(parent_map) if m % 100000 == 1
    )  # pos-1 node of some conversation (has a subtree below it)
    dirty = spark.read.parquet(input_dir).withColumn(
        "parent_id",
        F.when(F.col("msg_id") == victim, F.lit(10**15)).otherwise(
            F.col("parent_id")
        ),
    )
    dirty_dir = str(tmp_path / "msgs_dirty")
    dirty.write.mode("overwrite").parquet(dirty_dir)

    # python twin: remove the victim, walk reachability from roots
    children = {}
    for m, p in parent_map.items():
        children.setdefault(p, []).append(m)
    reachable = set()
    stack = [m for m, p in parent_map.items() if p is None]
    while stack:
        cur = stack.pop()
        reachable.add(cur)
        stack.extend(c for c in children.get(cur, []) if c != victim)
    # victim removed entirely; its subtree stays in msgs but never resolves
    exp_unreached = (len(parent_map) - 1) - len(reachable - {victim})

    out2 = str(tmp_path / "out2")
    s2 = _submit(zip_path, dirty_dir, out2, ("--tree-store",))
    assert s2["forest_issues"] == 1
    assert s2["messages_unreached"] == exp_unreached
    issues_dir = os.path.join(out2, "forest_issues")
    issues = spark.read.parquet(issues_dir).collect()
    assert [(r["msg_id"], r["issue"]) for r in issues] == [
        (victim, "orphan_parent")
    ]

    # the store is repaired and the job re-run into the same output: the
    # earlier quarantine must not survive as if it were current
    s3 = _submit(zip_path, input_dir, out2, ("--tree-store",))
    assert s3["forest_issues"] == 0
    assert not os.path.exists(issues_dir)

    # the validation runs once per job, however many actions consume it
    # (count, side-output write, quarantine anti-join): tally the rows it
    # emits with an accumulator across the whole linearization
    from jobs.extract_job import linearize_tree_store
    from ocr_spark import rollouts

    emitted = spark.sparkContext.accumulator(0)
    validate = rollouts.validate_forest

    def tallied(messages):
        def tally(batches):
            for b in batches:
                emitted.add(b.num_rows)
                yield b

        out = validate(messages)
        return out.mapInArrow(tally, out.schema)

    monkeypatch.setattr(rollouts, "validate_forest", tallied)
    flat, n_issues, unreached = linearize_tree_store(
        spark.read.parquet(dirty_dir), str(tmp_path / "out3")
    )
    assert (n_issues, unreached) == (1, exp_unreached)
    assert flat.count() > 0
    assert emitted.value == n_issues
