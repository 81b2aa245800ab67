"""Unit tests for the production transcript training-prep transforms
(`ocr_spark.transcript_prep`) over crafted conversations with known
session boundaries, interleaved tool turns, and context windows — plus
an end-to-end spark-submit run of jobs/sft_prep_job.py.

The registry queries route through these same functions (the DuckDB
harness value-checks them at sf0.01); here we pin the semantics the
synthesized-column adapters can't reach: real timestamp gaps, real
role interleavings, and the job surface.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess

from ocr_spark import fixtures
from ocr_spark.transcript_prep import (
    assemble_context,
    session_stats,
    sessionize,
    sft_pairs,
    tool_call_stats,
)

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _conv(spark, rows):
    """rows: (conv_id, turn_idx, role, text, tool, ts_offset_s)
    (offsets may be fractional — sub-second gaps are part of the
    contract)"""
    base = dt.datetime(2026, 1, 1)
    data = [
        (c, i, r, x, tool, base + dt.timedelta(seconds=off))
        for (c, i, r, x, tool, off) in rows
    ]
    return spark.createDataFrame(
        data, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def test_sessionize_breaks_on_gap_boundary(spark):
    t = _conv(
        spark,
        [
            ("c1", 0, "user", "a", "", 0),
            ("c1", 1, "assistant", "b", "", 1800),  # gap 1800 == max: no break
            ("c1", 2, "user", "c", "", 3601),  # gap 1801 > max: break
            ("c1", 3, "assistant", "d", "", 3610),
            ("c2", 0, "user", "e", "", 0),  # new conv never breaks
            # sub-second precision: 1800.9 s gap must break a 1800 s
            # session (unix_timestamp truncation would miss it)
            ("c3", 0, "user", "f", "", 0),
            ("c3", 1, "assistant", "g", "", 1800.9),
        ],
    )
    got = {
        (r["conv_id"], r["turn_idx"]): r["session_idx"]
        for r in sessionize(t, max_gap_s=1800).collect()
    }
    assert got == {
        ("c1", 0): 0,
        ("c1", 1): 0,
        ("c1", 2): 1,
        ("c1", 3): 1,
        ("c2", 0): 0,
        ("c3", 0): 0,
        ("c3", 1): 1,
    }
    stats = {
        (r["conv_id"], r["session_idx"]): (
            r["n_turns"],
            r["first_turn_idx"],
            r["last_turn_idx"],
        )
        for r in session_stats(t, max_gap_s=1800).collect()
    }
    assert stats == {
        ("c1", 0): (2, 0, 1),
        ("c1", 1): (2, 2, 3),
        ("c2", 0): (1, 0, 0),
        ("c3", 0): (1, 0, 0),
        ("c3", 1): (1, 1, 1),
    }


def test_sft_pairs_skip_tool_turns_to_nearest_user(spark):
    t = _conv(
        spark,
        [
            ("c1", 0, "user", "ask1", "", 0),
            ("c1", 1, "tool", "toolout", '{"name":"t"}', 10),
            ("c1", 2, "assistant", "ans1", "", 20),  # pairs with ask1, not toolout
            ("c1", 3, "user", "ask2", "", 30),
            ("c1", 4, "assistant", "ans2", "", 40),
            ("c2", 0, "assistant", "orphan", "", 0),  # no preceding user
        ],
    )
    rows = {r["response_text"]: r for r in sft_pairs(t).collect()}
    assert rows["ans1"]["prompt_text"] == "ask1"
    assert rows["ans2"]["prompt_text"] == "ask2"
    assert rows["orphan"]["prompt_text"] is None
    # fingerprints are distinct and deterministic
    assert len({r["pair_fp"] for r in rows.values()}) == 3
    # keep= carries passthrough columns
    kept = sft_pairs(t.withColumn("extra", t.turn_idx * 2), keep=("extra",))
    assert {r["extra"] for r in kept.collect()} == {4, 8, 0}


def test_assemble_context_bounded_and_ordered(spark):
    t = _conv(
        spark,
        [("c1", i, "user", f"t{i}", "", i * 10) for i in range(5)],
    )
    got = {r["turn_idx"]: r["context"] for r in assemble_context(t, k=3).collect()}
    assert got[0] == []
    assert got[1] == ["t0"]
    assert got[3] == ["t0", "t1", "t2"]
    assert got[4] == ["t1", "t2", "t3"]  # bounded at k=3, frame order


def test_tool_call_stats_parses_and_skips_unparseable(spark):
    t = _conv(
        spark,
        [
            ("c1", 0, "tool", "res-a", '{"name":"search","ok":true,"n_args":2}', 0),
            ("c1", 1, "tool", "res-bb", '{"name":"search","ok":false,"n_args":4}', 1),
            ("c2", 0, "tool", "res-c", '{"name":"fetch","ok":true,"n_args":1}', 0),
            ("c2", 1, "tool", "notjson", "oops", 1),  # excluded
        ],
    )
    got = {r["tool_name"]: r for r in tool_call_stats(t).collect()}
    assert set(got) == {"search", "fetch"}
    assert got["search"]["n_calls"] == 2
    assert got["search"]["n_convs"] == 1
    assert got["search"]["success_rate"] == 0.5
    assert got["search"]["avg_args"] == 3.0
    assert got["search"]["avg_result_chars"] == 5.5
    assert got["fetch"]["n_calls"] == 1


def test_sft_prep_job_spark_submit(spark, tmp_path):
    from tools.make_pyfiles import build

    input_dir = str(tmp_path / "transcripts")
    fixtures.transcripts_df(spark, 10).write.parquet(input_dir)
    zip_path = build(str(tmp_path / "ocr_spark.zip"))
    out_dir = str(tmp_path / "pairs")

    cmd = [
        "spark-submit",
        "--master", "local[4]",
        "--conf", "spark.ui.enabled=false",
        "--conf", "spark.sql.shuffle.partitions=8",
        "--py-files", zip_path,
        os.path.join(REPO, "jobs", "sft_prep_job.py"),
        "--input", input_dir,
        "--output", out_dir,
    ]
    proc = subprocess.run(cmd, capture_output=True, text=True, cwd=tmp_path, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    out = spark.read.parquet(out_dir)
    assert summary["pairs_kept"] == out.count()
    assert summary["pairs_mined"] >= summary["pairs_kept"] > 0
    # fixture ts gaps are 7 s < 1800 s: every conversation is 1 session
    assert summary["sessions"] == 10
    # dedup kept exactly one row per fingerprint
    assert out.select("pair_fp").distinct().count() == out.count()
    assert {f.name for f in out.schema.fields} >= {
        "conv_id",
        "turn_idx",
        "session_idx",
        "context_fp",
        "prompt_text",
        "response_text",
        "pair_fp",
        "n_dups",
    }

    # second run with the turn-novelty gate over an input that contains
    # a cloned conversation (a retried agent run): the clone's repeated
    # assistant turns must be dropped before pair dedup, and the
    # reported counts must match a pure-python first-occurrence scan
    from pyspark.sql import functions as F

    base = fixtures.transcripts_df(spark, 10)
    clone = base.filter("conv_id = 'conv00000003'").withColumn(
        "conv_id", F.lit("convRETRY")
    )
    input_dir2 = str(tmp_path / "transcripts_dup")
    base.unionByName(clone).write.parquet(input_dir2)
    out_dir2 = str(tmp_path / "pairs_gated")
    proc2 = subprocess.run(
        cmd[:-4]
        + ["--input", input_dir2, "--output", out_dir2, "--novelty-gate"],
        capture_output=True, text=True, cwd=tmp_path, timeout=300,
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    gated = json.loads(proc2.stdout.strip().splitlines()[-1])
    rows = sorted(
        # strip(' ') not strip(): Spark/DuckDB trim() removes SPACES only,
        # and the twin must normalize identically
        (r["conv_id"], r["turn_idx"], r["role"], r["text"].strip(" "))
        for r in spark.read.parquet(input_dir2).collect()
    )
    seen: set = set()
    expected_repeated = 0
    n_assistant = 0
    for _, _, role, text in rows:
        if role != "assistant":
            continue
        n_assistant += 1
        if text in seen:
            expected_repeated += 1
        seen.add(text)
    assert gated["pairs_premask"] == n_assistant
    # the cloned conversation guarantees the gate fires
    assert gated["pairs_repeated"] == expected_repeated > 0
    assert gated["pairs_mined"] == n_assistant - expected_repeated
    assert spark.read.parquet(out_dir2).count() == gated["pairs_kept"]


def test_invariants_over_fixture_corpus(spark):
    """Structural invariants on the generated corpus (skewed lengths,
    dup turns, tool interleavings): sessions exactly partition each
    conversation into contiguous turn ranges; pair mining yields one
    pair per assistant turn whose prompt is the latest earlier user
    turn; assembled context equals the trailing k-turn slice."""
    t = fixtures.transcripts_df(spark, 30).cache()
    rows = sorted(
        ((r["conv_id"], r["turn_idx"], r["role"], r["text"]) for r in t.collect())
    )
    by_conv: dict = {}
    for conv_id, idx, role, text in rows:
        by_conv.setdefault(conv_id, []).append((idx, role, text))

    # sessionize with a gap larger than the fixture's 7 s spacing:
    # exactly one session per conversation, covering every turn
    stats = session_stats(t, max_gap_s=1800).collect()
    assert len(stats) == len(by_conv)
    for r in stats:
        turns = by_conv[r["conv_id"]]
        assert r["session_idx"] == 0
        assert r["n_turns"] == len(turns)
        assert r["first_turn_idx"] == 0
        assert r["last_turn_idx"] == len(turns) - 1

    # sft_pairs: one row per assistant turn; prompt is the nearest
    # preceding user turn's text (None when no user turn precedes)
    pairs = {
        (r["conv_id"], r["turn_idx"]): r["prompt_text"]
        for r in sft_pairs(t).collect()
    }
    expected = {}
    for conv_id, turns in by_conv.items():
        last_user = None
        for idx, role, text in turns:
            if role == "assistant":
                expected[(conv_id, idx)] = last_user
            if role == "user":
                last_user = text
    assert pairs == expected

    # assemble_context: trailing-3 slice in turn order
    got = {
        (r["conv_id"], r["turn_idx"]): r["context"]
        for r in assemble_context(t, k=3).collect()
    }
    for conv_id, turns in by_conv.items():
        texts = [x for (_, _, x) in turns]
        for idx, _, _ in turns:
            assert got[(conv_id, idx)] == texts[max(0, idx - 3) : idx]


def test_turn_novelty_mask_matches_first_occurrence_scan(spark):
    """Pure-python first-occurrence scan over the adapter rows in strict
    (conv_id, turn_idx) order — the mask's novel flag and occurrence
    counts must match exactly, and the shared prompt turns must be
    repeated (novel exactly once per bucket) while tails stay unique."""
    import ocr_spark.queries as Q

    rows = sorted(
        (
            # strip(' ') matches Spark/DuckDB trim() (spaces only)
            (r["conv_id"], r["turn_idx"], r["text"].strip(" "))
            for r in Q._prompt_grouped_transcripts(spark, "/root/testdata/sf0.01")
            .select("conv_id", "turn_idx", "text")
            .collect()
        ),
    )
    from collections import Counter

    counts = Counter(t for _, _, t in rows)
    seen: set[str] = set()
    expected = {}
    for conv, idx, t in rows:
        expected[(conv, idx)] = (t not in seen, counts[t])
        seen.add(t)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["novel"], r["n_occurrences"])
        for r in Q.q_turn_novelty_mask(spark, "/root/testdata/sf0.01").collect()
    }
    assert got == expected
    # repeats must exist (prompt turns) AND unique tails must exist
    occs = {v[1] for v in got.values()}
    assert 1 in occs and any(o > 1 for o in occs)


def test_context_budget_audit_matches_pure_python_cumsum(spark):
    """Pure-python re-derivation of the capacity card from the adapter
    rows (whitespace tokens, cumulative per conv in turn order), and a
    ladder-discrimination check: the adapter budgets must exercise the
    none-over, some-over, and most-over branches — an all-zero card
    (production budgets at sandbox scale) would be vacuously green."""
    import ocr_spark.queries as Q
    from ocr_spark import params

    rows = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in Q.doc_transcripts(spark, "/root/testdata/sf0.01")
        .select("conv_id", "turn_idx", "text")
        .collect()
    )
    import re

    convs: dict[str, list[int]] = {}
    for conv, _, text in rows:
        # mirror engine semantics exactly: trim SPACES only, then a
        # regex split that keeps boundary empties (Java split limit -1 /
        # DuckDB regexp_split_to_array both do)
        convs.setdefault(conv, []).append(
            len(re.split(r"\s+", text.strip(" ")))
        )
    expected = {}
    for b in params.CTX_BUDGETS_ADAPTER:
        n_over = turns_lost = tokens_kept = tokens_total = 0
        for toks in convs.values():
            cum = 0
            total = sum(toks)
            tokens_total += total
            if total > b:
                n_over += 1
            for t in toks:
                cum += t
                if cum <= b:
                    tokens_kept += t
                else:
                    turns_lost += 1
        expected[b] = (
            len(convs), n_over, round(n_over / len(convs), 6),
            tokens_total, tokens_kept, turns_lost,
        )
    got = {
        r["budget"]: (
            r["n_convs"], r["n_convs_over"], r["frac_over"],
            r["tokens_total"], r["tokens_kept"], r["turns_lost"],
        )
        for r in Q.q_context_budget_audit(spark, "/root/testdata/sf0.01").collect()
    }
    assert got == expected
    overs = [v[1] for v in got.values()]
    assert min(overs) == 0 and max(overs) > len(convs) // 2


def test_turn_novelty_incremental_matches_pure_python_scan(spark):
    """Pure-python re-derivation: corpus hash set + within-batch
    first-occurrence scan in (conv_id, turn_idx) order. All THREE
    branches must fire: corpus hit, batch-internal-only repeat, novel."""
    import hashlib

    import ocr_spark.queries as Q
    from ocr_spark.queries import _t
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    sf = "/root/testdata/sf0.01"
    doc = _t(spark, sf, "documents").select("source", "doc_id", "text")

    def adapt(df, batch):
        ren = df.select(F.col("source").alias("conv_id"), "doc_id", "text")
        w = Window.partitionBy("conv_id").orderBy("doc_id")
        out = ren.select(
            "conv_id",
            (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
            "text",
        ).withColumn("text", F.expr(Q._SHARED_PREFIX_TEXT_EXPR))
        if batch:
            out = out.withColumn(
                "text",
                F.when(F.col("turn_idx") == 3, F.lit("batch-extra-turn"))
                .otherwise(F.col("text")),
            )
        return out

    def h(text):
        return hashlib.md5(text.strip(" ").encode()).hexdigest()

    corpus_h = {
        h(r["text"])
        for r in adapt(doc.filter("doc_id % 10 != 0"), False).collect()
    }
    batch_rows = sorted(
        (r["conv_id"], r["turn_idx"], r["text"])
        for r in adapt(doc.filter("doc_id % 10 = 0"), True).collect()
    )
    seen: set = set()
    expected = {}
    for conv, idx, text in batch_rows:
        k = h(text)
        expected[(conv, idx)] = (k not in corpus_h and k not in seen, k in corpus_h)
        seen.add(k)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["novel"], r["seen_in_corpus"])
        for r in Q.q_turn_novelty_incremental(spark, sf).collect()
    }
    assert got == expected
    branches = set(got.values())
    assert {(False, True), (False, False), (True, False)} <= branches
