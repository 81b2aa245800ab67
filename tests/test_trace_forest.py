"""Branching-trace forest resolution + tool-schema drift (round 5).

Behavioral pins independent of the DuckDB oracles: the pointer-doubling
resolver is re-derived with a pure-Python parent walk over the adapter
forest; a 300-deep chain proves the O(log d) round bound (a
step-per-round loop could not converge in the default 20 rounds); a
2-cycle must fail loudly; branch stats and the schema-drift rollup are
re-derived by hand.
"""

from __future__ import annotations

import collections

import pytest
from pyspark.sql import functions as F

import ocr_spark.queries as Q
from ocr_spark import rollouts, transcript_prep

SF_DIR = "/root/testdata/sf0.01"


def _python_walk(parent: dict[int, int | None]):
    """Root/depth per node by memoized parent walking."""
    memo: dict[int, tuple[int, int]] = {}

    def solve(n: int) -> tuple[int, int]:
        if n in memo:
            return memo[n]
        p = parent[n]
        if p is None:
            memo[n] = (n, 0)
        else:
            r, d = solve(p)
            memo[n] = (r, d + 1)
        return memo[n]

    for n in parent:
        solve(n)
    return memo


def test_resolve_forest_matches_pure_python_walk(spark):
    msgs = Q._doc_message_forest(spark, SF_DIR)
    parent = {r["msg_id"]: r["parent_id"] for r in msgs.collect()}
    expected = _python_walk(parent)
    got = {
        r["msg_id"]: (r["root_id"], r["depth"])
        for r in rollouts.resolve_message_forest(msgs).collect()
    }
    assert got == expected
    # the adapter forest must actually branch and nest (heap layout)
    depths = collections.Counter(d for _, d in expected.values())
    assert max(depths) >= 3 and len({r for r, _ in expected.values()}) >= 2


def test_resolve_forest_deep_chain_converges_in_default_rounds(spark):
    # depth 300 >> default max_iters=20: only an O(log d) doubling loop
    # converges — a step-per-round walk would need 300 rounds and raise
    n = 300
    rows = [(i, i - 1 if i > 0 else None) for i in range(n)]
    msgs = spark.createDataFrame(rows, "msg_id long, parent_id long")
    got = {
        r["msg_id"]: (r["root_id"], r["depth"])
        for r in rollouts.resolve_message_forest(msgs).collect()
    }
    assert got == {i: (0, i) for i in range(n)}


def test_resolve_forest_cycle_raises(spark):
    msgs = spark.createDataFrame(
        [(1, 2), (2, 1), (3, None)], "msg_id long, parent_id long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        rollouts.resolve_message_forest(msgs, max_iters=4)


def test_branch_stats_rederived(spark):
    msgs_df = Q._doc_message_forest(spark, SF_DIR)
    parent = {r["msg_id"]: r["parent_id"] for r in msgs_df.collect()}
    roots = _python_walk(parent)
    parents = {p for p in parent.values() if p is not None}
    expected: dict[int, list[int]] = collections.defaultdict(lambda: [0, 0, 0])
    for n, (r, d) in roots.items():
        agg = expected[r]
        agg[0] += 1
        agg[1] += 0 if n in parents else 1
        agg[2] = max(agg[2], d)
    got = {
        r["root_id"]: [r["n_msgs"], r["n_leaves"], r["max_depth"]]
        for r in rollouts.branch_stats(
            msgs_df, rollouts.resolve_message_forest(msgs_df)
        ).collect()
    }
    assert got == dict(expected)
    # every tree must have >1 leaf (real branching, not chains)
    assert all(v[1] > 1 for v in got.values())


def test_tool_arg_schema_drift_literal_rederivation(spark):
    calls = spark.createDataFrame(
        [
            ('{"name":"a","args":{"q":1}}', 3),
            ('{"name":"a","args":{"q":1,"k":2}}', 7),
            ('{"name":"a","args":{"q":1,"page":3}}', 20),
            ('{"name":"b","args":{"x":"y"}}', 5),
        ],
        "tool string, day int",
    )
    rows = {
        (r["tool_name"], r["arg_key"]): r
        for r in transcript_prep.tool_arg_schema_drift(calls).collect()
    }
    assert set(rows) == {("a", "q"), ("a", "k"), ("a", "page"), ("b", "x")}
    q = rows[("a", "q")]
    assert (q["n_calls"], q["call_share"], q["first_day"], q["last_day"]) == (
        3,
        1.0,
        3,
        20,
    )
    pg = rows[("a", "page")]
    assert (pg["n_calls"], pg["call_share"], pg["first_day"], pg["last_day"]) == (
        1,
        round(1 / 3, 6),
        20,
        20,
    )
    assert rows[("b", "x")]["call_share"] == 1.0


def test_schema_drift_adapter_exercises_drift_branch(spark):
    rows = Q.q_tool_arg_schema_drift(spark, SF_DIR).collect()
    by_key = collections.defaultdict(list)
    for r in rows:
        by_key[r["arg_key"]].append(r)
    # the always-on key is required everywhere; the drift key's first
    # sighting is the rollout day, not day 0
    assert all(r["call_share"] == 1.0 for r in by_key["q"])
    assert by_key["page"] and all(r["first_day"] >= 14 for r in by_key["page"])
    assert any(r["call_share"] < 1.0 for r in by_key["k"])


def test_linearize_threads_matches_pure_python_paths(spark):
    msgs_df = Q._doc_message_forest(spark, SF_DIR)
    parent = {r["msg_id"]: r["parent_id"] for r in msgs_df.collect()}
    parents = {p for p in parent.values() if p is not None}
    expected = set()
    for leaf in (n for n in parent if n not in parents):
        path = [leaf]
        while parent[path[-1]] is not None:
            path.append(parent[path[-1]])
        for seq, node in enumerate(reversed(path)):
            expected.add((leaf, seq, node))
    got = {
        (r["thread_id"], r["seq"], r["msg_id"])
        for r in rollouts.linearize_threads(msgs_df).collect()
    }
    assert got == expected
    # real branching: more threads than trees, shared-prefix duplication
    n_threads = len({t for t, _, _ in got})
    n_roots = len({n for n in parent if parent[n] is None})
    assert n_threads > n_roots
    assert len(got) > len(parent)  # linearized turns exceed messages


def test_linearize_deep_chain_single_thread(spark):
    n = 300
    rows = [(i, i - 1 if i > 0 else None) for i in range(n)]
    msgs = spark.createDataFrame(rows, "msg_id long, parent_id long")
    got = sorted(
        (r["seq"], r["msg_id"])
        for r in rollouts.linearize_threads(msgs).collect()
    )
    assert got == [(i, i) for i in range(n)]


def test_validate_forest_flags_each_issue_class(spark):
    msgs = spark.createDataFrame(
        [
            (1, None),   # clean root
            (2, 1),      # clean child
            (3, 3),      # self-parent
            (4, 99),     # orphan parent
            (5, 1),      # duplicated id below
            (5, 2),      # dup_msg_id (and a second parent)
            (6, 7),      # reciprocal pair: 2-cycle
            (7, 6),
        ],
        "msg_id long, parent_id long",
    )
    got = {
        (r["msg_id"], r["issue"])
        for r in rollouts.validate_forest(msgs).collect()
    }
    assert got == {
        (3, "self_parent"),
        (4, "orphan_parent"),
        (5, "dup_msg_id"),
        (6, "cycle_parent"),
        (7, "cycle_parent"),
    }
    clean = spark.createDataFrame(
        [(1, None), (2, 1), (3, 1)], "msg_id long, parent_id long"
    )
    assert rollouts.validate_forest(clean).count() == 0


def test_forest_validation_adapter_fires_all_classes(spark):
    issues = collections.Counter(
        r["issue"] for r in Q.q_forest_validation(spark, SF_DIR).collect()
    )
    assert set(issues) == {
        "dup_msg_id",
        "self_parent",
        "cycle_parent",
        "orphan_parent",
    }
    assert all(v > 0 for v in issues.values())


def test_incremental_resolution_equals_full_resolution(spark):
    msgs = Q._doc_message_forest(spark, SF_DIR)
    batch = msgs.filter(F.col("msg_id") % 7 == 0)
    full = rollouts.resolve_message_forest(msgs)
    frozen = full.join(batch.select("msg_id"), "msg_id", "left_anti")
    inc = {
        r["msg_id"]: (r["root_id"], r["depth"])
        for r in rollouts.resolve_messages_incremental(batch, frozen).collect()
    }
    batch_ids = {r["msg_id"] for r in batch.collect()}
    exp = {
        r["msg_id"]: (r["root_id"], r["depth"])
        for r in full.collect()
        if r["msg_id"] in batch_ids
    }
    assert inc == exp
    # both init branches must have fired: batch messages inheriting from
    # a frozen parent AND batch messages whose parent is itself in-batch
    parent = {r["msg_id"]: r["parent_id"] for r in msgs.collect()}
    batch_parents = {parent[m] for m in batch_ids if parent[m] is not None}
    assert batch_parents & batch_ids, "no batch-internal chain exercised"
    assert batch_parents - batch_ids, "no frozen-parent inheritance exercised"


def test_incremental_resolution_batch_chain_needs_doubling(spark):
    # frozen corpus: a resolved 2-node stem; batch: a 40-deep chain
    # hanging off it. max_iters=8 < 40 proves the batch chain resolves
    # by doubling, not one step per round.
    frozen = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 1)], "msg_id long, root_id long, depth int"
    )
    batch = spark.createDataFrame(
        [(100, 1)] + [(100 + i, 99 + i) for i in range(1, 40)],
        "msg_id long, parent_id long",
    )
    got = {
        r["msg_id"]: (r["root_id"], r["depth"])
        for r in rollouts.resolve_messages_incremental(
            batch, frozen, max_iters=8
        ).collect()
    }
    assert got == {100 + i: (0, 2 + i) for i in range(40)}


def test_tool_schema_diff_all_statuses_and_shares(spark):
    rows = {
        (r["tool_name"], r["arg_key"]): r
        for r in Q.q_tool_schema_diff(spark, SF_DIR).collect()
    }
    statuses = collections.Counter(r["status"] for r in rows.values())
    assert set(statuses) == {"added", "removed", "kept"}
    for (tool, key), r in rows.items():
        if key == "page":
            assert r["status"] == "added" and r["old_share"] is None
        elif key == "legacy":
            assert r["status"] == "removed" and r["new_share"] is None
            assert r["old_share"] == 1.0  # legacy was on every old-era call
        elif key == "q":
            assert r["status"] == "kept"
            assert r["old_share"] == 1.0 and r["new_share"] == 1.0


def test_tool_schema_diff_literal_rederivation(spark):
    calls = spark.createDataFrame(
        [
            ('{"name":"a","args":{"q":1,"old":1}}', 3),
            ('{"name":"a","args":{"q":1}}', 10),
            ('{"name":"a","args":{"q":1,"new":2}}', 20),
            ('{"name":"a","args":{"q":1}}', 25),
        ],
        "tool string, day int",
    )
    rows = {
        r["arg_key"]: r
        for r in transcript_prep.tool_schema_diff(calls).collect()
    }
    assert rows["q"]["status"] == "kept"
    assert (rows["q"]["old_share"], rows["q"]["new_share"]) == (1.0, 1.0)
    assert rows["old"]["status"] == "removed" and rows["old"]["old_share"] == 0.5
    assert rows["new"]["status"] == "added" and rows["new"]["new_share"] == 0.5


def test_incremental_resolution_raises_on_stale_resolved_table(spark):
    # the resolved table lags an ingest: batch msg 43's parent 42 is in
    # neither the table nor the batch — must fail loudly, never silently
    # drop the chain
    frozen = spark.createDataFrame(
        [(0, 0, 0)], "msg_id long, root_id long, depth int"
    )
    batch = spark.createDataFrame([(43, 42)], "msg_id long, parent_id long")
    with pytest.raises(RuntimeError) as err:
        rollouts.resolve_messages_incremental(batch, frozen, max_iters=3)
    # the message names only what a row-count mismatch detects
    msg = str(err.value)
    assert "parents missing from both the resolved table and the batch" in msg
    assert "duplicate" not in msg
