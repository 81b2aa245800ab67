"""RL-rollout reductions over the BASELINE transcripts shape
``(conv_id, turn_idx, role, text, tool, ts)`` — the group-wise passes
between sampling and training: stuck-loop gating, shared-prompt dedup,
pass@k, best-of-n selection, GRPO advantage normalization, and the
trajectory-divergence profile.

These are the production DataFrame -> DataFrame functions behind the
registry's rollout queries (queries.py derives content-keyed
template / group / reward stand-ins from the sandbox documents table
and then calls THESE, so the driver's DuckDB oracle checks the exact
code a real rollout table runs — production wires in its real reward
column and verbatim prompt hash instead). Every function keeps the
scale contract of the transcript family: per-conversation windows ride
one hashpartitioning(conv_id) Exchange; after the fingerprint rollup
only 32-byte hashes and (n, c) counts move.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

# Unit separator between turns inside a trajectory fingerprint — cannot
# collide with text content the way '\n' could.
FP_SEP = "\x1f"


def _conv_window() -> Window:
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def default_template(text: Column | str = "text") -> Column:
    """Response-template id for loop detection: hash of the text with
    digit runs and whitespace runs collapsed — agent loops usually
    differ only in counters/timestamps, which this normalization
    erases."""
    c = F.col(text) if isinstance(text, str) else text
    return F.md5(F.regexp_replace(F.lower(c), r"[0-9]+|\s+", " "))


def loop_run_stats(t: DataFrame, template: Column, stuck_at: int = 3) -> DataFrame:
    """Per-conversation run-length stats over consecutive turns sharing
    a ``template`` id, with a ``stuck`` flag at ``max_run >= stuck_at``
    — the gate that drops looping trajectories before training.

    Shape: gaps-and-islands (lag -> new-run flag -> running sum) inside
    one conv-keyed window, then two conv-keyed partial-aggregated
    groupBys. One Exchange end-to-end; no joins; task memory bounded by
    the longest conversation."""
    w = _conv_window()
    marked = t.select("conv_id", "turn_idx", template.alias("tmpl")).select(
        "conv_id",
        "turn_idx",
        F.when(
            F.lag("tmpl").over(w).isNull() | (F.col("tmpl") != F.lag("tmpl").over(w)),
            1,
        )
        .otherwise(0)
        .alias("new_run"),
    )
    runs = marked.select(
        "conv_id",
        F.sum("new_run")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run_id"),
    )
    per_run = runs.groupBy("conv_id", "run_id").agg(
        F.count("*").cast("bigint").alias("run_len")
    )
    return per_run.groupBy("conv_id").agg(
        F.sum("run_len").cast("bigint").alias("n_turns"),
        F.count("*").cast("bigint").alias("n_runs"),
        F.max("run_len").cast("bigint").alias("max_run"),
        (F.max("run_len") >= stuck_at).alias("stuck"),
    )


def _ordered_full_text() -> Column:
    """Aggregate expression for a conversation's turn-ordered full text
    joined on FP_SEP — the a3_ordered_concat contract. THE single
    definition of trajectory identity: rollout_fingerprints hashes it
    and prefix_cache_savings folds it, and the two must never diverge
    (a drift would silently decouple dedup identity from LCP
    accounting). collect_list is bounded by turns-per-conversation."""
    return F.array_join(
        F.expr(
            "transform(array_sort(collect_list(struct(turn_idx, text))),"
            " s -> s.text)"
        ),
        FP_SEP,
    )


def rollout_fingerprints(t: DataFrame) -> DataFrame:
    """Per-conversation ``(conv_id, first_text, completion_fp)``: the
    first turn's text (the prompt) and the md5 fingerprint of the
    turn-ordered full text. ONE conv-keyed partial-aggregated groupBy;
    collect_list is bounded by turns-per-conversation (the
    a3_ordered_concat contract). Everything downstream of this rollup
    moves 32-byte hashes, never raw text."""
    return t.groupBy("conv_id").agg(
        F.expr("min_by(text, turn_idx)").alias("first_text"),
        F.md5(_ordered_full_text()).alias("completion_fp"),
        # trajectory length; Catalyst prunes it wherever unused
        F.sum(F.length("text")).cast("bigint").alias("n_chars"),
    )


def dedup_rollout_groups(fps: DataFrame, group: Column) -> DataFrame:
    """Shared-prompt rollout dedup stats: per prompt ``group``, rollout
    count, distinct-completion count, the first conversation id, and
    the number of byte-identical duplicates dedup drops. ``fps`` is the
    ``rollout_fingerprints`` output; production passes
    ``md5(first_text)`` (verbatim prompt identity) as the group."""
    grp = fps.select(group.alias("prompt_group"), "conv_id", "completion_fp")
    return (
        grp.groupBy("prompt_group")
        .agg(
            F.count("*").cast("bigint").alias("n_rollouts"),
            F.countDistinct("completion_fp")
            .cast("bigint")
            .alias("n_unique_completions"),
            F.min("conv_id").alias("first_conv"),
        )
        .withColumn(
            "n_dropped",
            (F.col("n_rollouts") - F.col("n_unique_completions")).cast("bigint"),
        )
    )


def pass_at_k(scored: DataFrame, k: int = 4) -> DataFrame:
    """Unbiased pass@k per prompt group (Chen et al. 2021,
    arXiv:2107.03374 §2.1): ``1 - C(n-c, k) / C(n, k)`` for n rollouts
    with c successes, evaluated as two exact integer falling-factorial
    products folded in doubles (exact while n^k < 2^53) and ONE
    division — no factorials, no per-step division drift. Groups with
    n < k report NULL (estimator undefined); groups with fewer than k
    failures report exactly 1.0. ``scored`` needs columns
    ``(prompt_group, success int)``.

    Shape: one group-keyed partial-aggregated count/sum, then per-group
    scalar arithmetic."""
    counts = scored.groupBy("prompt_group").agg(
        F.count("*").cast("bigint").alias("n_rollouts"),
        F.sum("success").cast("bigint").alias("n_success"),
    )
    n, c = F.col("n_rollouts"), F.col("n_success")
    fail_ff = F.expr(
        f"aggregate(sequence(0, {k - 1}), cast(1.0 as double),"
        " (acc, i) -> acc * (n_rollouts - n_success - i))"
    )
    all_ff = F.expr(
        f"aggregate(sequence(0, {k - 1}), cast(1.0 as double),"
        " (acc, i) -> acc * (n_rollouts - i))"
    )
    return counts.select(
        "prompt_group",
        "n_rollouts",
        "n_success",
        F.round(c.cast("double") / n.cast("double"), 6).alias("pass_at_1"),
        F.when(n < k, F.lit(None).cast("double"))
        .when(n - c < k, F.lit(1.0))
        .otherwise(F.round(1.0 - fail_ff / all_ff, 6))
        .alias(f"pass_at_{k}"),
    )


def best_of_n(scored: DataFrame) -> DataFrame:
    """Best-of-n selection: per prompt group keep the highest-reward
    rollout — deterministic (reward DESC, conv_id ASC) tiebreak — with
    the selection gain over the group mean. ``scored`` needs columns
    ``(prompt_group, conv_id, reward double)``.

    Shape: ONE group-partitioned window supplies rank, count, and mean
    together; no self-join; only winner rows survive the filter."""
    wp = Window.partitionBy("prompt_group")
    wr = wp.orderBy(F.col("reward").desc(), F.col("conv_id").asc())
    ranked = scored.select(
        "prompt_group",
        "conv_id",
        "reward",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wp).cast("bigint").alias("n_rollouts"),
        F.avg("reward").over(wp).alias("mean_reward"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "prompt_group",
        "n_rollouts",
        F.col("conv_id").alias("best_conv"),
        F.round("reward", 6).alias("best_reward"),
        F.round("mean_reward", 6).alias("mean_reward"),
        F.round(F.col("reward") - F.col("mean_reward"), 6).alias("selection_gain"),
    )


def grpo_advantages(scored: DataFrame) -> DataFrame:
    """Group-relative advantage normalization (GRPO, Shao et al. 2024,
    arXiv:2402.03300 §4.1): advantage = (reward - group mean) /
    group std, with degenerate groups (n = 1 or zero variance) pinned
    to 0 so they contribute no gradient. ``scored`` needs columns
    ``(prompt_group, conv_id, reward double)``.

    Shape: ONE group-partitioned window computes mean and stddev_pop
    together; normalization is a narrow per-row projection — the exact
    advantage column a GRPO trainer joins back onto its rollout
    table."""
    wp = Window.partitionBy("prompt_group")
    stats = scored.select(
        "prompt_group",
        "conv_id",
        "reward",
        F.avg("reward").over(wp).alias("mu"),
        F.stddev_pop("reward").over(wp).alias("sigma"),
    )
    return stats.select(
        "prompt_group",
        "conv_id",
        F.round("reward", 6).alias("reward"),
        F.when(F.col("sigma") == 0, F.lit(0.0))
        .otherwise(F.round((F.col("reward") - F.col("mu")) / F.col("sigma"), 6))
        .alias("advantage"),
    )


def divergence_profile(
    t: DataFrame, template: Column, group: Column, max_depth: int = 8
) -> DataFrame:
    """Trajectory-tree fan-out: per (prompt group, turn depth), how many
    distinct branches are alive, where branch identity at depth d is the
    hash of the turn-``template`` sequence up to d. Shows WHERE rollouts
    fork — which prices prefix-KV-cache reuse and guides how deep a
    tree-structured sampler should share. ``group`` is evaluated
    against the conversation's first turn text exposed as
    ``first_text``.

    Shape: the running-prefix hash is ONE conv-partitioned window
    (frame bounded by the early ``turn_idx < max_depth`` filter), then
    one (group, depth)-keyed two-phase distinct count. No joins."""
    lim = t.filter(F.col("turn_idx") < max_depth)
    w = _conv_window()
    wcum = w.rowsBetween(Window.unboundedPreceding, 0)
    pref = lim.select(
        "conv_id",
        "turn_idx",
        template.cast("string").alias("tmpl"),
        F.first("text").over(w).alias("first_text"),
    ).select(
        group.alias("prompt_group"),
        "turn_idx",
        F.md5(F.array_join(F.collect_list("tmpl").over(wcum), ",")).alias(
            "prefix_key"
        ),
    )
    return pref.groupBy("prompt_group", "turn_idx").agg(
        F.count("*").cast("bigint").alias("n_alive"),
        F.countDistinct("prefix_key").cast("bigint").alias("n_branches"),
        (F.countDistinct("prefix_key") > 1).alias("diverged"),
    )


def preference_pairs(scored: DataFrame, margin: float = 0.0) -> DataFrame:
    """DPO-style preference pairs: per prompt group, (chosen, rejected)
    = the (highest, lowest)-reward rollouts, kept only when the group
    has at least two rollouts and the reward gap clears ``margin`` —
    near-tie pairs teach a preference model nothing and a contrastive
    trainer noise. Tiebreaks are lexicographic on (reward, conv_id)
    structs (largest conv among tied best, smallest among tied worst),
    so binary or otherwise tie-heavy reward schemes stay deterministic.
    ``scored`` needs columns ``(prompt_group, conv_id, reward double)``.

    Shape: ONE group-keyed partial-aggregated groupBy using struct
    max/min — no window, no group sort (the reward_pairs contract);
    the margin filter is a narrow post-aggregate predicate."""
    agg = scored.groupBy("prompt_group").agg(
        F.count("*").cast("bigint").alias("n_rollouts"),
        F.max(F.struct("reward", "conv_id")).alias("hi"),
        F.min(F.struct("reward", "conv_id")).alias("lo"),
    )
    return agg.filter(
        (F.col("n_rollouts") >= 2)
        & (F.col("hi.reward") - F.col("lo.reward") >= margin)
    ).select(
        "prompt_group",
        "n_rollouts",
        F.col("hi.conv_id").alias("chosen_conv"),
        F.col("lo.conv_id").alias("rejected_conv"),
        F.round("hi.reward", 6).alias("chosen_reward"),
        F.round("lo.reward", 6).alias("rejected_reward"),
        F.round(F.col("hi.reward") - F.col("lo.reward"), 6).alias("reward_gap"),
    )


def length_debiased_reward(scored: DataFrame) -> DataFrame:
    """Length-bias correction: reward models systematically prefer
    longer responses (verbosity bias), which RL then amplifies. Fit the
    corpus-level OLS slope of reward on trajectory length
    (covar_pop / var_pop — one pass) and report each trajectory's
    debiased reward = reward - (mean_r + slope * (len - mean_len)),
    i.e. the residual against the length trend. Rank or gate on the
    residual and the length incentive disappears from selection.
    ``scored`` needs columns ``(conv_id, reward double, n_chars)``.

    Shape: ONE single-row stats aggregate broadcast back over the
    scored table (the corpus-totals pattern) — the trajectory rows are
    touched exactly twice and never shuffled."""
    stats = scored.agg(
        F.expr(
            "covar_pop(cast(n_chars as double), reward)"
            " / var_pop(cast(n_chars as double))"
        ).alias("beta"),
        F.avg("reward").alias("mean_r"),
        F.avg(F.col("n_chars").cast("double")).alias("mean_len"),
    )
    return scored.crossJoin(F.broadcast(stats)).select(
        "conv_id",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.round("reward", 6).alias("reward"),
        F.round("beta", 6).alias("bias_slope"),
        F.round(
            F.col("reward")
            - (F.col("mean_r") + F.col("beta") * (F.col("n_chars") - F.col("mean_len"))),
            6,
        ).alias("debiased_reward"),
    )


def _lcp_col(a: Column, b: Column) -> Column:
    """Longest common prefix length of two strings as a Column.

    Two-level compare so the work is O(L), not O(L^2): first count the
    leading fully-equal 64-char blocks (prefix-of-blocks equality is
    monotone, so a fold that only advances while contiguous finds the
    boundary), then refine the first differing block char-by-char.
    Runs post-aggregation on group-count-sized rows, never per turn."""
    m = F.least(F.length(a), F.length(b))
    nb = F.ceil(m / F.lit(64)).cast("int")
    # leading fully-equal blocks; acc advances only while contiguous
    bl = F.when(nb < 1, F.lit(0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), nb),
            F.lit(0),
            lambda acc, k: F.when(
                (acc == k - 1)
                & (
                    F.substring(a, (k - 1) * 64 + 1, 64)
                    == F.substring(b, (k - 1) * 64 + 1, 64)
                ),
                k,
            ).otherwise(acc),
        )
    )
    start = F.least(bl * 64, m)
    rem = F.least(F.lit(64), m - start)
    ref = F.when(rem < 1, F.lit(0)).otherwise(
        F.aggregate(
            F.sequence(F.lit(1), rem),
            F.lit(0),
            lambda acc, i: F.when(
                (acc == i - 1)
                & (F.substring(a, start + i, 1) == F.substring(b, start + i, 1)),
                i,
            ).otherwise(acc),
        )
    )
    return F.least(start + ref, m).cast("bigint")


def prefix_cache_savings(t: DataFrame, group: Column | None = None) -> DataFrame:
    """Per prompt-group KV-prefix-cache savings estimate: how many
    characters of each rollout group's trajectories a serving-time
    prefix cache computes ONCE and reuses for every sibling rollout.
    Sampling n rollouts from one prompt re-prefills the shared prefix
    n times without a cache; with one, (n - 1) * LCP characters of
    prefill are saved, where LCP is the group's longest common prefix.

    ``group`` defaults to the verbatim first-turn prompt hash (the
    prefix-cache key a serving stack actually uses).

    Shape: one conv-keyed fingerprint rollup (the a3_ordered_concat
    contract), then ONE group-keyed partial-aggregated groupBy in which
    only the lexicographic min and max trajectory per group survive the
    shuffle — the LCP of a whole set equals the LCP of its lexicographic
    extremes, so the group never materializes. The LCP fold itself is
    the two-level block compare in _lcp_col, evaluated on group-count
    rows."""
    per_conv = t.groupBy("conv_id").agg(
        F.expr("min_by(text, turn_idx)").alias("first_text"),
        _ordered_full_text().alias("full_text"),
    )
    key = group if group is not None else F.md5("first_text")
    grouped = per_conv.groupBy(key.alias("prompt_group")).agg(
        F.count("*").cast("bigint").alias("n_rollouts"),
        F.min("full_text").alias("lo"),
        F.max("full_text").alias("hi"),
        F.sum(F.length("full_text")).cast("bigint").alias("chars_total"),
    )
    lcp = _lcp_col(F.col("lo"), F.col("hi"))
    return grouped.select(
        "prompt_group",
        "n_rollouts",
        lcp.alias("lcp_chars"),
        "chars_total",
        ((F.col("n_rollouts") - 1) * lcp).cast("bigint").alias("chars_saved"),
        F.round(
            (F.col("n_rollouts") - 1) * lcp / F.col("chars_total"), 6
        ).alias("saved_frac"),
    )


def turn_prefix_trie_profile(t: DataFrame) -> DataFrame:
    """Per-depth profile of the conversation prefix trie: at depth d,
    how many distinct turn-prefixes (trie nodes) exist vs how many
    conversations pass through them. ``n_convs - n_nodes`` at a depth
    is exactly the number of conversation-turns whose whole KV prefix
    was already computed for a sibling — the turn-granular cache-hit
    mass that branching rollouts / retried agent runs expose.

    Shape: per-turn md5 first (32 bytes/turn), then a conv-keyed
    cumulative window folds hashes into the node id, so the running
    state is depth x 33 bytes, never the text. One conv-keyed Exchange
    for the window, one node-keyed and one depth-sized groupBy after —
    all partial-aggregated."""
    w = _conv_window().rowsBetween(Window.unboundedPreceding, 0)
    turn_h = F.md5(F.concat_ws("|", "role", "text"))
    nodes = t.select(
        "conv_id",
        F.row_number().over(_conv_window()).alias("depth"),
        F.md5(F.array_join(F.collect_list(turn_h).over(w), "|")).alias("node"),
    )
    per_node = nodes.groupBy("depth", "node").agg(
        F.count("*").cast("bigint").alias("convs_through")
    )
    return (
        per_node.groupBy("depth")
        .agg(
            F.count("*").cast("bigint").alias("n_nodes"),
            F.sum("convs_through").cast("bigint").alias("n_convs"),
            F.sum(F.col("convs_through") - 1).cast("bigint").alias("cache_hits"),
            F.round(
                F.sum(F.col("convs_through") - 1) / F.sum("convs_through"), 6
            ).alias("shared_frac"),
        )
        .select("depth", "n_nodes", "n_convs", "cache_hits", "shared_frac")
    )


def self_consistency(answers: DataFrame) -> DataFrame:
    """Self-consistency vote per prompt group (Wang et al. 2022,
    arXiv:2203.11171): sample n rollouts, extract each one's final
    answer, keep the plurality answer. Returns the consensus answer
    (ties break to the lexicographically smallest answer —
    deterministic under any execution order), its vote count/fraction,
    and the vote-distribution entropy (nats) — the dispersion signal
    reward-free filtering pipelines threshold on. ``answers`` needs
    columns ``(prompt_group, answer)``, one row per rollout.

    Shape: two partial-aggregated groupBys — (group, answer) vote
    counts, then a group rollup in which the plurality pick is a single
    min(struct(-votes, answer)) so no per-answer window or self-join
    exists; entropy comes from sum(v*ln v) + the group total, never a
    second pass."""
    votes = answers.groupBy("prompt_group", "answer").agg(
        F.count("*").cast("bigint").alias("v")
    )
    g = votes.groupBy("prompt_group").agg(
        F.sum("v").cast("bigint").alias("n_rollouts"),
        F.count("*").cast("bigint").alias("n_answers"),
        F.min(F.struct((-F.col("v")).alias("neg_v"), "answer")).alias("top"),
        F.sum(F.col("v") * F.log("v")).alias("sum_vlnv"),
    )
    n = F.col("n_rollouts").cast("double")
    consensus = (-F.col("top.neg_v")).cast("bigint")
    return g.select(
        "prompt_group",
        "n_rollouts",
        "n_answers",
        F.col("top.answer").alias("consensus_answer"),
        consensus.alias("consensus_count"),
        F.round(consensus / n, 6).alias("consensus_frac"),
        F.round(F.log(n) - F.col("sum_vlnv") / n, 6).alias("vote_entropy"),
    )


def resolve_message_forest(messages: DataFrame, max_iters: int = 20) -> DataFrame:
    """(msg_id, root_id, depth): resolve every message of a branching
    message forest to its root conversation and depth. Regeneration /
    fork-capable chat stores persist conversations as TREES — each
    message carries ``(msg_id, parent_id)``, with ``parent_id`` NULL at
    roots — and every root-to-node path is a distinct linear thread, so
    this resolution is the first pass before any per-conversation
    extraction or rollout grouping can run over such a store.

    Pointer doubling: each message keeps an ancestor pointer and the
    distance to it; per round every unresolved pointer jumps to its
    ancestor's pointer (distances add), so a chain of depth d resolves
    in O(log d) rounds — ``max_iters=20`` covers depth ~1M, far beyond
    any real conversation tree. Per round the work is ONE self-equi-join
    of the frontier against the full state on the 8-byte pointer key
    plus a resolved/frontier split; no windows, no collect_list, so a
    hot root (a prompt forked into millions of branches) is join
    fan-out spread across tasks, never one task's materialized list.
    localCheckpoint per round truncates the otherwise exponentially
    self-referencing lineage (same driver-OOM failure mode the CC loop
    in dedup.py documents); the frontier count that drives convergence
    is the same action that materializes the checkpoint, so the loop
    adds no extra pass.

    Precondition: a CLOSED forest — every non-NULL ``parent_id`` exists
    in ``msg_id`` and there are no cycles. A store with dangling
    parents should quarantine them first (f5-style validation
    predicate: left-anti join children against msg_ids); a cycle would
    keep its members in the frontier until the loud non-convergence
    raise below, never silently mislabel them.
    """
    init = messages.select(
        F.col("msg_id").cast("bigint").alias("msg_id"),
        F.coalesce(F.col("parent_id").cast("bigint"), F.col("msg_id").cast("bigint")).alias("ptr"),
        F.when(F.col("parent_id").isNull(), F.lit(0)).otherwise(F.lit(1)).cast("bigint").alias("dist"),
        F.col("parent_id").isNull().alias("done"),
    )
    return _pointer_double(init, max_iters, "resolve_message_forest")


def _pointer_double(init: DataFrame, max_iters: int, op_name: str) -> DataFrame:
    """Shared doubling driver over state ``(msg_id, ptr, dist, done)``
    with the invariant: done rows have ptr = their root and dist =
    their depth; frontier rows have ptr = some proper ancestor at
    distance dist. Each round the frontier jumps to its ancestor's
    pointer (one hash self-equi-join), checkpointing and releasing the
    superseded round's blocks; see resolve_message_forest for the full
    scale rationale."""
    state = init.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        if state.filter("NOT done").limit(1).count() == 0:
            converged = True
            break
        anc = state.select(
            F.col("msg_id").alias("a_id"),
            F.col("ptr").alias("a_ptr"),
            F.col("dist").alias("a_dist"),
            F.col("done").alias("a_done"),
        )
        stepped = (
            state.filter("NOT done")
            .join(anc, F.col("ptr") == F.col("a_id"))
            .select(
                "msg_id",
                F.col("a_ptr").alias("ptr"),
                (F.col("dist") + F.col("a_dist")).alias("dist"),
                F.col("a_done").alias("done"),
            )
        )
        prev = state
        state = (
            state.filter("done").unionByName(stepped).localCheckpoint(eager=True)
        )
        # the new checkpoint materializes (eager) BEFORE the superseded
        # round's blocks release — same no-leak policy as the CC loop
        prev.unpersist()
    if not converged and state.filter("NOT done").limit(1).count() > 0:
        # an unresolved frontier here means a cycle or a parent chain
        # deeper than 2^max_iters; returning partial pointers would
        # attribute messages to a NON-root ancestor and silently merge
        # or split threads downstream — fail loudly instead
        state.unpersist()  # failing job must not leak executor storage
        raise RuntimeError(
            f"{op_name} did not converge in {max_iters} "
            "pointer-doubling rounds; the forest has a cycle or depth "
            f"beyond 2^{max_iters} (raise max_iters if the latter)"
        )
    return state.select(
        "msg_id",
        F.col("ptr").alias("root_id"),
        F.col("dist").cast("int").alias("depth"),
    )


def resolve_messages_incremental(
    batch: DataFrame, resolved: DataFrame, max_iters: int = 20
) -> DataFrame:
    """(msg_id, root_id, depth) for an ingest batch of new messages
    against an already-materialized resolution table — the continuous-
    ingestion twin of :func:`resolve_message_forest` (same pattern as
    turn_novelty_vs_corpus beside turn_novelty_mask): a chat store
    streams in regeneration branches all day, and re-resolving 10^12
    frozen messages per ingest would dwarf the batch itself.

    A batch message whose parent is already in ``resolved`` inherits
    ``(root, depth+1)`` from ONE hash join on the 8-byte parent key;
    batch roots resolve immediately; only parent chains WITHIN the
    batch need doubling rounds, so loop depth is bounded by the batch's
    own chain depth, never the corpus's. Cost per ingest: one join
    against the resolved table (bucket/partition it by msg_id and the
    join is co-located) + O(log batch-depth) batch-local rounds.

    Precondition: every batch parent is NULL, in ``resolved``, or in
    the batch itself — run :func:`validate_forest` over the union
    first on a store you don't control (a parent in neither set drops
    from the loop's join exactly like any orphan).
    """
    b = batch.select(
        F.col("msg_id").cast("bigint").alias("msg_id"),
        F.col("parent_id").cast("bigint").alias("parent_id"),
    )
    r = resolved.select(
        F.col("msg_id").cast("bigint").alias("pid"),
        F.col("root_id").cast("bigint").alias("p_root"),
        F.col("depth").cast("bigint").alias("p_depth"),
    )
    joined = b.join(r, b.parent_id == r.pid, "left")
    init = joined.select(
        "msg_id",
        F.when(F.col("parent_id").isNull(), F.col("msg_id"))
        .when(F.col("p_root").isNotNull(), F.col("p_root"))
        .otherwise(F.col("parent_id"))
        .alias("ptr"),
        F.when(F.col("parent_id").isNull(), F.lit(0))
        .when(F.col("p_root").isNotNull(), F.col("p_depth") + 1)
        .otherwise(F.lit(1))
        .cast("bigint")
        .alias("dist"),
        (F.col("parent_id").isNull() | F.col("p_root").isNotNull()).alias("done"),
    )
    out = _pointer_double(init, max_iters, "resolve_messages_incremental")
    # row-conservation guard: a batch parent in NEITHER the resolved
    # table nor the batch (stale/partial resolved table — the exact
    # failure mode of continuous ingestion) would silently vanish from
    # the doubling join; one cheap count on the checkpointed output makes
    # that loud. It is not a duplicate-id check: duplicates resolved at
    # init never enter the join and leave the count unchanged, so
    # validate_forest is what catches them.
    n_in, n_out = b.count(), out.count()
    if n_out != n_in:
        raise RuntimeError(
            f"resolve_messages_incremental emitted {n_out} rows for "
            f"{n_in} batch messages: parents missing from both the "
            "resolved table and the batch (stale resolution table?) — "
            "run validate_forest over the batch plus resolved keys first"
        )
    return out


def branch_stats(messages: DataFrame, resolved: DataFrame) -> DataFrame:
    """(root_id, n_msgs, n_leaves, max_depth): per conversation tree,
    its message count, leaf count (= number of distinct linear threads
    the tree linearizes into), and maximum depth — the fork-rate audit
    a regeneration-heavy store runs to budget thread explosion before
    linearizing (a tree with L leaves duplicates its shared prefix into
    L threads; prefix_cache_savings prices what dedup recovers).

    ``resolved`` is :func:`resolve_message_forest`'s output for the same
    ``messages``. Shape: leaf-ness is a left-anti join of messages
    against the distinct parent set (hash join on the 8-byte id; a hot
    root is a build-side dup, not a window), then one partial-aggregated
    groupBy(root_id)."""
    parents = (
        messages.filter(F.col("parent_id").isNotNull())
        .select(F.col("parent_id").cast("bigint").alias("msg_id"))
        .distinct()
    )
    leaves = resolved.join(parents, "msg_id", "left_anti").select(
        "msg_id", "root_id"
    )
    per_root_leaves = leaves.groupBy("root_id").agg(
        F.count("*").cast("bigint").alias("n_leaves")
    )
    return (
        resolved.groupBy("root_id")
        .agg(
            F.count("*").cast("bigint").alias("n_msgs"),
            F.max("depth").cast("int").alias("max_depth"),
        )
        .join(per_root_leaves, "root_id")
        .select("root_id", "n_msgs", "n_leaves", "max_depth")
    )


def linearize_threads(messages: DataFrame, max_iters: int = 20) -> DataFrame:
    """(thread_id, seq, msg_id): materialize every root-to-leaf path of
    a branching message forest as a linear thread — the transform that
    turns a fork-capable store's trees into the flat
    ``(conv_id, turn_idx)`` transcripts every downstream operator here
    consumes (thread_id = the leaf's msg_id; seq is root-first, i.e.
    the new turn_idx).

    Path doubling: the resolve loop's state additionally accumulates
    the id path from each node up to its current pointer; per round the
    frontier's path concatenates its ancestor's path segment, so full
    root paths materialize in the same O(log depth) rounds with the
    same one-hash-join-per-round shape. Only leaves' paths are emitted
    (reverse + posexplode), so output rows = total linearized turns —
    exactly what the caller is asking to create. Total loop state is
    O(n * depth) 8-byte ids (each node's ancestor chain) — at 10^12
    messages the ids are still ~1% of the text bytes the linearized
    threads themselves will carry, and a depth cap (max_iters) bounds
    it. Shared-prefix duplication across sibling threads is inherent to
    linearization — prefix_cache_savings / turn_novelty_mask price and
    mask it downstream.

    Same closed-forest precondition and loud non-convergence raise as
    :func:`resolve_message_forest`.
    """
    init = messages.select(
        F.col("msg_id").cast("bigint").alias("msg_id"),
        F.coalesce(
            F.col("parent_id").cast("bigint"), F.col("msg_id").cast("bigint")
        ).alias("ptr"),
        F.col("parent_id").isNull().alias("done"),
        F.array(F.col("msg_id").cast("bigint")).alias("path"),
    )
    state = init.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iters):
        if state.filter("NOT done").limit(1).count() == 0:
            converged = True
            break
        anc = state.select(
            F.col("msg_id").alias("a_id"),
            F.col("ptr").alias("a_ptr"),
            F.col("done").alias("a_done"),
            F.col("path").alias("a_path"),
        )
        stepped = (
            state.filter("NOT done")
            .join(anc, F.col("ptr") == F.col("a_id"))
            .select(
                "msg_id",
                F.col("a_ptr").alias("ptr"),
                F.col("a_done").alias("done"),
                F.concat("path", "a_path").alias("path"),
            )
        )
        prev = state
        state = (
            state.filter("done").unionByName(stepped).localCheckpoint(eager=True)
        )
        # eager checkpoint materializes before the superseded O(n*depth)
        # path state releases — the leak here would be depth x full state
        prev.unpersist()
    if not converged and state.filter("NOT done").limit(1).count() > 0:
        state.unpersist()  # failing job must not leak executor storage
        raise RuntimeError(
            f"linearize_threads did not converge in {max_iters} "
            "pointer-doubling rounds; the forest has a cycle or depth "
            f"beyond 2^{max_iters} (raise max_iters if the latter)"
        )
    parents = (
        messages.filter(F.col("parent_id").isNotNull())
        .select(F.col("parent_id").cast("bigint").alias("msg_id"))
        .distinct()
    )
    leaf_paths = state.join(parents, "msg_id", "left_anti").select(
        F.col("msg_id").alias("thread_id"), F.reverse("path").alias("path")
    )
    return leaf_paths.select(
        "thread_id", F.posexplode("path").alias("seq", "msg_id")
    ).select("thread_id", F.col("seq").cast("int").alias("seq"), "msg_id")


def validate_forest(messages: DataFrame) -> DataFrame:
    """(msg_id, issue): the quarantine pre-check
    :func:`resolve_message_forest`'s closed-forest precondition calls
    for — run it first on any store you don't control and route flagged
    rows to a side output (same pattern as the malformed-record side
    outputs in sources.py). Issues:

    - ``dup_msg_id``: the id appears on more than one message (an
      upsert bug upstream; resolution would fan out spuriously),
    - ``self_parent``: parent_id == msg_id (a 1-cycle; would loop),
    - ``cycle_parent``: a reciprocal parent pair (a 2-cycle — two
      regeneration records pointing at each other),
    - ``orphan_parent``: parent_id references no known message (the
      doubling join would silently DROP the chain hanging off it).

    Scope: cycles of length >= 3 are NOT detectable by bounded local
    checks — they are caught by the resolver itself, whose loud
    non-convergence raise refuses to emit labels rather than silently
    mislabeling; this gate handles the issue classes where per-row
    quarantine beats failing the whole job.

    Shape: four id-keyed checks — one partial-aggregated groupBy for
    dups, a row-local predicate for self-parents, one hash self-join on
    the (child, parent) edge for 2-cycles, a left-anti hash join
    against the distinct id set for orphans — unioned; only 8-byte ids
    and issue tags move."""
    ids = messages.select(F.col("msg_id").cast("bigint").alias("msg_id"))
    dups = (
        ids.groupBy("msg_id")
        .agg(F.count("*").alias("n"))
        .filter("n > 1")
        .select("msg_id", F.lit("dup_msg_id").alias("issue"))
    )
    self_p = (
        messages.filter(F.col("parent_id") == F.col("msg_id"))
        .select(F.col("msg_id").cast("bigint").alias("msg_id"))
        .distinct()
        .select("msg_id", F.lit("self_parent").alias("issue"))
    )
    links = messages.filter(F.col("parent_id").isNotNull()).select(
        F.col("msg_id").cast("bigint").alias("m"),
        F.col("parent_id").cast("bigint").alias("p"),
    )
    rev = links.select(F.col("m").alias("m2"), F.col("p").alias("p2"))
    two_cycles = (
        links.join(
            rev,
            (F.col("p") == F.col("m2"))
            & (F.col("p2") == F.col("m"))
            & (F.col("m") != F.col("p")),
        )
        .select(F.col("m").alias("msg_id"), F.lit("cycle_parent").alias("issue"))
        .distinct()
    )
    orphans = (
        links.withColumnRenamed("m", "msg_id")
        .withColumnRenamed("p", "pid")
        .join(ids.distinct().withColumnRenamed("msg_id", "pid"), "pid", "left_anti")
        .select("msg_id", F.lit("orphan_parent").alias("issue"))
        .distinct()
    )
    return (
        dups.unionByName(self_p).unionByName(two_cycles).unionByName(orphans)
    )
