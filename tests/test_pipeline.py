"""Pipeline-level behaviors: distributed generation parity, resumable
snapshot runs, and skew handling evidence."""

import pytest

from ocr_spark import fixtures
from ocr_spark.operators.extract import extract
from ocr_spark.pipeline import read_snapshots, run_resumable


def test_distributed_generator_matches_driver_side(spark):
    """transcripts_df (executor expansion) == generate_transcripts (driver)."""
    want = fixtures.generate_transcripts(25)
    got = fixtures.transcripts_df(spark, 25).collect()
    want_map = {(r[0], r[1]): r for r in want}
    assert len(got) == len(want)
    for r in got:
        w = want_map[(r["conv_id"], r["turn_idx"])]
        assert (r["role"], r["text"], r["tool"]) == (w[2], w[3], w[4])
        assert r["ts"].replace(tzinfo=None) == w[5].replace(tzinfo=None)


def test_resume_equals_single_run(spark, tmp_path):
    """run(first half) -> run(full) == run(full) once; second full run is a no-op."""
    full = spark.createDataFrame(
        fixtures.generate_transcripts(12), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    half = full.filter("turn_idx % 2 = 0")

    resumed_root = str(tmp_path / "resumed")
    run_resumable(spark, half, resumed_root)  # simulated partial progress
    resumed = run_resumable(spark, full, resumed_root)

    single_root = str(tmp_path / "single")
    single = run_resumable(spark, full, single_root)

    cols = ["conv_id", "turn_idx", "kind", "extracted_text", "parse_ok"]
    a = sorted(map(tuple, resumed.select(cols).collect()))
    b = sorted(map(tuple, single.select(cols).collect()))
    assert a == b

    # idempotent: a third run adds nothing
    again = run_resumable(spark, full, resumed_root)
    assert again.count() == full.count()


def test_uncommitted_snapshot_invisible(spark, tmp_path):
    root = tmp_path / "store"
    full = spark.createDataFrame(
        fixtures.generate_transcripts(3), fixtures.TRANSCRIPT_COLUMNS
    )
    run_resumable(spark, full, str(root))
    # fake a crashed run: parquet written but no _COMMITTED marker
    crashed = root / "snapshot=1"
    extract(full.limit(5)).write.mode("overwrite").parquet(str(crashed))
    visible = read_snapshots(spark, str(root))
    assert visible.count() == full.count()  # crashed snapshot ignored


def test_incremental_runs_after_compaction_never_collide(spark, tmp_path):
    """Indices are allocate-only: repeated incremental runs after a
    compaction (which makes indices sparse) must neither overwrite a
    directory being read nor duplicate rows. Empty catch-up reruns are
    no-ops that add no snapshot dirs."""
    import os

    from ocr_spark.pipeline import compact_snapshots

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 10).cache()
    third = full.filter("turn_idx % 3 = 0")
    two_thirds = full.filter("turn_idx % 3 <= 1")
    run_resumable(spark, third, root)
    run_resumable(spark, two_thirds, root)
    assert compact_snapshots(spark, root) == 2
    n_dirs_after_compact = len(
        [n for n in os.listdir(root) if n.startswith("snapshot=")]
    )
    # several catch-up reruns: all no-ops, no new dirs, no errors
    for _ in range(3):
        out = run_resumable(spark, two_thirds, root)
        assert out.count() == two_thirds.count()
    assert (
        len([n for n in os.listdir(root) if n.startswith("snapshot=")])
        == n_dirs_after_compact
    )
    # genuinely new data still lands in a fresh snapshot
    final = run_resumable(spark, full, root)
    assert final.count() == full.count()
    assert final.select("conv_id", "turn_idx").distinct().count() == full.count()


def test_compaction_crash_before_commit_leaves_table_intact(spark, tmp_path):
    """Simulated crash between data publish and marker write: the new dir
    exists with a _SUPERSEDES list but no _COMMITTED marker — readers must
    still see the old snapshots exactly once; vacuum removes the debris."""
    import os

    from ocr_spark.pipeline import vacuum_uncommitted

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 8)
    half = full.filter("turn_idx % 2 = 0")
    run_resumable(spark, half, root)
    run_resumable(spark, full, root)
    before = read_snapshots(spark, root).orderBy("conv_id", "turn_idx").collect()
    # fake the crash: compacted data + supersede list, NO marker
    crash_dir = os.path.join(root, "snapshot=7")
    read_snapshots(spark, root).write.parquet(crash_dir)
    with open(os.path.join(crash_dir, "_SUPERSEDES"), "w") as fh:
        fh.write("snapshot=0\nsnapshot=1\n")
    after = read_snapshots(spark, root).orderBy("conv_id", "turn_idx").collect()
    assert after == before  # old table fully visible, nothing doubled
    removed = vacuum_uncommitted(root)
    assert any(p.endswith("snapshot=7") for p in removed)
    assert read_snapshots(spark, root).count() == len(before)


def test_compaction_crash_after_commit_shows_no_duplicates(spark, tmp_path):
    """Simulated crash right after the marker write (old dirs not yet
    deleted): readers must see only the compacted snapshot; vacuum
    removes the tombstoned old dirs."""
    import os
    import shutil

    from ocr_spark.pipeline import _MARKER, _SUPERSEDES, vacuum_uncommitted

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 8)
    half = full.filter("turn_idx % 2 = 0")
    run_resumable(spark, half, root)
    run_resumable(spark, full, root)
    before = read_snapshots(spark, root).orderBy("conv_id", "turn_idx").collect()
    # committed compacted snapshot, old dirs still on disk
    new_dir = os.path.join(root, "snapshot=2")
    read_snapshots(spark, root).write.parquet(new_dir)
    with open(os.path.join(new_dir, _SUPERSEDES), "w") as fh:
        fh.write("snapshot=0\nsnapshot=1\n")
    with open(os.path.join(new_dir, _MARKER), "w") as fh:
        fh.write("ok\n")
    after = read_snapshots(spark, root).orderBy("conv_id", "turn_idx").collect()
    assert after == before  # exactly once, not doubled
    removed = vacuum_uncommitted(root)
    assert {os.path.basename(p) for p in removed} >= {"snapshot=0", "snapshot=1"}
    assert read_snapshots(spark, root).count() == len(before)
    shutil.rmtree(root)


def test_expire_snapshots_retention_and_crash_safety(spark, tmp_path):
    """Count-based retention (≙ reference result TTL): only the newest
    keep_last snapshots stay; expired turns re-extract on resume. A crash
    mid-expiry (marker gone, dir present) stays invisible and vacuums."""
    import os

    from ocr_spark.pipeline import _MARKER, expire_snapshots, vacuum_uncommitted

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 9).cache()
    run_resumable(spark, full.filter("turn_idx % 3 = 0"), root)
    run_resumable(spark, full.filter("turn_idx % 3 <= 1"), root)
    run_resumable(spark, full, root)
    removed = expire_snapshots(root, keep_last=1)
    assert {os.path.basename(p) for p in removed} == {"snapshot=0", "snapshot=1"}
    kept = read_snapshots(spark, root)
    assert kept.count() == full.filter("turn_idx % 3 = 2").count()
    # resume re-extracts the expired turns
    assert run_resumable(spark, full, root).count() == full.count()
    # crash-mid-expiry: marker removed but data not yet deleted
    victim = next(
        p
        for p in sorted(os.listdir(root))
        if p.startswith("snapshot=")
        and os.path.exists(os.path.join(root, p, _MARKER))
    )
    os.remove(os.path.join(root, victim, _MARKER))
    survivors = read_snapshots(spark, root)
    n_surv = survivors.count() if survivors is not None else 0
    assert n_surv < full.count()  # half-expired dir invisible, not half-read
    assert any(p.endswith(victim) for p in vacuum_uncommitted(root))


def test_expire_snapshots_by_age(spark, tmp_path):
    """Age-based retention (max_age_s ≙ the reference's 3600 s result
    TTL): snapshots whose commit marker is older than the horizon go,
    newer ones stay, and keep_last composes as an OR. Ages are set by
    backdating marker mtimes (commit time IS the marker's mtime)."""
    import os
    import time

    from ocr_spark.pipeline import _MARKER, expire_snapshots

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 9).cache()
    run_resumable(spark, full.filter("turn_idx % 3 = 0"), root)
    run_resumable(spark, full.filter("turn_idx % 3 <= 1"), root)
    run_resumable(spark, full, root)

    # backdate snapshot=0 (2h) and snapshot=1 (90min); snapshot=2 is fresh
    for name, age in (("snapshot=0", 7200), ("snapshot=1", 5400)):
        marker = os.path.join(root, name, _MARKER)
        os.utime(marker, (time.time() - age, time.time() - age))

    # keep_last=0 -> pure TTL: only the two old ones expire
    removed = expire_snapshots(root, keep_last=0, max_age_s=3600)
    assert {os.path.basename(p) for p in removed} == {"snapshot=0", "snapshot=1"}
    kept = read_snapshots(spark, root)
    assert kept.count() == full.filter("turn_idx % 3 = 2").count()

    # expired turns re-extract on resume; vacuum finds nothing half-done
    assert run_resumable(spark, full, root).count() == full.count()
    from ocr_spark.pipeline import vacuum_uncommitted

    assert vacuum_uncommitted(root) == []

    # OR-composition: a fresh marker but keep_last=1 still trims history —
    # snapshot=2 (35 old turns) goes, snapshot=3 (the 82 re-extracted) stays
    removed2 = expire_snapshots(root, keep_last=1, max_age_s=3600)
    assert {os.path.basename(p) for p in removed2} == {"snapshot=2"}
    assert read_snapshots(spark, root).count() == full.filter("turn_idx % 3 <= 1").count()


def test_compaction_preserves_table_and_resume(spark, tmp_path):
    from ocr_spark.pipeline import compact_snapshots, vacuum_uncommitted

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 12)
    half = full.filter("turn_idx % 2 = 0")
    run_resumable(spark, half, root)
    run_resumable(spark, full, root)
    before = read_snapshots(spark, root).orderBy("conv_id", "turn_idx").collect()
    assert compact_snapshots(spark, root) == 2
    import os

    snaps = [n for n in os.listdir(root) if n.startswith("snapshot=")]
    assert snaps == ["snapshot=2"]
    after = read_snapshots(spark, root).orderBy("conv_id", "turn_idx").collect()
    assert after == before
    # resume over the compacted table is still a no-op
    n_before = len(after)
    run_resumable(spark, full, root)
    assert read_snapshots(spark, root).count() == n_before
    # crashed-run leftovers are vacuumable and invisible either way
    os.makedirs(os.path.join(root, "snapshot=99"))
    removed = vacuum_uncommitted(root)
    assert any(p.endswith("snapshot=99") for p in removed)


def test_turn_gap_stats_matches_pure_python(spark):
    """Grouped-map applyInPandas timing stats equal an independent
    pure-python computation (pandas-free: manual sort, diff, and
    linear-interpolated quantiles — the same definition pandas uses)."""
    from ocr_spark.operators.aggregate import conv_turn_gap_stats

    t = fixtures.transcripts_df(spark, 25)
    got = {
        r["conv_id"]: (r["n_turns"], r["median_gap_s"], r["p95_gap_s"], r["max_gap_s"])
        for r in conv_turn_gap_stats(t).collect()
    }

    rows = t.select("conv_id", "turn_idx", "ts").collect()
    convs: dict = {}
    for r in rows:
        convs.setdefault(r["conv_id"], []).append((r["turn_idx"], r["ts"]))

    def quantile(sorted_vals, q):
        # pandas' default 'linear' interpolation
        if len(sorted_vals) == 1:
            return sorted_vals[0]
        pos = q * (len(sorted_vals) - 1)
        lo = int(pos)
        frac = pos - lo
        hi = min(lo + 1, len(sorted_vals) - 1)
        return sorted_vals[lo] + (sorted_vals[hi] - sorted_vals[lo]) * frac

    assert set(got) == set(convs)
    for conv_id, turns in convs.items():
        turns.sort()
        gaps = sorted(
            (b[1] - a[1]).total_seconds() for a, b in zip(turns, turns[1:])
        )
        if gaps:
            want = (
                len(turns),
                round(quantile(gaps, 0.5), 3),
                round(quantile(gaps, 0.95), 3),
                round(max(gaps), 3),
            )
        else:
            want = (len(turns), 0.0, 0.0, 0.0)
        assert got[conv_id] == want, conv_id


def test_observed_extraction_zero_pass_metrics(spark, tmp_path):
    """Observation-API metrics come for free with the write action (no
    second scan) and reconcile exactly with the data written."""
    from ocr_spark.pipeline import _observed

    t = fixtures.transcripts_df(spark, 12)
    extracted, obs = _observed(extract(t))
    out = str(tmp_path / "snap")
    extracted.write.parquet(out)  # the ONLY action

    got = obs.get
    committed = spark.read.parquet(out)
    n = committed.count()
    assert got["turns_in"] == n
    assert got["turns_out"] == committed.filter("parse_ok").count()
    assert got["parse_failures"] == n - got["turns_out"]
    assert got["bytes_in"] == committed.groupBy().sum("bytes_in").collect()[0][0]


def _totals_of(df):
    """The snapshot totals, recomputed by a group-by over ``df``'s rows."""
    r = df.selectExpr(
        "count(*) AS turns_in",
        "count_if(parse_ok) AS turns_out",
        "sum(bytes_in) AS bytes_in",
        "sum(length(extracted_text)) AS bytes_out",
        "count_if(NOT parse_ok) AS parse_failures",
    ).first()
    return r.asDict()


def _metric_sums(metrics):
    cols = ("turns_in", "turns_out", "bytes_in", "bytes_out", "parse_failures")
    r = metrics.groupBy().sum(*cols).first()
    return {c: r[f"sum({c})"] for c in cols}


def test_compaction_totals_count_only_kept_rows(spark, tmp_path):
    """Compaction applies deletes physically, and the compacted
    snapshot's totals must describe the rows it kept — not carry totals
    for turns the rewrite deleted."""
    from ocr_spark.pipeline import compact_snapshots, delete_turns, read_metrics

    full = fixtures.transcripts_df(spark, 8).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx % 2 = 0"), root)
    run_resumable(spark, full, root)
    delete_turns(spark, root, full.filter("turn_idx < 2"))
    assert compact_snapshots(spark, root) == 3

    committed = read_snapshots(spark, root)
    metrics = read_metrics(spark, root)
    assert _metric_sums(metrics)["turns_in"] == committed.count()
    assert _metric_sums(metrics) == _totals_of(committed)
    assert metrics.count() == 1


def test_old_store_reads_and_gains_totals_at_compaction(spark, tmp_path):
    """A store written before snapshots held their own totals: its data
    reads unchanged, it reports no totals, and one compaction writes
    totals equal to a group-by over the committed rows."""
    import os

    from ocr_spark.operators.aggregate import partition_metrics
    from ocr_spark.pipeline import compact_snapshots, read_metrics, snapshots_df

    root = str(tmp_path / "store")
    snap = os.path.join(root, "snapshot=0")
    old = extract(fixtures.transcripts_df(spark, 6))
    old.write.parquet(snap)
    partition_metrics(spark.read.parquet(snap), run_id="old").write.parquet(
        os.path.join(root, "metrics", "snapshot=0")
    )
    with open(os.path.join(snap, "_COMMITTED"), "w") as fh:
        fh.write("ok\n")

    n = spark.read.parquet(snap).count()
    assert read_snapshots(spark, root).count() == n
    assert read_metrics(spark, root) is None
    assert not snapshots_df(spark, root).first()["has_metrics"]

    assert compact_snapshots(spark, root) == 1
    committed = read_snapshots(spark, root)
    assert committed.count() == n
    assert _metric_sums(read_metrics(spark, root)) == _totals_of(committed)
    assert snapshots_df(spark, root).first()["has_metrics"]


def test_snapshots_metadata_table(spark, tmp_path):
    """snapshots_df mirrors the committed state: one row per committed
    snapshot with commit time, size, and metrics linkage; uncommitted
    dirs invisible; expiry reflected."""
    from ocr_spark.pipeline import expire_snapshots, snapshots_df

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 6).cache()
    run_resumable(spark, full.filter("turn_idx % 2 = 0"), root)
    run_resumable(spark, full, root)

    meta = {r["snapshot"]: r for r in snapshots_df(spark, root).collect()}
    assert set(meta) == {"snapshot=0", "snapshot=1"}
    assert all(r["n_files"] > 0 and r["n_bytes"] > 0 for r in meta.values())
    assert all(r["has_metrics"] for r in meta.values())
    assert meta["snapshot=0"]["committed_at"] <= meta["snapshot=1"]["committed_at"]

    # a crashed (uncommitted) dir never appears
    extract(full.limit(3)).write.parquet(root + "/snapshot=9")
    assert {r["snapshot"] for r in snapshots_df(spark, root).collect()} == set(meta)

    expire_snapshots(root, keep_last=1)
    assert [r["snapshot"] for r in snapshots_df(spark, root).collect()] == [
        "snapshot=1"
    ]


def test_expire_keep_last_exceeding_count_removes_nothing(spark, tmp_path):
    """keep_last larger than the snapshot count must expire nothing (a
    negative slice once deleted the oldest snapshots here)."""
    from ocr_spark.pipeline import expire_snapshots

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 4).cache()
    run_resumable(spark, full.filter("turn_idx % 2 = 0"), root)
    run_resumable(spark, full, root)
    assert expire_snapshots(root, keep_last=5) == []
    assert read_snapshots(spark, root).count() == full.count()


def test_concurrent_writers_never_duplicate_rows(spark, tmp_path):
    """Optimistic commit: writer A stages, writer B commits overlapping
    rows in between, A must detect the state change, discard its staged
    snapshot, and re-plan — the final table holds each (conv_id,
    turn_idx) exactly once and covers both inputs."""
    full = spark.createDataFrame(
        fixtures.generate_transcripts(10), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    evens = full.filter("turn_idx % 2 = 0")
    root = str(tmp_path / "store")

    raced = {"n": 0}

    def compete():
        # writer B: commits the even turns while A is between staging
        # and publishing its own (overlapping) full-input snapshot
        if raced["n"] == 0:
            raced["n"] += 1
            run_resumable(spark, evens, root)

    out = run_resumable(spark, full, root, _race_hook=compete)
    assert raced["n"] == 1  # the race actually happened
    rows = out.select("conv_id", "turn_idx").collect()
    keys = [(r[0], r[1]) for r in rows]
    assert len(keys) == len(set(keys)) == full.count()
    # and the retry left no invisible garbage that vacuum would report
    from ocr_spark.pipeline import vacuum_uncommitted

    assert vacuum_uncommitted(root) == []


def test_commit_race_exhaustion_raises(spark, tmp_path):
    """A writer that loses every commit attempt raises instead of
    publishing against a stale table state."""
    full = spark.createDataFrame(
        fixtures.generate_transcripts(4), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx = 0"), root)

    step = {"n": 0}

    def always_compete():
        # each attempt, commit one more turn_idx so the observed state
        # always moves between A's planning and publish
        step["n"] += 1
        run_resumable(spark, full.filter(f"turn_idx <= {step['n']}"), root)

    with pytest.raises(RuntimeError, match="commit race"):
        run_resumable(
            spark, full, root, max_commit_retries=1, _race_hook=always_compete
        )


def test_schema_evolution_add_column_reads_as_null(spark, tmp_path):
    """Parquet-native schema evolution: a snapshot written with an extra
    column coexists with older snapshots — readers see the union schema
    with NULL for snapshots that predate the column."""
    import os

    from pyspark.sql import functions as F

    from ocr_spark.pipeline import _MARKER, _next_snapshot_idx

    full = spark.createDataFrame(
        fixtures.generate_transcripts(6), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    v1 = run_resumable(spark, full, root)
    assert "quality" not in v1.columns

    # a later pipeline version adds a per-turn quality column
    snap_dir = os.path.join(root, f"snapshot={_next_snapshot_idx(root)}")
    evolved = v1.limit(0).withColumn("quality", F.lit(0.5)).withColumn(
        "conv_id", F.lit("convEVOLVED")
    )
    evolved = spark.createDataFrame(
        [("convEVOLVED", 0, "text", "evolved", [], [], [], True, None, 7, 0.9)],
        evolved.schema,
    )
    evolved.write.mode("overwrite").parquet(snap_dir)
    with open(os.path.join(snap_dir, _MARKER), "w") as fh:
        fh.write("ok\n")

    merged = read_snapshots(spark, root)
    assert "quality" in merged.columns
    got = {r["conv_id"]: r["quality"] for r in
           merged.select("conv_id", "quality").distinct().collect()}
    assert got["convEVOLVED"] == 0.9
    assert all(v is None for k, v in got.items() if k != "convEVOLVED")


def test_snapshot_time_travel_as_of(spark, tmp_path):
    """read_snapshots(as_of=N) reproduces the table exactly as it stood
    after snapshot N committed: later appends excluded, and a LATER
    compaction's tombstones ignored for earlier as-of points (until
    cleanup physically removes history — the retention-bounded window)."""
    full = spark.createDataFrame(
        fixtures.generate_transcripts(9), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    third = full.filter("turn_idx % 3 = 0")
    two_thirds = full.filter("turn_idx % 3 <= 1")
    root = str(tmp_path / "store")

    run_resumable(spark, third, root)        # snapshot=0
    run_resumable(spark, two_thirds, root)   # snapshot=1
    run_resumable(spark, full, root)         # snapshot=2

    n_third = third.count()
    n_two_thirds = two_thirds.count()
    n_full = full.count()
    assert read_snapshots(spark, root, as_of=0).count() == n_third
    assert read_snapshots(spark, root, as_of=1).count() == n_two_thirds
    assert read_snapshots(spark, root, as_of=2).count() == n_full
    # as_of beyond the newest snapshot = latest state
    assert read_snapshots(spark, root, as_of=99).count() == n_full
    # the as-of view is the exact historical key set, not a prefix of files
    keys0 = {
        (r["conv_id"], r["turn_idx"])
        for r in read_snapshots(spark, root, as_of=0)
        .select("conv_id", "turn_idx").collect()
    }
    assert keys0 == {
        (r["conv_id"], r["turn_idx"])
        for r in third.select("conv_id", "turn_idx").collect()
    }

    # compaction rewrites history into one snapshot (idx=3) and removes
    # the old dirs: latest reads stay intact; pre-compaction as-of points
    # are gone (retention boundary), and the compacted index time-travels
    from ocr_spark.pipeline import compact_snapshots

    assert compact_snapshots(spark, root) == 3
    assert read_snapshots(spark, root).count() == n_full
    assert read_snapshots(spark, root, as_of=3).count() == n_full
    assert read_snapshots(spark, root, as_of=0) is None


def test_diff_snapshots_cdc_actions(spark, tmp_path):
    """diff_snapshots(a, b) emits exactly the added keys between two
    committed versions (append-only store: b > a adds turns), the
    reverse direction reports them removed, and identical versions
    diff to empty — the changelog read an incremental consumer needs."""
    from ocr_spark.pipeline import diff_snapshots

    full = spark.createDataFrame(
        fixtures.generate_transcripts(8), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    half = full.filter("turn_idx % 2 = 0")
    root = str(tmp_path / "store")
    run_resumable(spark, half, root)   # snapshot=0
    run_resumable(spark, full, root)   # snapshot=1

    fwd = diff_snapshots(spark, root, 0, 1)
    actions = {r["action"] for r in fwd.select("action").distinct().collect()}
    assert actions == {"added"}
    added = {
        (r["conv_id"], r["turn_idx"])
        for r in fwd.select("conv_id", "turn_idx").collect()
    }
    expected = {
        (r["conv_id"], r["turn_idx"])
        for r in full.filter("turn_idx % 2 = 1")
        .select("conv_id", "turn_idx").collect()
    }
    assert added == expected

    rev = diff_snapshots(spark, root, 1, 0)
    assert {r["action"] for r in rev.select("action").distinct().collect()} == {
        "removed"
    }
    assert rev.count() == len(expected)
    assert diff_snapshots(spark, root, 1, 1).count() == 0


def test_equality_deletes_merge_on_read_and_compaction(spark, tmp_path):
    """Iceberg-v2-style equality deletes: a committed delete snapshot
    hides matching keys from earlier data without rewriting it; as-of
    reads BEFORE the delete still see them; a later re-append
    resurrects the key (sequence-number semantics); compaction applies
    deletes physically and drops the delete snapshot."""
    from ocr_spark.pipeline import (
        compact_snapshots,
        delete_turns,
        read_snapshots,
        snapshots_df,
    )

    full = spark.createDataFrame(
        fixtures.generate_transcripts(6), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full, root)  # snapshot=0
    n_total = read_snapshots(spark, root).count()

    victims = (
        read_snapshots(spark, root)
        .filter("turn_idx = 0")
        .select("conv_id", "turn_idx")
    )
    n_victims = victims.count()
    del_idx = delete_turns(spark, root, victims)  # snapshot=1 (keys only)

    after = read_snapshots(spark, root)
    assert after.count() == n_total - n_victims
    assert after.filter("turn_idx = 0").count() == 0
    # time travel to before the delete still sees every row
    assert read_snapshots(spark, root, as_of=del_idx - 1).count() == n_total
    # store introspection labels the delete snapshot
    kinds = {r["snapshot"]: r["is_deletes"] for r in snapshots_df(spark, root).collect()}
    assert kinds == {"snapshot=0": False, "snapshot=1": True}

    # re-appending one deleted conversation resurrects it (point-in-time
    # deletion): the resumable run's anti-join plans against the
    # deletes-applied view, so the turns count as missing and re-extract
    from pyspark.sql import functions as F

    one_conv = full.filter(
        (F.col("conv_id") == full.first()["conv_id"]) & (F.col("turn_idx") == 0)
    )
    run_resumable(spark, one_conv, root)  # snapshot=2
    resurrected = read_snapshots(spark, root)
    assert resurrected.count() == n_total - n_victims + 1
    assert resurrected.filter("turn_idx = 0").count() == 1

    # compaction rewrites deletes-applied and supersedes the delete dir
    assert compact_snapshots(spark, root) == 3
    compacted = read_snapshots(spark, root)
    assert compacted.count() == n_total - n_victims + 1
    inv = snapshots_df(spark, root).collect()
    assert len(inv) == 1 and not inv[0]["is_deletes"]


def test_snapshot_tags_pin_read_points(spark, tmp_path):
    """Named refs (Iceberg tags): a tag pins a by-name read point that
    stays stable while ingestion appends; re-tagging moves it; unknown
    tags raise instead of silently reading head."""
    from ocr_spark.pipeline import list_tags, tag_snapshot

    full = spark.createDataFrame(
        fixtures.generate_transcripts(6), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    half = full.filter("turn_idx % 2 = 0")
    root = str(tmp_path / "store")
    run_resumable(spark, half, root)  # snapshot=0
    n_half = read_snapshots(spark, root).count()
    assert tag_snapshot(root, "v1-training-run") == 0

    run_resumable(spark, full, root)  # snapshot=1 appends the rest
    n_full = read_snapshots(spark, root).count()
    assert n_full > n_half
    # the tag still reads the pinned version, by name
    assert read_snapshots(spark, root, tag="v1-training-run").count() == n_half
    # re-tag to head (default idx): moves the ref
    assert tag_snapshot(root, "v1-training-run") == 1
    assert read_snapshots(spark, root, tag="v1-training-run").count() == n_full
    assert list_tags(root) == {"v1-training-run": 1}

    import pytest as _pytest

    with _pytest.raises(KeyError):
        read_snapshots(spark, root, tag="nope")
    with _pytest.raises(ValueError):
        read_snapshots(spark, root, as_of=0, tag="v1-training-run")


def test_delete_racing_append_forces_replan(spark, tmp_path):
    """A delete committing between an appender's planning and publish is
    a table-state change: the optimistic commit must detect it and
    re-plan. The re-planned append then re-adds any deleted keys still
    present in ITS input (the append is the LATER snapshot — point-in-
    time delete semantics), so the final state is exactly the appended
    input with no duplicates."""
    from ocr_spark.pipeline import delete_turns

    full = spark.createDataFrame(
        fixtures.generate_transcripts(5), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx = 0"), root)  # snapshot=0
    first_keys = (
        read_snapshots(spark, root).select("conv_id", "turn_idx").cache()
    )
    n_first = first_keys.count()

    raced = {"done": False}

    def compete():
        if not raced["done"]:
            raced["done"] = True
            delete_turns(spark, root, first_keys)

    out = run_resumable(spark, full, root, _race_hook=compete)
    n_total = full.count()
    # the appender lost round 1 (delete changed the committed set),
    # re-planned against the deletes-applied view, and re-added the
    # deleted keys along with the rest — exactly-once over its input
    assert raced["done"]
    assert out.count() == n_total
    assert out.select("conv_id", "turn_idx").distinct().count() == n_total
    assert out.filter("turn_idx = 0").count() == n_first


def test_compaction_commit_race_preserves_deletes(spark, tmp_path):
    """A delete_turns snapshot committing between compaction's path
    listing and its marker write must NOT be lost: without commit-time
    validation, the compacted rows land at an index HIGHER than the
    delete's, so the merge-on-read ``_del_idx < _row_snap`` filter would
    permanently resurrect the deleted keys. The compactor must detect
    the state change under the commit lock, discard its staged rewrite,
    and re-plan — folding the delete in physically."""
    from ocr_spark.pipeline import compact_snapshots, delete_turns

    full = spark.createDataFrame(
        fixtures.generate_transcripts(6), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx % 2 = 0"), root)  # snapshot=0
    run_resumable(spark, full, root)  # snapshot=1
    n_total = full.count()
    victims = (
        read_snapshots(spark, root)
        .filter("turn_idx = 0")
        .select("conv_id", "turn_idx")
        .cache()
    )
    n_victims = victims.count()
    assert n_victims > 0

    raced = {"done": False}

    def compete():
        if not raced["done"]:
            raced["done"] = True
            delete_turns(spark, root, victims)

    compacted = compact_snapshots(spark, root, _race_hook=compete)
    assert raced["done"]  # the race actually happened
    # the retry's plan saw 3 committed snapshots (2 data + the delete)
    assert compacted == 3
    after = read_snapshots(spark, root)
    assert after.filter("turn_idx = 0").count() == 0
    assert after.count() == n_total - n_victims
    # deletes were applied physically: one data snapshot remains
    from ocr_spark.pipeline import snapshots_df

    inv = snapshots_df(spark, root).collect()
    assert len(inv) == 1 and not inv[0]["is_deletes"]
    from ocr_spark.pipeline import vacuum_uncommitted

    assert vacuum_uncommitted(root) == []


def test_compaction_race_exhaustion_skips_safely(spark, tmp_path):
    """A compactor that loses every commit attempt returns 0 (skip —
    next maintenance run retries) and leaves the table exactly as the
    racing writers built it, with no staged garbage."""
    from ocr_spark.pipeline import compact_snapshots, vacuum_uncommitted

    full = spark.createDataFrame(
        fixtures.generate_transcripts(6), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx = 0"), root)
    run_resumable(spark, full.filter("turn_idx <= 1"), root)

    step = {"n": 1}

    def always_compete():
        step["n"] += 1
        run_resumable(spark, full.filter(f"turn_idx <= {step['n']}"), root)

    assert (
        compact_snapshots(
            spark, root, max_commit_retries=1, _race_hook=always_compete
        )
        == 0
    )
    assert vacuum_uncommitted(root) == []
    out = read_snapshots(spark, root)
    n_expected = full.filter(f"turn_idx <= {step['n']}").count()
    assert out.count() == n_expected
    assert out.select("conv_id", "turn_idx").distinct().count() == n_expected


def test_compaction_and_expiry_respect_tags(spark, tmp_path):
    """Iceberg refs-block-retention: a tagged read point survives both
    compaction and expiry by default — the tag keeps resolving to
    exactly the rows it pinned while the untagged tail still compacts."""
    from ocr_spark.pipeline import (
        compact_snapshots,
        expire_snapshots,
        tag_snapshot,
    )

    full = spark.createDataFrame(
        fixtures.generate_transcripts(8), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    third = full.filter("turn_idx % 3 = 0")
    root = str(tmp_path / "store")
    run_resumable(spark, third, root)  # snapshot=0
    assert tag_snapshot(root, "v1-run") == 0
    n_tagged = third.count()
    run_resumable(spark, full.filter("turn_idx % 3 <= 1"), root)  # snapshot=1
    run_resumable(spark, full, root)  # snapshot=2

    # only the untagged tail (snapshots 1 and 2) compacts
    assert compact_snapshots(spark, root) == 2
    assert read_snapshots(spark, root, tag="v1-run").count() == n_tagged
    assert read_snapshots(spark, root).count() == full.count()

    # expiry exempts the tagged snapshot no matter how aggressive
    expire_snapshots(root, keep_last=0, max_age_s=0.0)
    assert read_snapshots(spark, root, tag="v1-run").count() == n_tagged


def test_reclaimed_tag_raises_on_read(spark, tmp_path):
    """respect_tags=False deliberately reclaims tagged history; the
    dangled ref must then fail loudly on read, never silently feed a
    pinned training run an empty table."""
    from ocr_spark.pipeline import compact_snapshots, tag_snapshot

    full = spark.createDataFrame(
        fixtures.generate_transcripts(4), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx = 0"), root)  # snapshot=0
    tag_snapshot(root, "pinned")
    run_resumable(spark, full, root)  # snapshot=1
    assert compact_snapshots(spark, root, respect_tags=False) == 2
    with pytest.raises(KeyError, match="dangling"):
        read_snapshots(spark, root, tag="pinned")
    # the head read is unaffected
    assert read_snapshots(spark, root).count() == full.count()


def test_tagged_compaction_never_unmasks_protected_deletes(spark, tmp_path):
    """A delete snapshot above the tag boundary masks rows in PROTECTED
    dirs below it. Tag-respecting compaction must therefore keep the
    delete live and only compact strictly above it — folding the delete
    into the rewrite (or lifting younger rows past its index) would
    resurrect the deleted keys."""
    from ocr_spark.pipeline import (
        compact_snapshots,
        delete_turns,
        snapshots_df,
        tag_snapshot,
    )

    full = spark.createDataFrame(
        fixtures.generate_transcripts(6), fixtures.TRANSCRIPT_COLUMNS
    ).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx <= 1"), root)  # snapshot=0
    tag_snapshot(root, "audit")  # protects snapshot 0
    victims = (
        read_snapshots(spark, root)
        .filter("turn_idx = 0")
        .select("conv_id", "turn_idx")
        .cache()
    )
    n_victims = victims.count()
    delete_turns(spark, root, victims)  # snapshot=1 (masks rows in 0)
    run_resumable(spark, full.filter("turn_idx = 2"), root)  # snapshot=2
    run_resumable(spark, full.filter("turn_idx = 3"), root)  # snapshot=3
    before = read_snapshots(spark, root)
    n_before = before.count()
    assert before.filter("turn_idx = 0").count() == 0

    # only snapshots 2 and 3 (above the delete) may compact
    assert compact_snapshots(spark, root) == 2
    after = read_snapshots(spark, root)
    assert after.count() == n_before
    assert after.filter("turn_idx = 0").count() == 0  # deletion preserved
    # the delete snapshot is still live; the tag still reads its pin
    kinds = [r["is_deletes"] for r in snapshots_df(spark, root).collect()]
    assert sum(kinds) == 1
    assert (
        read_snapshots(spark, root, tag="audit").filter("turn_idx = 0").count()
        == n_victims
    )


def test_vacuum_reaps_stale_staging_dirs(spark, tmp_path):
    """A writer killed between staging its parquet and its commit leaves
    a _staging-* dir (the in-process cleanup never ran).
    vacuum_uncommitted reaps it, and the empty markerless snapshot dir an
    older writer could leave; committed data is untouched."""
    import os

    from ocr_spark.pipeline import vacuum_uncommitted

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 6)
    run_resumable(spark, full, root)
    n = read_snapshots(spark, root).count()
    # fake the crashes: an older writer's empty markerless snapshot dir
    # plus an orphaned staging dir that never reached _publish
    os.mkdir(os.path.join(root, "snapshot=9"))
    full.limit(3).write.parquet(os.path.join(root, "_staging-deadbeef0000"))
    removed = vacuum_uncommitted(root)
    assert any(p.endswith("_staging-deadbeef0000") for p in removed)
    assert any(p.endswith("snapshot=9") for p in removed)
    assert not any(
        name.startswith("_staging-") for name in os.listdir(root)
    )
    assert read_snapshots(spark, root).count() == n


def test_delete_turns_stages_before_filling_its_reserved_dir(
    spark, tmp_path, monkeypatch
):
    """delete_turns stages its keys in a ``_staging-*`` dir, and the
    commit renames that dir to the ``snapshot=N`` whose index it returns:
    the delete never writes into a ``snapshot=`` dir that already
    exists."""
    import os

    from ocr_spark.pipeline import delete_turns

    root = str(tmp_path / "store")
    full = fixtures.transcripts_df(spark, 4)
    run_resumable(spark, full, root)  # snapshot=0
    victims = read_snapshots(spark, root).filter("turn_idx = 0")

    renames = []
    real_rename = os.rename

    def recording_rename(src, dst, *args, **kwargs):
        renames.append((os.path.basename(src), os.path.basename(dst)))
        return real_rename(src, dst, *args, **kwargs)

    monkeypatch.setattr(os, "rename", recording_rename)
    del_idx = delete_turns(spark, root, victims.select("conv_id", "turn_idx"))
    monkeypatch.undo()

    assert [dst for src, dst in renames if src.startswith("_staging-")] == [
        f"snapshot={del_idx}"
    ]
    assert read_snapshots(spark, root).filter("turn_idx = 0").count() == 0


def test_publish_is_the_only_marker_write():
    """The store has one commit point: the only function in pipeline.py
    that opens a ``_MARKER`` path for writing is ``_publish``."""
    import ast
    import inspect

    from ocr_spark import pipeline

    def writes_marker(node):
        return (
            isinstance(node, ast.Call)
            and getattr(node.func, "id", None) == "open"
            and any(
                isinstance(n, ast.Name) and n.id == "_MARKER"
                for n in ast.walk(node)
            )
            and any(
                isinstance(n, ast.Constant)
                and isinstance(n.value, str)
                and set(n.value) & set("wax+")
                for n in ast.walk(node)
            )
        )

    tree = ast.parse(inspect.getsource(pipeline))
    writers = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if writes_marker(node)
    ]
    assert writers == ["_publish"]
    numberers = [
        fn.name
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
        for node in ast.walk(fn)
        if isinstance(node, ast.Call)
        and getattr(node.func, "id", None) == "_next_snapshot_idx"
    ]
    assert numberers == ["_publish"]


def test_delete_committing_after_append_hides_appended_keys(
    spark, tmp_path, monkeypatch
):
    """A snapshot's index is taken when it commits, so a delete that
    commits after an append of the same keys hides them — even when the
    append started after the delete began staging (Iceberg's sequence
    numbers). Numbering at staging time gave the delete the lower index
    and left every appended key visible."""
    import os

    from ocr_spark import pipeline

    full = fixtures.transcripts_df(spark, 4).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx > 0"), root)
    victims = full.filter("turn_idx = 0").select("conv_id", "turn_idx")
    n_victims = victims.count()
    assert n_victims > 0

    publish = pipeline._publish
    raced = {"done": False}

    def append_first(root_, staged, *args, **kwargs):
        is_delete = os.path.exists(os.path.join(staged, pipeline._DELETES_FLAG))
        if is_delete and not raced["done"]:
            raced["done"] = True
            run_resumable(spark, full, root)  # commits the victims' keys
        return publish(root_, staged, *args, **kwargs)

    monkeypatch.setattr(pipeline, "_publish", append_first)
    pipeline.delete_turns(spark, root, victims)
    monkeypatch.undo()

    assert raced["done"]
    after = read_snapshots(spark, root)
    assert after.join(victims, ["conv_id", "turn_idx"]).count() == 0
    assert after.count() == full.count() - n_victims


def test_staged_writer_leaves_no_markerless_snapshot_dir(spark, tmp_path):
    """While a writer has staged but not yet committed, every
    ``snapshot=*`` dir under the root is committed: staging lives in
    ``_staging-*`` and a snapshot dir exists only from its commit on."""
    import os

    from ocr_spark.pipeline import _MARKER

    full = fixtures.transcripts_df(spark, 4).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx = 0"), root)

    seen = []

    def look():
        names = sorted(n for n in os.listdir(root) if n.startswith("snapshot="))
        seen.append(
            {n: os.path.exists(os.path.join(root, n, _MARKER)) for n in names}
        )

    run_resumable(spark, full, root, _race_hook=look)
    assert seen == [{"snapshot=0": True}]
    assert os.path.exists(os.path.join(root, "snapshot=1", _MARKER))


def test_concurrent_publishes_take_distinct_indices(tmp_path):
    """More committers than cores publish at once: each gets its own
    index, the indices are exactly 0..n-1, every ``snapshot=`` dir is
    committed and no staged dir is left behind."""
    import os
    import sys
    import threading

    from ocr_spark.pipeline import _MARKER, _publish, _snapshot_idx

    root = str(tmp_path / "store")
    n = 2 * (os.cpu_count() or 1) + 2
    staged = []
    for i in range(n):
        d = os.path.join(root, f"_staging-t{i}")
        os.makedirs(d)
        with open(os.path.join(d, "part-0.parquet"), "w") as fh:
            fh.write(str(i))
        staged.append(d)

    got = [None] * n
    start = threading.Barrier(n)

    def commit(i):
        start.wait(timeout=30)
        got[i] = _publish(root, staged[i])

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=commit, args=(i,)) for i in range(n)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)

    assert sorted(map(_snapshot_idx, got)) == list(range(n))
    names = sorted(os.listdir(root))
    assert names == sorted(f"snapshot={i}" for i in range(n))
    for i, path in enumerate(got):
        assert os.path.exists(os.path.join(path, _MARKER))
        with open(os.path.join(path, "part-0.parquet")) as fh:
            assert fh.read() == str(i)


def _publish_by_hand(root, tag, supersedes=()):
    """Stage a dir holding one fake data file (no Spark), optionally with
    a ``_SUPERSEDES`` list, and return it unpublished."""
    import os

    from ocr_spark.pipeline import _SUPERSEDES

    staged = os.path.join(root, f"_staging-{tag}")
    os.makedirs(staged)
    with open(os.path.join(staged, "part-0.parquet"), "w") as fh:
        fh.write(tag)
    if supersedes:
        with open(os.path.join(staged, _SUPERSEDES), "w") as fh:
            fh.write("\n".join(supersedes) + "\n")
    return staged


def test_expired_index_is_never_given_out_again(tmp_path):
    """Expiry that removes every snapshot leaves the store's mark behind:
    the next commit numbers above every index ever given out, and a tag
    pinned at an expired index dangles instead of reading the new data."""
    from ocr_spark.pipeline import (
        _publish,
        _snapshot_idx,
        expire_snapshots,
        tag_snapshot,
    )

    root = str(tmp_path / "store")
    for i in range(3):
        _publish(root, _publish_by_hand(root, f"s{i}"))
    assert tag_snapshot(root, "v1") == 2
    removed = expire_snapshots(root, keep_last=0, respect_tags=False)
    assert sorted(map(_snapshot_idx, removed)) == [0, 1, 2]

    assert _snapshot_idx(_publish(root, _publish_by_hand(root, "s3"))) == 3
    with pytest.raises(KeyError, match="dangling"):
        read_snapshots(None, root, tag="v1")


def test_tag_snapshot_pins_only_a_visible_committed_index(tmp_path):
    """A tag pins a snapshot that exists: a future index (whose read
    would grow with later commits and block all expiry) and a negative
    one (dangling at birth) are refused, and so is an index that a
    compaction has superseded."""
    from ocr_spark.pipeline import _publish, list_tags, tag_snapshot

    root = str(tmp_path / "store")
    for i in range(3):
        _publish(root, _publish_by_hand(root, f"s{i}"))
    for bad in (99, 3, -5):
        with pytest.raises(ValueError, match="cannot tag snapshot"):
            tag_snapshot(root, "future", bad)
    assert list_tags(root) == {}

    assert tag_snapshot(root, "v1", 1) == 1
    _publish(
        root,
        _publish_by_hand(root, "c", supersedes=("snapshot=0", "snapshot=1")),
    )
    with pytest.raises(ValueError, match="cannot tag snapshot"):
        tag_snapshot(root, "old", 0)
    assert tag_snapshot(root, "head") == 3
    assert list_tags(root) == {"head": 3, "v1": 1}


def test_compaction_committing_mid_listing_is_seen_whole(tmp_path, monkeypatch):
    """A compaction that commits while a reader reads the store's state
    shows either its inputs or its output, never both: the tombstones and
    the dirs come from one listing of the root."""
    import os

    from ocr_spark.pipeline import _committed_snapshots, _publish, _snapshot_idx

    root = str(tmp_path / "store")
    _publish(root, _publish_by_hand(root, "s0"))
    _publish(root, _publish_by_hand(root, "s1"))
    compaction = _publish_by_hand(
        root, "c", supersedes=("snapshot=0", "snapshot=1")
    )

    real_listdir = os.listdir
    calls = []

    def listdir_then_commit(path=".", *args, **kwargs):
        names = real_listdir(path, *args, **kwargs)
        if path == root and not calls:
            calls.append(path)
            _publish(root, compaction)
        return names

    monkeypatch.setattr(os, "listdir", listdir_then_commit)
    visible = _committed_snapshots(root)[1]
    monkeypatch.undo()

    assert calls == [root]
    assert sorted(map(_snapshot_idx, visible)) in ([0, 1], [2])
    assert sorted(map(_snapshot_idx, _committed_snapshots(root)[1])) == [2]


def _manifest_of(snap):
    import json
    import os

    from ocr_spark.pipeline import _METRICS

    with open(os.path.join(snap, _METRICS)) as fh:
        return json.load(fh)


def test_worker_written_totals_match_each_snapshots_rows(spark, tmp_path):
    """The Python workers write the snapshot files and sum the totals
    from their own Arrow arrays. Per snapshot, the manifest's totals
    equal ``snapshot_totals()`` over the rows of the files it lists, on
    turns with non-ASCII text, NULL text and malformed tool payloads."""
    import os

    from ocr_spark.operators.aggregate import SNAPSHOT_TOTALS, snapshot_totals
    from ocr_spark.pipeline import _committed_snapshots

    cols = "conv_id string, turn_idx int, role string, text string, tool string"
    edge = spark.createDataFrame(
        [
            ("edge", 0, "user", "naïve café ☃ 😀 𝔘𝔫𝔦", None),
            ("edge", 1, "user", None, None),
            ("edge", 2, "tool", "", "not json"),
            ("edge", 3, "tool", "", '{"blocks": [{"type": 0, "bbox": "x"}]}'),
            ("edge", 4, "tool", None, '{"rec_texts": ["línea"], "rec_scores": "?"}'),
            ("edge", 5, "user", "<p>héllo <b>wörld</b> 中文</p>", ""),
            ("edge", 6, "tool", "résumé", None),
        ],
        cols,
    )
    full = (
        fixtures.transcripts_df(spark, 8)
        .selectExpr("conv_id", "cast(turn_idx as int) turn_idx", "role", "text", "tool")
        .unionByName(edge)
        .repartition(3)
        .cache()
    )
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx % 2 = 0"), root)
    run_resumable(spark, full, root)

    snaps = _committed_snapshots(root)[1]
    assert len(snaps) == 2
    failures = 0
    for snap in snaps:
        m = _manifest_of(snap)
        rows = spark.read.parquet(*(os.path.join(snap, f) for f in m["files"]))
        want = rows.agg(*snapshot_totals()).first().asDict()
        assert {k: m[k] for k in SNAPSHOT_TOTALS} == want, snap
        failures += m["parse_failures"]
    assert failures > 0
    assert read_snapshots(spark, root).count() == full.count()


def test_stray_file_in_a_committed_snapshot_is_never_read(spark, tmp_path):
    """A reader reads the files a manifest lists, not the dir: a late
    file from a stray task attempt inside a committed snapshot dir does
    not add rows, to reads or to a resume's anti-join."""
    import os
    import shutil

    from ocr_spark.pipeline import _committed_snapshots, read_metrics

    full = fixtures.transcripts_df(spark, 6).cache()
    n = full.count()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx % 2 = 0"), root)
    (snap,) = _committed_snapshots(root)[1]
    listed = _manifest_of(snap)["files"][0]
    shutil.copy(os.path.join(snap, listed), os.path.join(snap, "part-00000-999999.parquet"))

    assert read_snapshots(spark, root).count() == full.filter("turn_idx % 2 = 0").count()
    committed = run_resumable(spark, full, root)
    assert committed.count() == n
    assert committed.select("conv_id", "turn_idx").distinct().count() == n
    assert read_metrics(spark, root).groupBy().sum("turns_in").first()[0] == n


def test_staged_file_no_task_returned_is_not_published(spark, tmp_path, monkeypatch):
    """A file in the staged dir that no collected task row names (what a
    failed task attempt leaves) is deleted before ``_publish``: the
    committed snapshot holds exactly the files its manifest lists."""
    import os

    from ocr_spark import pipeline

    stray = "part-00000-999999.parquet"
    extract_into = pipeline.extract_into

    def leaving_a_stray(df, staging):
        with open(os.path.join(staging, stray), "wb") as fh:
            fh.write(b"PAR1 cut short")
        return extract_into(df, staging)

    monkeypatch.setattr(pipeline, "extract_into", leaving_a_stray)
    full = fixtures.transcripts_df(spark, 4)
    root = str(tmp_path / "store")
    committed = pipeline.run_resumable(spark, full, root)
    monkeypatch.undo()

    (snap,) = pipeline._committed_snapshots(root)[1]
    data = sorted(n for n in os.listdir(snap) if n.endswith(".parquet"))
    assert stray not in data
    assert data == _manifest_of(snap)["files"]
    assert committed.count() == full.count()


def _staged_with_manifest(root, tag, turns_in, supersedes=()):
    """``_publish_by_hand`` plus a manifest listing its one file."""
    import json
    import os

    from ocr_spark.pipeline import _METRICS

    staged = _publish_by_hand(root, tag, supersedes)
    manifest = dict.fromkeys(("turns_out", "bytes_in", "bytes_out", "parse_failures"), 0)
    manifest.update(run_id=tag, turns_in=turns_in, files=["part-0.parquet"], schema={})
    with open(os.path.join(staged, _METRICS), "w") as fh:
        json.dump(manifest, fh)
    return staged


def test_compaction_dropping_listed_dirs_makes_readers_relist(tmp_path, monkeypatch):
    """``compact_snapshots`` drops the dirs it supersedes right after its
    commit. A reader whose root listing predates that commit finds them
    gone: it lists again and sees the compaction, never an empty store."""
    import os

    from ocr_spark.pipeline import _committed_snapshots, _drop_snapshot, _publish, _snapshot_idx

    root = str(tmp_path / "store")
    _publish(root, _publish_by_hand(root, "s0"))
    _publish(root, _publish_by_hand(root, "s1"))
    compaction = _publish_by_hand(root, "c", supersedes=("snapshot=0", "snapshot=1"))

    real_listdir = os.listdir
    calls = []

    def listdir_then_compact(path=".", *args, **kwargs):
        names = real_listdir(path, *args, **kwargs)
        if path == root and not calls:
            calls.append(path)
            _publish(root, compaction)
            _drop_snapshot(root, "snapshot=0")
            _drop_snapshot(root, "snapshot=1")
        return names

    monkeypatch.setattr(os, "listdir", listdir_then_compact)
    visible = _committed_snapshots(root)[1]
    monkeypatch.undo()

    assert calls == [root]
    assert list(map(_snapshot_idx, visible)) == [2]


def test_manifest_read_replans_when_a_listed_snapshot_is_dropped(tmp_path, monkeypatch):
    """A compaction that commits and drops its inputs between a reader's
    listing and its manifest reads sends the reader back to a new
    listing: the manifests it sums are the compaction's."""
    from ocr_spark import pipeline

    root = str(tmp_path / "store")
    pipeline._publish(root, _staged_with_manifest(root, "s0", 3))
    pipeline._publish(root, _staged_with_manifest(root, "s1", 4))
    compaction = _staged_with_manifest(
        root, "c", 7, supersedes=("snapshot=0", "snapshot=1")
    )

    real = pipeline._committed_snapshots
    calls = []

    def list_then_compact(*args, **kwargs):
        state = real(*args, **kwargs)
        if not calls:
            calls.append(state)
            pipeline._publish(root, compaction)
            pipeline._drop_snapshot(root, "snapshot=0")
            pipeline._drop_snapshot(root, "snapshot=1")
        return state

    monkeypatch.setattr(pipeline, "_committed_snapshots", list_then_compact)
    assert pipeline.committed_turns(root) == 7
    monkeypatch.undo()
    assert [len(visible) for _dirs, visible in calls] == [2]


def test_extract_job_summary_counts_committed_rows(spark, tmp_path):
    """The job summary's ``turns_committed`` equals the committed row
    count. From manifests alone, with no Spark job, while no delete
    snapshot is visible; by a count while one is; from the manifests
    again once compaction has applied the delete."""
    from jobs.extract_job import turns_committed
    from ocr_spark.pipeline import compact_snapshots, delete_turns

    sc = spark.sparkContext
    full = fixtures.transcripts_df(spark, 6).cache()
    root = str(tmp_path / "store")
    run_resumable(spark, full.filter("turn_idx % 2 = 0"), root)
    committed = run_resumable(spark, full, root)
    sc.setJobGroup("summary", "turns_committed from manifests")
    try:
        n = turns_committed(committed, root)
        assert sc.statusTracker().getJobIdsForGroup("summary") == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert n == committed.count() == full.count()

    delete_turns(spark, root, full.filter("turn_idx = 0"))
    committed = read_snapshots(spark, root)
    assert turns_committed(committed, root) == committed.count() < full.count()
    compact_snapshots(spark, root)
    committed = read_snapshots(spark, root)
    assert turns_committed(committed, root) == committed.count()
