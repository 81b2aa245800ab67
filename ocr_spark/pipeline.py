"""End-to-end pipeline: transcripts -> extracted + conv_text + metrics.

Spark recast of the reference's flagship hybrid-extract lifecycle
(SURVEY §3 E3): scan -> classify/route/extract (narrow, vectorized) ->
snapshot write (the checkpoint) -> ordered rollup. The shuffle is the
barrier; the committed snapshot is the cache; resume is an anti-join
against already-committed keys (≙ the sha256 Redis result cache,
``services/redis_service.py:135-202``, minus the TTL).

Snapshot layout: each run appends ``snapshot=N`` subdirectories of
parquet under the output root, with a ``_COMMITTED`` marker written only
after the parquet job succeeds — readers ignore uncommitted snapshots, so
a killed run never corrupts the table (Iceberg would give us this
atomically; the marker is the no-dependency stand-in with the same
reader-visible semantics).
"""

from __future__ import annotations

import contextlib as _contextlib
import os
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F  # noqa: F401

from ocr_spark.operators.aggregate import conv_text_salted, partition_metrics
from ocr_spark.operators.extract import extract, extract_deduped


def run_extraction(transcripts: DataFrame, dedupe: bool = True) -> DataFrame:
    """transcripts -> extracted (lazy; no action triggered).

    ``dedupe`` picks ``extract_deduped`` (one shuffle; the parser runs
    once per unique payload) over the narrow ``extract``; both run the
    same Arrow worker and give the same rows."""
    return extract_deduped(transcripts) if dedupe else extract(transcripts)


def run_pipeline(transcripts: DataFrame, dedupe: bool = True):
    """Returns (extracted, conv_text, metrics) DataFrames, all lazy."""
    extracted = run_extraction(transcripts, dedupe=dedupe)
    rollup = conv_text_salted(extracted)
    metrics = partition_metrics(extracted, run_id=uuid.uuid4().hex[:12])
    return extracted, rollup, metrics


def observed_extraction(transcripts: DataFrame, dedupe: bool = False):
    """Extraction with ZERO-pass global metrics via the Observation API.

    Returns ``(extracted, observation)``: attach any action to
    ``extracted`` (e.g. the snapshot write) and ``observation.get`` then
    yields turns/bytes/parse-failure totals computed DURING that action —
    no second scan, no extra job. This is the cheap global-counters twin
    of ``partition_metrics`` (which stays the queryable per-partition
    lineage table): at 100 TB the observed totals come for free with the
    write, and the metrics table is only materialized when per-partition
    lineage is actually wanted.
    """
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    extracted = run_extraction(transcripts, dedupe=dedupe).observe(
        obs,
        F.count(F.lit(1)).alias("turns_in"),
        F.sum(F.expr("if(parse_ok, 1, 0)")).alias("turns_out"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.length("extracted_text")).alias("bytes_out"),
        F.sum(F.expr("if(parse_ok, 0, 1)")).alias("parse_failures"),
    )
    return extracted, obs


# ---------------------------------------------------------------------------
# Resumable snapshot store
# ---------------------------------------------------------------------------

_MARKER = "_COMMITTED"
_SUPERSEDES = "_SUPERSEDES"  # written by compaction: names of replaced dirs
_DELETES_FLAG = "_EQUALITY_DELETES"  # snapshot holds delete KEYS, not data


def _snapshot_dirs(root: str) -> list[str]:
    """All snapshot=N directories, committed or not."""
    if not os.path.isdir(root):
        return []
    return [
        os.path.join(root, name)
        for name in sorted(os.listdir(root))
        if name.startswith("snapshot=")
        and os.path.isdir(os.path.join(root, name))
    ]


def _next_snapshot_idx(root: str) -> int:
    """1 + max index over ALL snapshot dirs (committed, uncommitted, or
    retired) — indices are allocate-only, never reused, so an incremental
    run can never target a directory another reader is consuming (the
    count-based scheme collided after compaction made indices sparse)."""
    indices = [
        int(os.path.basename(p).split("=", 1)[1]) for p in _snapshot_dirs(root)
    ]
    return 1 + max(indices, default=-1)


def _snapshot_idx(path: str) -> int:
    return int(os.path.basename(path).split("=", 1)[1])


def _superseded_names(root: str, as_of: int | None = None) -> set[str]:
    """Dir names replaced by a committed compacted snapshot. Reading the
    lists only from COMMITTED snapshots makes compaction atomic at the
    marker write: before it, old dirs are visible; after it, they are
    ignored even though their own markers still exist. With ``as_of``,
    only tombstones written by snapshots <= that index count — a
    compaction that happened AFTER the as-of point must not hide the
    dirs that were live then."""
    out: set[str] = set()
    for p in _snapshot_dirs(root):
        if as_of is not None and _snapshot_idx(p) > as_of:
            continue
        sup = os.path.join(p, _SUPERSEDES)
        if os.path.exists(os.path.join(p, _MARKER)) and os.path.exists(sup):
            with open(sup) as fh:
                out.update(ln.strip() for ln in fh if ln.strip())
    return out


def _committed_snapshots(root: str, as_of: int | None = None) -> list[str]:
    dead = _superseded_names(root, as_of)
    return [
        p
        for p in _snapshot_dirs(root)
        if os.path.exists(os.path.join(p, _MARKER))
        and os.path.basename(p) not in dead
        and (as_of is None or _snapshot_idx(p) <= as_of)
    ]


def tag_snapshot(root: str, name: str, idx: int | None = None) -> int:
    """Named snapshot refs (Iceberg tags): pin a human-meaningful name —
    'v1-training-run', 'pre-dedup-audit' — to a snapshot index so
    downstream jobs read a STABLE version by name while ingestion keeps
    appending. Defaults to the current head. A tag is one tiny ref file
    (refs/<name> -> idx), atomic via write-then-rename; re-tagging a
    name moves it (Iceberg replace-tag). Returns the pinned index.

    Retention note: like Iceberg refs, tags block retention by default —
    ``expire_snapshots`` and ``compact_snapshots`` exempt every
    tag-reachable snapshot (index <= the highest tagged index) unless
    called with ``respect_tags=False``; reclaiming tagged history that
    way leaves the ref dangling, and ``read_snapshots`` then raises on
    it rather than returning a silent empty read."""
    import re as _re

    if not _re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9._-]*", name):
        raise ValueError(
            f"invalid tag name {name!r}: use [A-Za-z0-9._-], not starting"
            " with '.' (dot-prefixed and slashed names could never be"
            " resolved by list_tags/read_snapshots)"
        )
    if idx is None:
        committed = _committed_snapshots(root)
        if not committed:
            raise ValueError(f"no committed snapshots under {root}")
        idx = max(_snapshot_idx(p) for p in committed)
    refs = os.path.join(root, "refs")
    os.makedirs(refs, exist_ok=True)
    tmp = os.path.join(refs, f".{name}.tmp")
    with open(tmp, "w") as fh:
        fh.write(f"{idx}\n")
    os.replace(tmp, os.path.join(refs, name))
    return idx


def list_tags(root: str) -> dict[str, int]:
    """All snapshot refs: name -> pinned index."""
    refs = os.path.join(root, "refs")
    if not os.path.isdir(refs):
        return {}
    out: dict[str, int] = {}
    for name in sorted(os.listdir(refs)):
        if name.startswith("."):
            continue
        try:
            with open(os.path.join(refs, name)) as fh:
                out[name] = int(fh.read().strip())
        except (OSError, ValueError):
            continue
    return out


def read_snapshots(
    spark: SparkSession,
    root: str,
    as_of: int | None = None,
    tag: str | None = None,
) -> DataFrame | None:
    """Read the committed table. ``mergeSchema`` gives parquet-native
    schema evolution (Iceberg's add-column path): snapshots written
    before a column existed read as NULL for it, so an extraction schema
    can grow over the table's lifetime without rewriting history. (Type
    *changes* of an existing column still conflict — that is Iceberg's
    boundary too for parquet file reuse.)

    ``as_of`` is snapshot time travel (Iceberg ``VERSION AS OF``): read
    the table exactly as it stood after snapshot N committed — later
    appends are excluded and later compactions' tombstones are ignored.
    History lives until compaction's cleanup / ``expire_snapshots`` /
    ``vacuum_uncommitted`` physically removes the source dirs (the same
    retention-bounded window Iceberg gives); an as-of point whose data
    has been removed returns None, like any other empty state.

    ``tag`` resolves a named ref (``tag_snapshot``) to its pinned index
    — Iceberg's ``VERSION AS OF 'tag-name'``; mutually exclusive with
    ``as_of``; an unknown tag raises (a silent full read would be a
    correctness hazard for a pinned training run)."""
    if tag is not None:
        if as_of is not None:
            raise ValueError("pass either as_of or tag, not both")
        tags = list_tags(root)
        if tag not in tags:
            raise KeyError(f"unknown snapshot tag {tag!r} under {root}")
        as_of = tags[tag]
        if not _committed_snapshots(root, as_of):
            # a KNOWN tag whose pinned history was reclaimed
            # (respect_tags=False compaction/expiry) must fail loudly,
            # exactly like an unknown tag — a silent empty read would
            # feed a pinned training run zero rows without a trace
            raise KeyError(
                f"snapshot tag {tag!r} is dangling: it pins index "
                f"{as_of} but no committed snapshot <= {as_of} remains "
                f"under {root} (history compacted/expired with "
                "respect_tags=False); drop or re-point the tag"
            )
    return _read_snapshot_paths(spark, _committed_snapshots(root, as_of))


def _read_snapshot_paths(
    spark: SparkSession, paths: list[str]
) -> DataFrame | None:
    """Deletes-applied read over an EXPLICIT snapshot-path list — shared
    by read_snapshots and compact_snapshots so the compactor reads
    exactly the set it supersedes (re-listing inside the read would race
    a concurrent commit into the compacted output without tombstoning
    its source — permanent duplicates)."""
    data = [
        p for p in paths
        if not os.path.exists(os.path.join(p, _DELETES_FLAG))
    ]
    dels = [p for p in paths if p not in data]
    if not data:
        return None
    df = spark.read.option("mergeSchema", "true").parquet(*data)
    if not dels:
        return df
    # merge-on-read equality deletes (Iceberg v2 delete files): a delete
    # snapshot holds (conv_id, turn_idx) keys and hides matching rows in
    # every EARLIER data snapshot; a later re-append resurrects the key
    # (point-in-time deletion, exactly Iceberg's sequence-number rule).
    # The row's snapshot index comes from its file path in codegen — no
    # per-snapshot union; the delete key set is request-sized, so it
    # broadcasts.
    row_idx = F.regexp_extract(
        F.input_file_name(), r"snapshot=(\d+)/", 1
    ).cast("long")
    del_keys = (
        spark.read.parquet(*dels)
        .withColumn(
            "_del_idx",
            F.regexp_extract(
                F.input_file_name(), r"snapshot=(\d+)/", 1
            ).cast("long"),
        )
        .groupBy("conv_id", "turn_idx")
        .agg(F.max("_del_idx").alias("_del_idx"))
    )
    return (
        df.withColumn("_row_snap", row_idx)
        .join(F.broadcast(del_keys), ["conv_id", "turn_idx"], "left")
        .filter(
            F.col("_del_idx").isNull()
            | (F.col("_del_idx") < F.col("_row_snap"))
        )
        .drop("_row_snap", "_del_idx")
    )


def diff_snapshots(
    spark: SparkSession, root: str, a: int, b: int
) -> DataFrame | None:
    """CDC diff between two committed versions of the extracted table
    (Iceberg changelog read): one row per (conv_id, turn_idx) whose
    state differs between ``VERSION AS OF a`` and ``VERSION AS OF b``,
    with ``action`` added / removed / changed (changed = same key, new
    ``extracted_text`` — the re-extraction case). Unchanged keys never
    leave the join. Downstream incremental jobs (dedup refresh, stats
    rollups) consume this diff instead of rescanning the full table —
    the read path that keeps 100 TB maintenance proportional to the
    delta, not the corpus. Relational twin with a DuckDB oracle:
    ``queries.q_snapshot_cdc_diff``. Returns None when neither version
    has data.

    Distributed shape: one full-outer equi-join on the key; AQE
    broadcasts whichever side is delta-sized."""
    va = read_snapshots(spark, root, as_of=a)
    vb = read_snapshots(spark, root, as_of=b)
    if va is None and vb is None:
        return None
    cols = ["conv_id", "turn_idx", "extracted_text"]
    if va is None:
        return vb.select(
            "conv_id", "turn_idx", F.lit("added").alias("action")
        )
    if vb is None:
        return va.select(
            "conv_id", "turn_idx", F.lit("removed").alias("action")
        )
    a_df = va.select(*cols).withColumn("in_a", F.lit(True)).alias("a")
    b_df = vb.select(*cols).withColumn("in_b", F.lit(True)).alias("b")
    joined = a_df.join(b_df, ["conv_id", "turn_idx"], "full_outer").select(
        "conv_id",
        "turn_idx",
        F.when(F.col("in_b").isNull(), "removed")
        .when(F.col("in_a").isNull(), "added")
        .when(
            ~F.col("a.extracted_text").eqNullSafe(F.col("b.extracted_text")),
            "changed",
        )
        .otherwise("unchanged")
        .alias("action"),
    )
    return joined.filter(F.col("action") != "unchanged")


def delete_turns(spark: SparkSession, root: str, keys: DataFrame) -> int:
    """Merge-on-read equality deletes (Iceberg v2 delete files) — the
    compliance-deletion path a training corpus needs: commit a snapshot
    holding only (conv_id, turn_idx) KEYS; readers hide matching rows
    from every earlier data snapshot without rewriting a byte of data.
    Deletion is point-in-time: a later re-append (or a resumable re-run
    over a source that still contains the turn) resurrects the key —
    Iceberg's sequence-number semantics; purge the SOURCE too for
    permanent removal, then ``compact_snapshots`` applies deletes
    physically (read-side merge cost drops to zero and the bytes leave
    disk). Run compaction BEFORE retention so expiry can never separate
    a delete file from the data it masks (``jobs/maintenance_job.py``
    orders it that way). Returns the delete snapshot's index."""
    snap_dir = _allocate_snapshot_dir(root)
    snap_idx = _snapshot_idx(snap_dir)
    (
        keys.select("conv_id", "turn_idx")
        .distinct()
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(snap_dir)
    )
    with open(os.path.join(snap_dir, _DELETES_FLAG), "w") as fh:
        fh.write("ok\n")
    with _commit_lock(root):
        with open(os.path.join(snap_dir, _MARKER), "w") as fh:
            fh.write("ok\n")
    return snap_idx


def snapshots_df(spark: SparkSession, root: str) -> DataFrame:
    """Store introspection: one row per committed snapshot — the
    ≙ of Iceberg's ``snapshots`` metadata table. Columns: snapshot name,
    index, commit time (marker mtime — publish time), data size on disk,
    file count, and whether lineage metrics exist for it. Driver-side
    directory walk only (metadata, not data); empty frame if none."""
    import datetime

    rows = []
    for p in _committed_snapshots(root):
        name = os.path.basename(p)
        try:
            committed_at = datetime.datetime.fromtimestamp(
                os.path.getmtime(os.path.join(p, _MARKER))
            )
            n_files = 0
            n_bytes = 0
            for f in os.listdir(p):
                if f.endswith(".parquet"):
                    n_files += 1
                    n_bytes += os.path.getsize(os.path.join(p, f))
        except OSError:
            continue  # expired concurrently between listing and stat
        rows.append(
            (
                name,
                int(name.split("=", 1)[1]),
                committed_at,
                n_files,
                n_bytes,
                os.path.isdir(os.path.join(root, "metrics", name)),
                os.path.exists(os.path.join(p, _DELETES_FLAG)),
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot string, idx int, committed_at timestamp, n_files int, "
        "n_bytes bigint, has_metrics boolean, is_deletes boolean",
    )


def _allocate_snapshot_dir(root: str) -> str:
    """Atomically claim the next snapshot directory. ``os.mkdir`` is the
    allocation point (atomic on POSIX), so two concurrent writers that
    both computed the same next index can never stage into the same
    ``snapshot=N`` — the loser's mkdir fails and it claims the next one."""
    os.makedirs(root, exist_ok=True)
    idx = _next_snapshot_idx(root)
    while True:
        path = os.path.join(root, f"snapshot={idx}")
        try:
            os.mkdir(path)
            return path
        except FileExistsError:
            idx += 1


def _stage_parquet_into(df: DataFrame, allocated_dir: str) -> None:
    """Write ``df`` as parquet into an already-allocated ``snapshot=N``
    directory WITHOUT surrendering the allocation. A plain
    ``mode("overwrite")`` write fs.delete()s the target first, and in
    the delete-to-recreate window a concurrent ``_allocate_snapshot_dir``
    sees the index free, re-claims it with mkdir, and two writers
    interleave part-files inside one snapshot. So the data is staged to
    a sibling directory (named so ``_snapshot_dirs`` can never parse it
    as a snapshot) and ``os.rename``d onto the reserved dir: POSIX
    rename atomically replaces an EMPTY target directory, and the
    target is our own fresh mkdir reservation, so it is empty by
    construction."""
    staging = os.path.join(
        os.path.dirname(allocated_dir),
        f"_staging-{uuid.uuid4().hex[:12]}",
    )
    try:
        df.write.parquet(staging)
        os.rename(staging, allocated_dir)
    except BaseException:
        import shutil

        shutil.rmtree(staging, ignore_errors=True)
        raise


@_contextlib.contextmanager
def _commit_lock(root: str, timeout_s: float = 60.0, stale_s: float = 300.0):
    """Atomic-mkdir mutex around the commit point (validate + publish
    marker). Held only across a directory listing and a marker write —
    never across a Spark job — so contention is microseconds. A lock
    older than ``stale_s`` is presumed abandoned by a crashed writer and
    broken (the Iceberg-catalog analog is the metastore lock timeout)."""
    import time

    lock = os.path.join(root, "_COMMIT_LOCK")
    os.makedirs(root, exist_ok=True)
    deadline = time.time() + timeout_s
    while True:
        try:
            os.mkdir(lock)
            break
        except FileExistsError:
            try:
                if time.time() - os.path.getmtime(lock) > stale_s:
                    os.rmdir(lock)
                    continue
            except OSError:
                continue  # holder released between the stat and now
            if time.time() > deadline:
                raise TimeoutError(f"commit lock at {lock} held too long")
            time.sleep(0.05)
    try:
        yield
    finally:
        with _contextlib.suppress(OSError):
            os.rmdir(lock)


def run_resumable(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    run_id: str | None = None,
    max_commit_retries: int = 3,
    _race_hook=None,
) -> DataFrame:
    """Extract only the turns not yet in a committed snapshot, then append.

    Returns the full committed ``extracted`` table after the run. Running
    twice on the same input is a no-op the second time; a run killed
    before commit leaves no visible partial state (marker-gated reads).

    Concurrent-writer safety is Iceberg's optimistic model in miniature:
    each writer plans its anti-join against the committed table state it
    observed, stages into an atomically-allocated directory (two writers
    can never collide on a path), and at publish time validates — under a
    microseconds-scale mkdir mutex — that the committed state is still
    the one it planned against. A writer that lost the race discards its
    staged data and re-plans from the new state (the anti-join then
    excludes whatever the winner committed), up to ``max_commit_retries``
    times. Serializable-append semantics: no duplicate (conv_id,
    turn_idx) can ever be published by racing writers.

    Each committed snapshot also gets a per-partition lineage/metrics
    table under ``<out_root>/metrics/snapshot=N`` (run_id, snapshot,
    partition_id, turns in/out, bytes in/out, parse failures — ≙ the
    reference's stats + progress rows, SURVEY §1.3), computed from the
    committed parquet so the numbers describe exactly what readers see.

    ``_race_hook`` is a test seam: called after staging, before commit
    validation, so tests can interleave a competing commit.
    """
    import shutil

    run_id = run_id or uuid.uuid4().hex[:12]
    for _attempt in range(max_commit_retries + 1):
        base_state = {os.path.basename(p) for p in _committed_snapshots(out_root)}
        existing = read_snapshots(spark, out_root)
        todo = transcripts
        if existing is not None:
            done_keys = existing.select("conv_id", "turn_idx")
            todo = transcripts.join(done_keys, ["conv_id", "turn_idx"], "left_anti")
        snap_dir = _allocate_snapshot_dir(out_root)
        snap_idx = int(os.path.basename(snap_dir).split("=", 1)[1])
        extracted = run_extraction(todo)
        _stage_parquet_into(extracted, snap_dir)
        committed = spark.read.parquet(snap_dir)
        if existing is not None and committed.isEmpty():
            # fully-caught-up rerun: don't publish (or keep) an empty
            # snapshot — no-op reruns must not grow the directory count.
            # (If a racing writer committed since we planned, the next
            # resumable run simply picks its rows up — an empty staged
            # set can't conflict with anything.)
            shutil.rmtree(snap_dir, ignore_errors=True)
            return existing
        metrics = partition_metrics(committed, run_id=run_id).withColumn(
            "snapshot", F.lit(snap_idx)
        )
        metrics.write.mode("overwrite").parquet(
            os.path.join(out_root, "metrics", f"snapshot={snap_idx}")
        )
        if _race_hook is not None:
            _race_hook()
        # optimistic commit: publish only if the table state we planned
        # against is still current (conservative validation — any
        # concurrent commit forces a re-plan, like Iceberg's
        # serializable isolation level)
        won = False
        with _commit_lock(out_root):
            now_state = {
                os.path.basename(p) for p in _committed_snapshots(out_root)
            }
            if now_state == base_state:
                with open(os.path.join(snap_dir, _MARKER), "w") as fh:
                    fh.write("ok\n")
                won = True
        if won:
            return read_snapshots(spark, out_root)
        # lost the race: discard staged data + metrics, re-plan
        shutil.rmtree(snap_dir, ignore_errors=True)
        shutil.rmtree(
            os.path.join(out_root, "metrics", f"snapshot={snap_idx}"),
            ignore_errors=True,
        )
    raise RuntimeError(
        f"run_resumable lost the commit race {max_commit_retries + 1} times "
        f"at {out_root}; raise max_commit_retries or serialize the writers"
    )


def _tag_protected_max(root: str) -> int:
    """Highest snapshot index any tag can reach. A tag pinned at index N
    performs an ``as_of=N`` read, which consumes EVERY committed dir with
    index <= N — so all of those dirs are tag-reachable and retention /
    compaction must leave them untouched (Iceberg: refs block
    ``expire_snapshots``). Returns -1 when no tags exist."""
    tags = list_tags(root)
    return max(tags.values(), default=-1)


def compact_snapshots(
    spark: SparkSession,
    out_root: str,
    target_partitions: int | None = None,
    max_commit_retries: int = 3,
    respect_tags: bool = True,
    _race_hook=None,
) -> int:
    """Maintenance: rewrite the committed snapshots into one.

    Incremental runs accumulate `snapshot=N` directories whose file
    counts grow without bound — the classic small-files problem that
    degrades scan planning and shuffle fan-in at 100 TB (Iceberg's
    `rewrite_data_files` compaction; here the marker-store equivalent).

    Crash-safe publish-first protocol: the compacted data is fully
    written into an atomically-allocated ``snapshot=N`` directory and
    stamped with a ``_SUPERSEDES`` list BEFORE its ``_COMMITTED`` marker
    is created. The marker write is the atomic switch — readers either
    see the old snapshots (marker absent) or the new one with the old
    ones tombstoned. Committed data is never unpublished before its
    replacement is durable; a crash at any point leaves a complete,
    readable, non-duplicated table, and leftovers are vacuumable.

    Optimistic commit validation (same protocol as ``run_resumable``):
    the marker is written only if — under the commit mutex — the
    committed set is still exactly the one the rewrite planned against.
    Without this, a ``delete_turns`` snapshot committing between the
    path listing and the marker write would silently lose the deletion:
    the compacted rows land at an index HIGHER than the delete's, so the
    merge-on-read ``_del_idx < _row_snap`` filter would resurrect the
    deleted keys forever. A lost race discards the staged rewrite and
    re-plans (up to ``max_commit_retries`` times, then returns 0 — a
    compaction that keeps losing is safe to skip; the next maintenance
    run retries).

    ``respect_tags`` (default) exempts every tag-reachable snapshot
    (index <= the highest tagged index) from the rewrite, so named refs
    keep resolving to exactly the data they pinned — Iceberg's
    refs-block-retention rule. Pass False to reclaim tagged history
    deliberately (the tags then dangle and ``read_snapshots`` raises on
    them).

    Old lineage/metrics rows are carried into the compacted snapshot's
    metrics table. Returns the number of snapshots compacted.
    """
    import shutil

    for _attempt in range(max_commit_retries + 1):
        all_committed = _committed_snapshots(out_root)
        base_state = {os.path.basename(p) for p in all_committed}
        boundary = _tag_protected_max(out_root) if respect_tags else -1
        if boundary >= 0:
            # deletes interact with the exemption: a delete snapshot
            # above the tag boundary masks rows in the PROTECTED dirs
            # below it. Folding that delete into the rewrite would
            # retire it while the masked data stays live (deletion
            # lost), and rewriting only the data above it would lift
            # those rows past the delete's index (also lost). So when
            # tagged history is exempt, the compaction suffix starts
            # above the newest delete snapshot too.
            boundary = max(
                boundary,
                max(
                    (
                        _snapshot_idx(p)
                        for p in all_committed
                        if os.path.exists(os.path.join(p, _DELETES_FLAG))
                    ),
                    default=-1,
                ),
            )
        paths = [p for p in all_committed if _snapshot_idx(p) > boundary]
        if len(paths) <= 1:
            return 0
        # read the SAME path list that gets superseded (never re-list —
        # a commit landing between two listings would be folded into the
        # compacted output without a tombstone: permanent duplicates),
        # with merge-on-read equality deletes applied, so compaction
        # rewrites the table deletes-applied — after it, the deleted
        # bytes are physically gone, the delete files retire, and reads
        # pay no merge cost.
        df = _read_snapshot_paths(spark, paths)
        if df is None:
            return 0
        if target_partitions:
            df = df.repartition(target_partitions, "conv_id")
        # stage into an atomically-allocated dir (the mkdir reservation
        # holds the index; _stage_parquet_into fills it without the
        # delete-recreate window a mode("overwrite") write would open)
        final_dir = _allocate_snapshot_dir(out_root)
        next_idx = _snapshot_idx(final_dir)
        _stage_parquet_into(df, final_dir)
        # carry lineage/metrics history into the compacted snapshot
        old_metric_dirs = [
            os.path.join(out_root, "metrics", os.path.basename(p))
            for p in paths
            if os.path.isdir(
                os.path.join(out_root, "metrics", os.path.basename(p))
            )
        ]
        if old_metric_dirs:
            spark.read.parquet(*old_metric_dirs).write.mode(
                "overwrite"
            ).parquet(os.path.join(out_root, "metrics", f"snapshot={next_idx}"))
        with open(os.path.join(final_dir, _SUPERSEDES), "w") as fh:
            fh.write("\n".join(os.path.basename(p) for p in paths) + "\n")
        if _race_hook is not None:
            _race_hook()
        # the commit point: publish only if no snapshot committed (or
        # expired) since we planned — any change forces a re-plan
        won = False
        with _commit_lock(out_root):
            now_state = {
                os.path.basename(p) for p in _committed_snapshots(out_root)
            }
            if now_state == base_state:
                with open(os.path.join(final_dir, _MARKER), "w") as fh:
                    fh.write("ok\n")
                won = True
        if not won:
            shutil.rmtree(final_dir, ignore_errors=True)
            shutil.rmtree(
                os.path.join(out_root, "metrics", f"snapshot={next_idx}"),
                ignore_errors=True,
            )
            continue
        # lazy cleanup (also vacuum's job if we crash mid-loop)
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)
            shutil.rmtree(
                os.path.join(out_root, "metrics", os.path.basename(p)),
                ignore_errors=True,
            )
        return len(paths)
    return 0


def expire_snapshots(
    out_root: str,
    keep_last: int = 1,
    max_age_s: float | None = None,
    respect_tags: bool = True,
) -> list[str]:
    """Retention: drop all but the newest ``keep_last`` committed
    snapshots (and their metrics) — the store's analog of the reference's
    result TTL (`celery_app.py:58` result_expires=3600; Redis cleanup
    `services/redis_service.py:434-477`). Count-based by default since
    snapshot indices are allocate-only and monotonic; ``max_age_s``
    additionally expires any snapshot whose *commit* (marker mtime —
    publish time, not data-write time) is older than that many seconds,
    completing the ≙ of the reference's 3600 s TTL. The two compose:
    a snapshot is removed iff it is beyond ``keep_last`` OR older than
    ``max_age_s``; ``keep_last=0`` with a TTL means age alone decides
    (without one it keeps its historical meaning: expire everything).
    Expired turns simply re-extract on the next resumable run.

    ``respect_tags`` (default) exempts every tag-reachable snapshot —
    index <= the highest tagged index — from expiry, Iceberg's
    refs-block-``expire_snapshots`` rule, so a pinned training run keeps
    resolving until its tag is dropped. Pass False to reclaim tagged
    history deliberately (dangled tags then raise on read).

    Crash-safe: each victim is unpublished (marker removed) before its
    data is deleted, so a crash mid-expiry leaves unpublished dirs that
    `vacuum_uncommitted` removes — never a half-visible snapshot.
    Returns the removed snapshot paths."""
    import shutil
    import time

    keep_last = max(keep_last, 0)
    # physically drop tombstoned dirs first: expiring a compacted
    # snapshot must not resurrect old dirs whose markers it tombstones
    vacuum_uncommitted(out_root)
    paths = sorted(
        _committed_snapshots(out_root),
        key=lambda p: int(os.path.basename(p).split("=", 1)[1]),
    )
    # keep_last=0 alone means "expire everything"; combined with a TTL it
    # means "no count-based retention — age alone decides"
    if keep_last:
        # max(..., 0): keep_last larger than the snapshot count must
        # expire nothing, not slice negatively into the oldest dirs
        victims = list(paths[: max(len(paths) - keep_last, 0)])
    elif max_age_s is None:
        victims = list(paths)
    else:
        victims = []
    if max_age_s is not None:
        cutoff = time.time() - max_age_s
        seen = set(victims)
        for p in paths:
            if p in seen:
                continue
            try:
                committed_at = os.path.getmtime(os.path.join(p, _MARKER))
            except OSError:
                continue  # concurrently expired/unpublished: not ours
            if committed_at < cutoff:
                victims.append(p)
    if respect_tags:
        protected_max = _tag_protected_max(out_root)
        victims = [p for p in victims if _snapshot_idx(p) > protected_max]
    removed = []
    for p in victims:
        os.remove(os.path.join(p, _MARKER))  # unpublish first
        shutil.rmtree(p, ignore_errors=True)
        shutil.rmtree(
            os.path.join(out_root, "metrics", os.path.basename(p)),
            ignore_errors=True,
        )
        removed.append(p)
    return removed


def vacuum_uncommitted(out_root: str) -> list[str]:
    """Maintenance: drop snapshot directories that are invisible to
    readers — crashed runs (no ``_COMMITTED`` marker) and compacted-away
    dirs whose names appear in a committed ``_SUPERSEDES`` list — plus a
    leftover ``_compact_tmp`` and any ``metrics/snapshot=N`` directory
    orphaned by a crashed compaction/expiry (no committed snapshot of
    that name). Returns the removed paths."""
    import shutil

    removed = []
    if not os.path.isdir(out_root):
        return removed
    dead = _superseded_names(out_root)
    for path in _snapshot_dirs(out_root):
        name = os.path.basename(path)
        if not os.path.exists(os.path.join(path, _MARKER)) or name in dead:
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    if os.path.isdir(os.path.join(out_root, "_compact_tmp")):
        shutil.rmtree(os.path.join(out_root, "_compact_tmp"), ignore_errors=True)
        removed.append(os.path.join(out_root, "_compact_tmp"))
    # _staging-* dirs are _stage_parquet_into's pre-rename scratch; one
    # left behind means the writer died mid-write (a kill skips its own
    # cleanup). Reaping them here rides the same contract as the
    # markerless-dir sweep above: vacuum doesn't run concurrently with
    # in-flight writers.
    for name in sorted(os.listdir(out_root)):
        if name.startswith("_staging-"):
            path = os.path.join(out_root, name)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    live = {os.path.basename(p) for p in _committed_snapshots(out_root)}
    metrics_root = os.path.join(out_root, "metrics")
    if os.path.isdir(metrics_root):
        for name in sorted(os.listdir(metrics_root)):
            path = os.path.join(metrics_root, name)
            if name.startswith("snapshot=") and name not in live:
                shutil.rmtree(path, ignore_errors=True)
                removed.append(path)
    return removed


def read_metrics(spark: SparkSession, out_root: str) -> DataFrame | None:
    """All lineage/metrics rows for committed snapshots under out_root."""
    paths = [
        os.path.join(out_root, "metrics", os.path.basename(p))
        for p in _committed_snapshots(out_root)
        if os.path.isdir(os.path.join(out_root, "metrics", os.path.basename(p)))
    ]
    if not paths:
        return None
    return spark.read.parquet(*paths)
