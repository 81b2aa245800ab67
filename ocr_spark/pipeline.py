"""The snapshot store that holds the ``extracted`` table.

Spark recast of the reference's flagship hybrid-extract lifecycle
(SURVEY §3 E3): scan -> classify/route/extract (one narrow Arrow map
per scan split, no shuffle) -> snapshot write (the checkpoint) ->
ordered rollup (``operators.aggregate.conv_text`` over
``read_snapshots``: one shuffle on ``conv_id``). ``run_resumable`` is the only path that lands
extracted turns, for batch jobs and, through
``streaming.stream_to_store``, for streams. The committed snapshot is
the cache; resume is an anti-join against already-committed keys (≙ the
sha256 Redis result cache, ``services/redis_service.py:135-202``, minus
the TTL).

Snapshot layout: each commit appends a ``snapshot=N`` subdirectory of
parquet under the output root. A writer stages its parquet and sidecar
files in a ``_staging-*`` dir, which readers never list; ``_publish``
then writes the ``_COMMITTED`` marker, takes the next index N and renames
the staged dir to ``snapshot=N``, all under the commit lock. A killed run
never corrupts the table (Iceberg would give us this atomically; the
marker and the rename are the no-dependency stand-in with the same
reader-visible semantics), and N follows commit order, as Iceberg's
sequence numbers do.

Each data snapshot holds its manifest, ``_METRICS.json``: the data files
it commits, their schema, and the snapshot's totals (Iceberg's manifest
and snapshot ``summary`` in one file). As in Iceberg, tasks write the data
files and the commit records them: ``run_resumable``'s Python workers
write one parquet file per task and return its name and totals, and the
driver writes the manifest; compaction writes through Spark and records
what it wrote. The manifest commits, loses a race and expires with its
data. Reads plan from it, in the driver: ``read_snapshots`` reads exactly
the files the manifests list, with the union of their schemas, so no
footer is opened to plan a read, and ``read_metrics`` turns the totals
into a frame. A store written by older code, without file lists, is read
by listing its dirs and merging their footers' schemas, until one
compaction writes it a manifest.

Every decision about the store (a read, a writer's plan, a commit, a
vacuum) takes the committed state from one listing of the root, listed
again when a dir it names is dropped before it is read; and an index is
never given out twice: expiry leaves a ``_LAST_INDEX`` mark that
``_publish`` numbers above.
"""

from __future__ import annotations

import contextlib as _contextlib
import json
import os
import shutil
import time
import uuid
from functools import partial

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from ocr_spark.operators.aggregate import SNAPSHOT_TOTALS, snapshot_totals
from ocr_spark.operators.extract import EXTRACTED_SCHEMA, extract_into


def _observed(extracted: DataFrame):
    """``(extracted, observation)``: ``extracted`` with an Observation of
    the snapshot totals attached. Any action on the returned frame (the
    snapshot write) fills ``observation.get`` with the totals computed
    DURING that action — no second scan, no extra job."""
    from pyspark.sql import Observation

    obs = Observation("extract_metrics")
    return extracted.observe(obs, *snapshot_totals()), obs


# ---------------------------------------------------------------------------
# Resumable snapshot store
# ---------------------------------------------------------------------------

_MARKER = "_COMMITTED"
_SUPERSEDES = "_SUPERSEDES"  # written by compaction: names of replaced dirs
_DELETES_FLAG = "_EQUALITY_DELETES"  # snapshot holds delete KEYS, not data
_METRICS = "_METRICS.json"  # a data snapshot's manifest: totals, files, schema
_LAST_INDEX = "_LAST_INDEX"  # expiry's mark: highest index it has seen
_DELETE_KEYS_SCHEMA = "conv_id string, turn_idx int"
_METRICS_SCHEMA = (
    "array<struct<run_id:string,snapshot:int,turns_in:bigint,turns_out:bigint,"
    "bytes_in:bigint,bytes_out:bigint,parse_failures:bigint>>"
)


def _snapshot_idx(path: str) -> int:
    """N of a ``snapshot=N`` dir path or name."""
    return int(os.path.basename(path).split("=", 1)[1])


def _last_index(root: str, dirs: list[str]) -> int:
    """The highest index ever given out: the larger of the expiry mark
    (-1 before any expiry) and the highest of ``dirs``, the caller's
    listing of every ``snapshot=N`` dir."""
    try:
        with open(os.path.join(root, _LAST_INDEX)) as fh:
            mark = int(fh.read())
    except FileNotFoundError:
        mark = -1
    return max([mark, *map(_snapshot_idx, dirs)])


def _next_snapshot_idx(root: str, dirs: list[str] | None = None) -> int:
    """1 + ``_last_index`` (``dirs`` listed here when omitted).
    ``_publish`` takes it under the commit lock, so indices follow commit
    order and an index is never given out twice, even after expiry has
    removed every dir."""
    if dirs is None:
        dirs = _committed_snapshots(root)[0]
    return 1 + _last_index(root, dirs)


def _committed_snapshots(
    root: str, as_of: int | None = None
) -> tuple[list[str], list[str]]:
    """The store's one state read: ``(dirs, visible)`` from ONE listing
    of ``root``. ``dirs`` is every ``snapshot=N`` dir (committed, retired,
    or a markerless dir left by older code); ``visible`` is the committed
    ones a reader sees. A committed ``_SUPERSEDES`` list hides the dirs
    it names, so compaction is atomic at its commit, and because the
    tombstones come from the same listing as the dirs, a compaction
    committing mid-read shows its inputs or its output, never both. With
    ``as_of``, only snapshots <= that index count, tombstones included:
    a later compaction must not hide the dirs that were live then.

    A listed dir that is gone by the time its marker is checked makes
    the listing stale (compaction drops the dirs it supersedes right
    after its commit, so the dir's replacement is newer than the
    listing): the root is listed again."""
    prev = None
    while True:
        names = sorted(os.listdir(root)) if os.path.isdir(root) else []
        snaps = [os.path.join(root, n) for n in names if n.startswith("snapshot=")]
        committed = [
            p
            for p in snaps
            if (as_of is None or _snapshot_idx(p) <= as_of)
            and os.path.exists(os.path.join(p, _MARKER))
        ]
        gone = [p for p in snaps if p not in committed and not os.path.isdir(p)]
        # an unchanged listing means the non-dirs are plain files
        if not gone or names == prev:
            break
        prev = names
    dirs = [p for p in snaps if p not in gone]
    dead: set[str] = set()
    for p in committed:
        with _contextlib.suppress(FileNotFoundError):
            with open(os.path.join(p, _SUPERSEDES)) as fh:
                dead.update(ln.strip() for ln in fh if ln.strip())
    return dirs, [p for p in committed if os.path.basename(p) not in dead]


def tag_snapshot(root: str, name: str, idx: int | None = None) -> int:
    """Named snapshot refs (Iceberg tags): pin a human-meaningful name —
    'v1-training-run', 'pre-dedup-audit' — to a snapshot index so
    downstream jobs read a STABLE version by name while ingestion keeps
    appending. Defaults to the current head; an explicit ``idx`` must be
    a visible committed snapshot (a future or retired index would pin a
    read that changes or dangles). A tag is one tiny ref file
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
    visible = {_snapshot_idx(p) for p in _committed_snapshots(root)[1]}
    if idx is None:
        if not visible:
            raise ValueError(f"no committed snapshots under {root}")
        idx = max(visible)
    elif idx not in visible:
        raise ValueError(
            f"cannot tag snapshot {idx}: the visible committed snapshots"
            f" under {root} are {sorted(visible)}"
        )
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
    """Read the committed table: the data files the visible snapshots'
    manifests list, with the union of their schemas
    (``_read_snapshot_paths``). The union gives schema evolution
    (Iceberg's add-column path): snapshots written before a column
    existed read as NULL for it, so an extraction schema can grow over
    the table's lifetime without rewriting history. (Type *changes* of
    an existing column still conflict — that is Iceberg's boundary too
    for parquet file reuse.)

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
    visible, df = _planned(root, partial(_read_snapshot_paths, spark), as_of)
    if tag is not None and not visible:
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
    return df


def _planned(root: str, plan, as_of: int | None = None):
    """``(visible, plan(visible))`` for the visible snapshots of one
    listing. ``plan`` reads their manifests, and raises
    ``FileNotFoundError`` when a listed snapshot was dropped before it
    got there (a compaction drops the dirs it supersedes right after its
    commit); the listing is then stale, so it is taken again and
    ``plan`` re-run."""
    while True:
        visible = _committed_snapshots(root, as_of)[1]
        try:
            return visible, plan(visible)
        except FileNotFoundError:
            continue


def _manifest(snap: str) -> dict | None:
    """The ``_METRICS.json`` manifest of the snapshot dir ``snap``: its
    totals and run_id and, from data snapshots written by this code, the
    data ``files`` (names relative to ``snap``) and their ``schema``
    (``StructType.jsonValue``). None when ``snap`` has none (a delete
    snapshot, or older code, or a hand-made dir). Raises
    ``FileNotFoundError`` when ``snap`` itself is gone."""
    try:
        with open(os.path.join(snap, _METRICS)) as fh:
            return json.load(fh)
    except FileNotFoundError:
        if os.path.isdir(snap):
            return None
        raise


def _data_files(snap: str, manifest: dict | None) -> list[str]:
    """What to read of the data snapshot ``snap``: the files its manifest
    lists, or the whole dir when it lists none."""
    if manifest and "files" in manifest:
        return [os.path.join(snap, name) for name in manifest["files"]]
    return [snap]


def _read_snapshot_paths(
    spark: SparkSession, paths: list[str]
) -> DataFrame | None:
    """Deletes-applied read over an EXPLICIT snapshot-path list — shared
    by read_snapshots and compact_snapshots so the compactor reads
    exactly the set it supersedes (re-listing inside the read would race
    a concurrent commit into the compacted output without tombstoning
    its source — permanent duplicates).

    The data are exactly the files the manifests list, read with the
    union of the manifests' schemas: Spark neither lists the dirs nor
    opens a footer to plan the read, and a late file that a stray task
    attempt left in a committed dir is never read. If any data snapshot
    has no file list (written by older code, or by hand), the whole read
    lists its dir and merges every footer's schema (``mergeSchema``)
    instead; one ``compact_snapshots`` gives the store a manifest again.
    Raises ``FileNotFoundError`` when a listed snapshot is gone."""
    dels = [p for p in paths if os.path.exists(os.path.join(p, _DELETES_FLAG))]
    data = [(p, _manifest(p)) for p in paths if p not in dels]
    if not data:
        return None
    if all(m and "files" in m for _, m in data):
        fields: dict = {}
        for _, m in data:
            for f in T.StructType.fromJson(m["schema"]).fields:
                fields.setdefault(f.name, f)
        reader = spark.read.schema(T.StructType(list(fields.values())))
    else:
        reader = spark.read.option("mergeSchema", "true")
    df = reader.parquet(*(f for p, m in data for f in _data_files(p, m)))
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
        spark.read.schema(_DELETE_KEYS_SCHEMA)
        .parquet(*dels)
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
    Deletion is point-in-time: the delete's index is taken when it
    commits, so it hides every row committed before it, and a later
    re-append (or a resumable re-run over a source that still contains
    the turn) resurrects the key — Iceberg's sequence-number semantics;
    purge the SOURCE too for permanent removal, then
    ``compact_snapshots`` applies deletes physically (read-side merge
    cost drops to zero and the bytes leave disk). Run compaction BEFORE
    retention so expiry can never separate a delete file from the data
    it masks (``jobs/maintenance_job.py`` orders it that way). Returns
    the delete snapshot's index."""
    staged = _stage_parquet_into(
        keys.select("conv_id", "turn_idx").distinct().coalesce(1), root
    )
    with open(os.path.join(staged, _DELETES_FLAG), "w") as fh:
        fh.write("ok\n")
    # no base state: a delete does not depend on what else committed, so
    # it never needs to re-plan
    return _snapshot_idx(_publish(root, staged))


def snapshots_df(spark: SparkSession, root: str) -> DataFrame:
    """Store introspection: one row per committed snapshot — the
    ≙ of Iceberg's ``snapshots`` metadata table. Columns: snapshot name,
    index, commit time (marker mtime — publish time), data size on disk,
    file count, and whether observed totals exist for it. Driver-side
    directory walk only (metadata, not data); empty frame if none."""
    import datetime

    rows = []
    for p in _committed_snapshots(root)[1]:
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
                _snapshot_idx(name),
                committed_at,
                n_files,
                n_bytes,
                os.path.exists(os.path.join(p, _METRICS)),
                os.path.exists(os.path.join(p, _DELETES_FLAG)),
            )
        )
    return spark.createDataFrame(
        rows,
        "snapshot string, idx int, committed_at timestamp, n_files int, "
        "n_bytes bigint, has_metrics boolean, is_deletes boolean",
    )


def _staging_path(root: str) -> str:
    """A new ``_staging-*`` dir path under ``root``. Readers list only
    ``snapshot=N`` dirs, so they never see it; ``_publish`` numbers it at
    commit."""
    return os.path.join(root, f"_staging-{uuid.uuid4().hex[:12]}")


def _stage_parquet_into(df: DataFrame, root: str) -> str:
    """Write ``df`` with Spark's parquet writer into a new ``_staging-*``
    dir under ``root`` and return its path."""
    staging = _staging_path(root)
    try:
        df.write.parquet(staging)
    except BaseException:
        shutil.rmtree(staging, ignore_errors=True)
        raise
    return staging


@_contextlib.contextmanager
def _commit_lock(root: str, timeout_s: float = 60.0, stale_s: float = 300.0):
    """Atomic-mkdir mutex around the commit point (validate, marker,
    numbering) and expiry's ``_LAST_INDEX`` update. Held only across a
    directory listing, small file writes and a rename — never across a
    Spark job — so contention is microseconds.
    A lock older than ``stale_s`` is presumed abandoned by a crashed
    writer and broken (the Iceberg-catalog analog is the metastore lock
    timeout)."""
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


def _publish(
    root: str,
    staged: str,
    base_state: set[str] | None = None,
    race_hook=None,
) -> str | None:
    """The store's one commit point. Under the commit lock it writes
    ``staged``'s ``_COMMITTED`` marker, takes the next snapshot index N
    and renames the staged dir to ``snapshot=N``; returns that path.
    Numbering at commit keeps indices in commit order, so an equality
    delete hides exactly the rows committed before it. With
    ``base_state`` (the committed set a writer planned against) the
    commit is optimistic: it publishes only if that set is unchanged —
    any concurrent commit, delete or expiry forces the writer to re-plan
    (Iceberg's serializable isolation). A lost commit removes the staged
    dir and returns None. ``race_hook`` runs just before validation (the
    writers' test seam for interleaving a competing commit)."""
    if race_hook is not None:
        race_hook()
    with _commit_lock(root):
        dirs, visible = _committed_snapshots(root)
        names = set(map(os.path.basename, visible))
        if base_state is None or names == base_state:
            with open(os.path.join(staged, _MARKER), "w") as fh:
                fh.write("ok\n")
            idx = _next_snapshot_idx(root, dirs)
            snap_dir = os.path.join(root, f"snapshot={idx}")
            os.rename(staged, snap_dir)
            return snap_dir
    _drop_snapshot(root, staged)
    return None


def _drop_snapshot(root: str, snap: str) -> None:
    """Remove the snapshot or staged dir ``snap`` (a path or name) and
    everything in it."""
    shutil.rmtree(os.path.join(root, os.path.basename(snap)), ignore_errors=True)


def _write_manifest(
    staged: str, totals: dict, run_id: str, files: list[str], schema: T.StructType
) -> dict:
    """Write ``staged``'s manifest, ``_METRICS.json``: the five totals
    (a NULL byte sum of an empty write becomes 0), ``run_id``, the data
    ``files`` (names in ``staged``) and their ``schema``. Returns the
    totals."""
    totals = {k: totals[k] or 0 for k in SNAPSHOT_TOTALS}
    manifest = {
        **totals,
        "run_id": run_id,
        "files": files,
        "schema": schema.jsonValue(),
    }
    with open(os.path.join(staged, _METRICS), "w") as fh:
        json.dump(manifest, fh)
    return totals


def _stage_extracted(todo: DataFrame, root: str, run_id: str) -> tuple[str, dict]:
    """Extract ``todo`` into a new ``_staging-*`` dir under ``root``, with
    its manifest; returns ``(staged dir, totals)``.

    One job: each task writes its own rows as one parquet file
    (``extract_into``) and returns the file's name and totals, which are
    collected here. A staged file that no returned row names was left by
    a failed task attempt, so it is deleted. The staged dir is removed if
    anything raises."""
    staged = _staging_path(root)
    os.makedirs(staged)
    try:
        written = extract_into(todo, staged).collect()
        files = sorted(r["file"] for r in written)
        for name in set(os.listdir(staged)) - set(files):
            os.remove(os.path.join(staged, name))
        totals = {k: sum(r[k] for r in written) for k in SNAPSHOT_TOTALS}
        return staged, _write_manifest(staged, totals, run_id, files, EXTRACTED_SCHEMA)
    except BaseException:
        _drop_snapshot(root, staged)
        raise


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
    observed, stages into its own ``_staging-*`` directory (two writers
    can never collide on a path), and at publish time validates — under a
    microseconds-scale mkdir mutex — that the committed state is still
    the one it planned against; only then does the snapshot get its
    index. A writer that lost the race discards its staged data and
    re-plans from the new state (the anti-join then excludes whatever
    the winner committed), up to ``max_commit_retries`` times.
    Serializable-append semantics: no duplicate (conv_id, turn_idx) can
    ever be published by racing writers.

    The extraction is one Spark job and no Spark write: the Python
    worker that extracts a task's turns writes them as that task's
    parquet file in the staged dir, and the driver collects one row per
    file (``_stage_extracted``). As in Iceberg, where tasks write the
    data files and the commit records them, the driver then writes the
    snapshot's manifest, ``_METRICS.json``: the files, their schema and
    the snapshot's totals (run_id, turns in/out, bytes in/out, parse
    failures — ≙ the reference's stats + progress rows, SURVEY §1.3),
    summed from the rows the tasks returned: no re-read and no extra
    job. Every read plans from those file lists.

    ``_race_hook`` is a test seam: called after staging, before commit
    validation, so tests can interleave a competing commit.
    """
    run_id = run_id or uuid.uuid4().hex[:12]
    for _attempt in range(max_commit_retries + 1):
        committed, existing = _planned(out_root, partial(_read_snapshot_paths, spark))
        base_state = set(map(os.path.basename, committed))
        todo = transcripts
        if existing is not None:
            done_keys = existing.select("conv_id", "turn_idx")
            todo = transcripts.join(done_keys, ["conv_id", "turn_idx"], "left_anti")
        staged, totals = _stage_extracted(todo, out_root, run_id)
        if existing is not None and not totals["turns_in"]:
            # fully-caught-up rerun: don't publish (or keep) an empty
            # snapshot — no-op reruns must not grow the directory count.
            # (If a racing writer committed since we planned, the next
            # resumable run simply picks its rows up — an empty staged
            # set can't conflict with anything.)
            _drop_snapshot(out_root, staged)
            return existing
        if _publish(out_root, staged, base_state, _race_hook):
            return read_snapshots(spark, out_root)
        # lost the race: _publish dropped the staged snapshot; re-plan
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
    written into a ``_staging-*`` directory and stamped with a
    ``_SUPERSEDES`` list BEFORE ``_publish`` marks it and renames it to
    ``snapshot=N``. That rename is the atomic switch — readers either
    see the old snapshots (no new dir yet) or the new one with the old
    ones tombstoned. Committed data is never unpublished before its
    replacement is durable; a crash at any point leaves a complete,
    readable, non-duplicated table, and leftovers are vacuumable.

    The commit is optimistic, as in ``run_resumable``: ``_publish``
    commits only if the committed set is still exactly the one the
    rewrite planned against. Without this, a ``delete_turns``
    snapshot committing between the path listing and this commit would
    silently lose the deletion: the compacted rows land at an index
    HIGHER than the delete's, so the merge-on-read ``_del_idx <
    _row_snap`` filter would resurrect the deleted keys forever. A lost race discards the staged rewrite and
    re-plans (up to ``max_commit_retries`` times, then returns 0 — a
    compaction that keeps losing is safe to skip; the next maintenance
    run retries).

    ``respect_tags`` (default) exempts every tag-reachable snapshot
    (index <= the highest tagged index) from the rewrite, so named refs
    keep resolving to exactly the data they pinned — Iceberg's
    refs-block-retention rule. Pass False to reclaim tagged history
    deliberately (the tags then dangle and ``read_snapshots`` raises on
    them).

    The rewrite keeps Spark's parquet writer, and observes its own totals
    during that write into the compacted snapshot's manifest, so they
    count only the rows it kept, never the turns it deleted; the manifest
    also lists the staged data files and the written schema. A lone
    snapshot without a manifest (from a store written before snapshots
    held one) is rewritten just to gain it. Returns the number of
    snapshots compacted.
    """
    for _attempt in range(max_commit_retries + 1):
        all_committed = _committed_snapshots(out_root)[1]
        base_state = set(map(os.path.basename, all_committed))
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
        try:
            # a lone snapshot is rewritten only to give an old store its
            # manifest
            if len(paths) <= 1 and all(
                "files" in (_manifest(p) or {}) for p in paths
            ):
                return 0
            # read the SAME path list that gets superseded (never re-list
            # — a commit landing between two listings would be folded
            # into the compacted output without a tombstone: permanent
            # duplicates), with merge-on-read equality deletes applied,
            # so compaction rewrites the table deletes-applied — after
            # it, the deleted bytes are physically gone, the delete files
            # retire, and reads pay no merge cost.
            df = _read_snapshot_paths(spark, paths)
        except FileNotFoundError:
            continue  # a listed dir was dropped since: re-plan
        if df is None:
            return 0
        df, obs = _observed(df)
        staged = _stage_parquet_into(df, out_root)
        files = sorted(n for n in os.listdir(staged) if n.endswith(".parquet"))
        _write_manifest(staged, obs.get, uuid.uuid4().hex[:12], files, df.schema)
        with open(os.path.join(staged, _SUPERSEDES), "w") as fh:
            fh.write("\n".join(os.path.basename(p) for p in paths) + "\n")
        if not _publish(out_root, staged, base_state, _race_hook):
            continue  # lost the race: staged rewrite dropped; re-plan
        # lazy cleanup (also vacuum's job if we crash mid-loop)
        for p in paths:
            _drop_snapshot(out_root, p)
        return len(paths)
    return 0


def expire_snapshots(
    out_root: str,
    keep_last: int = 1,
    max_age_s: float | None = None,
    respect_tags: bool = True,
) -> list[str]:
    """Retention: drop all but the newest ``keep_last`` committed
    snapshots — the store's analog of the reference's result TTL
    (`celery_app.py:58` result_expires=3600; Redis cleanup
    `services/redis_service.py:434-477`). Count-based by default since
    snapshot indices follow commit order; ``max_age_s``
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

    Expiry is the only operation that can remove the newest committed
    snapshot, so before it touches a victim it raises the ``_LAST_INDEX``
    mark (Iceberg's ``last-sequence-number``) that ``_publish`` numbers
    above: an expired index a reader holds (``as_of``, a tag) never comes
    back with different data.

    Crash-safe: each victim is unpublished (marker removed) before its
    data is deleted, so a crash mid-expiry leaves unpublished dirs that
    `vacuum_uncommitted` removes — never a half-visible snapshot.
    Returns the removed snapshot paths."""
    keep_last = max(keep_last, 0)
    if not os.path.isdir(out_root):
        return []
    # physically drop tombstoned dirs first: expiring a compacted
    # snapshot must not resurrect old dirs whose markers it tombstones
    vacuum_uncommitted(out_root)
    with _commit_lock(out_root):
        dirs, visible = _committed_snapshots(out_root)
        tmp = os.path.join(out_root, f".{_LAST_INDEX}.tmp")
        with open(tmp, "w") as fh:
            fh.write(f"{_last_index(out_root, dirs)}\n")
        os.replace(tmp, os.path.join(out_root, _LAST_INDEX))
    paths = sorted(visible, key=_snapshot_idx)
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
        _drop_snapshot(out_root, p)
        removed.append(p)
    return removed


def vacuum_uncommitted(out_root: str) -> list[str]:
    """Maintenance: drop snapshot directories that are invisible to
    readers — crashed runs (no ``_COMMITTED`` marker) and compacted-away
    dirs whose names appear in a committed ``_SUPERSEDES`` list — plus
    leftover ``_staging-*`` dirs. A snapshot's metrics live inside its
    dir, so they go with it. Returns the removed paths."""
    if not os.path.isdir(out_root):
        return []
    dirs, visible = _committed_snapshots(out_root)
    removed = sorted(set(dirs) - set(visible))
    for path in removed:
        shutil.rmtree(path, ignore_errors=True)
    # markerless snapshot dirs come from stores written by older code or
    # by hand; a _staging-* dir left behind means its writer died before
    # its commit (a kill skips its own cleanup). Reaping them rides one
    # contract: vacuum doesn't run concurrently with in-flight writers.
    for name in sorted(os.listdir(out_root)):
        if name.startswith("_staging-"):
            path = os.path.join(out_root, name)
            shutil.rmtree(path, ignore_errors=True)
            removed.append(path)
    return removed


def read_metrics(spark: SparkSession, out_root: str) -> DataFrame | None:
    """One row of observed totals per committed data snapshot under
    out_root; None if there are none. The driver reads the small
    manifests, and the frame is built in the JVM from one literal of
    their run_id and five totals: no file scan, no Python workers, one
    partition."""
    _, manifests = _planned(out_root, _manifests)
    rows = [
        {
            "run_id": m["run_id"],
            **{k: m[k] for k in SNAPSHOT_TOTALS},
            "snapshot": _snapshot_idx(p),
        }
        for p, m in manifests
        if m is not None
    ]
    if not rows:
        return None
    totals = F.from_json(F.lit(json.dumps(rows)), _METRICS_SCHEMA)
    return spark.range(0, 1, 1, 1).select(F.inline(totals))


def _manifests(paths: list[str]) -> list[tuple[str, dict | None]]:
    """``(path, _manifest(path))`` for each snapshot dir in ``paths``."""
    return [(p, _manifest(p)) for p in paths]


def committed_turns(out_root: str) -> int | None:
    """The committed table's row count, summed from the visible
    snapshots' manifests: no Spark job. None when that sum is not the
    count: a delete snapshot is visible (it hides rows its manifestless
    dir does not count), or a snapshot has no totals."""
    _, manifests = _planned(out_root, _manifests)
    if any(m is None for _, m in manifests):
        return None
    return sum(m["turns_in"] for _, m in manifests)
