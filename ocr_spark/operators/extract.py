"""The extraction core: vectorized Arrow-batched extraction over turns.

This is the Spark recast of the reference's per-page worker loop
(``tasks/pdf_hybrid_tasks.py:151-197`` — classify, route, extract, with
per-page error isolation): one Arrow record batch in, one batch of
``extracted`` rows out, no per-row Python at the Spark boundary and no
driver involvement. The per-turn semantics are imported from the frozen
oracle (``ocr_spark.oracle``), so distributed output is byte-identical to
the single-process spec by construction.

Both public shapes cross the Python boundary once, through the same
``mapInArrow`` worker loop (``_extract_batches``); they differ only in the
key columns the loop passes through untouched:

- ``extract()`` passes ``conv_id, turn_idx``. It is a *narrow*
  transformation — zero shuffle: the Python stage runs one task per scan
  split. Input partitioning comes from the source scan
  (``maxPartitionBytes`` bounds task size); Arrow batch size bounds
  Python-worker memory. ``extract_into()`` is the same stage with the
  write folded in, and the shape production runs
  (``pipeline.run_resumable``): each task's worker writes the batches the
  loop yields as one parquet file (``_write_part``) and returns one row,
  the file's name and its totals, so the extracted rows go from the
  worker to disk without crossing back into the JVM.
- ``extract_deduped()`` passes ``dup_keys``: the opt-in memoization join
  (A6 ≙ the reference's sha256 Redis cache, ``tasks/ocr_tasks.py:45-91``).
  Identical payloads are extracted once and the result is fanned back out
  to every key that carried the payload. It trades one shuffle of the
  raw payloads for running the Python stage on unique payloads only,
  which pays when the parser is expensive (real OCR inference) or
  duplicates are common (boilerplate, retries, forwarded content).

Every task of that stage also pays a fixed Python setup cost that has
nothing to do with parsing: before each task the worker refreshes its
import caches, and on Python 3.11 that re-reads the central directory of
every zip archive on ``sys.path``, Spark's own ``pyspark.zip``, py4j zip
and spark-core jar included. The loop's first step,
``_skip_spark_archive_refresh``, stops the re-read for Spark's own
archives in ``SPARK_HOME``, which cannot change while a worker lives; a
reused worker skips it from its second task on.

Neither shape repartitions its input by conversation, so a
pre-extraction salt would be an extra exchange that no operator uses,
and conversation skew (the long-agent-trace archetype, SURVEY §2.4 P5)
never reaches the parser. The rows of one conversation first meet in
the rollup, ``aggregate.conv_text``: one shuffle on ``conv_id`` after
map-side partial lists. A turn-bucket salt in front of it cost a second
shuffle and lost at local[4] on uniform input and with 80% of all turns
in one conversation (BENCH/SKEW.md).
"""

from __future__ import annotations

import os
from array import array
from functools import partial
from itertools import accumulate

from pyspark.sql import DataFrame, functions as F, types as T

from ocr_spark.operators.aggregate import SNAPSHOT_TOTALS
from ocr_spark.oracle.extract import extract_turn

EXTRACTED_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("kind", T.StringType(), False),
        T.StructField("extracted_text", T.StringType(), True),
        T.StructField(
            "spans",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("start", T.IntegerType(), False),
                        T.StructField("end", T.IntegerType(), False),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "lines",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("text", T.StringType(), True),
                        T.StructField("confidence", T.DoubleType(), True),
                        T.StructField("bbox", T.ArrayType(T.DoubleType()), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField(
            "blocks",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("type", T.StringType(), True),
                        T.StructField("text", T.StringType(), True),
                        T.StructField("bbox", T.ArrayType(T.DoubleType()), True),
                    ]
                )
            ),
            True,
        ),
        T.StructField("parse_ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("bytes_in", T.LongType(), False),
    ]
)

# the columns the worker computes; every other output column is a key the
# worker passes through from its input batch
_PARSED = [f for f in EXTRACTED_SCHEMA.fields if f.name not in ("conv_id", "turn_idx")]
_PARSED_NAMES = [f.name for f in _PARSED]

# what extract_into's tasks return: the file each wrote, and the
# snapshot totals of the rows in it
WRITTEN_SCHEMA = T.StructType(
    [T.StructField("file", T.StringType(), False)]
    + [T.StructField(name, T.LongType(), False) for name in SNAPSHOT_TOTALS]
)

_DEDUP_SCHEMA = T.StructType(
    [
        T.StructField(
            "dup_keys",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("conv_id", T.StringType(), False),
                        T.StructField("turn_idx", T.IntegerType(), False),
                    ]
                )
            ),
            False,
        ),
        *_PARSED,
    ]
)


_BITS = bytes.maketrans(b"\x00\x01", b"01")


def _pack_bits(flags) -> bytes:
    """Arrow's LSB-first bit layout (validity bitmaps, boolean values) of a
    list of bools."""
    return int(bytes(flags)[::-1].translate(_BITS) or b"0", 2).to_bytes(
        (len(flags) + 7) // 8, "little"
    )


def _buf(typecode, values):
    import pyarrow as pa

    return pa.py_buffer(array(typecode, values))


def _fixed(dtype, typecode, values):
    """A fixed-width Arrow array of ``values`` with no nulls."""
    import pyarrow as pa

    return pa.Array.from_buffers(dtype, len(values), [None, _buf(typecode, values)])


def _strings(dtype, values):
    """A string Arrow array of ``values`` (str or None)."""
    import pyarrow as pa

    try:
        joined, valid = "".join(values), None
    except TypeError:  # nulls: a validity bitmap, and "" in their slots
        valid = pa.py_buffer(_pack_bits([v is not None for v in values]))
        values = ["" if v is None else v for v in values]
        joined = "".join(values)
    # UTF-8 byte lengths; an ASCII str's is its len (isascii is O(1))
    if joined.isascii():
        sizes = map(len, values)
    else:
        sizes = [len(v) if v.isascii() else len(v.encode()) for v in values]
    return pa.Array.from_buffers(
        dtype,
        len(values),
        [valid, _buf("i", accumulate(sizes, initial=0)), pa.py_buffer(joined.encode())],
    )


def _skip_spark_archive_refresh():
    """Make ``zipimporter.invalidate_caches`` a no-op, in this process, for
    Spark's own archives: those under ``SPARK_HOME``'s ``python/lib`` and
    ``jars`` dirs, compared by realpath.

    A Python worker calls ``importlib.invalidate_caches()`` before every
    task. On Python 3.11 that makes each of its ``zipimporter``s re-read its
    archive's whole central directory: ``pyspark.zip``, the py4j zip and the
    spark-core jar, over 16 importers, ~0.2 s per task. Spark's own archives
    cannot change while a worker lives. Every other archive (``--py-files``,
    ``addPyFile``) still refreshes, also where it lands under ``SPARK_HOME``
    (a standalone executor's work dir is ``$SPARK_HOME/work`` by default).
    With ``SPARK_HOME`` unset nothing is skipped. Idempotent: a second call
    does not wrap the wrapper."""
    import os
    import zipimport

    refresh = zipimport.zipimporter.invalidate_caches
    home = os.environ.get("SPARK_HOME")
    if not home or hasattr(refresh, "skips_under"):
        return
    home = os.path.realpath(home)
    roots = (os.path.join(home, "python", "lib", ""), os.path.join(home, "jars", ""))

    def invalidate_caches(self):
        if not os.path.realpath(self.archive).startswith(roots):
            refresh(self)

    invalidate_caches.skips_under = roots
    zipimport.zipimporter.invalidate_caches = invalidate_caches


def _decode_error(column: str) -> dict:
    """The ``extracted`` row of a turn whose ``column`` holds bytes that
    are not valid UTF-8: the parser never sees it."""
    return {
        "kind": "error",
        "extracted_text": "",
        "spans": [],
        "lines": [],
        "blocks": [],
        "parse_ok": False,
        "error": f"decode error: invalid UTF-8 in {column}",
    }


def _extract_batches(batches, out_schema: T.StructType):
    """The one per-row worker loop: ``text``/``tool`` through the frozen
    parser, key columns (every output column before ``kind``) passed
    through zero-copy.

    Every output array is assembled straight from buffers
    (``pa.Array.from_buffers`` over stdlib ``array`` offsets and values,
    packed validity bitmaps and joined UTF-8 bytes), typed from the Arrow
    form of ``out_schema``; ``bytes_in`` comes from the input columns' Arrow
    offsets (``pyarrow.compute``), with no per-row encode. pyarrow's
    Python-value converter (``pa.array``, ``pa.scalar``) imports pandas on
    first use, which grows every Python worker by ~38 MB; this loop never
    calls it.

    Each task also pays a fixed setup cost before its first batch: the
    worker's per-task ``importlib.invalidate_caches()`` re-reads every zip
    archive on ``sys.path`` (~0.2 s per task on Python 3.11). The loop
    first calls ``_skip_spark_archive_refresh``, so from its second task on
    a reused worker no longer re-reads Spark's own archives; every other
    archive still refreshes.

    Spark does not validate the bytes of a string, so a ``text`` or
    ``tool`` value may not be valid UTF-8. Such a turn becomes an error
    row (``_decode_error``); the other turns of its batch are parsed as
    usual."""
    _skip_spark_archive_refresh()
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(out_schema)
    keys = schema.names[: len(schema) - len(_PARSED)]
    types = {name: schema.field(name).type for name in _PARSED_NAMES}
    spans_t, lines_t, blocks_t = types["spans"], types["lines"], types["blocks"]
    span_t, line_t, block_t = spans_t.value_type, lines_t.value_type, blocks_t.value_type
    start_t, end_t = span_t.field("start").type, span_t.field("end").type
    f64 = line_t.field("confidence").type

    def lists(list_type, offsets, values):
        return pa.Array.from_buffers(
            list_type, len(offsets) - 1, [None, _buf("i", offsets)], children=[values]
        )

    def structs(struct_type, *children):
        return pa.Array.from_buffers(struct_type, len(children[0]), [None], children=list(children))

    def bboxes(struct_type, offsets, values):
        return lists(struct_type.field("bbox").type, offsets, _fixed(f64, "d", values))

    i64 = types["bytes_in"]
    zero = _fixed(i64, "q", [0])[0]  # pa.scalar(0) would import pandas

    def decoded(column):
        """``column``'s values as str (None for NULL), and the rows whose
        bytes are not valid UTF-8 (None in the values). ``to_pylist``
        decodes the whole column; only when it raises is the column
        decoded row by row, from its binary cast."""
        try:
            return column.to_pylist(), ()
        except UnicodeDecodeError:
            values, bad = [], set()
            for i, raw in enumerate(column.cast(pa.binary()).to_pylist()):
                try:
                    values.append(None if raw is None else raw.decode())
                except UnicodeDecodeError:
                    values.append(None)
                    bad.add(i)
            return values, bad

    def utf8_bytes(batch, name):
        """Per-row UTF-8 byte length of a string column, read from its
        Arrow offsets; NULL counts 0."""
        return pc.fill_null(pc.binary_length(batch.column(name)).cast(i64), zero)

    for batch in batches:
        texts, bad_text = decoded(batch.column("text"))
        tools, bad_tool = decoded(batch.column("tool"))
        kind, etext, ok, err = [], [], [], []
        s_off, s_start, s_end = [0], [], []
        l_off, l_text, l_conf, l_boff, l_bval = [0], [], [], [0], []
        b_off, b_type, b_text, b_boff, b_bval = [0], [], [], [0], []
        for i, (text, tool) in enumerate(zip(texts, tools)):
            if i in bad_text:
                row = _decode_error("text")
            elif i in bad_tool:
                row = _decode_error("tool")
            else:
                row = extract_turn(text or "", tool or "")
            kind.append(row["kind"])
            etext.append(row["extracted_text"])
            ok.append(row["parse_ok"])
            err.append(row["error"])
            for a, b in row["spans"]:
                s_start.append(a)
                s_end.append(b)
            s_off.append(len(s_start))
            for ln in row["lines"]:
                l_text.append(ln["text"])
                l_conf.append(ln["confidence"])
                l_bval.extend(ln["bbox"])
                l_boff.append(len(l_bval))
            l_off.append(len(l_text))
            for bl in row["blocks"]:
                b_type.append(bl["type"])
                b_text.append(bl["text"])
                b_bval.extend(bl["bbox"])
                b_boff.append(len(b_bval))
            b_off.append(len(b_text))
        parsed = [
            _strings(types["kind"], kind),
            _strings(types["extracted_text"], etext),
            lists(
                spans_t,
                s_off,
                structs(span_t, _fixed(start_t, "i", s_start), _fixed(end_t, "i", s_end)),
            ),
            lists(
                lines_t,
                l_off,
                structs(
                    line_t,
                    _strings(line_t.field("text").type, l_text),
                    _fixed(f64, "d", l_conf),
                    bboxes(line_t, l_boff, l_bval),
                ),
            ),
            lists(
                blocks_t,
                b_off,
                structs(
                    block_t,
                    _strings(block_t.field("type").type, b_type),
                    _strings(block_t.field("text").type, b_text),
                    bboxes(block_t, b_boff, b_bval),
                ),
            ),
            pa.Array.from_buffers(types["parse_ok"], len(ok), [None, pa.py_buffer(_pack_bits(ok))]),
            _strings(types["error"], err),
            pc.add(utf8_bytes(batch, "text"), utf8_bytes(batch, "tool")),
        ]
        yield pa.RecordBatch.from_arrays(
            [batch.column(k) for k in keys] + parsed, names=schema.names
        )


def _write_part(out_batches, path: str):
    """Write ``out_batches`` (``_extract_batches`` output) into one parquet
    file at ``path`` and yield one ``WRITTEN_SCHEMA`` row: the file's name
    and the totals of its rows, summed from the batches' Arrow arrays as
    they are written. An input with no rows writes no file and yields
    nothing.

    zstd level 3 without dictionary pages: the parsed text is mostly
    unique, so dictionaries only add bytes. ``store_schema=False`` keeps
    pyarrow's own schema out of the footer; Spark reads the parquet
    schema. Neither ``pyarrow.parquet`` nor ``pyarrow.compute`` imports
    pandas."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    def total(array) -> int:
        return pc.sum(array).as_py() or 0  # an all-NULL sum is None

    writer = None
    sums = dict.fromkeys(SNAPSHOT_TOTALS, 0)
    try:
        for batch in out_batches:
            if not batch.num_rows:
                continue
            if writer is None:
                writer = pq.ParquetWriter(
                    path,
                    batch.schema,
                    compression="zstd",
                    compression_level=3,
                    use_dictionary=False,
                    store_schema=False,
                )
            writer.write_batch(batch)
            n_ok = total(batch.column("parse_ok"))
            sums["turns_in"] += batch.num_rows
            sums["turns_out"] += n_ok
            sums["bytes_in"] += total(batch.column("bytes_in"))
            # code points, as Spark's length() counts them
            sums["bytes_out"] += total(pc.utf8_length(batch.column("extracted_text")))
            sums["parse_failures"] += batch.num_rows - n_ok
    finally:
        if writer is not None:
            writer.close()
    if writer is None:
        return
    i64 = pa.int64()
    yield pa.RecordBatch.from_arrays(
        [_strings(pa.string(), [os.path.basename(path)])]
        + [_fixed(i64, "q", [sums[k]]) for k in SNAPSHOT_TOTALS],
        names=WRITTEN_SCHEMA.names,
    )


def _write_extracted(batches, staging: str):
    """``extract_into``'s worker: extract a task's batches and write them
    to ``part-{partitionId:05d}-{taskAttemptId}.parquet`` in ``staging``.
    The attempt id in the name keeps a retried or speculative attempt off
    the file of the attempt whose row the driver collects."""
    from pyspark import TaskContext

    ctx = TaskContext.get()
    name = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}.parquet"
    yield from _write_part(
        _extract_batches(batches, EXTRACTED_SCHEMA), os.path.join(staging, name)
    )


def _turn_idx():
    # keys pass through the worker untouched, so they must already have
    # the output type (a source may carry turn_idx as bigint)
    return F.col("turn_idx").cast("int").alias("turn_idx")


def _map_extract(df: DataFrame, out_schema: T.StructType) -> DataFrame:
    """``df`` holds the key columns of ``out_schema`` plus ``text, tool``."""
    return df.mapInArrow(partial(_extract_batches, out_schema=out_schema), out_schema)


def extract(transcripts: DataFrame) -> DataFrame:
    """transcripts -> extracted. Narrow (no shuffle); column-pruned input;
    Arrow-native batches (see ``_extract_batches``)."""
    return _map_extract(
        transcripts.select("conv_id", _turn_idx(), "text", "tool"), EXTRACTED_SCHEMA
    )


def extract_into(transcripts: DataFrame, staging: str) -> DataFrame:
    """transcripts -> ``WRITTEN_SCHEMA`` rows, one per task that extracted
    any turn. Each task runs ``extract``'s worker loop and writes its
    ``extracted`` rows itself, as one parquet file in ``staging`` (a dir
    its executor shares with the driver); the row names that file and
    carries the totals of its rows. Same narrow plan as ``extract``: the
    rows reach disk without a Spark write, and an action on this frame
    (``collect``) is the whole job."""
    return transcripts.select("conv_id", _turn_idx(), "text", "tool").mapInArrow(
        partial(_write_extracted, staging=staging), WRITTEN_SCHEMA
    )


def extract_deduped(transcripts: DataFrame) -> DataFrame:
    """A6 memoization: run the Python stage once per unique payload.

    ≙ reference cache keyed by sha256(content) (`utils/encoding.py:42-54`,
    `tasks/ocr_tasks.py:45-91`). Shape: ONE shuffle — ``groupBy(sha)``
    collects every (conv_id, turn_idx) bearing that payload, the Arrow
    worker runs once per unique payload with the key list passed through
    the batch, and an ``explode`` fans the result back out. No second
    shuffle, no wide sort-merge join of nested results (the naive
    dedupe-then-join plan costs ~2x the narrow extraction; this one
    costs one aggregation of the input).

    Pays off when the parser is expensive (real OCR inference) or the
    duplicate rate is high; for a cheap parser on mostly-unique data
    plain ``extract`` skips the shuffle.
    """
    keyed = transcripts.select(
        # to_json names each field, so (P, NULL) and (NULL, P) get two keys
        F.sha2(F.to_json(F.struct("text", "tool")), 256).alias("payload_sha"),
        "conv_id",
        _turn_idx(),
        "text",
        "tool",
    )
    grouped = keyed.groupBy("payload_sha").agg(
        F.first("text").alias("text"),
        F.first("tool").alias("tool"),
        F.collect_list(F.struct("conv_id", "turn_idx")).alias("dup_keys"),
    )
    uniq_out = _map_extract(grouped.select("dup_keys", "text", "tool"), _DEDUP_SCHEMA)
    return uniq_out.select(F.explode("dup_keys").alias("k"), *_PARSED_NAMES).select(
        F.col("k.conv_id").alias("conv_id"),
        F.col("k.turn_idx").alias("turn_idx"),
        *_PARSED_NAMES,
    )
