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
  transformation — zero shuffle. Input partitioning comes from the source
  scan (``maxPartitionBytes`` bounds task size); Arrow batch size bounds
  Python-worker memory.
- ``extract_deduped()`` passes ``dup_keys``: the memoization join (A6 ≙
  the reference's sha256 Redis cache, ``tasks/ocr_tasks.py:45-91``).
  Identical payloads are extracted once and the result is fanned back out
  to every key that carried the payload. At web scale duplicate turns are
  common (boilerplate, retries, forwarded content), so this trades one
  shuffle for running the Python stage on unique payloads only.

Neither shape repartitions its input by conversation. The only shuffle
before the worker is ``extract_deduped``'s, keyed on the payload hash,
so a pre-extraction salt would be an extra exchange that no operator
uses. Conversation skew (the long-agent-trace archetype, SURVEY §2.4
P5) is handled where the rows of one conversation meet: the turn-bucket
two-phase rollup ``aggregate.conv_text_salted``.
"""

from __future__ import annotations

from functools import partial

from pyspark.sql import DataFrame, functions as F, types as T

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


def _extract_batches(batches, out_schema: T.StructType):
    """The one per-row worker loop: ``text``/``tool`` through the frozen
    parser, key columns (every output column before ``kind``) passed
    through zero-copy.

    The nested output columns (spans/lines/blocks) are assembled from flat
    primitive arrays + offset vectors (``ListArray.from_arrays`` /
    ``StructArray.from_arrays``) instead of pyarrow's generic
    list-of-dicts converter (~10% worker-side win), typed from the Arrow
    form of ``out_schema``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(out_schema)
    keys = schema.names[: len(schema) - len(_PARSED)]
    types = {name: schema.field(name).type for name in _PARSED_NAMES}
    spans_t, lines_t, blocks_t = types["spans"], types["lines"], types["blocks"]
    line_t, block_t = lines_t.value_type, blocks_t.value_type
    i32 = pa.int32()

    # values/children given as Python lists are typed from the schema
    def typed(values, dtype):
        return values if isinstance(values, pa.Array) else pa.array(values, dtype)

    def lists(list_type, offsets, values):
        return pa.ListArray.from_arrays(
            pa.array(offsets, i32), typed(values, list_type.value_type), type=list_type
        )

    def structs(struct_type, *children):
        return pa.StructArray.from_arrays(
            [typed(c, f.type) for c, f in zip(children, struct_type)], fields=list(struct_type)
        )

    for batch in batches:
        texts = batch.column("text").to_pylist()
        tools = batch.column("tool").to_pylist()
        kind, etext, ok, err, nbytes = [], [], [], [], []
        s_off, s_start, s_end = [0], [], []
        l_off, l_text, l_conf, l_boff, l_bval = [0], [], [], [0], []
        b_off, b_type, b_text, b_boff, b_bval = [0], [], [], [0], []
        for text, tool in zip(texts, tools):
            text = text or ""
            tool = tool or ""
            row = extract_turn(text, tool)
            kind.append(row["kind"])
            etext.append(row["extracted_text"])
            ok.append(row["parse_ok"])
            err.append(row["error"])
            nbytes.append(len(text.encode()) + len(tool.encode()))
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
            pa.array(kind, types["kind"]),
            pa.array(etext, types["extracted_text"]),
            lists(spans_t, s_off, structs(spans_t.value_type, s_start, s_end)),
            lists(
                lines_t,
                l_off,
                structs(line_t, l_text, l_conf, lists(line_t.field("bbox").type, l_boff, l_bval)),
            ),
            lists(
                blocks_t,
                b_off,
                structs(block_t, b_type, b_text, lists(block_t.field("bbox").type, b_boff, b_bval)),
            ),
            pa.array(ok, types["parse_ok"]),
            pa.array(err, types["error"]),
            pa.array(nbytes, types["bytes_in"]),
        ]
        yield pa.RecordBatch.from_arrays(
            [batch.column(k) for k in keys] + parsed, names=schema.names
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
        F.sha2(F.concat_ws("\x1f", F.col("text"), F.col("tool")), 256).alias("payload_sha"),
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
