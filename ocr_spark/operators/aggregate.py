"""Ordered conversation rollup (A2/A3) — the "gather + barrier" recast.

The reference polls Redis until all chunks land, flattens, stable-sorts
by page index, and counts classifications
(``tasks/pdf_hybrid_tasks.py:282-339``). In Spark the shuffle *is* the
barrier: a ``groupBy(conv_id)`` with an order-recovering aggregate.

``conv_text`` is the one rollup: scan -> partial ``collect_list`` per
(task, conversation) -> one ``hashpartitioning(conv_id)`` Exchange ->
final merge, whose ``sort_array`` orders the turn structs with Spark's
built-in struct ordering (no lambda, no interpreted comparator). An
earlier two-phase variant salted each conversation by 256-turn bucket
and paid a second shuffle and Spark job for it. Measured at local[4]
it lost on uniform input and on an input where one conversation holds
80% of the turns (BENCH/SKEW.md), and it bounds no memory either: the
final row is the whole conversation's text, in one task, whatever the
partial rows were.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ocr_spark.oracle.extract import TEXT_KINDS_COUNTED_AS_TEXT

_TEXT_KINDS_SQL = ", ".join(f"'{k}'" for k in TEXT_KINDS_COUNTED_AS_TEXT)

# Every char str.isspace() accepts, i.e. what str.strip() strips. A turn
# made only of these is blank to aggregate_conversation; Spark's trim()
# strips only spaces, and Java's \s misses \x1c-\x1f, \x85 and the
# Unicode spaces, so the blank test is a regex over this exact set (each
# char written as \\uXXXX: the SQL literal unescapes it to \uXXXX, which
# the regex reads as that char).
_PY_WHITESPACE = (
    "\t\n\x0b\x0c\r\x1c\x1d\x1e\x1f \x85\xa0\u1680\u2000\u2001\u2002\u2003"
    "\u2004\u2005\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000"
)
_NOT_BLANK = (
    "extracted_text rlike '[^" + "".join(f"\\\\u{ord(c):04x}" for c in _PY_WHITESPACE) + "]'"
)

# ordered, blank-skipping join of per-turn texts (≙ ocr_service.py:249-262).
# The blank-skip runs as an aggregate FILTER clause, i.e. BEFORE the
# collect_list buffer: blank turns never enter the map-side partial lists,
# so they are neither buffered nor shuffled (same rows out — the filter
# predicate is per-element). sort_array orders the (turn_idx, text)
# structs field by field with Spark's native ordering, and .extracted_text
# reads the field out of the sorted array; array_sort and transform would
# run an interpreted lambda on every comparison and element. turn_idx is
# unique per conversation, so the order is the turn order.
_JOIN_TURNS = (
    "array_join(sort_array("
    " collect_list(struct(turn_idx, extracted_text))"
    f" FILTER (WHERE extracted_text is not null and {_NOT_BLANK})).extracted_text,"
    " '\\n\\n')"
)


def conv_text(extracted: DataFrame) -> DataFrame:
    """extracted -> conv_text(conv_id, full_text, n_turns, n_text, n_ocr)."""
    # explicit projection: only these four columns may reach the scan
    # (the snapshot's nested lines/blocks/spans stay unread)
    extracted = extracted.select("conv_id", "turn_idx", "kind", "extracted_text")
    return extracted.groupBy("conv_id").agg(
        F.expr(_JOIN_TURNS).alias("full_text"),
        F.count("*").cast("int").alias("n_turns"),
        F.expr(f"count_if(kind in ({_TEXT_KINDS_SQL}))").cast("int").alias("n_text"),
        F.expr("count_if(kind = 'ocr_lines')").cast("int").alias("n_ocr"),
    )


# the old name, which perfbench/run.py still imports
conv_text_salted = conv_text


_GAP_SCHEMA = (
    "conv_id string, n_turns int, median_gap_s double, p95_gap_s double, "
    "max_gap_s double"
)


def _gap_stats_fn(pdf):
    import pandas as pd

    pdf = pdf.sort_values("turn_idx")
    gaps = pdf["ts"].diff().dt.total_seconds().dropna()
    if len(gaps):
        med, p95, mx = (
            float(gaps.median()),
            float(gaps.quantile(0.95)),
            float(gaps.max()),
        )
    else:
        med = p95 = mx = 0.0
    return pd.DataFrame(
        {
            "conv_id": [pdf["conv_id"].iloc[0]],
            "n_turns": [len(pdf)],
            "median_gap_s": [round(med, 3)],
            "p95_gap_s": [round(p95, 3)],
            "max_gap_s": [round(mx, 3)],
        }
    )


def conv_turn_gap_stats(transcripts: DataFrame) -> DataFrame:
    """Per-conversation inter-turn timing statistics via a grouped-map
    pandas UDF (``applyInPandas``) — the response-latency profile of a
    conversation (long gaps = session boundaries or slow tools).

    This is the grouped-map member of the engine's vectorized-UDF family
    (mapInArrow for per-row extraction, applyInPandasWithState for
    streaming state, applyInPandas here for per-group computations that
    want a dataframe view of the whole group, e.g. quantiles). One
    shuffle on conv_id; each group is one conversation, so memory is
    bounded by the longest conversation, as in the rollup."""
    return transcripts.select("conv_id", "turn_idx", "ts").groupBy(
        "conv_id"
    ).applyInPandas(_gap_stats_fn, _GAP_SCHEMA)


# the names of the five totals, in the order snapshot_totals() gives them
SNAPSHOT_TOTALS = ("turns_in", "turns_out", "bytes_in", "bytes_out", "parse_failures")


def snapshot_totals() -> list:
    """The five totals of a set of ``extracted`` rows, as aggregate
    Columns: ``turns_in``, ``turns_out`` (parse_ok rows), ``bytes_in``,
    ``bytes_out`` (extracted chars, i.e. code points) and
    ``parse_failures``. The definition behind a snapshot manifest's
    totals and ``partition_metrics``: compaction observes these Columns
    during its write, and ``extract.extract_into``'s workers sum the same
    five from their Arrow arrays (tests hold the two equal). A function,
    not a constant: building a Column needs a live session. Over zero
    rows the two byte sums are NULL."""
    # count(when(...)), not count_if: Spark rewrites count_if(not parse_ok)
    # with its argument as a common expression, which puts two full-row
    # Projects (nested spans/lines/blocks copied) around the observed write
    return [
        F.count("*").alias("turns_in"),
        F.count(F.when(F.col("parse_ok"), 1)).alias("turns_out"),
        F.sum("bytes_in").alias("bytes_in"),
        F.sum(F.length("extracted_text")).alias("bytes_out"),
        F.count(F.when(~F.col("parse_ok"), 1)).alias("parse_failures"),
    ]


def partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """Per-partition lineage/metrics rows (≙ stats + progress, SURVEY §1.3).

    Emitted as an aggregate over ``spark_partition_id()`` so it reflects
    the physical partitioning that actually executed.
    """
    return (
        extracted.select("parse_ok", "bytes_in", "extracted_text")
        .withColumn("partition_id", F.spark_partition_id())
        .groupBy("partition_id")
        .agg(*snapshot_totals())
        .select(F.lit(run_id).alias("run_id"), "*")
    )
