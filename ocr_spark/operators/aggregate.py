"""Ordered conversation rollup (A2/A3) — the "gather + barrier" recast.

The reference polls Redis until all chunks land, flattens, stable-sorts
by page index, and counts classifications
(``tasks/pdf_hybrid_tasks.py:282-339``). In Spark the shuffle *is* the
barrier: a ``groupBy(conv_id)`` with an order-recovering aggregate.

Two strategies, identical results:

- ``conv_text``: single-phase. Catalyst already performs partial (map-
  side) aggregation for ``collect_list``/``count``; fine when no single
  conversation is huge.
- ``conv_text_salted``: explicit two-phase for the long-agent-trace skew
  archetype. Phase 1 groups by ``(conv_id, turn_bucket)`` so a 10^4-turn
  conversation is pre-reduced by many tasks; phase 2 merges the few
  bucket rows per conversation. Because buckets are contiguous turn
  ranges, concatenating per-bucket joins in bucket order equals the
  global ordered join — the salt never touches a sort key.
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
# predicate is per-element, so filtering before or after collection is
# equivalent; ordering is recovered by array_sort either way).
_JOIN_TURNS = (
    "array_join(transform(array_sort("
    " collect_list(struct(turn_idx, extracted_text))"
    f" FILTER (WHERE extracted_text is not null and {_NOT_BLANK})),"
    " x -> x.extracted_text), '\\n\\n')"
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


def conv_text_salted(extracted: DataFrame, bucket_turns: int = 256) -> DataFrame:
    """Two-phase skew-safe variant of ``conv_text`` (P5, SURVEY §2.4)."""
    extracted = extracted.select("conv_id", "turn_idx", "kind", "extracted_text")
    bucketed = extracted.withColumn(
        "turn_bucket", (F.col("turn_idx") / F.lit(bucket_turns)).cast("int")
    )
    partial = bucketed.groupBy("conv_id", "turn_bucket").agg(
        F.expr(_JOIN_TURNS).alias("bucket_text"),
        F.count("*").cast("int").alias("n_turns"),
        F.expr(f"count_if(kind in ({_TEXT_KINDS_SQL}))").cast("int").alias("n_text"),
        F.expr("count_if(kind = 'ocr_lines')").cast("int").alias("n_ocr"),
    )
    return partial.groupBy("conv_id").agg(
        F.expr(
            "array_join(transform(array_sort("
            " collect_list(struct(turn_bucket, bucket_text)) FILTER (WHERE bucket_text != '')),"
            " x -> x.bucket_text), '\\n\\n')"
        ).alias("full_text"),
        F.sum("n_turns").cast("int").alias("n_turns"),
        F.sum("n_text").cast("int").alias("n_text"),
        F.sum("n_ocr").cast("int").alias("n_ocr"),
    )


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
    bounded by the longest conversation — for the 10^6-turn archetype,
    pre-aggregate per (conv_id, turn_bucket) first, same as the rollup."""
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
