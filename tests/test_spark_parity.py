"""Golden equality: the distributed pipeline matches the frozen oracle
byte-for-byte under a stable sort by (conv_id, turn_idx), regardless of
partitioning or dedupe-join plan (the north rule's per-turn
text-equality invariant)."""

import pytest
from pyspark.sql import functions as F

from ocr_spark import fixtures
from ocr_spark.operators.aggregate import conv_text, conv_text_salted, partition_metrics
from ocr_spark.operators.extract import extract, extract_deduped
from ocr_spark.oracle import aggregate_conversation, extract_turn

N_CONVS = 40  # every archetype appears many times (~700 turns)


@pytest.fixture(scope="module")
def golden():
    """Oracle rows keyed by (conv_id, turn_idx)."""
    rows = fixtures.generate_transcripts(N_CONVS)
    out = {}
    for conv_id, turn_idx, role, text, tool, ts in rows:
        out[(conv_id, turn_idx)] = (extract_turn(text, tool), text, tool)
    return out


@pytest.fixture(scope="module")
def transcripts(spark):
    rows = fixtures.generate_transcripts(N_CONVS)
    df = spark.createDataFrame(rows, fixtures.TRANSCRIPT_COLUMNS)
    return df.repartition(7).cache()  # deliberately odd partitioning


def _assert_matches_golden(result_rows, golden):
    assert len(result_rows) == len(golden)
    for row in result_rows:
        want, _text, _tool = golden[(row["conv_id"], row["turn_idx"])]
        key = (row["conv_id"], row["turn_idx"])
        assert row["kind"] == want["kind"], key
        assert row["extracted_text"] == want["extracted_text"], key
        assert [(s["start"], s["end"]) for s in row["spans"]] == want["spans"], key
        assert [(l["text"], l["confidence"], list(l["bbox"])) for l in row["lines"]] == [
            (l["text"], l["confidence"], l["bbox"]) for l in want["lines"]
        ], key
        assert [(b["type"], b["text"], list(b["bbox"])) for b in row["blocks"]] == [
            (b["type"], b["text"], b["bbox"]) for b in want["blocks"]
        ], key
        assert row["parse_ok"] == want["parse_ok"], key


def test_extract_matches_oracle(spark, transcripts, golden):
    rows = extract(transcripts).collect()
    _assert_matches_golden(rows, golden)


def test_extract_deduped_same_result(spark, transcripts, golden):
    rows = extract_deduped(transcripts).collect()
    _assert_matches_golden(rows, golden)


def test_extract_partitioning_invariant(spark, transcripts, golden):
    rows = extract(transcripts.repartition(16, "conv_id")).collect()
    _assert_matches_golden(rows, golden)


def test_conv_text_matches_oracle(spark, transcripts, golden):
    per_conv = {}
    for (conv_id, turn_idx), (want, _, _) in golden.items():
        per_conv.setdefault(conv_id, []).append(
            (turn_idx, want["kind"], want["extracted_text"])
        )
    expected = {cid: aggregate_conversation(turns) for cid, turns in per_conv.items()}

    extracted = extract(transcripts)
    for agg_fn in (conv_text, lambda df: conv_text_salted(df, bucket_turns=4)):
        got = {r["conv_id"]: r for r in agg_fn(extracted).collect()}
        assert set(got) == set(expected)
        for cid, want in expected.items():
            row = got[cid]
            assert row["full_text"] == want["full_text"], cid
            assert row["n_turns"] == want["n_turns"], cid
            assert row["n_text"] == want["n_text"], cid
            assert row["n_ocr"] == want["n_ocr"], cid


def test_rollups_skip_exactly_the_turns_str_strip_calls_blank(spark):
    """Both rollups drop a turn iff ``str.strip()`` leaves it empty — the
    oracle's blank test — for every whitespace char Python knows: an
    ocr_lines turn whose text is "\\n" must not reach full_text, while a
    turn with one visible char between such runs must."""
    import sys

    from ocr_spark.operators.aggregate import _PY_WHITESPACE

    every_space = "".join(c for c in map(chr, range(sys.maxunicode + 1)) if c.isspace())
    assert _PY_WHITESPACE == every_space
    blanks = ["\n", " \t\r\n", "\x0b\x0c", "\x1c\x1d\x1e\x1f", "\x85", "\xa0",
              "\u3000", "\u2028\u2029", every_space, "", None]
    texts = ["first", *blanks[:4], "mid\x1cdle", *blanks[4:], f"{every_space}x{every_space}"]
    rows = []
    for c in range(3):
        conv_texts = texts[c:] + texts[:c]  # blanks land in every bucket slot
        rows += [
            (f"c{c}", i, "ocr_lines" if i % 2 else "text", t)
            for i, t in enumerate(conv_texts)
        ]
    extracted = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, kind string, extracted_text string"
    )
    for agg_fn in (conv_text, lambda df: conv_text_salted(df, bucket_turns=3)):
        got = {r["conv_id"]: r.asDict() for r in agg_fn(extracted).collect()}
        for c in range(3):
            want = aggregate_conversation([r[1:] for r in rows if r[0] == f"c{c}"])
            assert {k: got[f"c{c}"][k] for k in want} == want, c


def test_partition_metrics_totals(spark, transcripts, golden):
    extracted = extract(transcripts)
    rows = partition_metrics(extracted, run_id="test").collect()
    assert sum(r["turns_in"] for r in rows) == len(golden)
    assert sum(r["parse_failures"] for r in rows) == sum(
        1 for (want, _, _) in golden.values() if not want["parse_ok"]
    )
    total_bytes = sum(
        len(text.encode()) + len(tool.encode()) for (_, text, tool) in golden.values()
    )
    assert sum(r["bytes_in"] for r in rows) == total_bytes


def test_ordering_stable_under_shuffled_input(spark, golden):
    """Same rows in reversed/odd partition layout -> identical ordered output."""
    rows = fixtures.generate_transcripts(N_CONVS)
    df = spark.createDataFrame(list(reversed(rows)), fixtures.TRANSCRIPT_COLUMNS).repartition(13)
    got = (
        extract(df)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "extracted_text")
        .collect()
    )
    keys = [(r["conv_id"], r["turn_idx"]) for r in got]
    assert keys == sorted(golden.keys())
    for r in got:
        assert r["extracted_text"] == golden[(r["conv_id"], r["turn_idx"])][0]["extracted_text"]


def test_turn_span_offsets_slice_rollup_text(spark):
    """The north-star span invariant: for every kept turn,
    full_text[char_start:char_end] == extracted_text, where full_text is
    the conv_text rollup of the same turns."""
    import ocr_spark.queries as Q
    from ocr_spark.operators.aggregate import conv_text

    sf = "/root/testdata/sf0.001"
    spans = {
        (r["conv_id"], r["turn_idx"]): (r["char_start"], r["char_end"])
        for r in Q.q_turn_span_offsets(spark, sf).collect()
    }
    assert spans, "no spans produced"
    turns = {
        (r["conv_id"], r["turn_idx"]): r["extracted_text"]
        for r in Q._extracted_text_turns(spark, sf).collect()
    }
    full = {
        r["conv_id"]: r["full_text"]
        for r in conv_text(Q._extracted_text_turns(spark, sf)
                           .withColumn("kind", F.lit("text"))).collect()
    }
    assert set(spans) == set(turns)
    for (cid, tix), (s, e) in spans.items():
        assert full[cid][s:e] == turns[(cid, tix)], (cid, tix)
    # spans of consecutive kept turns are separated by exactly '\n\n'
    for cid, text in full.items():
        ends = sorted((s, e) for (c, _), (s, e) in spans.items() if c == cid)
        for (s1, e1), (s2, e2) in zip(ends, ends[1:]):
            assert text[e1:s2] == "\n\n", cid


def test_chat_template_spans_slice_rendering(spark):
    """Chat-template span invariant: rendering each conversation as the
    concat of '<|role|>\\n{text}\\n' units, rendered[start:end] == text
    and the 5+len(role) chars before each span are the header."""
    import ocr_spark.queries as Q

    sf = "/root/testdata/sf0.001"
    t = Q.doc_transcripts(spark, sf).select(
        "conv_id", "turn_idx", F.expr(Q._ROLE_EXPR).alias("role"), "text"
    )
    rows = t.collect()
    rendered = {}
    for r in sorted(rows, key=lambda r: (r["conv_id"], r["turn_idx"])):
        rendered[r["conv_id"]] = (
            rendered.get(r["conv_id"], "") + f"<|{r['role']}|>\n{r['text']}\n"
        )
    texts = {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"]) for r in rows}
    spans = Q.q_chat_template_spans(spark, sf).collect()
    assert len(spans) == len(rows)
    n_train = 0
    for r in spans:
        role, text = texts[(r["conv_id"], r["turn_idx"])]
        full = rendered[r["conv_id"]]
        s, e = r["text_start"], r["text_end"]
        assert full[s:e] == text, (r["conv_id"], r["turn_idx"])
        assert full[s - 5 - len(role) : s] == f"<|{role}|>\n"
        assert r["trainable"] == (role == "assistant")
        n_train += r["trainable"]
    assert 0 < n_train < len(spans)  # mask is non-trivial both ways


def test_conv_truncate_tail_budget_and_maximality(spark):
    """The kept suffix fits the 512-token budget AND is maximal: for any
    conversation where some turn was dropped, extending the kept window
    by the next-earlier qualifying turn would bust the budget."""
    import ocr_spark.queries as Q

    sf = "/root/testdata/sf0.001"
    toks = {
        # mirror F.size(F.split(F.trim(x), r"\s+")): a blank string still
        # splits to one (empty) token on the Spark side
        (r["conv_id"], r["turn_idx"]): len(r["text"].strip().split()) or 1
        for r in Q.doc_transcripts(spark, sf).collect()
    }
    out = {r["conv_id"]: r for r in Q.q_conv_truncate_tail(spark, sf).collect()}
    assert out
    for cid, r in out.items():
        conv = sorted(ti for (c, ti) in toks if c == cid)
        # suffix-sum per turn, newest first, mirroring the operator
        rsum, kept, first_kept = 0, 0, -1
        for ti in reversed(conv):
            rsum += toks[(cid, ti)]
            if rsum <= Q._TRUNC_TOKEN_BUDGET:
                kept += 1
                first_kept = ti
        assert r["n_turns"] == len(conv)
        assert r["kept_turns"] == kept, cid
        assert r["first_kept_turn"] == first_kept, cid
        assert r["kept_tokens"] <= Q._TRUNC_TOKEN_BUDGET


# ---------------------------------------------------------------------------
# Memoized extraction: full-row parity with extract and the oracle
# ---------------------------------------------------------------------------

def test_extract_deduped_full_row_parity_with_extract(spark, transcripts):
    """Byte-identical to extract() on EVERY column (including spans,
    error, bytes_in), not just the golden subset."""
    a = extract(transcripts).orderBy("conv_id", "turn_idx").collect()
    b = extract_deduped(transcripts).orderBy("conv_id", "turn_idx").collect()
    assert a == b


def test_extract_deduped_edge_battery(spark):
    """Adversarial payloads through both shapes and the oracle, on every
    column: nulls, whitespace shapes, '<' without an HTML hint, non-ASCII
    and exotic-whitespace chars where Python and Java disagree on \\s,
    and payload/malformed-tool turns. The battery repeats in three
    conversations, so every payload is a duplicate and extract_deduped's
    fan-back must hand one result to each of its keys."""
    import pyspark.sql.types as T

    payloads = [
        (None, None), ("", ""), ("   ", ""),
        ("\n\n\n\n", ""), ("a  b", ""), ("a\t\tb", ""),
        ("x < y and y > z", ""), ("<p>hi</p>", ""),
        ("café  au lait", ""), ("\xa0 hi \xa0", ""),
        ("a\x0bb", ""), ("ok\r\n\r\n\r\nnext", ""),
        ("  lead and trail  ", ""), ("no collapse here.", ""),
        ("txt", '{"blocks": []}'), ("txt", "not json"),
        ("a\x1cb", ""), ("\x1c  x", ""),
        (" \t mixed\truns  and\n\n\n\nblanks \n", ""),
    ]
    rows = [
        (conv, i, text, tool)
        for conv in ("c0", "c1", "c2")
        for i, (text, tool) in enumerate(payloads)
    ]
    schema = T.StructType([
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("tool", T.StringType()),
    ])
    df = spark.createDataFrame(rows, schema)
    a = extract(df).orderBy("conv_id", "turn_idx").collect()
    b = extract_deduped(df).orderBy("conv_id", "turn_idx").collect()
    assert a == b
    assert len(a) == len(rows)
    for r in a:
        text, tool = payloads[r["turn_idx"]]
        want = extract_turn(text or "", tool or "")
        got = r.asDict(recursive=True)
        key = (r["conv_id"], r["turn_idx"])
        for col in ("kind", "extracted_text", "parse_ok", "error"):
            assert got[col] == want[col], (key, col)
        assert [(s["start"], s["end"]) for s in got["spans"]] == want["spans"], key
        assert got["lines"] == want["lines"], key
        assert got["blocks"] == want["blocks"], key
        assert got["bytes_in"] == len((text or "").encode()) + len((tool or "").encode()), key
