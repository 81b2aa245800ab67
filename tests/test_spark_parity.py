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


_PDF_PAYLOAD = '{"blocks": [{"text": "Scanned page", "bbox": [0, 0, 10, 10]}]}'


def test_extract_deduped_edge_battery(spark):
    """Adversarial payloads through both shapes and the oracle, on every
    column: nulls, whitespace shapes, '<' without an HTML hint, non-ASCII
    and exotic-whitespace chars where Python and Java disagree on \\s,
    payload/malformed-tool turns, and one payload moved between the text
    and tool columns. The battery repeats in three conversations, so
    every payload is a duplicate and extract_deduped's fan-back must hand
    one result to each of its keys."""
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
        # one payload in either column: two kinds, so two dedup keys
        (_PDF_PAYLOAD, None), (None, _PDF_PAYLOAD),
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


_WORKER_NO_PANDAS = """
import sys
import pyarrow as pa
from ocr_spark.operators.extract import EXTRACTED_SCHEMA, _extract_batches
(out,) = _extract_batches(pa.ipc.open_stream(sys.stdin.buffer.read()), EXTRACTED_SCHEMA)
out.validate(full=True)
assert "pandas" not in sys.modules, "the worker loop imported pandas"
sink = pa.BufferOutputStream()
with pa.ipc.new_stream(sink, out.schema) as w:
    w.write_batch(out)
sys.stdout.buffer.write(sink.getvalue().to_pybytes())
"""


def _run_worker_script(script, batch, *args):
    """Run ``script`` in a fresh interpreter with the repo on its path, one
    Arrow IPC stream of ``batch`` (if any) on its stdin."""
    import os
    import subprocess
    import sys

    import pyarrow as pa

    sink = pa.BufferOutputStream()
    if batch is not None:
        with pa.ipc.new_stream(sink, batch.schema) as w:
            w.write_batch(batch)
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pythonpath = os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")]))
    return subprocess.run(
        [sys.executable, "-c", script, *args],
        input=sink.getvalue().to_pybytes(),
        capture_output=True,
        cwd=repo,
        env={**os.environ, "PYTHONPATH": pythonpath},
        timeout=120,
    )


def test_worker_loop_never_imports_pandas():
    """The Arrow worker loop assembles its output without pyarrow's
    Python-list converter, which imports pandas (~38 MB per Python
    worker). One batch, in a fresh interpreter: all five kinds, null and
    non-null ``error``, non-ASCII text and an all-null row. The batch
    comes back over IPC and must match the oracle on every column."""
    import pyarrow as pa

    rows = [
        ("c", 0, "plain  text, naïve café ☃", None),
        ("c", 1, "<p>héllo <b>wörld</b></p>", ""),
        ("c", 2, "", '{"blocks": [{"type": 0, "bbox": [1, 2, 3, 4], '
                     '"lines": [{"spans": [{"text": "blöck"}]}]}]}'),
        ("c", 3, "", '{"rec_texts": ["línea", "low"], "rec_scores": [0.9, 0.1], '
                     '"dt_polys": [[[0, 0], [1, 0], [1, 1], [0, 1]]]}'),
        ("c", 4, "", "not json"),
        ("c", 5, None, None),
    ]
    cols = list(zip(*rows))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.int32()),
         pa.array(cols[2], pa.string()), pa.array(cols[3], pa.string())],
        names=["conv_id", "turn_idx", "text", "tool"],
    )
    proc = _run_worker_script(_WORKER_NO_PANDAS, batch)
    assert proc.returncode == 0, proc.stderr.decode()
    got = pa.ipc.open_stream(proc.stdout).read_all().to_pylist()
    assert {r["kind"] for r in got} == {"text", "html", "pdf_blocks", "ocr_lines", "error"}
    assert {r["error"] is None for r in got} == {True, False}
    for r, (_conv, _idx, text, tool) in zip(got, rows):
        want = extract_turn(text or "", tool or "")
        for col in ("kind", "extracted_text", "parse_ok", "error", "lines", "blocks"):
            assert r[col] == want[col], (r["turn_idx"], col)
        assert [(s["start"], s["end"]) for s in r["spans"]] == want["spans"], r["turn_idx"]
        assert r["bytes_in"] == len((text or "").encode()) + len((tool or "").encode())


_WORKER_WRITES_NO_PANDAS = """
import sys
import pyarrow as pa
from ocr_spark.operators.extract import EXTRACTED_SCHEMA, _extract_batches, _write_part
batches = _extract_batches(pa.ipc.open_stream(sys.stdin.buffer.read()), EXTRACTED_SCHEMA)
(row,) = _write_part(batches, sys.argv[1])
row.validate(full=True)
assert "pandas" not in sys.modules, "the worker's file write imported pandas"
sink = pa.BufferOutputStream()
with pa.ipc.new_stream(sink, row.schema) as w:
    w.write_batch(row)
sys.stdout.buffer.write(sink.getvalue().to_pybytes())
"""


def test_worker_file_write_never_imports_pandas(tmp_path):
    """The worker writes its task's rows as one parquet file and returns
    one row: the file name and its totals. In a fresh interpreter, on the
    same batch as the loop test, neither the write nor the totals import
    pandas; the file holds the oracle's rows as zstd pages without
    dictionaries or a stored Arrow schema, and the totals match them."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows = [
        ("c", 0, "plain  text, naïve café ☃", None),
        ("c", 1, "<p>héllo <b>wörld</b></p>", ""),
        ("c", 2, "", "not json"),
        ("c", 3, None, None),
    ]
    cols = list(zip(*rows))
    batch = pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.string()), pa.array(cols[1], pa.int32()),
         pa.array(cols[2], pa.string()), pa.array(cols[3], pa.string())],
        names=["conv_id", "turn_idx", "text", "tool"],
    )
    path = str(tmp_path / "part-00000-7.parquet")
    proc = _run_worker_script(_WORKER_WRITES_NO_PANDAS, batch, path)
    assert proc.returncode == 0, proc.stderr.decode()
    (got,) = pa.ipc.open_stream(proc.stdout).read_all().to_pylist()

    want = [extract_turn(text or "", tool or "") for _c, _i, text, tool in rows]
    written = pq.read_table(path).to_pylist()
    assert [r["extracted_text"] for r in written] == [w["extracted_text"] for w in want]
    assert got == {
        "file": "part-00000-7.parquet",
        "turns_in": len(rows),
        "turns_out": sum(w["parse_ok"] for w in want),
        "bytes_in": sum(len((t or "").encode()) + len((u or "").encode()) for _c, _i, t, u in rows),
        "bytes_out": sum(len(w["extracted_text"] or "") for w in want),
        "parse_failures": sum(not w["parse_ok"] for w in want),
    }
    meta = pq.read_metadata(path)
    assert b"ARROW:schema" not in (meta.metadata or {})
    for i in range(meta.num_columns):
        col = meta.row_group(0).column(i)
        assert col.compression == "ZSTD", col.path_in_schema
        assert not col.has_dictionary_page, col.path_in_schema


_WORKER_SKIPS_SPARK_ARCHIVES = """
import importlib, json, os, sys, zipfile, zipimport
import pyarrow as pa

spark_zip = os.path.join(os.environ["SPARK_HOME"], "python", "lib", "pyspark.zip")
user_zip = sys.argv[1]


def ship(value):
    with zipfile.ZipFile(user_zip, "w") as zf:
        zf.writestr("shipped_mod.py", f"VALUE = {value!r}\\n")


ship("old")
sys.path[:0] = [spark_zip, user_zip]
import pyspark.sql.types
import shipped_mod

assert pyspark.__file__.startswith(spark_zip), pyspark.__file__
from ocr_spark.operators.extract import EXTRACTED_SCHEMA, _extract_batches

(out,) = _extract_batches(pa.ipc.open_stream(sys.stdin.buffer.read()), EXTRACTED_SCHEMA)
assert out.num_rows == 1
assert "pandas" not in sys.modules, "the worker loop imported pandas"

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
ship("new")  # an addPyFile overwrite of a file already on the path
importlib.invalidate_caches()
zipimport._read_directory = read_directory
del sys.modules["shipped_mod"]
import shipped_mod

print(json.dumps({"reads": reads, "value": shipped_mod.VALUE}))
"""


def test_worker_loop_skips_refresh_of_spark_archives_only(tmp_path):
    """After one run of the worker loop, the per-task import-cache refresh
    re-reads no archive under SPARK_HOME, and still re-reads every other
    zip on the path: a rewritten ``addPyFile`` zip serves its new module.
    In a fresh interpreter with ``pyspark`` imported from Spark's own
    ``pyspark.zip``, as in a Python worker."""
    import json

    import pyarrow as pa

    batch = pa.RecordBatch.from_arrays(
        [pa.array(["c"]), pa.array([0], pa.int32()), pa.array(["<p>hi</p>"]),
         pa.array([None], pa.string())],
        names=["conv_id", "turn_idx", "text", "tool"],
    )
    user_zip = str(tmp_path / "shipped.zip")
    proc = _run_worker_script(_WORKER_SKIPS_SPARK_ARCHIVES, batch, user_zip)
    assert proc.returncode == 0, proc.stderr.decode()
    got = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert set(got["reads"]) == {user_zip}  # pyspark.zip is not re-read
    assert got["value"] == "new"


_REFRESH_SCOPE = """
import importlib, json, os, sys, zipfile, zipimport

home, archives = sys.argv[1], sys.argv[2:]
if home:
    os.environ["SPARK_HOME"] = home
else:
    os.environ.pop("SPARK_HOME", None)
for i, path in enumerate(archives):
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"mod{i}.py", "")
sys.path[:0] = archives
for i in range(len(archives)):
    importlib.import_module(f"mod{i}")
from ocr_spark.operators.extract import _skip_spark_archive_refresh

_skip_spark_archive_refresh()
installed = zipimport.zipimporter.invalidate_caches
_skip_spark_archive_refresh()
assert zipimport.zipimporter.invalidate_caches is installed, "wrapped twice"

reads = []
read_directory = zipimport._read_directory
zipimport._read_directory = lambda archive: reads.append(archive) or read_directory(archive)
importlib.invalidate_caches()
print(json.dumps(reads))
"""


@pytest.mark.parametrize("spark_home_set", [True, False])
def test_refresh_skip_covers_only_spark_archive_dirs(tmp_path, spark_home_set):
    """Only archives in ``$SPARK_HOME/python/lib`` and ``$SPARK_HOME/jars``
    skip the refresh; a zip elsewhere under ``SPARK_HOME`` (a standalone
    executor's work dir) still refreshes, and with ``SPARK_HOME`` unset
    nothing is skipped. Installing twice keeps one wrapper."""
    import json

    home = tmp_path / "spark"
    own = [home / "python" / "lib" / "pyspark.zip", home / "jars" / "spark-core.jar"]
    shipped = [home / "work" / "app-1" / "0" / "shipped.zip", tmp_path / "user.zip"]
    for path in own + shipped:
        path.parent.mkdir(parents=True, exist_ok=True)
    archives = [str(p) for p in own + shipped]
    proc = _run_worker_script(
        _REFRESH_SCOPE, None, str(home) if spark_home_set else "", *archives
    )
    assert proc.returncode == 0, proc.stderr.decode()
    reads = json.loads(proc.stdout.decode().strip().splitlines()[-1])
    assert sorted(reads) == sorted(archives[2:] if spark_home_set else archives)


def test_warm_spark_workers_skip_spark_archive_refresh(spark, transcripts):
    """On the session's real Python workers: once ``extract`` has run over
    4 partitions, the workers that serve a later Python task carry the
    refresh skip (they are reused, so the skip outlives the task that
    installed it)."""
    extract(transcripts.repartition(4)).write.format("noop").mode("overwrite").save()

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        for _ in batches:
            pass
        installed = hasattr(zipimport.zipimporter.invalidate_caches, "skips_under")
        yield pa.RecordBatch.from_arrays(
            [pa.array([os.getpid()], pa.int64()), pa.array([installed])],
            names=["pid", "installed"],
        )

    rows = spark.range(0, 8, 1, 8).mapInArrow(probe, "pid long, installed boolean").collect()
    assert len(rows) == 8
    assert any(r["installed"] for r in rows), rows
