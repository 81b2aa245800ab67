"""ocr_spark — a PySpark-native main-content extraction engine.

A from-scratch rebuild of the *data semantics* of the Aizen-Agency/OCR
reference service (see SURVEY.md) as a Spark-first pipeline:

- input:  transcripts(conv_id, turn_idx, role, text, tool, ts)
- output: extracted(conv_id, turn_idx, kind, extracted_text, spans,
          lines, blocks, parse_ok, error, bytes_in)
          conv_text(conv_id, full_text, n_turns, n_text, n_ocr)
          metrics(run_id, snapshot, turns_in, turns_out,
          bytes_in, bytes_out, parse_failures)  # one row per snapshot

All per-turn semantics are frozen in the pure-Python ``ocr_spark.oracle``
package (single-process, no Spark); the extraction operators call the same
functions from one ``mapInArrow`` worker loop, so the distributed
pipeline matches the oracle byte-for-byte by construction, and tests
verify it stays that way under partitioning / shuffling / Arrow transport.
"""

__version__ = "0.3.0"


def __getattr__(name):
    # lazy public API: keep `import ocr_spark` cheap (no pyspark import
    # until a symbol is actually used — matters for spark-submit workers)
    _API = {
        "extract": ("ocr_spark.operators.extract", "extract"),
        "extract_deduped": ("ocr_spark.operators.extract", "extract_deduped"),
        "conv_text": ("ocr_spark.operators.aggregate", "conv_text"),
        "conv_turn_gap_stats": ("ocr_spark.operators.aggregate", "conv_turn_gap_stats"),
        "partition_metrics": ("ocr_spark.operators.aggregate", "partition_metrics"),
        "run_resumable": ("ocr_spark.pipeline", "run_resumable"),
        "snapshots_df": ("ocr_spark.pipeline", "snapshots_df"),
        "expire_snapshots": ("ocr_spark.pipeline", "expire_snapshots"),
        "delete_turns": ("ocr_spark.pipeline", "delete_turns"),
        "diff_snapshots": ("ocr_spark.pipeline", "diff_snapshots"),
        "tag_snapshot": ("ocr_spark.pipeline", "tag_snapshot"),
        "list_tags": ("ocr_spark.pipeline", "list_tags"),
        "sessionize": ("ocr_spark.transcript_prep", "sessionize"),
        "session_stats": ("ocr_spark.transcript_prep", "session_stats"),
        "sft_pairs": ("ocr_spark.transcript_prep", "sft_pairs"),
        "assemble_context": ("ocr_spark.transcript_prep", "assemble_context"),
        "tool_call_stats": ("ocr_spark.transcript_prep", "tool_call_stats"),
        # NOTE: no "curate" alias — it would collide with the
        # ocr_spark.curate submodule (python replaces the package
        # attribute with the module object on first submodule import,
        # making the name nondeterministically a function or a module);
        # use `from ocr_spark.curate import curate`.
        "build_session": ("ocr_spark.session", "build_session"),
    }
    if name in _API:
        import importlib

        module, attr = _API[name]
        return getattr(importlib.import_module(module), attr)
    raise AttributeError(f"module 'ocr_spark' has no attribute {name!r}")
