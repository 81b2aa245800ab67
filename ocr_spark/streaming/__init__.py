from ocr_spark.streaming.incremental import (  # noqa: F401
    TRANSCRIPT_SCHEMA,
    stateful_conv_progress,
    stream_dedup_exact,
    stream_to_store,
    stream_turn_ack_join,
    windowed_turn_counts,
)
