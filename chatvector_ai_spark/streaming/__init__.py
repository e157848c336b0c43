from chatvector_ai_spark.streaming.incremental import stream_event_rollup  # noqa: F401
