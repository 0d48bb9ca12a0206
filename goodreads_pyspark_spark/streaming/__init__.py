from goodreads_pyspark_spark.streaming.windows import (  # noqa: F401
    drain,
    enrich_with_dim,
    hourly_by_type,
    sessionized_by_user,
    sliding_by_type,
    run_to_memory_sink,
    staged_stream,
    state_partitions,
    stream_events_from_dir,
)
from goodreads_pyspark_spark.streaming.stateful import (  # noqa: F401
    running_user_totals,
    session_close_by_timeout,
)
from goodreads_pyspark_spark.streaming.dedup import dedup_events  # noqa: F401
