from dex_data_ingestor_spark.streaming.jobs import (
    events_stream_from_parquet,
    tumbling_counts,
    run_available_now,
    foreach_batch_merge_snapshots,
)

__all__ = [
    "events_stream_from_parquet",
    "tumbling_counts",
    "run_available_now",
    "foreach_batch_merge_snapshots",
]
