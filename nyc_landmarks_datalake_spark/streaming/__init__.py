from nyc_landmarks_datalake_spark.streaming.pipeline import (
    sessionized_stream,
    stream_dedup,
    windowed_counts,
)

__all__ = [
    "windowed_counts",
    "sessionized_stream",
    "stream_dedup",
]
