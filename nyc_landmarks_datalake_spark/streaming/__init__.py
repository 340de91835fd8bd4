from nyc_landmarks_datalake_spark.streaming.pipeline import (
    stream_dedup,
    windowed_counts,
)

__all__ = [
    "windowed_counts",
    "stream_dedup",
]
