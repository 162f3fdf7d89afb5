from finporter_spark.streaming.pipeline import (
    stream_decode_files,
    stream_transform,
    run_stream_to_memory,
)

__all__ = [
    "stream_decode_files",
    "stream_transform",
    "run_stream_to_memory",
]
