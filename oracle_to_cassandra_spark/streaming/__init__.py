from oracle_to_cassandra_spark.streaming.core import (  # noqa: F401
    read_events_stream,
    run_stream,
    run_stream_to_memory,
    state_width,
)
