from openie_spark.streaming.dedup import (  # noqa: F401
    stream_exact_dedup,
    write_dedup_stream,
)
from openie_spark.streaming.ingest import (  # noqa: F401
    TRANSCRIPT_SCHEMA,
    stream_transcripts,
    stream_triples,
    windowed_triple_counts,
    windowed_turn_stats,
    write_triples_stream,
)
