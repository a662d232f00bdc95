"""Structured Streaming layer.

The reference is batch-only (SURVEY.md §2.9) — this module is part of the
beyond-reference pipeline surface: streaming ingest of the same formats
(``fastq_stream``, ``vcf_stream``, ``bam_stream``, ``bcf_stream``,
``cram_stream`` directory-tail sources), streaming shard sinks for
BAM/CRAM/BCF/VCF/BED/bedGraph/GFF3 (``writeStream.format(...)`` — one
Arrow writer in ``shard_sink`` bound to the batch sinks' part codecs,
rename-committed standalone shards, the producer side of the tail
sources), and
stateful/windowed processing of event streams,
expressed with watermarks + windowed aggregation and
``applyInPandasWithState`` for custom state (sessionization, as-of
join, conversion funnel — each with batch-parity tests against the
green batch queries).
"""

from hadoop_bam_spark.streaming.documents import (  # noqa: F401
    dedup_exact_stream,
    quality_filter_stream,
    read_documents_stream,
)
from hadoop_bam_spark.streaming.events import (  # noqa: F401
    asof_join_stream,
    funnel_stream,
    hourly_rollup_stream,
    read_events_stream,
    sessionize_stream,
)
