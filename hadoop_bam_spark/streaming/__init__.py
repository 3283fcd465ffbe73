"""Structured Streaming layer.

The reference is batch-only (SURVEY.md §2.9) — this module is part of the
beyond-reference pipeline surface: streaming ingest of the same formats
(``bam_stream``, ``bcf_stream``, ``cram_stream``, ``fastq_stream``,
``vcf_stream``, ``bed_stream``, ``bedgraph_stream``, ``gff_stream``
directory-tail sources, :mod:`hadoop_bam_spark.streaming.tail`: each
micro-batch is planned on the driver and decoded on executors by the batch
source of its format, with that source's options), streaming shard sinks for
BAM/VCF/CRAM/BCF/BED/bedGraph/GFF3
(``writeStream.format("bam"|"vcf"|"cram"|"bcf"|...)``, the producer side of
the tail sources: :func:`hadoop_bam_spark.sinks.stream_writer` runs the
format's ``write_*(sharded=True)`` part writer in
:class:`hadoop_bam_spark.commit.ShardStreamWriter`, which commits
rename-committed standalone shards), and
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
