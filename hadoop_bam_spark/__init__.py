"""hadoop_bam_spark — a PySpark-native analytics engine with the query and
data-processing capabilities of HadoopGenomics/Hadoop-BAM.

The reference (/root/reference, HadoopGenomics/Hadoop-BAM v8.0.0-SNAPSHOT) is a
Hadoop MapReduce I/O library for genomics formats: splittable scans of
block-compressed binary files (BGZF), genomic-interval predicate pushdown into
BAI/tabix indexes, shuffle-safe record codecs, and sharded writers + mergers.

This package re-expresses those capabilities Spark-first:

- ``formats/``   pure-Python codecs (BGZF, BAM, SAM, VCF, FASTQ, QSEQ, FASTA)
- ``sources/``   PySpark DataSource V2 readers with split planning + pushdown
- ``sinks/``     sharded part writers + driver-side byte-level mergers
- ``operators/`` relational + genomics operators (interval join, coordinate
                 sort, dedup family, text analysis)
- ``functions/`` scalar column expressions (quality re-encode, Illumina ids...)
- ``streaming/`` Structured Streaming sources (FASTQ directory tailing)
- ``queries/``   the query corpus wired into ``__spark_entry__.py``
"""

__version__ = "0.1.0"

# Every Python worker that runs engine code imports this package first, so
# this is where the workers shed PySpark's two per-command costs: zip imports
# switch to lazy invalidation, and a reused worker freezes its imports out of
# the daemon's gc.collect() after each command.
from hadoop_bam_spark import _worker_gc, _zipimport_compat

_zipimport_compat.install()
_worker_gc.install()
