"""``spark.read.format("vcf")`` — splittable VCF scan (plain, .gz, .bgz).

Split planning and line chunking are the shared tabix-text ones
(sources/tabix_text.py): BGZF block-aligned splits pruned by ``.tbi`` /
``.csi`` at plan time, byte-range splits for plain text, one whole-file
split for non-BGZF gzip. BCF files in the same path dispatch to the BCF
reader by content sniff (reference VCFInputFormat.java:170-197).

Interval filtering: ``option("intervals", "20:1-70000")`` applies the
overlap residual to every decoded chunk (reference
VCFRecordReader.java:213-219).

Malformed rows: ``option("stringency", "strict"|"lenient"|"silent")``
(default strict; FAILFAST/PERMISSIVE aliases) — the reference's
ValidationStringency handling (VCFRecordReader.java:77-92,180-196).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql.datasource import DataSource, DataSourceReader

from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, parse_vcf_line, read_vcf_header
from hadoop_bam_spark.sources import (
    EmptyPartition,
    list_format_files,
    pushed_intervals,
)
from hadoop_bam_spark.sources.bam_source import parse_intervals
from hadoop_bam_spark.sources.tabix_text import (
    partition_line_chunks,
    plan_text_partitions,
)

VCF_EXTS = (".vcf", ".vcf.gz", ".vcf.bgz", ".vcf.bgzf.gz", ".gz", ".bgz")


class VCFDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "vcf"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(VCF_SCHEMA, self.options)[0]

    def reader(self, schema) -> "VCFReader":
        return VCFReader(self.options)

    def streamWriter(self, schema, overwrite):
        from hadoop_bam_spark.sinks import stream_writer

        return stream_writer("vcf", self.options)


class VCFReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("vcf source requires a path")
        self._options = options
        self._intervals = (
            parse_intervals(options["intervals"]) if options.get("intervals") else None
        )
        from hadoop_bam_spark.sources import pruned_schema, stringency_option

        self._stringency = stringency_option(options)
        self._schema, self._keep = pruned_schema(VCF_SCHEMA, options)
        #: fields to actually parse: the projection, plus end for the
        #: interval residual (lazy genotype/INFO decode — reference
        #: LazyParsingGenotypesContext.java:28-33)
        self._wanted: Optional[frozenset] = None
        if self._keep is not None:
            names = {VCF_SCHEMA.fields[i].name for i in self._keep}
            if self._intervals is not None:
                # the residual filter reads (contig, start, end); the scalar
                # parser always produces contig/start but the vectorized one
                # only builds wanted columns
                names.update(("contig", "start", "end"))
            self._wanted = frozenset(names)
        # per-file VCF-vs-BCF dispatch by extension + content sniff — the
        # reference's multi-format VCF scan (VCFInputFormat.getFormat,
        # VCFInputFormat.java:170-197)
        from hadoop_bam_spark.sources.bcf_source import BCFReader, sniff_bcf

        all_files = list_format_files(path, *(VCF_EXTS + (".bcf",)))
        bcf_files = [f for f in all_files if sniff_bcf(f) is not None]
        self._files = [f for f in all_files if f not in set(bcf_files)]
        self._bcf: Optional[BCFReader] = None
        if bcf_files:
            self._bcf = BCFReader(dict(options, path=",".join(bcf_files)))
        # header (and samples) read once on the driver per file
        self._samples = {f: read_vcf_header(f).samples for f in self._files}

    def pushFilters(self, filters):
        """Derive planning-time pruning from Catalyst filters (the BAM
        source's planning policy): contig EqualTo/In plus optional start bounds
        synthesize an interval when no intervals option was given, so a
        plain ``.filter(col("contig") == ...)`` gets tabix split pruning.
        Every filter is returned unsupported — Catalyst's residual keeps
        semantics exact (the interval admits a superset: overlap on
        [start, end] vs the start predicate)."""
        pushed = pushed_intervals(filters, "contig", "start").intervals
        if pushed and self._intervals is None:
            self._intervals = pushed
            if self._wanted is not None:
                # the residual filter reads these (see __init__)
                self._wanted = self._wanted | {"contig", "start", "end"}
        if self._bcf is not None:
            # BCF files in a mixed directory prune through their own reader
            self._bcf.pushFilters(filters)
        return filters

    def partitions(self):
        parts = plan_text_partitions(self._files, self._options, self._intervals)
        if self._bcf is not None:
            parts.extend(
                p for p in self._bcf.partitions()
                if not isinstance(p, EmptyPartition)
            )
        return parts or [EmptyPartition()]

    def read(self, partition):
        from hadoop_bam_spark.sources.bcf_source import (
            BCFBgzfPartition,
            BCFPlainPartition,
        )

        if isinstance(partition, (BCFPlainPartition, BCFBgzfPartition)):
            return self._bcf.read(partition)  # already Arrow batches + pruned
        if isinstance(partition, EmptyPartition):
            return iter(())
        from hadoop_bam_spark.formats import vcf_vec
        from hadoop_bam_spark.sources import decode_chunks, interval_mask

        samples = self._samples[partition.path]
        return decode_chunks(
            (
                [l for l in chunk if l and not l.startswith("#")]
                for chunk in partition_line_chunks(partition)
            ),
            VCF_SCHEMA, self._schema,
            lambda lines: vcf_vec.parse_vcf_chunk(lines, samples, self._wanted),
            # malformed-row policy (reference VCFRecordReader.java:180-196)
            lambda line: parse_vcf_line(line, samples, self._wanted),
            self._stringency, "vcf", interval_mask(self._intervals),
        )
