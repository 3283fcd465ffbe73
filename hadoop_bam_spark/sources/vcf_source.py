"""``spark.read.format("vcf")`` — splittable VCF scan (plain, .gz, .bgz).

Split planning and line chunking are the shared tabix-text ones
(sources/tabix_text.py): BGZF block-aligned splits pruned by ``.tbi`` /
``.csi`` at plan time, byte-range splits for plain text, one whole-file
split for non-BGZF gzip. BCF files in the same path dispatch to the BCF
reader by content sniff (reference VCFInputFormat.java:170-197).

Interval filtering: ``option("intervals", "20:1-70000")`` applies the
overlap residual per row (reference VCFRecordReader.java:213-219).

Malformed rows: ``option("stringency", "strict"|"lenient"|"silent")``
(default strict; FAILFAST/PERMISSIVE aliases) — the reference's
ValidationStringency handling (VCFRecordReader.java:77-92,180-196).
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql.datasource import DataSource, DataSourceReader

from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, parse_vcf_line, read_vcf_header
from hadoop_bam_spark.sources import list_format_files, pushed_intervals
from hadoop_bam_spark.sources.bam_source import EmptyPartition, parse_intervals
from hadoop_bam_spark.sources.tabix_text import (
    DEFAULT_SPLIT_SIZE,
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
        from hadoop_bam_spark.streaming.vcf_sink import VCFStreamWriter

        return VCFStreamWriter(self.options)


class VCFReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("vcf source requires a path")
        self._split_size = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
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
            self._bcf = BCFReader(
                {
                    "path": ",".join(bcf_files),
                    "split_size": str(self._split_size),
                    **({"intervals": options["intervals"]} if options.get("intervals") else {}),
                    **({"columns": options["columns"]} if options.get("columns") else {}),
                }
            )
        # header (and samples) read once on the driver per file
        self._samples = {f: read_vcf_header(f).samples for f in self._files}

    def pushFilters(self, filters):
        """Derive planning-time pruning from Catalyst filters (same policy
        as the BAM source): contig EqualTo/In plus optional start bounds
        synthesize an interval when no intervals option was given, so a
        plain ``.filter(col("contig") == ...)`` gets tabix split pruning.
        Every filter is returned unsupported — Catalyst's residual keeps
        semantics exact (the interval admits a superset: overlap on
        [start, end] vs the start predicate)."""
        _, pushed = pushed_intervals(filters, "contig", "start")
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
        parts = plan_text_partitions(self._files, self._split_size, self._intervals)
        if self._bcf is not None:
            parts.extend(self._bcf.partitions())
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
        return self._batches(
            partition_line_chunks(partition), self._samples[partition.path]
        )

    def _batches(self, chunks, samples):
        """Decode bulk line lists columnar (formats.vcf_vec); any chunk
        the vectorized parser rejects re-parses per-line with the scalar
        path, which applies ValidationStringency exactly as before."""
        from hadoop_bam_spark.formats import vcf_vec
        from hadoop_bam_spark.sources import arrow_schema

        target = arrow_schema(self._schema)
        size = vcf_vec.VEC_CHUNK_LINES
        buf: list[str] = []
        for chunk in chunks:
            buf.extend(l for l in chunk if l and not l.startswith("#"))
            while len(buf) >= size:
                yield from self._chunk_batches(buf[:size], samples, target)
                buf = buf[size:]
        if buf:
            yield from self._chunk_batches(buf, samples, target)

    def _chunk_batches(self, chunk, samples, target):
        from hadoop_bam_spark.formats import vcf_vec

        arrays = vcf_vec.parse_vcf_chunk(chunk, samples, self._wanted)
        if arrays:
            mask = (
                vcf_vec.interval_mask(arrays, self._intervals, len(chunk))
                if self._intervals is not None
                else None
            )
            yield vcf_vec.chunk_to_batch(arrays, target, mask)
            return
        yield from self._scalar_chunk(chunk, samples)

    def _scalar_chunk(self, chunk, samples):
        from hadoop_bam_spark.sources import (
            apply_stringency,
            arrow_batches,
            project_rows,
        )

        intervals = self._intervals
        rows = []
        for line in chunk:
            try:
                row = parse_vcf_line(line, samples, self._wanted)
            except ValueError as e:
                # malformed-row policy (reference VCFRecordReader.java:180-196)
                apply_stringency(self._stringency, e, "vcf")
                continue
            if intervals is not None:
                contig, start, end = row[0], row[1], row[2]
                if not any(
                    c == contig and start <= stop and s <= end
                    for c, s, stop in intervals
                ):
                    continue
            rows.append(row)
        yield from arrow_batches(project_rows(iter(rows), self._keep), self._schema)
