"""``spark.read.format("sam_any")`` — multi-format SAM-family scan.

Per-file dispatch to the BAM / SAM / CRAM reader by content sniff
(magic bytes beat the filename, so a BAM named ``misnamedBam.sam`` reads
correctly) — the reference's AnySAMInputFormat with its default
``trust-exts=false`` behavior (AnySAMInputFormat.java:126-156; format
inference SAMFormat.java:38-62). Mixed directories plan each file with its
own format's splitter, and all three formats share SAM_SCHEMA, so the
union is one DataFrame.

Options are passed through to the per-format readers: ``split_size`` (all),
``intervals``/``unmapped`` (BAM), ``reference`` (CRAM).
"""

from __future__ import annotations

import zlib
from typing import Optional

from pyspark.sql.datasource import DataSource, DataSourceReader

from hadoop_bam_spark.formats.sam import SAM_SCHEMA
from hadoop_bam_spark.sources import list_format_files

ANYSAM_EXTS = (".bam", ".sam", ".cram")


def sniff_sam_format(path: str, open_fn=None) -> str:
    """'bam' | 'cram' | 'sam' from file content (SAMFormat.java:38-62:
    CRAM magic, else gzip-wrapped 'BAM\\1', else SAM text)."""
    from hadoop_bam_spark import fs

    with (open_fn or fs.open_file)(path, "rb") as fh:
        head = fh.read(4096)
    if head[:4] == b"CRAM":
        return "cram"
    if head[:2] == b"\x1f\x8b":
        try:
            inner = zlib.decompressobj(wbits=31).decompress(head, 8)
        except zlib.error:
            return "sam"
        if inner[:4] == b"BAM\x01":
            return "bam"
    return "sam"


class AnySAMDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sam_any"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(SAM_SCHEMA, self.options)[0]

    def reader(self, schema) -> "AnySAMReader":
        return AnySAMReader(self.options)


class AnySAMReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("sam_any source requires a path")
        by_format: dict[str, list[str]] = {"bam": [], "sam": [], "cram": []}
        for f in list_format_files(path, *ANYSAM_EXTS):
            by_format[sniff_sam_format(f)].append(f)
        opts = dict(options)

        def sub_options(files):
            o = dict(opts)
            o["path"] = ",".join(files)
            return o

        self._bam = self._sam = self._cram = None
        if by_format["bam"]:
            from hadoop_bam_spark.sources.bam_source import BAMReader

            self._bam = BAMReader(sub_options(by_format["bam"]))
        if by_format["sam"]:
            from hadoop_bam_spark.sources.sam_source import SAMReader

            self._sam = SAMReader(sub_options(by_format["sam"]))
        if by_format["cram"]:
            from hadoop_bam_spark.sources.cram_source import CRAMReader

            self._cram = CRAMReader(sub_options(by_format["cram"]))

    def pushFilters(self, filters):
        """Forward Catalyst predicates to the per-format sub-readers that
        understand them (BAM -> BAI pruning, CRAM -> CRAI pruning); the SAM
        text reader has no index to prune. All filters stay unsupported —
        Catalyst's residual applies uniformly across the union."""
        for sub in (self._bam, self._cram):
            if sub is not None:
                sub.pushFilters(filters)
        return filters

    def partitions(self):
        from hadoop_bam_spark.sources import EmptyPartition

        parts = []
        for sub in (self._bam, self._sam, self._cram):
            if sub is not None:
                parts.extend(
                    p for p in sub.partitions() if not isinstance(p, EmptyPartition)
                )
        return parts or [EmptyPartition()]

    def read(self, partition):
        from hadoop_bam_spark.sources.bam_source import BAMPartition, RawBAMPartition
        from hadoop_bam_spark.sources.cram_source import CRAMPartition
        from hadoop_bam_spark.sources.sam_source import TextRangePartition

        if isinstance(partition, (BAMPartition, RawBAMPartition)):
            return self._bam.read(partition)
        if isinstance(partition, TextRangePartition):
            return self._sam.read(partition)
        if isinstance(partition, CRAMPartition):
            return self._cram.read(partition)
        return iter(())
