"""Streaming VCF sink: ``df.writeStream.format("vcf")``.

The variant-side twin of the streaming BAM sink
(:mod:`hadoop_bam_spark.streaming.bam_sink` — see its docstring for the
staging + rename-commit protocol): each micro-batch lands as one
complete standalone BGZF ``.vcf.bgz`` per non-empty partition,
committed into the target directory as
``batch-{batchId:05d}-{i:05d}.vcf.bgz`` under the shared replay-safe
commit protocol (see :mod:`hadoop_bam_spark.commit`).
The batch ``vcf`` source reads the resulting directory natively
and ``vcf_stream`` can tail it.

Since the interval-text sinks landed, the line-oriented shard protocol
lives in :class:`hadoop_bam_spark.streaming.text_sink.TextStreamWriter`;
this module is the VCF binding of it (header text + per-row VCF line
formatting), not a fourth copy of the staging machinery.

Options:
  ``path``    target directory (required).
  ``header``  path to a VCF file whose ##-header and sample columns every
              shard carries (required).
"""

from __future__ import annotations

from hadoop_bam_spark.sources import local_path
from hadoop_bam_spark.streaming.text_sink import TextStreamWriter

_VCF_COLS = ("contig", "start", "end", "id", "ref", "alts", "qual",
             "filters", "info", "genotypes")


def VCFStreamWriter(options) -> TextStreamWriter:
    """Build the VCF-bound TextStreamWriter (name kept from the original
    class for its callers)."""
    header_src = options.get("header")
    if not header_src:
        raise ValueError(
            "vcf stream sink requires option('header', <vcf path>): "
            "every shard is a standalone VCF and must carry the "
            "##-header and sample columns"
        )
    from hadoop_bam_spark.formats.vcf import format_vcf_line, read_vcf_header

    hdr = read_vcf_header(local_path(header_src))
    samples = hdr.samples

    def line(row: tuple) -> str:
        (contig, start, end, vid, ref, alts, qual, filters, info,
         genotypes) = row
        prepared = (
            contig, start, end, vid, ref, alts, qual, filters,
            dict(info or {}),
            [
                (g["sample"], g["gt"], dict(g["fields"] or {}))
                for g in (genotypes or [])
            ] or None,
        )
        return format_vcf_line(prepared, samples)

    return TextStreamWriter(
        options, _VCF_COLS, line, ".vcf.bgz", "vcf", header=hdr.text
    )
