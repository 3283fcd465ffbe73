"""Streaming BCF sink: ``df.writeStream.format("bcf")``.

Fourth member of the streaming shard-sink family (protocol shared with
:mod:`hadoop_bam_spark.streaming.bam_sink`): each micro-batch lands as
one complete standalone BGZF BCF2 per non-empty partition
(``batch-{batchId:05d}-{i:05d}.bcf``, the merged file's exact layout —
header block closing its own BGZF stream, records on a block boundary,
EOF appended). ``bcf_stream`` tails the output; the batch ``bcf``
source reads the directory.

Options:
  ``path``    target directory (required).
  ``header``  path to a VCF file supplying the ##-header (required; the
              sample columns come from it too).
"""

from __future__ import annotations

from hadoop_bam_spark.commit import ShardStreamWriter
from hadoop_bam_spark.sources import local_path


class BCFStreamWriter(ShardStreamWriter):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("bcf stream sink requires a path (directory)")
        header_src = options.get("header")
        if not header_src:
            raise ValueError(
                "bcf stream sink requires option('header', <vcf path>)"
            )
        from hadoop_bam_spark.formats.bcf import parse_bcf_header_text
        from hadoop_bam_spark.formats.vcf import read_vcf_header

        super().__init__(local_path(path), ".bcf")
        hdr = read_vcf_header(local_path(header_src))
        self._bhdr = parse_bcf_header_text(hdr.text)

    def _write_shard(self, f, iterator) -> int:
        from hadoop_bam_spark.formats import bcf as bcfmod
        from hadoop_bam_spark.formats import bgzf

        n = 0
        hw = bgzf.BGZFWriter(f, write_terminator=False)
        hw.write(bcfmod.encode_header(self._bhdr))
        hw.close()
        w = bgzf.BGZFWriter(f, write_terminator=False)
        for r in iterator:
            row = (
                r["contig"], r["start"], r["end"], r["id"], r["ref"],
                r["alts"], r["qual"], r["filters"],
                dict(r["info"] or {}),
                [
                    (g["sample"], g["gt"], dict(g["fields"] or {}))
                    for g in (r["genotypes"] or [])
                ] or None,
            )
            w.write(bcfmod.encode_record(row, self._bhdr))
            n += 1
        w.close()
        f.write(bgzf.BGZF_EOF)
        return n
