"""Streaming BAM sink: ``df.writeStream.format("bam")``.

Each micro-batch lands as sharded output — one complete standalone BAM
per non-empty partition, committed by rename into the target directory
as ``batch-{batchId:05d}-{i:05d}.bam`` — the streaming twin of
``sinks.write_bam(sharded=True)`` and the producer side of the
``bam_stream`` tailing source: two Spark jobs can chain
FASTQ-tail → transform → BAM shards → BAM-tail with exactly-once
file-level semantics on both hops.

Options:
  ``path``    target directory (required).
  ``header``  path to a SAM text / BAM file whose @-header (and reference
              dictionary) every shard carries (required — a standalone
              BAM is meaningless without one).

Write protocol: :class:`hadoop_bam_spark.commit.ShardStreamWriter` — tasks
write attempt-staged shards, and ``commit`` (driver, once per batch, with
the batchId) runs the shared replay-safe protocol of
:mod:`hadoop_bam_spark.commit`. A re-run of a failed or replayed batch
therefore never leaves a half-visible, duplicated, or stale shard —
visibility is the rename, same as the batch sharded sinks.

The reference has no streaming surface at all (SURVEY.md §2.9); this is
engine surface beyond it.
"""

from __future__ import annotations

from hadoop_bam_spark import fs
from hadoop_bam_spark.commit import ShardStreamWriter
from hadoop_bam_spark.sources import local_path


def _load_header(path: str):
    """SAMHeader + refs from a SAM text file or a BAM file."""
    p = local_path(path)
    from hadoop_bam_spark.formats import bam, bgzf
    from hadoop_bam_spark.formats.sam import parse_header

    with fs.open_file(p, "rb") as f:
        magic = f.read(2)
    if magic == b"\x1f\x8b":  # BGZF/BAM
        with fs.open_file(p, "rb") as f:
            header, refs, _ = bam.read_header(bgzf.BGZFReader(f))
        return header, refs
    with fs.open_file(p, "rb") as f:
        hdr = parse_header(
            ln for ln in f.read().decode().splitlines() if ln.startswith("@")
        )
    refs = [
        (name, ln)
        for name, (_i, ln) in sorted(
            hdr.sequences.items(), key=lambda kv: kv[1][0]
        )
    ]
    return hdr, refs


class BAMStreamWriter(ShardStreamWriter):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("bam stream sink requires a path (directory)")
        header_src = options.get("header")
        if not header_src:
            raise ValueError(
                "bam stream sink requires option('header', <sam-or-bam "
                "path>): every shard is a standalone BAM and must carry "
                "the header + reference dictionary"
            )
        super().__init__(local_path(path), ".bam")
        self._header, self._refs = _load_header(header_src)

    def _write_shard(self, f, iterator) -> int:
        from hadoop_bam_spark.formats import bam

        n = 0

        def rows():
            nonlocal n
            for r in iterator:
                n += 1
                yield (
                    r["qname"], r["flag"], r["rname"], r["pos"], r["mapq"],
                    r["cigar"], r["rnext"], r["pnext"], r["tlen"], r["seq"],
                    r["qual"], dict(r["tags"] or {}),
                )

        bam.write_bam(f, self._header, rows(), refs=self._refs)
        return n
