"""Streaming interval-text shard sinks: ``df.writeStream.format("bed" |
"bedgraph" | "gff")``.

The text twin of the BAM/VCF streaming sinks: each micro-batch lands as
one complete standalone BGZF shard per non-empty partition under the
replay-safe commit protocol of :mod:`hadoop_bam_spark.commit`. The
matching batch source reads the output directory natively and the
matching ``*_stream`` tail source can tail it — so
tail → transform → land pipelines chain with exactly-once semantics at
every hop, now including the interval-text family.

``TextStreamWriter`` is parameterized by (columns, line formatter,
shard extension, optional per-shard header). ``text_stream_writer``
binds it from a tabix-text spec for the BED / bedGraph / GFF3 batch
DataSources' ``streamWriter``; the VCF sink binds it directly.
"""

from __future__ import annotations

from typing import Callable, Sequence

from hadoop_bam_spark.commit import ShardStreamWriter
from hadoop_bam_spark.sources import local_path


class TextStreamWriter(ShardStreamWriter):
    def __init__(self, options, cols: Sequence[str],
                 line_fn: Callable[[tuple], str], ext: str,
                 fmt: str, header: str = ""):
        path = options.get("path")
        if not path:
            raise ValueError(f"{fmt} stream sink requires a path (directory)")
        super().__init__(local_path(path), ext)
        self._cols = tuple(cols)
        self._line_fn = line_fn
        self._header = header

    def _write_shard(self, f, iterator) -> int:
        from hadoop_bam_spark.formats import bgzf

        n = 0
        w = bgzf.BGZFWriter(f, write_terminator=True)
        if self._header:
            w.write(self._header.encode())
        for r in iterator:
            row = tuple(r[c] for c in self._cols)
            w.write((self._line_fn(row) + "\n").encode())
            n += 1
        w.close()
        return n


def text_stream_writer(spec, options) -> TextStreamWriter:
    """The stream sink of one tabix-text spec
    (:mod:`hadoop_bam_spark.sources.tabix_text`): BGZF shards named
    ``*<spec.shard_ext>.bgz``, each opening with the spec's header."""
    return TextStreamWriter(
        options, spec.cols, spec.format_row, spec.shard_ext + ".bgz",
        spec.name, header=spec.header)
