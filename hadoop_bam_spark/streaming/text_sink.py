"""Streaming interval-text shard sinks: ``df.writeStream.format("bed" |
"bedgraph" | "gff")``.

The text twin of the BAM/VCF streaming sinks (see
:mod:`hadoop_bam_spark.streaming.bam_sink` for the staging +
rename-commit protocol, shared verbatim): each micro-batch lands as one
complete standalone BGZF shard per non-empty partition under the
replay-safe per-batch manifest protocol
(:mod:`hadoop_bam_spark.streaming.shard_commit`). The matching batch
source reads the output directory natively and the matching
``*_stream`` tail source can tail it — so
tail → transform → land pipelines chain with exactly-once semantics at
every hop, now including the interval-text family.

``TextStreamWriter`` is parameterized by (columns, line formatter,
shard extension, optional per-shard header). ``text_stream_writer``
binds it from a tabix-text spec for the BED / bedGraph / GFF3 batch
DataSources' ``streamWriter``; the VCF sink binds it directly.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Sequence

from pyspark.sql.datasource import DataSourceStreamWriter, WriterCommitMessage

from hadoop_bam_spark import fs
from hadoop_bam_spark.sources import local_path


@dataclass
class TextShardCommit(WriterCommitMessage):
    staged: str | None
    records: int


class TextStreamWriter(DataSourceStreamWriter):
    def __init__(self, options, cols: Sequence[str],
                 line_fn: Callable[[tuple], str], ext: str,
                 fmt: str, header: str = ""):
        path = options.get("path")
        if not path:
            raise ValueError(f"{fmt} stream sink requires a path (directory)")
        self._dir = local_path(path)
        self._cols = tuple(cols)
        self._line_fn = line_fn
        self._ext = ext
        self._header = header

    # -- executors ---------------------------------------------------------
    def write(self, iterator) -> TextShardCommit:
        from pyspark import TaskContext

        from hadoop_bam_spark.formats import bgzf

        ctx = TaskContext.get()
        staging = fs.join(self._dir, ".staging")
        fs.makedirs(staging)
        name = (
            f"attempt-{ctx.taskAttemptId()}-p{ctx.partitionId():05d}{self._ext}"
        )
        tmp = fs.join(staging, name)
        n = 0
        try:
            with fs.open_file(tmp, "wb") as f:
                w = bgzf.BGZFWriter(f, write_terminator=True)
                if self._header:
                    w.write(self._header.encode())
                for r in iterator:
                    row = tuple(r[c] for c in self._cols)
                    w.write((self._line_fn(row) + "\n").encode())
                    n += 1
                w.close()
        except BaseException:
            fs.remove(tmp)  # no orphaned attempt files on task failure
            raise
        if n == 0:
            fs.remove(tmp)
            return TextShardCommit(staged=None, records=0)
        return TextShardCommit(staged=name, records=n)

    # -- driver ------------------------------------------------------------
    def commit(self, messages, batchId: int) -> None:
        from hadoop_bam_spark.streaming.shard_commit import commit_shards

        commit_shards(self._dir, messages, batchId, self._ext)

    def abort(self, messages, batchId: int) -> None:
        from hadoop_bam_spark.streaming.shard_commit import abort_shards

        abort_shards(self._dir, messages)


def text_stream_writer(spec, options) -> TextStreamWriter:
    """The stream sink of one tabix-text spec
    (:mod:`hadoop_bam_spark.sources.tabix_text`): BGZF shards named
    ``*<spec.shard_ext>.bgz``, each opening with the spec's header."""
    return TextStreamWriter(
        options, spec.cols, spec.format_row, spec.shard_ext + ".bgz",
        spec.name, header=spec.header)
