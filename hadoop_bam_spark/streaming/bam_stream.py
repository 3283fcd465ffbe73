"""Streaming alignment ingest: ``spark.readStream.format("bam_stream")``.

Tails a landing directory for new complete ``.bam`` files — the natural
consumer of this repo's sharded BAM sink (``write_bam(sharded=True)``
emits exactly such a directory shard-by-shard) and of any aligner that
drops per-lane BAMs as they finish. The reference is batch MapReduce
only (SURVEY.md §2.9); this is engine surface beyond it.

Offsets are the sorted list of files already processed, so restarts are
exactly-once per file (same contract as fastq_stream/vcf_stream). Rows
are lazy and copyable: a multi-GB drop streams through the micro-batch
instead of materializing on the driver (the r5 vcf_stream fix applies
from birth here). ``_``-prefixed names (``_manifest.json``) and dotfiles
are skipped, so pointing the stream at a live sharded-sink output
directory is safe.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from hadoop_bam_spark.sources import list_format_files, local_path
from hadoop_bam_spark.streaming.lazyrows import LazyFileRows


def _iter_bam_file(path: str) -> Iterator[tuple]:
    """All records of one complete BAM file (module-level: LazyFileRows
    pickles a reference to it)."""
    from hadoop_bam_spark.formats import bam, bgzf

    with open(path, "rb") as f:
        reader = bgzf.BGZFReader(f)
        _hdr, refs, _ = bam.read_header(reader)
        yield from bam.iter_records(reader, refs, reader.tell_voffset())


class BamStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bam_stream"

    def schema(self):
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA

        return SAM_SCHEMA

    def simpleStreamReader(self, schema) -> "BamStreamReader":
        return BamStreamReader(self.options)


class BamStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("bam_stream source requires a path (directory)")
        self._dir = local_path(path)

    def _list(self) -> list[str]:
        if not os.path.isdir(self._dir):
            return []
        return [os.path.basename(f)
                for f in list_format_files(self._dir, ".bam")]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        seen = set(start.get("processed", []))
        new = [f for f in self._list() if f not in seen]
        rows = LazyFileRows(
            [os.path.join(self._dir, n) for n in new], _iter_bam_file
        )
        return rows, {"processed": sorted(seen | set(new))}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Deterministic replay for recovery: the files in end but not start."""
        seen = set(start.get("processed", []))
        target = [f for f in end.get("processed", []) if f not in seen]
        for name in target:
            full = os.path.join(self._dir, name)
            if not os.path.exists(full):
                raise FileNotFoundError(
                    f"bam_stream replay: {full} recorded in offsets but "
                    "missing on disk; restore the file (or reset the "
                    "checkpoint) to keep exactly-once semantics"
                )
            yield from _iter_bam_file(full)

    def commit(self, end: dict) -> None:
        pass
