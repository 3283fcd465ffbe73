"""Streaming CRAM ingest: ``spark.readStream.format("cram_stream")``.

Completes the streaming tail family (bam/vcf/bcf/fastq/cram): tails a
landing directory for new complete ``.cram`` files — the natural
consumer of this repo's streaming CRAM sink and of
``write_cram(sharded=True)``. The reference is batch MapReduce only
(SURVEY.md §2.9); this is engine surface beyond it.

Same contracts as :mod:`hadoop_bam_spark.streaming.bam_stream`:
offsets are the sorted processed-file list (exactly-once per file,
missing-on-replay raises rather than silently dropping rows), rows are
lazy and copyable, and a shard-sink output directory is tailed THROUGH
its per-batch manifests (``sources.list_format_files``) so a
half-committed or about-to-be-superseded shard is never consumed.

Options:
  ``path``       landing directory (required).
  ``reference``  optional FASTA path (driver-visible): required to
                 decode reference-compressed (RR=true) shards that do
                 not embed their reference windows; verbatim (RR=false)
                 and embedded-reference shards need none.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from hadoop_bam_spark.sources import list_format_files, local_path
from hadoop_bam_spark.streaming.lazyrows import LazyFileRows


def _iter_cram_file(path: str, reference=None) -> Iterator[tuple]:
    """All records of one complete CRAM file (module-level: LazyFileRows
    pickles a reference to it)."""
    from hadoop_bam_spark.formats import cram

    yield from cram.decode_file(path, reference=reference)


class CramStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cram_stream"

    def schema(self):
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA

        return SAM_SCHEMA

    def simpleStreamReader(self, schema) -> "CramStreamReader":
        return CramStreamReader(self.options)


class CramStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("cram_stream source requires a path (directory)")
        self._dir = local_path(path)
        self._reference = options.get("reference") or None

    def _list(self) -> list[str]:
        if not os.path.isdir(self._dir):
            return []
        return [os.path.basename(f)
                for f in list_format_files(self._dir, ".cram")]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        seen = set(start.get("processed", []))
        new = [f for f in self._list() if f not in seen]
        rows = LazyFileRows(
            [os.path.join(self._dir, n) for n in new],
            _iter_cram_file,
            (self._reference,),
        )
        return rows, {"processed": sorted(seen | set(new))}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Deterministic replay for recovery: files in end but not start."""
        seen = set(start.get("processed", []))
        for name in end.get("processed", []):
            if name in seen:
                continue
            full = os.path.join(self._dir, name)
            if not os.path.exists(full):
                raise FileNotFoundError(
                    f"cram_stream replay: {full} recorded in offsets but "
                    "missing on disk; restore the file (or reset the "
                    "checkpoint) to keep exactly-once semantics"
                )
            yield from _iter_cram_file(full, self._reference)

    def commit(self, end: dict) -> None:
        pass
