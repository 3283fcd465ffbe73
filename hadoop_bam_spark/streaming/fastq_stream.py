"""Streaming FASTQ ingest: ``spark.readStream.format("fastq_stream")``.

Tails a landing directory for new ``.fastq`` files — the sequencer-output
ingest pattern the reference can't express (it is batch MapReduce only;
SURVEY.md §2.9 flags this as the natural streaming extension). Offsets are
the sorted list of files already processed, so restarts are exactly-once
per file.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from hadoop_bam_spark.sources import list_format_files, local_path
from hadoop_bam_spark.sources.fastq_source import FASTQ_SCHEMA, iter_fastq_records
from hadoop_bam_spark.streaming.lazyrows import LazyFileRows


def _iter_fastq_file(path: str) -> Iterator[tuple]:
    """All records of one FASTQ file (module-level so LazyFileRows can
    reference it picklably)."""
    return iter_fastq_records(path, 0, os.path.getsize(path))


class FastqStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fastq_stream"

    def schema(self):
        return FASTQ_SCHEMA

    def simpleStreamReader(self, schema) -> "FastqStreamReader":
        return FastqStreamReader(self.options)


class FastqStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("fastq_stream source requires a path (directory)")
        self._dir = local_path(path)

    def _list(self) -> list[str]:
        if not os.path.isdir(self._dir):
            return []
        return [os.path.basename(f)
                for f in list_format_files(self._dir, ".fastq", ".fq")]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        seen = set(start.get("processed", []))
        new = [f for f in self._list() if f not in seen]
        # lazy + copyable, not a prebuilt list: a multi-GB sequencer drop
        # must stream through the batch, not sit whole in driver memory
        # (same shape as vcf_stream; r5 VERDICT item 7)
        rows = LazyFileRows(
            [os.path.join(self._dir, n) for n in new], _iter_fastq_file
        )
        return rows, {"processed": sorted(seen | set(new))}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Deterministic replay for recovery: the files in end but not start."""
        seen = set(start.get("processed", []))
        target = [f for f in end.get("processed", []) if f not in seen]
        for name in target:
            full = os.path.join(self._dir, name)
            if not os.path.exists(full):
                # replay gap: the offset log says this file's rows are part
                # of the batch — silently skipping would drop them and void
                # the exactly-once-per-file contract
                raise FileNotFoundError(
                    f"fastq_stream replay: {full} recorded in offsets but "
                    "missing on disk; restore the file (or reset the "
                    "checkpoint) to keep exactly-once semantics"
                )
            yield from _iter_fastq_file(full)

    def commit(self, end: dict) -> None:
        pass
