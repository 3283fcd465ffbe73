"""Directory-tail stream sources: ``spark.readStream.format("<fmt>_stream")``.

Each binding tails a landing directory for new complete files of one
format and reads every micro-batch through the batch source of that
format: the driver plans the new files with the batch reader (index
pruning, split planning) and executors decode the planned partitions, so
a stream read takes the batch source's options under the same names
(``intervals``, ``columns``, ``reference``, ``stringency``,
``split_size``, ...) and returns the same rows.

- Offsets are the sorted list of listed file names, so restarts are
  exactly-once per file; a file recorded in the offsets but missing on
  disk raises rather than silently dropping its rows.
- Listing is :func:`hadoop_bam_spark.sources.list_format_files`: a
  shard-sink output directory is tailed through its commit manifests, so
  a half-committed or superseded shard is never consumed, and names
  starting with ``_`` or ``.`` are never data.

The reference is batch MapReduce only (SURVEY.md §2.9); this is engine
surface beyond it.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

from hadoop_bam_spark.sources import list_format_files, local_path
from hadoop_bam_spark.sources.bam_source import BAMDataSource
from hadoop_bam_spark.sources.bcf_source import BCFDataSource
from hadoop_bam_spark.sources.cram_source import CRAMDataSource
from hadoop_bam_spark.sources.fastq_source import FastqDataSource
from hadoop_bam_spark.sources.tabix_text import (
    BED,
    BEDGRAPH,
    GFF,
    BEDDataSource,
    BedGraphDataSource,
    GFFDataSource,
)
from hadoop_bam_spark.sources.vcf_source import VCFDataSource


@dataclass
class TailPartition(InputPartition):
    """A batch-reader partition and the reader that planned it: Spark runs
    ``read`` on a fresh stream reader, not on the one that ran
    ``partitions``."""

    reader: DataSourceReader
    part: InputPartition


class TailReader(DataSourceStreamReader):
    def __init__(self, batch: type, exts: tuple, options, schema):
        self._fmt = f"{batch.name()}_stream"
        path = options.get("path")
        if not path:
            raise ValueError(f"{self._fmt} source requires a path (directory)")
        self._dir = local_path(path)
        self._batch, self._exts = batch, exts
        self._options, self._schema = options, schema

    def _list(self) -> list[str]:
        if not os.path.isdir(self._dir):
            return []
        return [os.path.basename(f)
                for f in list_format_files(self._dir, *self._exts)]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def latestOffset(self) -> dict:
        return {"processed": sorted(self._list())}

    def partitions(self, start: dict, end: dict) -> list[TailPartition]:
        """Plan the files in ``end`` but not in ``start`` with the batch
        reader (also the deterministic replay of a recovered batch)."""
        seen = set(start.get("processed", []))
        new = [os.path.join(self._dir, n)
               for n in end.get("processed", []) if n not in seen]
        for full in new:
            if not os.path.exists(full):
                raise FileNotFoundError(
                    f"{self._fmt} replay: {full} recorded in offsets but "
                    "missing on disk; restore the file (or reset the "
                    "checkpoint) to keep exactly-once semantics"
                )
        if not new:
            return []
        reader = self._batch(
            {**self._options, "path": ",".join(new)}).reader(self._schema)
        return [TailPartition(reader, p) for p in reader.partitions()]

    def read(self, partition: TailPartition):
        return partition.reader.read(partition.part)

    def commit(self, end: dict) -> None:
        pass


def tail_source(batch: type, exts: tuple) -> type:
    """The ``<batch.name()>_stream`` DataSource tailing ``exts`` files
    through ``batch``; its schema is the batch source's."""

    class _Tail(DataSource):
        @classmethod
        def name(cls) -> str:
            return f"{batch.name()}_stream"

        def schema(self):
            return batch(self.options).schema()

        def streamReader(self, schema) -> TailReader:
            return TailReader(batch, exts, self.options, schema)

    # module-level names, so the classes pickle by reference
    _Tail.__name__ = _Tail.__qualname__ = batch.__name__.replace(
        "DataSource", "StreamDataSource")
    return _Tail


BAMStreamDataSource = tail_source(BAMDataSource, (".bam",))
BCFStreamDataSource = tail_source(BCFDataSource, (".bcf",))
CRAMStreamDataSource = tail_source(CRAMDataSource, (".cram",))
FastqStreamDataSource = tail_source(FastqDataSource, (".fastq", ".fq"))
VCFStreamDataSource = tail_source(VCFDataSource, (".vcf", ".vcf.gz", ".vcf.bgz"))
BEDStreamDataSource = tail_source(BEDDataSource, BED.extensions)
BedGraphStreamDataSource = tail_source(BedGraphDataSource, BEDGRAPH.extensions)
GFFStreamDataSource = tail_source(GFFDataSource, GFF.extensions)
