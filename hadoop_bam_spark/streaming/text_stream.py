"""Streaming tabix-text tail sources: ``spark.readStream.format("bed_stream"
| "bedgraph_stream" | "gff_stream")``.

``make_text_stream_source(spec)`` builds, from a tabix-text spec
(:mod:`hadoop_bam_spark.sources.tabix_text`), a
``spark.readStream.format(spec.name + "_stream")`` DataSource that tails
a landing directory for new files with the spec's extensions — the same
tuple the batch ``format(spec.name)`` source lists. This is the
continuously-delivered feed pattern (annotation drops, freshly-called
peaks, coverage-track updates, this engine's own shard-sink output)
joined downstream against record streams. Contract shared with
``vcf_stream``:

- offsets are the sorted processed-file list → exactly-once per file;
- ``option("intervals", ...)`` prunes WHOLE deliveries through a
  ``.tbi`` sidecar before any byte parses, with a per-row residual on
  the spec's coordinate columns;
- ``option("stringency", ...)`` governs malformed rows exactly like the
  batch sources (STRICT raises — and keeps raising on restart, since
  the file is already in the offsets; LENIENT warns and skips; SILENT
  skips), so one bad row in a delivery cannot permanently wedge a
  lenient pipeline;
- a shard-sink output directory is tailed through its commit
  manifests, so half-committed batches are never consumed.

``BEDStreamDataSource``, ``BedGraphStreamDataSource`` and
``GFFStreamDataSource`` are the three bindings.
"""

from __future__ import annotations

import gzip
import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from hadoop_bam_spark.sources import list_format_files, local_path
from hadoop_bam_spark.sources.tabix_text import BED, BEDGRAPH, GFF, TabixTextSpec
from hadoop_bam_spark.streaming.lazyrows import LazyFileRows
from hadoop_bam_spark.streaming.vcf_stream import _tbi_says_empty


def iter_text_rows(path: str, spec: TabixTextSpec, intervals=None,
                   stringency: str = "strict") -> Iterator[tuple]:
    """Rows of one delivered file, overlap-filtered on ``spec.coords``."""
    from hadoop_bam_spark.sources import apply_stringency

    if _tbi_says_empty(path, intervals):
        return
    ci, si, ei = spec.coords
    fmt = f"{spec.name}_stream"
    with open(path, "rb") as probe:
        magic = probe.read(2)
    fh = (gzip.open(path, "rt", encoding="utf-8") if magic == b"\x1f\x8b"
          else open(path, "rt", encoding="utf-8"))
    with fh:
        for line in fh:
            try:
                row = spec.parse_line(line.rstrip("\r\n"))
            except ValueError as e:
                # One malformed row must not permanently kill the
                # query (the file is already in the offsets, so a
                # strict failure would re-raise on every restart —
                # that is strict's documented contract; lenient/
                # silent skip and keep the stream alive).
                apply_stringency(stringency, e, fmt)
                continue
            if row is None:
                continue
            if intervals is None or any(
                c == row[ci] and row[si] <= stop and lo <= row[ei]
                for c, lo, stop in intervals
            ):
                yield row


class TextTailReader(SimpleDataSourceStreamReader):
    """Directory-tail reader over one tabix-text spec."""

    def __init__(self, options, spec: TabixTextSpec):
        self._fmt = f"{spec.name}_stream"
        path = options.get("path")
        if not path:
            raise ValueError(f"{self._fmt} source requires a path (directory)")
        self._dir = local_path(path)
        self._spec = spec
        self._exts = spec.extensions
        from hadoop_bam_spark.sources import stringency_option

        self._stringency = stringency_option(options)
        self._intervals = None
        if options.get("intervals"):
            from hadoop_bam_spark.sources.bam_source import parse_intervals

            self._intervals = parse_intervals(options["intervals"])

    def _list(self) -> list:
        if not os.path.isdir(self._dir):
            return []
        return [os.path.basename(f)
                for f in list_format_files(self._dir, *self._exts)]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def read(self, start: dict):
        seen = set(start.get("processed", []))
        new = [f for f in self._list() if f not in seen]
        rows = LazyFileRows(
            [os.path.join(self._dir, n) for n in new],
            iter_text_rows,
            (self._spec, self._intervals, self._stringency),
        )
        return rows, {"processed": sorted(seen | set(new))}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        seen = set(start.get("processed", []))
        for name in end.get("processed", []):
            if name in seen:
                continue
            full = os.path.join(self._dir, name)
            if not os.path.exists(full):
                raise FileNotFoundError(
                    f"{self._fmt} replay: {full} recorded in offsets but "
                    "missing on disk; restore the file (or reset the "
                    "checkpoint) to keep exactly-once semantics"
                )
            yield from iter_text_rows(
                full, self._spec, self._intervals, self._stringency)

    def commit(self, end: dict) -> None:
        pass


def make_text_stream_source(spec: TabixTextSpec) -> type:
    """Build the ``<spec.name>_stream`` DataSource class tailing the
    spec's files."""
    name = f"{spec.name}_stream"

    class _TextStreamDataSource(DataSource):
        @classmethod
        def name(cls) -> str:  # noqa: D102
            return name

        def schema(self):  # noqa: D102
            return spec.schema

        def simpleStreamReader(self, schema) -> TextTailReader:
            return TextTailReader(self.options, spec)

    _TextStreamDataSource.__name__ = f"{name}_DataSource"
    return _TextStreamDataSource


BEDStreamDataSource = make_text_stream_source(BED)
BedGraphStreamDataSource = make_text_stream_source(BEDGRAPH)
GFFStreamDataSource = make_text_stream_source(GFF)
