"""Streaming VCF ingest: ``spark.readStream.format("vcf_stream")``.

Tails a landing directory for new ``.vcf`` / ``.vcf.gz`` / ``.vcf.bgz``
files — the variant-call delivery pattern (per-batch caller output landing
continuously) the batch-only reference cannot express (SURVEY.md §2.9).
Offsets are the sorted list of files already processed, so restarts are
exactly-once per file; each file's own header drives its sample columns,
so mixed cohorts in one directory parse correctly.
"""

from __future__ import annotations

import gzip
import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from hadoop_bam_spark.sources import list_format_files, local_path
from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, parse_vcf_line, read_vcf_header
from hadoop_bam_spark.streaming.lazyrows import LazyFileRows


def _overlaps(row: tuple, intervals) -> bool:
    """Row-level overlap residual, identical to the batch VCF source's
    semantics: (contig, start, end) vs 1-based inclusive intervals."""
    contig, start, end = row[0], row[1], row[2]
    return any(
        c == contig and start <= stop and lo <= end
        for c, lo, stop in intervals
    )


def _tbi_says_empty(path: str, intervals) -> bool:
    """True when a .tbi sidecar PROVES no record overlaps the intervals —
    the streaming analog of the batch source's tabix split pruning (a
    tailing query over a growing cohort directory skips whole deliveries
    without parsing them). False when no usable index exists."""
    tbi = path + ".tbi"
    if intervals is None or not os.path.exists(tbi):
        return False
    try:
        from hadoop_bam_spark.formats.tabix import read_tabix

        return not read_tabix(tbi).span_for_intervals(list(intervals))
    except (OSError, ValueError):
        return False


def _iter_vcf_rows(path: str, intervals=None) -> Iterator[tuple]:
    if _tbi_says_empty(path, intervals):
        return
    hdr = read_vcf_header(path)
    with open(path, "rb") as probe:
        magic = probe.read(2)
    if magic == b"\x1f\x8b":
        fh = gzip.open(path, "rt", encoding="utf-8")
    else:
        fh = open(path, "rt", encoding="utf-8")
    with fh:
        for line in fh:
            line = line.rstrip("\r\n")
            if not line or line.startswith("#"):
                continue
            row = parse_vcf_line(line, hdr.samples)
            if row is not None and (
                intervals is None or _overlaps(row, intervals)
            ):
                yield row


class VCFStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "vcf_stream"

    def schema(self):
        return VCF_SCHEMA

    def simpleStreamReader(self, schema) -> "VCFStreamReader":
        return VCFStreamReader(self.options)


class VCFStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("vcf_stream source requires a path (directory)")
        self._dir = local_path(path)
        # interval pushdown, batch-source parity: option("intervals",
        # "c1:1-100,c2") -> .tbi whole-file pruning + row-level residual
        self._intervals = None
        if options.get("intervals"):
            from hadoop_bam_spark.sources.bam_source import parse_intervals

            self._intervals = parse_intervals(options["intervals"])

    def _list(self) -> list[str]:
        if not os.path.isdir(self._dir):
            return []
        return [os.path.basename(f) for f in list_format_files(
            self._dir, ".vcf", ".vcf.gz", ".vcf.bgz")]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        seen = set(start.get("processed", []))
        new = [f for f in self._list() if f not in seen]
        # lazy + copyable, not a prebuilt list: a large .vcf.gz delivery
        # must stream through the batch, not sit whole in driver memory
        rows = LazyFileRows(
            [os.path.join(self._dir, n) for n in new],
            _iter_vcf_rows,
            (self._intervals,),
        )
        return rows, {"processed": sorted(seen | set(new))}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        seen = set(start.get("processed", []))
        for name in end.get("processed", []):
            if name in seen:
                continue
            full = os.path.join(self._dir, name)
            if not os.path.exists(full):
                # replay gap: the offset log says this file's rows are part
                # of the batch — silently skipping would drop them and void
                # the exactly-once-per-file contract
                raise FileNotFoundError(
                    f"vcf_stream replay: {full} recorded in offsets but "
                    "missing on disk; restore the file (or reset the "
                    "checkpoint) to keep exactly-once semantics"
                )
            yield from _iter_vcf_rows(full, self._intervals)

    def commit(self, end: dict) -> None:
        pass
