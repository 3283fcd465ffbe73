"""``spark.read.format("fasta")`` — reference-sequence scan.

One row per sequence line with (contig, 1-based position of the line's
first base, seq) — the reference's ReferenceFragment model
(ReferenceFragment.java:36-41, FastaInputFormat.java:334-372).

Planning: with a ``.fai`` faidx sidecar, one split per contig computed from
the index (better than the reference's full-file driver scan for '>' bytes,
FastaInputFormat.java:62-154 — noted in SURVEY.md §2.1); without one, a
single whole-file split per file.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Iterator, Optional

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.sources import EmptyPartition, list_format_files

FASTA_SCHEMA = T.StructType(
    [
        T.StructField("contig", T.StringType(), False),
        T.StructField("pos", T.LongType(), False),
        T.StructField("seq", T.StringType(), False),
    ]
)


@dataclass
class FastaPartition(InputPartition):
    path: str
    offset: int  # byte offset of the contig's first sequence line (-1: whole file)
    contig: Optional[str]


def read_fai(path: str) -> list[tuple[str, int, int, int, int]]:
    """faidx rows: (name, length, offset, linebases, linewidth)."""
    out = []
    with fs.open_file(path, "rt") as fh:
        for line in fh:
            f = line.rstrip("\n").split("\t")
            if len(f) >= 5:
                out.append((f[0], int(f[1]), int(f[2]), int(f[3]), int(f[4])))
    return out


def iter_contig_lines(path: str, offset: int, contig: str) -> Iterator[tuple]:
    pos = 1
    with fs.open_file(path, "rb") as fh:
        fh.seek(offset)
        for raw in fh:
            line = raw.decode().strip()
            if line.startswith(">"):
                return
            if line:
                yield (contig, pos, line)
                pos += len(line)


def iter_whole_file(path: str) -> Iterator[tuple]:
    contig, pos = None, 1
    with fs.open_file(path, "rt") as fh:
        for raw in fh:
            line = raw.strip()
            if line.startswith(">"):
                contig = line[1:].split()[0]
                pos = 1
            elif line and contig is not None:
                yield (contig, pos, line)
                pos += len(line)


class FastaDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fasta"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(FASTA_SCHEMA, self.options)[0]

    def reader(self, schema) -> "FastaReader":
        return FastaReader(self.options)


class FastaReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("fasta source requires a path")
        from hadoop_bam_spark.sources import pruned_schema, stringency_option

        self._schema = pruned_schema(FASTA_SCHEMA, options)[0]
        self._files = list_format_files(path, ".fa", ".fasta", ".fna")
        self._contig_eq: Optional[set] = None
        self._stringency = stringency_option(options)

    def pushFilters(self, filters):
        """Catalyst contig EqualTo/In prunes whole per-contig splits at plan
        time (faidx planning makes contig the split key); all filters are
        returned unsupported so Catalyst re-applies them."""
        from pyspark.sql.datasource import EqualTo, In

        for f in filters:
            attr = getattr(f, "attribute", None)
            if isinstance(f, EqualTo) and attr == ("contig",):
                vals = {f.value}
            elif isinstance(f, In) and attr == ("contig",):
                vals = set(f.value)
            else:
                continue
            self._contig_eq = (
                vals if self._contig_eq is None else self._contig_eq & vals
            )
        return filters

    def partitions(self):
        parts: list[FastaPartition] = []
        for f in self._files:
            fai = f + ".fai"
            if fs.exists(fai):
                entries = read_fai(fai)
            else:
                # auto-faidx: one driver-side sequential scan beats reading
                # a whole un-indexed genome on ONE core (the reference
                # driver-scans for '>' to split too — FastaInputFormat.java:
                # 62-154 — but never persists the result). Persist the
                # sidecar for future runs when the directory is writable.
                from hadoop_bam_spark.sinks import scan_fai_entries

                entries = scan_fai_entries(f, stringency=self._stringency)
                try:
                    # under lenient/silent, re-scan strict before persisting:
                    # an irregular-width file still READS correctly here
                    # (line-sequential), but its faidx arithmetic is invalid
                    # — don't hand foreign consumers a poisoned sidecar
                    if self._stringency != "strict":
                        scan_fai_entries(f, stringency="strict")
                    with fs.open_file(fai, "w") as out:
                        for r in entries:
                            out.write("\t".join(str(x) for x in r) + "\n")
                except ValueError:
                    pass  # malformed for faidx: plan from memory only
                except OSError:
                    pass  # read-only source dir: plan from memory only
            parts.extend(
                FastaPartition(f, offset, name)
                for name, _len, offset, _lb, _lw in entries
                if self._contig_eq is None or name in self._contig_eq
            )
        return parts or [EmptyPartition()]

    def read(self, partition: FastaPartition):
        if isinstance(partition, EmptyPartition):
            return iter(())
        from hadoop_bam_spark.sources import row_batches

        return row_batches(self._rows(partition), FASTA_SCHEMA, self._schema)

    def _rows(self, partition: FastaPartition) -> Iterator[tuple]:
        if partition.offset >= 0 and partition.contig is not None:
            yield from iter_contig_lines(partition.path, partition.offset, partition.contig)
        else:
            yield from iter_whole_file(partition.path)
