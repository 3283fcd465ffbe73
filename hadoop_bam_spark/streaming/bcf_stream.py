"""Streaming BCF ingest: ``spark.readStream.format("bcf_stream")``.

Fourth member of the directory-tail family (fastq/vcf/bam/bcf — see
:mod:`hadoop_bam_spark.streaming.bam_stream` for the shared
exactly-once-per-file offset contract): tails a landing directory for
new complete ``.bcf`` files and decodes each whole file. ``_``-prefixed
names and dotfiles are skipped, so tailing a live sharded-sink output
(``write_bcf(sharded=True)`` or the streaming BCF sink) is safe.
"""

from __future__ import annotations

import os
from typing import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from hadoop_bam_spark.sources import list_format_files, local_path
from hadoop_bam_spark.streaming.lazyrows import LazyFileRows


def _iter_bcf_file(path: str) -> Iterator[tuple]:
    """All records of one complete BCF file (module-level: LazyFileRows
    pickles a reference to it)."""
    import struct

    from hadoop_bam_spark.formats import bcf, bgzf
    from hadoop_bam_spark.sources.bcf_source import sniff_bcf

    kind = sniff_bcf(path)
    if kind is None:
        raise ValueError(f"{path}: not a BCF2 file")
    with open(path, "rb") as f:
        stream = bgzf.BGZFReader(f) if kind == "bgzf" else f
        hdr, _ = bcf.read_bcf_header(stream)
        while True:
            head = stream.read(8)
            if len(head) < 8:
                return
            l_shared, l_indiv = struct.unpack("<II", head)
            body = stream.read(l_shared + l_indiv)
            if len(body) < l_shared + l_indiv:
                raise ValueError(f"{path}: truncated BCF record")
            row, _end = bcf.decode_record(head + body, 0, hdr)
            yield row


class BcfStreamDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bcf_stream"

    def schema(self):
        from hadoop_bam_spark.formats.vcf import VCF_SCHEMA

        return VCF_SCHEMA

    def simpleStreamReader(self, schema) -> "BcfStreamReader":
        return BcfStreamReader(self.options)


class BcfStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("bcf_stream source requires a path (directory)")
        self._dir = local_path(path)

    def _list(self) -> list[str]:
        if not os.path.isdir(self._dir):
            return []
        return [os.path.basename(f)
                for f in list_format_files(self._dir, ".bcf")]

    def initialOffset(self) -> dict:
        return {"processed": []}

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        seen = set(start.get("processed", []))
        new = [f for f in self._list() if f not in seen]
        rows = LazyFileRows(
            [os.path.join(self._dir, n) for n in new], _iter_bcf_file
        )
        return rows, {"processed": sorted(seen | set(new))}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        seen = set(start.get("processed", []))
        target = [f for f in end.get("processed", []) if f not in seen]
        for name in target:
            full = os.path.join(self._dir, name)
            if not os.path.exists(full):
                raise FileNotFoundError(
                    f"bcf_stream replay: {full} recorded in offsets but "
                    "missing on disk; restore the file (or reset the "
                    "checkpoint) to keep exactly-once semantics"
                )
            yield from _iter_bcf_file(full)

    def commit(self, end: dict) -> None:
        pass
