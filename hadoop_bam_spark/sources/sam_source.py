"""``spark.read.format("sam")`` — splittable SAM text scan.

Line-boundary split realignment (skip the partial first line of non-first
splits) replaces the reference's header re-injection machinery
(SAMRecordReader.java:67-147,183-330) — with a typed schema there is no
header to re-inject, and '@' header lines are dropped at the scan
(SAMInputFormat.java:39-56 semantics).

Malformed lines: ``option("stringency", "strict"|"lenient"|"silent")``
(default strict), as in the reference's ValidationStringency readers.

``option("split_size")`` is the most bytes per partition (default 32 MiB);
a scan plans at least one split per core, down to 1 MiB splits
(``sources.split_size``). The FASTQ and QSEQ sources plan the same way.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.formats.sam import SAM_SCHEMA, parse_sam_line
from hadoop_bam_spark.sources import EmptyPartition, list_format_files, split_size


@dataclass
class TextRangePartition(InputPartition):
    path: str
    start: int
    end: int


def text_splits(path: str, size: int, split: int) -> list[TextRangePartition]:
    """Equal byte ranges of at most ``split`` bytes over one plain-text
    file of ``size`` bytes; none for an empty file."""
    n = -(-size // split)
    step = -(-size // n) if n else 0
    return [
        TextRangePartition(path, i * step, min((i + 1) * step, size))
        for i in range(n)
    ]


def plan_text_splits(path: str, options, exts: tuple[str, ...]) -> list[TextRangePartition]:
    """Byte-range splits over the plain-text files ``path`` names, sized
    by :func:`hadoop_bam_spark.sources.split_size` on their total bytes."""
    files = [(f, fs.file_size(f)) for f in list_format_files(path, *exts)]
    split = split_size(options, sum(size for _, size in files))
    return [p for f, size in files for p in text_splits(f, size, split)]


def iter_line_chunks(
    partition: TextRangePartition, chunk_bytes: int = 4 << 20
) -> Iterator[list]:
    """Lines owned by the split in BULK lists: one read + one split per
    ~4 MB window instead of a readline+decode per line (the text-scan hot
    path under the vectorized chunk parsers).

    Ownership is the Hadoop LineRecordReader convention, identical to the
    historical per-line reader: a line belongs to this split iff its first
    byte offset is <= end, and a non-first split always skips its leading
    (possibly partial) line, so the previous split reads one line past its
    end; a line starting exactly ON a boundary belongs to the EARLIER
    split. Byte windows never extend past end+1, so every complete line in
    a window starts at <= end; the straddling tail line is finished with
    one readline. UTF-8 is decoded per completed window (windows are cut
    at newline boundaries, which multi-byte sequences cannot span)."""
    with fs.open_file(partition.path, "rb") as fh:
        fh.seek(partition.start)
        if partition.start > 0:
            fh.readline()  # owned by the previous split
        pos = fh.tell()
        pending = b""
        while pos <= partition.end:
            data = fh.read(min(chunk_bytes, partition.end - pos + 1))
            if not data:
                break
            pos += len(data)
            blob = pending + data
            cut = blob.rfind(b"\n")
            if cut < 0:
                pending = blob
                continue
            pending = blob[cut + 1 :]
            seg = blob[:cut]
            lines = seg.decode("utf-8", "replace").split("\n")
            if b"\r" in seg:
                lines = [l.rstrip("\r") for l in lines]
            yield lines
        if pending:
            # tail line straddling end: owned (its start is <= end)
            rest = fh.readline()
            yield [(pending + rest).decode("utf-8", "replace").rstrip("\r\n")]


class SAMDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "sam"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(SAM_SCHEMA, self.options)[0]

    def reader(self, schema) -> "SAMReader":
        return SAMReader(self.options)


class SAMReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("sam source requires a path")
        self._options = options
        self._path = path
        from hadoop_bam_spark.sources import pruned_schema, stringency_option

        self._stringency = stringency_option(options)
        self._schema, self._keep = pruned_schema(SAM_SCHEMA, options)
        self._wanted = (
            frozenset(SAM_SCHEMA.fields[i].name for i in self._keep)
            if self._keep is not None
            else None
        )

    def partitions(self):
        return plan_text_splits(self._path, self._options, (".sam",)) or [
            EmptyPartition()
        ]

    def read(self, partition: TextRangePartition):
        """Chunked columnar decode (formats.sam_vec) through the shared
        loop; chunks the vectorized parser rejects re-parse per line with
        the scalar path under ValidationStringency."""
        if isinstance(partition, EmptyPartition):
            return iter(())
        from hadoop_bam_spark.formats import sam_vec
        from hadoop_bam_spark.sources import decode_chunks

        return decode_chunks(
            (
                [l for l in chunk if l and not l.startswith("@")]
                for chunk in iter_line_chunks(partition)
            ),
            SAM_SCHEMA, self._schema,
            lambda lines: sam_vec.parse_sam_chunk(lines, self._wanted),
            parse_sam_line, self._stringency, "sam",
        )
