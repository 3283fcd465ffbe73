"""Tabix-indexable text: one split planner, one chunk dispatch, and the
BED / bedGraph / GFF3 sources as specs over them.

Split planning is the reference's text dispatch (VCFInputFormat.java:
170-197, VCFFormat.java:49-82): BGZF files get block-aligned parallel
splits (the capability the reference needs its BGZFCodec for,
util/BGZFCodec.java:29-71), plain text gets byte-range splits, and
non-BGZF gzip falls back to one whole-file split (not splittable, as in
util/BGZFEnhancedGzipCodec.java:41-75). With intervals, BGZF splits are
pruned at plan time through a ``.tbi`` or tabix-flavored ``.csi`` sidecar
(VCFInputFormat.java:388-472). That filter applies to any
coordinate-sorted text, so the VCF source plans and reads its text files
through :func:`plan_text_partitions` and :func:`partition_line_chunks` too.
``option("split_size")`` is the most bytes per split (default 32 MiB); a
scan with no intervals plans at least one split per core, down to 1 MiB
splits (:func:`hadoop_bam_spark.sources.split_size`).

A :class:`TabixTextSpec` holds every decision that differs between the
interval-text formats, and every binding is built from it: the batch
source here (``spark.read.format("bed"|"bedgraph"|"gff")``), the tail
sources (streaming/tail.py), and the part writer that the batch writers
and the stream sink share (sinks.py, whose tabix preset is the coordinate
columns + 1 plus the zero-based flag). A new
tabix-indexed text format is one spec.

Intervals (``option("intervals", "chr1:1-70000")`` or pushed-down
``filter(col("contig") == ...)`` predicates) are 1-based inclusive, the
engine's canonical convention; BED and bedGraph convert from 0-based
half-open on the rim (formats/bed.py, formats/bedgraph.py). Malformed
rows follow ``option("stringency", ...)``.
"""

from __future__ import annotations

import gzip
from dataclasses import dataclass
from typing import Callable, Iterator, Optional

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql.types import StructType

from hadoop_bam_spark import fs
from hadoop_bam_spark.formats import bed, bedgraph, bgzf, gff
from hadoop_bam_spark.sources import (
    EmptyPartition,
    decode_chunks,
    interval_mask,
    list_format_files,
    pruned_schema,
    pushed_intervals,
    split_size,
    stringency_option,
)
from hadoop_bam_spark.sources.bam_source import parse_intervals
from hadoop_bam_spark.sources.sam_source import (
    TextRangePartition,
    iter_line_chunks,
    text_splits,
)


@dataclass
class BGZFTextPartition(InputPartition):
    path: str
    start_coffset: int
    end_coffset: int


@dataclass
class WholeGzipPartition(InputPartition):
    path: str


def iter_bgzf_owned_line_chunks(
    path: str, start_coffset: int, end_coffset: int
) -> Iterator[list]:
    """Lines of a BGZF text file owned by the block range
    [start_coffset, end_coffset), in BULK lists (one decode+split per
    block instead of per line).

    Ownership mirrors the plain-text rule (sam_source.iter_line_chunks) at
    block granularity: a non-first split always skips its leading line, so
    this split reads lines whose start block is < end, then finishes the
    line straddling the boundary — and when its last line ends EXACTLY at
    the block boundary it additionally owns the first line of the boundary
    block (the next split can't see backwards to claim it). Inside the
    range every complete line is owned, so whole blocks decode in one
    pass; only the boundary block (at most one line yielded) walks
    per-line."""
    skip_first = start_coffset > 0
    with fs.open_file(path, "rb") as fh:
        pending = b""
        pending_start: Optional[int] = None  # block of pending's first byte
        pending_at_block_start = False  # pending began at uoffset 0
        for coffset, payload in bgzf.iter_blocks(fh, start_coffset):
            if not payload:
                continue
            if coffset >= end_coffset:
                # boundary block: at most the straddle-finishing line (and
                # the exactly-on-boundary bonus line) is owned
                combined = pending + payload
                parts = combined.split(b"\n")
                for i, part in enumerate(parts[:-1]):
                    if i == 0 and pending_start is not None:
                        line_start, at_bs = pending_start, pending_at_block_start
                    else:
                        line_start, at_bs = coffset, (i == 0)
                    if skip_first:
                        skip_first = False
                        continue
                    if line_start < end_coffset or (
                        line_start == end_coffset and at_bs
                    ):
                        yield [part.decode("utf-8", "replace").rstrip("\r")]
                        if line_start >= end_coffset:
                            return
                    else:
                        return
                if len(parts) == 1:
                    if pending_start is None:
                        pending_start, pending_at_block_start = coffset, True
                    pending = combined
                else:
                    pending = parts[-1]
                    if pending:
                        pending_start, pending_at_block_start = coffset, False
                    else:
                        pending_start, pending_at_block_start = None, False
                continue
            # interior block: every complete line starts before end -> owned
            combined = pending + payload
            cut = combined.rfind(b"\n")
            if cut < 0:
                if pending_start is None:
                    pending_start, pending_at_block_start = coffset, True
                pending = combined
                continue
            seg = combined[:cut]
            lines = seg.decode("utf-8", "replace").split("\n")
            if b"\r" in seg:
                lines = [l.rstrip("\r") for l in lines]
            if skip_first:
                skip_first = False
                lines = lines[1:]
            if lines:
                yield lines
            pending = combined[cut + 1 :]
            if pending:
                pending_start, pending_at_block_start = coffset, False
            else:
                pending_start, pending_at_block_start = None, False
        if pending and not skip_first:
            ls = pending_start if pending_start is not None else 0
            if ls < end_coffset or (ls == end_coffset and pending_at_block_start):
                yield [pending.decode("utf-8", "replace").rstrip("\r")]


def plan_bgzf_splits(path: str, split: int) -> list[BGZFTextPartition]:
    if fs.exists(path + ".bgzfi"):
        # sidecar block index: pure-lookup split alignment, zero data reads
        # (reference util/BGZFBlockIndex.java + BGZFSplitFileInputFormat)
        with fs.open_file(path + ".bgzfi", "rb") as fh:
            idx = bgzf.BGZFBlockIndex.read(fh)
        splits = bgzf.align_splits_indexed(path, idx, split)
        return [
            BGZFTextPartition(s.path, s.start_coffset, s.end_coffset) for s in splits
        ]
    size = fs.file_size(path)

    def read_range(p, start, length):
        with fs.open_file(p, "rb") as fh:
            fh.seek(start)
            return fh.read(length)

    splits = bgzf.align_splits(path, size, split, read_range)
    return [BGZFTextPartition(s.path, s.start_coffset, s.end_coffset) for s in splits]


def _gzip_line_chunks(path: str, size: int = 8192) -> Iterator[list]:
    """Whole-file gzip text as bulk line lists (non-splittable fallback)."""
    buf: list[str] = []
    with gzip.open(fs.open_file(path, "rb"), "rt", encoding="utf-8") as fh:
        for l in fh:
            buf.append(l.rstrip("\r\n"))
            if len(buf) >= size:
                yield buf
                buf = []
    if buf:
        yield buf


def _splits_in_span(splits, span):
    """The BGZF splits whose block range can hold a line of an index
    chunk span. Kept splits still row-filter (residual), so over-keeping
    is only a perf cost; block ranges are widened by one block to cover
    boundary-line ownership."""
    # chunk voffsets -> compressed block ranges [cbeg, cend_exclusive)
    ranges = [
        (vb >> 16, (ve >> 16) + (1 if ve & 0xFFFF else 0)) for vb, ve in span
    ]
    # right edge inclusive: a line starting exactly at end_coffset can be
    # owned by this split (bonus-line rule in iter_bgzf_owned_line_chunks),
    # so keep the split for chunks there too
    return [
        s
        for s in splits
        if any(cb <= s.end_coffset and ce > s.start_coffset for cb, ce in ranges)
    ]


def filter_splits_by_tabix(path: str, splits, intervals):
    """Drop BGZF splits whose block range cannot contain a record
    overlapping any interval, per the .tbi chunk spans — the reference's
    tabix split filtering (VCFInputFormat.java:388-472)."""
    from hadoop_bam_spark.formats.tabix import read_tabix

    idx = read_tabix(path + ".tbi", open_fn=fs.open_file)
    return _splits_in_span(splits, idx.span_for_intervals(intervals))


def filter_splits_by_csi(path: str, splits, intervals):
    """Same split pruning via a tabix-flavored .csi (bcftools index -c
    on .vcf.gz): contig names come from the index's aux block."""
    from hadoop_bam_spark.formats.csi import names_from_aux, read_csi

    idx = read_csi(path + ".csi", open_fn=fs.open_file)
    names = names_from_aux(idx.aux)
    if not names:
        return splits  # aux not tabix-shaped: cannot resolve contigs
    return _splits_in_span(splits, idx.span_for_intervals(intervals, names))


def sniff_text_compression(path: str) -> str:
    """'plain' | 'bgzf' | 'gzip' (content sniff beats extension)."""
    with fs.open_file(path, "rb") as fh:
        head = fh.read(bgzf.MAX_GUESS_BYTES if fs.file_size(path) < 1 << 16 else 4096)
    if head[:2] == b"\x1f\x8b":
        return "bgzf" if bgzf.is_bgzf(head) else "gzip"
    return "plain"


def plan_text_partitions(files, options, intervals) -> list[InputPartition]:
    """Partitions for line-oriented text files: byte-range splits for
    plain text, BGZF block splits pruned by a ``.tbi``/``.csi`` sidecar
    when ``intervals`` is set, and one whole-file partition for plain
    gzip. Splits are sized by :func:`hadoop_bam_spark.sources.split_size`
    on the files' total bytes; ``intervals`` make the scan bounded."""
    sizes = [fs.file_size(f) for f in files]
    split = split_size(options, None if intervals is not None else sum(sizes))
    parts: list[InputPartition] = []
    for f, size in zip(files, sizes):
        kind = sniff_text_compression(f)
        if kind == "plain":
            parts.extend(text_splits(f, size, split))
        elif kind == "bgzf":
            splits = plan_bgzf_splits(f, split)
            if intervals is not None:
                if fs.exists(f + ".tbi"):
                    splits = filter_splits_by_tabix(f, splits, intervals)
                elif fs.exists(f + ".csi"):
                    splits = filter_splits_by_csi(f, splits, intervals)
            parts.extend(splits)
        else:  # non-BGZF gzip: not splittable
            parts.append(WholeGzipPartition(f))
    return parts


def partition_line_chunks(partition) -> Iterator[list]:
    """Bulk line lists owned by one :func:`plan_text_partitions` partition."""
    if isinstance(partition, TextRangePartition):
        return iter_line_chunks(partition)
    if isinstance(partition, BGZFTextPartition):
        return iter_bgzf_owned_line_chunks(
            partition.path, partition.start_coffset, partition.end_coffset
        )
    return _gzip_line_chunks(partition.path)


@dataclass(frozen=True)
class TabixTextSpec:
    """Everything that differs between two tabix-indexable text formats."""

    #: DataSource name; the tail source is ``<name>_stream``
    name: str
    schema: StructType
    #: file-name suffixes the batch and tail sources pick up
    extensions: tuple[str, ...]
    is_header_line: Callable[[str], bool]
    #: one line -> schema tuple (None for header lines); raises ValueError
    parse_line: Callable[[str], Optional[tuple]]
    #: data lines -> {column: pyarrow.Array}, None -> scalar fallback
    parse_chunk: Callable[[list], Optional[dict]]
    #: tuple indexes of (contig, start, end), 1-based inclusive
    coords: tuple[int, int, int]
    #: file coordinates are 0-based half-open (the tabix preset's flag)
    zero_based: bool
    #: written at the top of every merged file and shard
    header: str
    #: schema tuple -> line, without the newline
    format_row: Callable[[tuple], str]
    #: Arrow batch -> newline-terminated bytes (vectorized write), or None
    format_chunk: Optional[Callable]
    #: shard suffix before ``.bgz``
    shard_ext: str

    @property
    def cols(self) -> list[str]:
        return [f.name for f in self.schema.fields]


def _format_gff_row(row: tuple) -> str:
    """GFF_SCHEMA tuple -> line (a null attributes map writes as '.')."""
    return gff.format_gff_line(row[:8] + (dict(row[8]) if row[8] else {},))


BED = TabixTextSpec(
    name="bed",
    schema=bed.BED_SCHEMA,
    extensions=(".bed", ".bed.gz", ".bed.bgz", ".gz", ".bgz"),
    is_header_line=bed.is_header_line,
    parse_line=bed.parse_bed_line,
    parse_chunk=bed.parse_bed_chunk,
    coords=(0, 1, 2),
    zero_based=True,
    header="",
    format_row=bed.format_bed_line,
    format_chunk=bed.format_bed_chunk,
    shard_ext=".bed",
)

BEDGRAPH = TabixTextSpec(
    name="bedgraph",
    schema=bedgraph.BEDGRAPH_SCHEMA,
    extensions=(".bedgraph", ".bedGraph", ".bg", ".bedgraph.gz",
                ".bedgraph.bgz", ".bedGraph.gz", ".bedGraph.bgz", ".bg.gz",
                ".bg.bgz", ".gz", ".bgz"),
    is_header_line=bedgraph.is_header_line,
    parse_line=bedgraph.parse_bedgraph_line,
    parse_chunk=bedgraph.parse_bedgraph_chunk,
    coords=(0, 1, 2),
    zero_based=True,
    header="",
    format_row=bedgraph.format_bedgraph_line,
    format_chunk=None,
    shard_ext=".bedgraph",
)

GFF = TabixTextSpec(
    name="gff",
    schema=gff.GFF_SCHEMA,
    extensions=(".gff", ".gff3", ".gtf", ".gff.gz", ".gff3.gz", ".gtf.gz",
                ".gff.bgz", ".gff3.bgz", ".gtf.bgz", ".gz", ".bgz"),
    is_header_line=gff.is_header_line,
    parse_line=gff.parse_gff_line,
    parse_chunk=gff.parse_gff_chunk,
    coords=(0, 3, 4),
    zero_based=False,
    header="##gff-version 3\n",
    format_row=_format_gff_row,
    format_chunk=None,
    shard_ext=".gff3",
)


class TabixTextReader(DataSourceReader):
    def __init__(self, spec: TabixTextSpec, options):
        path = options.get("path")
        if not path:
            raise ValueError(f"{spec.name} source requires a path")
        self._spec = spec
        self._options = options
        self._intervals = (
            parse_intervals(options["intervals"]) if options.get("intervals") else None
        )
        self._stringency = stringency_option(options)
        self._schema = pruned_schema(spec.schema, options)[0]
        self._files = list_format_files(path, *spec.extensions)

    def pushFilters(self, filters):
        """Same policy as the VCF source: contig EqualTo/In plus
        optional start bounds synthesize an interval when none was
        given, so plain Catalyst predicates get tabix split pruning;
        every filter is returned unsupported (the residual keeps
        semantics exact)."""
        pushed = pushed_intervals(filters, "contig", "start").intervals
        if pushed and self._intervals is None:
            self._intervals = pushed
        return filters

    def partitions(self):
        return plan_text_partitions(
            self._files, self._options, self._intervals
        ) or [EmptyPartition()]

    def read(self, partition) -> Iterator:
        if isinstance(partition, EmptyPartition):
            return iter(())
        spec = self._spec
        return decode_chunks(
            (
                [l for l in chunk if not spec.is_header_line(l)]
                for chunk in partition_line_chunks(partition)
            ),
            spec.schema, self._schema, spec.parse_chunk, spec.parse_line,
            self._stringency, spec.name, interval_mask(self._intervals),
        )


def _data_source(spec: TabixTextSpec, cls_name: str) -> type:
    """The ``spark.read.format(spec.name)`` DataSource for one spec; its
    ``streamWriter`` lands micro-batches as the BGZF shards of
    ``write_*(sharded=True)``."""

    class _Source(DataSource):
        @classmethod
        def name(cls) -> str:
            return spec.name

        def schema(self):
            return pruned_schema(spec.schema, self.options)[0]

        def reader(self, schema) -> TabixTextReader:
            return TabixTextReader(spec, self.options)

        def streamWriter(self, schema, overwrite):
            from hadoop_bam_spark.sinks import stream_writer

            return stream_writer(spec.name, self.options)

    # module-level names, so the classes pickle by reference
    _Source.__name__ = _Source.__qualname__ = cls_name
    return _Source


BEDDataSource = _data_source(BED, "BEDDataSource")
BedGraphDataSource = _data_source(BEDGRAPH, "BedGraphDataSource")
GFFDataSource = _data_source(GFF, "GFFDataSource")
