"""``spark.read.format("bcf")`` — splittable binary-VCF scan.

Planning mirrors the reference's BCF path (VCFInputFormat.java:303-386):
BGZF-compressed files get block-aligned splits; uncompressed files get
byte-range splits; both realign the split start to a true record boundary
with the BCF split guesser (BCFSplitGuesser.java:118-360 semantics,
implemented in formats/bcf.py). Rows share VCF_SCHEMA with the text
source, so queries are dispatch-transparent — the reference's
multi-format VCF scan (VCFInputFormat.getFormat, VCFFormat.java:49-82).

Options: ``split_size`` (most compressed bytes per partition, default 32
MiB; an unbounded scan plans at least one split per core, down to 1 MiB
splits, ``sources.split_size``), ``intervals`` and ``columns``.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Optional

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.formats import bcf, bgzf
from hadoop_bam_spark.formats.vcf import VCF_SCHEMA
from hadoop_bam_spark.sources import EmptyPartition, list_format_files, split_size
from hadoop_bam_spark.sources.bam_source import parse_intervals

#: decompressed-window budget for one guess: a record boundary must appear
#: within a few blocks of any split start (analog of the reference's
#: bounded guess window, BCFSplitGuesser.java:118-140)
_GUESS_WINDOW = 8 * 0x10000


def sniff_bcf(path: str) -> Optional[str]:
    """'bgzf' | 'plain' when the file is BCF2 (possibly BGZF-wrapped),
    else None — content sniff as in VCFFormat.java:59-82."""
    with fs.open_file(path, "rb") as fh:
        head = fh.read(0x10000 + 18)
    if head[:4] == bcf.BCF_MAGIC:
        return "plain"
    if head[:2] == b"\x1f\x8b" and bgzf.is_bgzf(head):
        payload, _ = bgzf.decompress_block(head, 0)
        if payload[:4] == bcf.BCF_MAGIC:
            return "bgzf"
    return None


@dataclass
class BCFPlainPartition(InputPartition):
    path: str
    start: int
    end: int


@dataclass
class BCFBgzfPartition(InputPartition):
    path: str
    start_coffset: int
    end_coffset: int


def read_header(path: str, kind: str) -> tuple[bcf.BCFHeader, int]:
    """Driver-side header read; returns (header, header_end) where
    header_end is a byte offset (plain) or the uncompressed length of the
    header prefix (bgzf)."""
    if kind == "plain":
        with fs.open_file(path, "rb") as fh:
            return bcf.read_bcf_header(fh)
    with fs.open_file(path, "rb") as fh:
        return bcf.read_bcf_header(bgzf.BGZFReader(fh))


class _BgzfByteFeed:
    """Incrementally decompress blocks from a compressed offset, tracking
    which block each buffered byte came from (for split-ownership checks)."""

    def __init__(self, path: str, start_coffset: int):
        self._fh = fs.open_file(path, "rb")
        self._it = bgzf.iter_blocks(self._fh, start_coffset)
        self.buf = bytearray()
        self.base = 0  # bytes dropped from the front so far
        self.block_starts: list[tuple[int, int]] = []  # (buf_pos+base, coffset)

    def ensure(self, n: int) -> bool:
        """Grow buf until at least n bytes remain (from current front)."""
        while len(self.buf) < n:
            try:
                coffset, payload = next(self._it)
            except StopIteration:
                return False
            self.block_starts.append((self.base + len(self.buf), coffset))
            self.buf += payload
        return True

    def block_of(self, abs_pos: int) -> int:
        """Compressed offset of the block containing absolute position."""
        co = self.block_starts[0][1]
        for p, c in self.block_starts:
            if p > abs_pos:
                break
            co = c
        return co

    def drop(self, n: int) -> None:
        del self.buf[:n]
        self.base += n
        # Keep the FLOOR entry (last block starting at or before the new
        # front) in addition to later blocks: block_of(base) must see the
        # containing block, not the next one, or the end-of-split ownership
        # check fires one block early and silently drops records.
        floor = None
        keep = []
        for p, c in self.block_starts:
            if p <= self.base:
                floor = (p, c)
            else:
                keep.append((p, c))
        self.block_starts = ([floor] if floor is not None else []) + keep

    def close(self):
        self._fh.close()


def _iter_plain_spans(
    partition: BCFPlainPartition, hdr: bcf.BCFHeader, header_end: int,
    batch: int = 8192,
):
    """(buffer, record-start offsets) batches for an uncompressed-BCF
    split: the first split starts after the header, a later one at the
    guesser's first record boundary, and a record belongs to the split its
    first byte is in. No per-record decode (the vectorized decoder
    consumes batches)."""
    import numpy as np

    size = fs.file_size(partition.path)
    with fs.open_file(partition.path, "rb") as fh:
        if partition.start <= header_end:
            start = header_end
        else:
            fh.seek(partition.start)
            window = fh.read(_GUESS_WINDOW)
            rel = bcf.guess_next_record_offset(window, hdr)
            if rel is None:
                return
            start = partition.start + rel
        fh.seek(start)
        buf = fh.read(max(0, min(size, partition.end + _GUESS_WINDOW) - start))
    off = 0
    starts: list[int] = []
    while start + off < size and off + 8 <= len(buf):
        if start + off >= partition.end:
            break
        l_shared, l_indiv = struct.unpack_from("<II", buf, off)
        need = off + 8 + l_shared + l_indiv
        if need > len(buf):  # record straddles our overshoot window: extend
            with fs.open_file(partition.path, "rb") as fh:
                fh.seek(start)
                buf = fh.read(need + _GUESS_WINDOW)
        starts.append(off)
        off = need
        if len(starts) >= batch:
            yield buf, np.asarray(starts, dtype=np.int64)
            starts = []
    if starts:
        yield buf, np.asarray(starts, dtype=np.int64)


def _iter_bgzf_spans(
    partition: BCFBgzfPartition, hdr: bcf.BCFHeader, header_ulen: int,
    batch: int = 8192,
):
    """(buffer, record-start offsets) batches for a BGZF-BCF split. A
    record is owned by this split iff its first byte sits in a block that
    starts before end_coffset (virtual-offset ownership, FileVirtualSplit
    semantics)."""
    import numpy as np

    feed = _BgzfByteFeed(partition.path, partition.start_coffset)
    try:
        if partition.start_coffset == 0:
            if not feed.ensure(header_ulen):
                return
            feed.drop(header_ulen)
        else:
            feed.ensure(_GUESS_WINDOW)
            rel = bcf.guess_next_record_offset(bytes(feed.buf), hdr)
            if rel is None:
                return
            feed.drop(rel)
        starts: list[int] = []
        consumed = 0  # bytes of collected records from the buffer front
        while True:
            if not feed.ensure(consumed + 8):
                break
            if feed.block_of(feed.base + consumed) >= partition.end_coffset:
                break
            l_shared, l_indiv = struct.unpack_from(
                "<II", feed.buf, consumed
            )
            total = consumed + 8 + l_shared + l_indiv
            if not feed.ensure(total):
                break
            starts.append(consumed)
            consumed = total
            if len(starts) >= batch:
                yield bytes(feed.buf[:consumed]), np.asarray(
                    starts, dtype=np.int64
                )
                feed.drop(consumed)
                starts, consumed = [], 0
        if starts:
            yield bytes(feed.buf[:consumed]), np.asarray(
                starts, dtype=np.int64
            )
    finally:
        feed.close()


class BCFDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bcf"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(VCF_SCHEMA, self.options)[0]

    def reader(self, schema) -> "BCFReader":
        return BCFReader(self.options)

    def streamWriter(self, schema, overwrite):
        from hadoop_bam_spark.sinks import stream_writer

        return stream_writer("bcf", self.options)


class BCFReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("bcf source requires a path")
        from hadoop_bam_spark.sources import pruned_schema

        self._schema = pruned_schema(VCF_SCHEMA, options)[0]
        self._options = options
        self._intervals = (
            parse_intervals(options["intervals"]) if options.get("intervals") else None
        )
        self._files: dict[str, tuple[str, bcf.BCFHeader, int]] = {}
        for f in list_format_files(path, ".bcf"):
            kind = sniff_bcf(f)
            if kind is None:
                raise ValueError(f"{f} is not a BCF2 file")
            hdr, header_end = read_header(f, kind)
            self._files[f] = (kind, hdr, header_end)

    def pushFilters(self, filters):
        """Same Catalyst-filter pushdown policy as the VCF source:
        contig/start predicates synthesize an interval for CSI/split
        pruning; all filters are returned unsupported (Catalyst residual
        keeps semantics exact)."""
        from hadoop_bam_spark.sources import pushed_intervals

        pushed = pushed_intervals(filters, "contig", "start").intervals
        if pushed and self._intervals is None:
            self._intervals = pushed
        return filters

    def partitions(self):
        parts: list[InputPartition] = []
        sizes = {f: fs.file_size(f) for f in self._files}
        split = split_size(
            self._options,
            None if self._intervals is not None else sum(sizes.values()),
        )
        for f, (kind, hdr, _) in self._files.items():
            size = sizes[f]
            if kind == "plain":
                bounds = list(range(0, size, split)) + [size]
                parts.extend(
                    BCFPlainPartition(f, bounds[i], bounds[i + 1])
                    for i in range(len(bounds) - 1)
                )
            else:
                def read_range(p, start, length):
                    with fs.open_file(p, "rb") as fh:
                        fh.seek(start)
                        return fh.read(length)

                splits = [
                    BCFBgzfPartition(f, s.start_coffset, s.end_coffset)
                    for s in bgzf.align_splits(f, size, split, read_range)
                ]
                if self._intervals is not None and fs.exists(f + ".csi"):
                    splits = self._filter_splits_by_csi(f, hdr, splits)
                parts.extend(splits)
        return parts or [EmptyPartition()]

    def _filter_splits_by_csi(self, path, hdr, splits):
        """Drop BGZF splits whose block range cannot contain a record
        overlapping any interval, per the .csi chunk spans — the BCF analog
        of the VCF source's tabix split pruning (kept splits still apply
        the row-level overlap residual, so over-keeping costs only time)."""
        from hadoop_bam_spark.formats.csi import read_csi

        span = read_csi(path + ".csi", open_fn=fs.open_file).span_for_intervals(
            self._intervals, hdr.contigs
        )
        if not span:
            return []
        ranges = [
            (vb >> 16, (ve >> 16) + (1 if ve & 0xFFFF else 0)) for vb, ve in span
        ]
        return [
            s
            for s in splits
            if any(
                cb < s.end_coffset and ce > s.start_coffset for cb, ce in ranges
            )
        ]

    def read(self, partition):
        """Vectorized: record-span batches decode straight into Arrow
        RecordBatches (formats/bcf_vec.py, the bam_vec treatment — ~6x the
        scalar decode). Batches with shapes the vectorized decoder doesn't
        cover fall back to the scalar record decoder, with the same
        interval residual, so semantics never depend on the fast path."""
        if isinstance(partition, EmptyPartition):
            return
        from hadoop_bam_spark.formats import bcf_vec
        from hadoop_bam_spark.sources import (
            arrow_schema,
            interval_mask,
            row_batches,
            to_batch,
        )

        kind, hdr, header_end = self._files[partition.path]
        if isinstance(partition, BCFPlainPartition):
            spans = _iter_plain_spans(partition, hdr, header_end)
        else:
            spans = _iter_bgzf_spans(partition, hdr, header_end)
        by_rid = None
        intervals = self._intervals
        mask = interval_mask(intervals)
        if intervals is not None:
            name_to_id = {c: i for i, c in enumerate(hdr.contigs)}
            by_rid = [
                (name_to_id[c], lo, hi)
                for c, lo, hi in intervals
                if c in name_to_id
            ]
        fields = [f.name for f in self._schema.fields]
        decoder = bcf_vec.BCFBatchDecoder(hdr, fields=fields)
        target = arrow_schema(self._schema)
        for buf, starts in spans:
            try:
                cols = decoder.decode(buf, starts, intervals_by_rid=by_rid)
            except bcf_vec.VecUnsupported:
                rows = (bcf.decode_record(buf, int(off), hdr)[0] for off in starts)
                yield from row_batches(rows, VCF_SCHEMA, self._schema, mask)
                continue
            if cols is not None:
                yield to_batch(cols, target)
