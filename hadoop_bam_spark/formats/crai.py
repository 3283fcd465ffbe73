"""CRAI — the CRAM index (public hts-specs CRAM index definition).

Layout: gzip-compressed text, one line per indexed slice with six
tab-separated integers::

    seq_id  alignment_start  alignment_span  container_offset  slice_offset  slice_size

The reference's CRAM path depends on this sidecar for split planning
(CRAMInputFormat resolves container boundaries from it instead of walking
the data file). Here it serves the same two jobs:

- planning without data reads: the distinct container offsets ARE the
  split-alignment points (``container_offsets``);
- interval pruning: entries carry (seq_id, start, span), so containers
  provably not overlapping a query interval drop at plan time
  (``prune_offsets``), exactly like BAI chunk spans for BAM.

``build_crai`` emits one entry per SLICE (samtools' layout) by parsing
slice-header blocks at each container's landmarks — bounded small reads,
external data blocks untouched. A slice header that fails to parse
degrades to one conservative whole-container entry. Multi-reference
slices (seq_id -2) are never prunable and unmapped slices (seq_id -1)
prune only under interval queries, matching the BAM source's
bounded-traversal semantics.
"""

from __future__ import annotations

import gzip
import io
from dataclasses import dataclass
from struct import error as struct_error
from typing import Iterator, Optional


@dataclass(frozen=True)
class CRAIEntry:
    seq_id: int            # -1 unmapped, -2 multi-reference
    start: int             # 1-based alignment start (0 when unplaced)
    span: int
    container_offset: int  # absolute file offset of the container header
    slice_offset: int      # byte offset of the slice inside the body
    slice_size: int


def write_crai(entries: list[CRAIEntry], path: str, open_fn=open) -> None:
    text = "".join(
        f"{e.seq_id}\t{e.start}\t{e.span}\t{e.container_offset}\t"
        f"{e.slice_offset}\t{e.slice_size}\n"
        for e in entries
    )
    with open_fn(path, "wb") as fh:
        fh.write(gzip.compress(text.encode("ascii"), mtime=0))


def read_crai(path: str, open_fn=open) -> list[CRAIEntry]:
    with open_fn(path, "rb") as fh:
        raw = fh.read()
    entries = []
    for line in gzip.decompress(raw).decode("ascii").splitlines():
        if not line.strip():
            continue
        f = line.split("\t")
        if len(f) != 6:
            raise ValueError(f"malformed CRAI line: {line!r}")
        entries.append(CRAIEntry(*(int(x) for x in f)))
    return entries


def build_crai(path: str, open_fn=open) -> list[CRAIEntry]:
    """One entry per SLICE (samtools layout): each container's slice
    headers are parsed at its landmarks with small bounded reads — the
    external data blocks are never touched. A slice header that cannot be
    parsed degrades to one conservative whole-body entry for that
    container (still a valid, strictly-conservative index)."""
    from hadoop_bam_spark.formats.cram import (
        CT_SLICE_HEADER,
        Block,
        SliceHeader,
        iter_container_offsets,
        read_file_definition,
    )

    entries = []
    with open_fn(path, "rb") as fh:
        major, _ = read_file_definition(fh)
        for off, hdr in iter_container_offsets(path, open_fn=open_fn):
            marks = list(hdr.landmarks) or [0]
            bounds = marks + [hdr.length]
            per_slice = []
            try:
                for i, lm in enumerate(marks):
                    fh.seek(off + hdr.header_size + lm)
                    # slice header blocks are tiny; 64 KiB bounds even
                    # pathological block-id lists
                    window = fh.read(min(64 * 1024, hdr.length - lm))
                    blk, _ = Block.parse(window, 0, major)
                    if blk.content_type != CT_SLICE_HEADER:
                        raise ValueError("no slice header at landmark")
                    sh = SliceHeader.parse(blk.data, major)
                    per_slice.append(
                        CRAIEntry(
                            seq_id=sh.ref_seq_id,
                            start=sh.start if sh.ref_seq_id >= 0 else 0,
                            span=sh.span if sh.ref_seq_id >= 0 else 0,
                            container_offset=off,
                            slice_offset=lm,
                            slice_size=max(bounds[i + 1] - lm, 0),
                        )
                    )
            except (ValueError, IndexError, struct_error):
                per_slice = [
                    CRAIEntry(
                        seq_id=hdr.ref_seq_id,
                        start=hdr.start,
                        span=hdr.span,
                        container_offset=off,
                        slice_offset=marks[0],
                        slice_size=max(hdr.length - marks[0], 0),
                    )
                ]
            entries.extend(per_slice)
    return entries


def container_offsets(entries: list[CRAIEntry]) -> list[int]:
    """Distinct container offsets in file order (multi-slice files repeat
    the offset per slice)."""
    return sorted({e.container_offset for e in entries})


def prune_offsets(
    entries: list[CRAIEntry],
    intervals: list[tuple[str, int, int]],
    refs: list[tuple[str, int]],
) -> list[int]:
    """Container offsets that may hold records overlapping any interval.

    Multi-reference containers (-2) always survive (their per-record refs
    are only known at decode time); unmapped containers (-1) never overlap
    a coordinate interval."""
    name_to_id = {name: i for i, (name, _ln) in enumerate(refs)}
    wanted: dict[int, list[tuple[int, int]]] = {}
    for contig, lo, hi in intervals:
        rid = name_to_id.get(contig)
        if rid is not None:
            wanted.setdefault(rid, []).append((lo, hi))
    keep = set()
    for e in entries:
        if e.seq_id == -2:
            keep.add(e.container_offset)
            continue
        spans = wanted.get(e.seq_id)
        if not spans:
            continue
        e_end = e.start + max(e.span, 1) - 1
        if any(e.start <= hi and lo <= e_end for lo, hi in spans):
            keep.add(e.container_offset)
    return sorted(keep)
