"""BAI binning index: read / write / build-from-BAM / interval→chunk query.

The planning-time half of the reference's index-driven bounded traversal
(BAMInputFormat.java:542-644): intervals are mapped through the standard
UCSC binning scheme (SAM spec §5.3) to merged chunk spans — virtual-offset
ranges that are the only parts of the file that can contain overlapping
records.  The BAM source intersects those spans with its splits, dropping
splits with no overlap and attaching the clamped chunk list for read-time
chunk-to-chunk iteration (the analog of htsjdk's createIndexIterator used
at BAMRecordReader.java:170-175).

``ref_chunks`` bounds each query on both sides, for BAI, tabix and CSI
alike. On the left, chunks end past the linear-index entry of the query
start's 16 kb window. On the right, chunks begin before the first chunk of
the nearest bin that starts at or after the query end. Both bounds hold
only for a coordinate-sorted file, which every index here presumes. The
right bound is htslib's ``max_off`` (``hts_itr_query``, Bonfield et al.,
GigaScience 2021); htsjdk gets the same effect at read time, as its query
iterator stops once records pass the interval end. Without it, chunks of
coarse bins far to the right of the query (reads straddling 16 kb to 8 Mb
bin edges) stay in the plan.

Also covers the unplaced-unmapped traversal inputs
(BAMInputFormat.java:586-641): ``start_of_last_linear_bin`` and the
``n_no_coor`` count drive the trailing unmapped-only split.

``build_bai`` constructs the index from any BAM we can read (one
sequential pass tracking virtual offsets), so engine-written files get
real indexes without external tooling.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import BinaryIO, Optional

from hadoop_bam_spark.formats import bgzf
from hadoop_bam_spark.formats.bam import cigar_ref_length, reg2bin  # noqa: F401

BAI_MAGIC = b"BAI\x01"

#: Pseudo-bin holding per-reference metadata (SAM spec §5.2 note).
PSEUDO_BIN = 37450

#: Linear-index window size is 2^14 = 16 kb, also the finest bin size.
LINEAR_SHIFT = 14
#: Levels below the root bin in the BAI/tabix binning scheme.
DEPTH = 5
#: Upper voffset bound that bounds nothing.
NO_BOUND = 1 << 64


def reg2bins(
    beg: int, end: int, min_shift: int = LINEAR_SHIFT, depth: int = DEPTH
) -> list[int]:
    """All bins that may contain records overlapping [beg, end) 0-based
    half-open (SAM spec §5.3 reg2bins; hts-specs CSI generalizes it to any
    ``(min_shift, depth)``, and BAI/tabix are its (14, 5)). As in htslib,
    ``end`` is clamped to the scheme's range, past which no bin lies: a
    whole-contig query would otherwise list 2^26 finest bins."""
    end = min(end, 1 << (min_shift + depth * 3))
    if end <= beg:
        end = beg + 1
    end -= 1
    bins = []
    t, s = 0, min_shift + depth * 3
    for level in range(depth + 1):
        bins.extend(range(t + (beg >> s), t + (end >> s) + 1))
        s -= 3
        t += 1 << (level * 3)
    return bins


def merge_chunks(chunks: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort and coalesce chunk spans: overlapping spans merge, as do spans
    whose gap lies within one BGZF block (seeking between them is free)."""
    out: list[tuple[int, int]] = []
    for beg, end in sorted(chunks):
        if out and (beg <= out[-1][1] or (beg >> 16) <= (out[-1][1] >> 16)):
            if end > out[-1][1]:
                out[-1] = (out[-1][0], end)
        else:
            out.append((beg, end))
    return out


def _max_off(bins: dict, end0: int, min_shift: int, depth: int) -> int:
    """Begin of the first chunk of the nearest present bin whose range
    starts at or after ``end0`` (htslib ``hts_itr_query``'s ``max_off``),
    or NO_BOUND. The walk moves right at the finest level and steps up to
    the parent from a first child, since a parent starts where its first
    child does; running off the right end climbs to the root."""
    if end0 >= 1 << (min_shift + 3 * depth):
        return NO_BOUND
    bin_ = ((1 << 3 * depth) - 1) // 7 + ((end0 - 1) >> min_shift) + 1
    while True:
        while bin_ % 8 == 1:
            bin_ = (bin_ - 1) >> 3
        if bin_ == 0:
            return NO_BOUND
        chunks = bins.get(bin_)
        if chunks:
            return min(b for b, _ in chunks)
        bin_ += 1


def ref_chunks(
    r: "RefIndex",
    beg0: int,
    end0: int,
    min_shift: int = LINEAR_SHIFT,
    depth: int = DEPTH,
) -> list[tuple[int, int]]:
    """Merged chunk spans of one reference that may hold records
    overlapping [beg0, end0), bounded on both sides as htslib's
    ``hts_itr_query`` bounds them. Shared by BAI, tabix and CSI, which
    differ only in header/meta and ``(min_shift, depth)``.

    - Left: the linear-index entry of beg0's window (BAI, tabix), the
      least voffset of a record overlapping that window. CSI has no linear
      index and gets no left bound (module docstring of ``csi``).
    - Right: ``_max_off``. A bin's records start inside its range, so in a
      coordinate-sorted file no record at or past that voffset starts
      before end0. The linear entry of the next window is no right bound:
      a long read reaching into that window pulls the entry back before
      reads that start inside the query.

    Chunks outside the bounds drop, and chunk ends are clamped to the
    right bound, itself a record start."""
    if end0 <= beg0:
        end0 = beg0 + 1
    min_off = r.linear[min(beg0 >> min_shift, len(r.linear) - 1)] if r.linear else 0
    max_off = _max_off(r.bins, end0, min_shift, depth)
    return merge_chunks([
        (b, min(e, max_off))
        for bin_ in reg2bins(beg0, end0, min_shift, depth)
        for b, e in r.bins.get(bin_, ())
        if e > min_off and b < max_off
    ])


def interval_spans(
    refs: list["RefIndex"],
    name_to_id: dict,
    intervals: list[tuple[str, int, int]],
    min_shift: int = LINEAR_SHIFT,
    depth: int = DEPTH,
) -> list[tuple[int, int]]:
    """Union of ``ref_chunks`` spans over 1-based inclusive (contig, start,
    stop) intervals; contigs missing from ``name_to_id`` contribute none."""
    chunks: list[tuple[int, int]] = []
    for contig, start, stop in intervals:
        rid = name_to_id.get(contig)
        if rid is not None and rid < len(refs):
            chunks.extend(
                ref_chunks(refs[rid], max(start - 1, 0), stop, min_shift, depth))
    return merge_chunks(chunks)


@dataclass
class RefIndex:
    bins: dict[int, list[tuple[int, int]]] = field(default_factory=dict)
    linear: list[int] = field(default_factory=list)
    # per-bin loffset (CSI only — BAI carries the linear index instead);
    # preserved through read->write so htslib's seek hint survives
    loffset: dict[int, int] = field(default_factory=dict)
    # pseudo-bin metadata (-1 = absent)
    off_beg: int = -1
    off_end: int = -1
    n_mapped: int = -1
    n_unmapped: int = -1


@dataclass
class BAIIndex:
    refs: list[RefIndex]
    n_no_coor: Optional[int] = None

    # -- binary codec ------------------------------------------------------

    @classmethod
    def read(cls, fh: BinaryIO) -> "BAIIndex":
        try:
            return cls._read_unchecked(fh)
        except struct.error as e:
            # raise-don't-garbage: a truncated/corrupt sidecar is a data
            # error for the planner to surface, not an engine crash
            raise ValueError(f"truncated or corrupt BAI: {e}") from e

    @classmethod
    def _read_unchecked(cls, fh: BinaryIO) -> "BAIIndex":
        if fh.read(4) != BAI_MAGIC:
            raise ValueError("not a BAI file (bad magic)")
        (n_ref,) = struct.unpack("<i", fh.read(4))
        refs = []
        for _ in range(n_ref):
            r = RefIndex()
            (n_bin,) = struct.unpack("<i", fh.read(4))
            for _ in range(n_bin):
                bin_, n_chunk = struct.unpack("<Ii", fh.read(8))
                chunks = [
                    struct.unpack("<QQ", fh.read(16)) for _ in range(n_chunk)
                ]
                if bin_ == PSEUDO_BIN and len(chunks) == 2:
                    (r.off_beg, r.off_end), (r.n_mapped, r.n_unmapped) = chunks
                else:
                    r.bins[bin_] = [(b, e) for b, e in chunks]
            (n_intv,) = struct.unpack("<i", fh.read(4))
            if n_intv:
                r.linear = list(struct.unpack(f"<{n_intv}Q", fh.read(8 * n_intv)))
            refs.append(r)
        tail = fh.read(8)
        n_no_coor = struct.unpack("<Q", tail)[0] if len(tail) == 8 else None
        return cls(refs, n_no_coor)

    def write(self, fh: BinaryIO) -> None:
        fh.write(BAI_MAGIC)
        fh.write(struct.pack("<i", len(self.refs)))
        for r in self.refs:
            has_pseudo = r.n_mapped >= 0 or r.n_unmapped >= 0
            fh.write(struct.pack("<i", len(r.bins) + (1 if has_pseudo else 0)))
            for bin_ in sorted(r.bins):
                chunks = r.bins[bin_]
                fh.write(struct.pack("<Ii", bin_, len(chunks)))
                for b, e in chunks:
                    fh.write(struct.pack("<QQ", b, e))
            if has_pseudo:
                fh.write(struct.pack("<Ii", PSEUDO_BIN, 2))
                fh.write(struct.pack("<QQ", max(r.off_beg, 0), max(r.off_end, 0)))
                fh.write(
                    struct.pack("<QQ", max(r.n_mapped, 0), max(r.n_unmapped, 0))
                )
            fh.write(struct.pack("<i", len(r.linear)))
            if r.linear:
                fh.write(struct.pack(f"<{len(r.linear)}Q", *r.linear))
        if self.n_no_coor is not None:
            fh.write(struct.pack("<Q", self.n_no_coor))

    # -- queries -----------------------------------------------------------

    def chunks_for(self, ref_id: int, beg0: int, end0: int) -> list[tuple[int, int]]:
        """Merged chunk spans that may hold records overlapping
        [beg0, end0) on ``ref_id`` (``ref_chunks``)."""
        if not (0 <= ref_id < len(self.refs)):
            return []
        return ref_chunks(self.refs[ref_id], beg0, end0)

    def span_for_intervals(
        self,
        refs: list[tuple[str, int]],
        intervals: list[tuple[str, int, int]],
    ) -> list[tuple[int, int]]:
        """Union of chunk spans over 1-based inclusive (contig, start, stop)
        intervals, resolved against the file's reference dictionary."""
        name_to_id = {name: i for i, (name, _) in enumerate(refs)}
        return interval_spans(self.refs, name_to_id, intervals)

    def start_of_last_linear_bin(self) -> Optional[int]:
        """Virtual offset of the last populated linear-index window — every
        unplaced-unmapped record (stored after all mapped records in a
        coordinate-sorted BAM) lies at or after this offset
        (htsjdk AbstractBAMFileIndex.getStartOfLastLinearBin, used at
        BAMInputFormat.java:586-600)."""
        for r in reversed(self.refs):
            for off in reversed(r.linear):
                if off > 0:
                    return off
        return None


def build_bai(path: str, open_fn=open) -> BAIIndex:
    """One sequential pass over a BAM file → a BAIIndex (the offline analog
    of htsjdk's BAMIndexer; lets engine-written BAMs carry real indexes).

    Chunks for consecutive same-bin records are coalesced when they touch
    the same BGZF block, matching how htsjdk keeps per-bin chunk lists
    small on sorted input.
    """
    from hadoop_bam_spark.formats import bam

    with open_fn(path, "rb") as fh:
        reader = bgzf.BGZFReader(fh)
        _, refs, _ = bam.read_header(reader)
        idx = BAIIndex([RefIndex(linear=[]) for _ in refs])
        n_no_coor = 0
        while True:
            at = reader.tell_voffset()
            head = reader.read(4)
            if len(head) < 4:
                break
            (block_size,) = struct.unpack("<i", head)
            body = reader.read(block_size)
            if len(body) < block_size:
                break
            end_v = reader.tell_voffset()
            ref_id, pos0 = struct.unpack_from("<ii", body, 0)
            # flag lives at offset 14 (refID i32, pos i32, l_read_name u8,
            # mapq u8, bin u16, n_cigar_op u16, then flag u16)
            (flag,) = struct.unpack_from("<H", body, 14)
            if ref_id < 0 or pos0 < 0:
                n_no_coor += 1
                continue
            r = idx.refs[ref_id]
            if flag & 0x4:
                ref_len = 1
                r.n_unmapped = max(r.n_unmapped, 0) + 1
            else:
                row = bam.decode_record(body, refs)
                ref_len = cigar_ref_length(row[5])
                r.n_mapped = max(r.n_mapped, 0) + 1
            end0 = pos0 + ref_len
            bin_ = reg2bin(pos0, end0)
            bl = r.bins.setdefault(bin_, [])
            if bl and (at <= bl[-1][1] or (at >> 16) <= (bl[-1][1] >> 16)):
                bl[-1] = (bl[-1][0], max(bl[-1][1], end_v))
            else:
                bl.append((at, end_v))
            if r.off_beg < 0:
                r.off_beg = at
            r.off_end = end_v
            first_win, last_win = pos0 >> LINEAR_SHIFT, (end0 - 1) >> LINEAR_SHIFT
            if len(r.linear) <= last_win:
                r.linear.extend([0] * (last_win + 1 - len(r.linear)))
            for w in range(first_win, last_win + 1):
                if r.linear[w] == 0 or at < r.linear[w]:
                    r.linear[w] = at
        for r in idx.refs:
            if r.off_beg >= 0:  # ref has records -> pseudo-bin counts are 0-based
                r.n_mapped = max(r.n_mapped, 0)
                r.n_unmapped = max(r.n_unmapped, 0)
        idx.n_no_coor = n_no_coor
        return idx


def read_bai(path: str, open_fn=open) -> BAIIndex:
    with open_fn(path, "rb") as fh:
        return BAIIndex.read(fh)


# ---------------------------------------------------------------------------
# Distributed index build: per-part stats accumulated DURING the executor
# write (part-local voffsets), merged driver-side with offset shifting —
# replaces a post-merge sequential re-read of the whole output, which at
# 100 TB would double the write path through one process. The same
# shift-and-merge idea the .sbi merge uses (SAMFileMerger.java:105-149).
# ---------------------------------------------------------------------------

@dataclass
class _PartRef:
    bins: dict = field(default_factory=dict)       # bin -> [(beg_v, end_v)]
    linear: dict = field(default_factory=dict)     # window -> min voffset
    off_beg: int = -1
    off_end: int = -1
    n_mapped: int = 0
    n_unmapped: int = 0


class PartIndexStats:
    """Binning-index accumulation for ONE part file, keyed by reference id
    (BAM) or contig name (tabix). Voffsets are part-local; ``shifted``
    rebases them onto the merged file."""

    def __init__(self):
        self.refs: dict = {}
        self.order: list = []  # keys in first-appearance order (tabix names)
        self.n_no_coor = 0

    def add(self, key, pos0: int, end0: int, mapped: bool, at: int, end_v: int):
        r = self.refs.get(key)
        if r is None:
            r = self.refs[key] = _PartRef()
            self.order.append(key)
        if mapped:
            r.n_mapped += 1
        else:
            r.n_unmapped += 1
        bin_ = reg2bin(pos0, end0)
        bl = r.bins.setdefault(bin_, [])
        if bl and (at <= bl[-1][1] or (at >> 16) <= (bl[-1][1] >> 16)):
            bl[-1] = (bl[-1][0], max(bl[-1][1], end_v))
        else:
            bl.append((at, end_v))
        if r.off_beg < 0:
            r.off_beg = at
        r.off_end = max(r.off_end, end_v)
        first_win, last_win = pos0 >> LINEAR_SHIFT, max(pos0, end0 - 1) >> LINEAR_SHIFT
        for w in range(first_win, last_win + 1):
            prev = r.linear.get(w)
            if prev is None or at < prev:
                r.linear[w] = at

    def add_batch(self, rid, pos0, end0, mapped, at, end_v):
        """Vector form of :meth:`add` over one batch of records written in
        file order (numpy arrays; ``at``/``end_v`` are each record's
        part-local start and end voffsets, with end_v >= at). Records with
        no coordinate (rid < 0 or pos0 < 0) count toward ``n_no_coor``, as
        in :meth:`add_sam_row`. Leaves the state per-record ``add`` would.

        Chunks: records are stably grouped by (reference, bin). A record
        opens a new chunk when its start block is past the block of the
        running max of end_v before it in its bin — ``add``'s rule, as a
        chunk's end IS that running max when every end_v >= its at. The
        last chunk of each bin carries into the next batch."""
        import numpy as np

        from hadoop_bam_spark.formats.bam_venc import reg2bin_vec

        rid, pos0, end0, at, end_v = (
            np.asarray(x, dtype=np.int64) for x in (rid, pos0, end0, at, end_v))
        mapped = np.asarray(mapped, dtype=bool)
        placed = (rid >= 0) & (pos0 >= 0)
        if not bool(placed.all()):
            self.n_no_coor += int(len(placed) - placed.sum())
            rid, pos0, end0, mapped, at, end_v = (
                x[placed] for x in (rid, pos0, end0, mapped, at, end_v))
        if not len(rid):
            return

        # per-reference counters; new keys in first-appearance order
        keys, first, inv = np.unique(rid, return_index=True, return_inverse=True)
        n_map = np.bincount(inv, weights=mapped, minlength=len(keys))
        n_all = np.bincount(inv, minlength=len(keys))
        last_end = np.full(len(keys), -1, dtype=np.int64)
        np.maximum.at(last_end, inv, end_v)
        for j in np.argsort(first).tolist():
            key = int(keys[j])
            r = self.refs.get(key)
            if r is None:
                r = self.refs[key] = _PartRef()
                self.order.append(key)
            r.n_mapped += int(n_map[j])
            r.n_unmapped += int(n_all[j] - n_map[j])
            if r.off_beg < 0:
                r.off_beg = int(at[first[j]])
            r.off_end = max(r.off_end, int(last_end[j]))

        # chunks per (reference, bin)
        kb = (rid << 16) | reg2bin_vec(pos0, end0)
        order = np.argsort(kb, kind="stable")
        kb, a, e = kb[order], at[order], end_v[order]
        seg_start = np.ones(len(kb), dtype=bool)
        seg_start[1:] = kb[1:] != kb[:-1]
        seg = np.cumsum(seg_start) - 1
        seg_keys = kb[seg_start].tolist()
        carry = np.array(
            [self.refs[k >> 16].bins.get(k & 0xFFFF, [(-1, -1)])[-1][1]
             for k in seg_keys], dtype=np.int64)
        # segmented running max of end_v: dense ranks offset per segment
        # keep np.maximum.accumulate from crossing segment boundaries
        uniq, rank = np.unique(e, return_inverse=True)
        stride = len(uniq)
        run_max = uniq[np.maximum.accumulate(seg * stride + rank) - seg * stride]
        prior = np.empty_like(e)
        prior[0] = -1
        prior[1:] = run_max[:-1]
        prior[seg_start] = -1
        prior = np.maximum(prior, carry[seg])
        opens = (prior < 0) | ((a >> 16) > (prior >> 16))
        run_start = np.flatnonzero(seg_start | opens)
        run_end = np.maximum.reduceat(e, run_start)
        for i, mx in zip(run_start.tolist(), run_end.tolist()):
            k = seg_keys[seg[i]]
            bl = self.refs[k >> 16].bins.setdefault(k & 0xFFFF, [])
            if opens[i]:
                bl.append((int(a[i]), mx))
            else:
                bl[-1] = (bl[-1][0], max(bl[-1][1], mx))

        # linear index: min start voffset per (reference, 16 kb window)
        fw = pos0 >> LINEAR_SHIFT
        nw = (np.maximum(pos0, end0 - 1) >> LINEAR_SHIFT) - fw + 1
        rec = np.repeat(np.arange(len(rid)), nw)
        first_of = np.cumsum(nw) - nw
        win = fw[rec] + np.arange(len(rec)) - first_of[rec]
        wkeys, winv = np.unique((rid[rec] << 32) | win, return_inverse=True)
        wmin = np.full(len(wkeys), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(wmin, winv, at[rec])
        for k, v in zip(wkeys.tolist(), wmin.tolist()):
            lin = self.refs[k >> 32].linear
            w = k & 0xFFFFFFFF
            prev = lin.get(w)
            if prev is None or v < prev:
                lin[w] = v

    def add_sam_row(self, row: tuple, ref_index: dict, at: int, end_v: int):
        """Accumulate one SAM_SCHEMA row being written at [at, end_v)."""
        rname, pos, flag, cigar = row[2], row[3], row[1], row[5]
        ref_id = ref_index.get(rname, -1) if rname else -1
        pos0 = pos - 1
        if ref_id < 0 or pos0 < 0:
            self.n_no_coor += 1
            return
        mapped = not flag & 0x4
        ref_len = cigar_ref_length(cigar) if mapped else 1
        self.add(ref_id, pos0, pos0 + ref_len, mapped, at, end_v)


def _shift_v(v: int, base: int) -> int:
    return ((v >> 16) + base) << 16 | (v & 0xFFFF)


def merge_part_stats(
    parts: list[tuple["PartIndexStats", int]],
    header_len: int,
    keys: list,
) -> dict:
    """Merge ordered (stats, part_compressed_length) into file-level
    RefIndex objects. ``keys`` fixes the reference order (BAM: range(n_ref);
    tabix callers pass names in first-appearance order). Returns
    {key: RefIndex} plus ('__n_no_coor__': int)."""
    merged: dict = {k: RefIndex(linear=[]) for k in keys}
    n_no_coor = 0
    base = header_len
    for stats, part_len in parts:
        n_no_coor += stats.n_no_coor
        for key, pr in stats.refs.items():
            r = merged[key]
            for bin_, chunks in pr.bins.items():
                bl = r.bins.setdefault(bin_, [])
                for b, e in chunks:
                    b, e = _shift_v(b, base), _shift_v(e, base)
                    if bl and (b <= bl[-1][1] or (b >> 16) <= (bl[-1][1] >> 16)):
                        bl[-1] = (bl[-1][0], max(bl[-1][1], e))
                    else:
                        bl.append((b, e))
            for w, off in pr.linear.items():
                off = _shift_v(off, base)
                if len(r.linear) <= w:
                    r.linear.extend([0] * (w + 1 - len(r.linear)))
                if r.linear[w] == 0 or off < r.linear[w]:
                    r.linear[w] = off
            if pr.off_beg >= 0:
                sb = _shift_v(pr.off_beg, base)
                if r.off_beg < 0 or sb < r.off_beg:
                    r.off_beg = sb
                r.off_end = max(r.off_end, _shift_v(pr.off_end, base))
            r.n_mapped = max(r.n_mapped, 0) + pr.n_mapped
            r.n_unmapped = max(r.n_unmapped, 0) + pr.n_unmapped
        base += part_len
    merged["__n_no_coor__"] = n_no_coor
    return merged


def bai_from_part_stats(
    parts: list[tuple["PartIndexStats", int]], header_len: int, n_refs: int
) -> BAIIndex:
    merged = merge_part_stats(parts, header_len, list(range(n_refs)))
    n_no_coor = merged.pop("__n_no_coor__")
    refs = []
    for i in range(n_refs):
        r = merged[i]
        if r.off_beg < 0:  # no records on this reference
            r.n_mapped = -1
            r.n_unmapped = -1
        refs.append(r)
    return BAIIndex(refs, n_no_coor)
