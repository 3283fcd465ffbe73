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

``IndexBuilder`` is the one binning-index builder, for BAI, tabix and
CSI alike, at any ``(min_shift, depth)``: bins with their chunks, a linear
index and the per-reference pseudo-bin metadata, accumulated from record
columns in file order (``add_batch``). The writers feed it each part as
they write it and ``merge`` the parts; the offline indexers
(``build_bai``, ``tabix.build_tabix``, ``csi.build_csi``) are thin record
walks that feed it a whole file, so engine-written files get real indexes
without external tooling. It coalesces a bin's chunks within one BGZF
block, as htslib does, and CSI's per-bin ``loffset`` comes from its linear
index (``csi.loffsets``).
"""

from __future__ import annotations

import itertools
import struct
from dataclasses import dataclass, field
from typing import BinaryIO, Optional

from hadoop_bam_spark.formats import bgzf

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
    # preserved through read->write
    loffset: dict[int, int] = field(default_factory=dict)
    # pseudo-bin metadata (-1 = absent)
    off_beg: int = -1
    off_end: int = -1
    n_mapped: int = -1
    n_unmapped: int = -1


def refs_from_bytes(data: bytes, p: int, n_ref: int) -> tuple[list[RefIndex], int]:
    """``n_ref`` references in the layout BAI and tabix share, from
    ``data[p:]``: per reference its bins with their chunks (the pseudo-bin
    as metadata), then its linear index. Also returns the offset past
    them."""
    refs = []
    for _ in range(n_ref):
        r = RefIndex()
        (n_bin,) = struct.unpack_from("<i", data, p)
        p += 4
        for _ in range(n_bin):
            bin_, n_chunk = struct.unpack_from("<Ii", data, p)
            flat = struct.unpack_from(f"<{2 * n_chunk}Q", data, p + 8)
            p += 8 + 16 * n_chunk
            chunks = list(zip(flat[::2], flat[1::2]))
            if bin_ == PSEUDO_BIN and n_chunk == 2:
                (r.off_beg, r.off_end), (r.n_mapped, r.n_unmapped) = chunks
            else:
                r.bins[bin_] = chunks
        (n_intv,) = struct.unpack_from("<i", data, p)
        r.linear = list(struct.unpack_from(f"<{n_intv}Q", data, p + 4))
        p += 4 + 8 * n_intv
        refs.append(r)
    return refs, p


def refs_to_bytes(refs: list[RefIndex]) -> bytes:
    """``refs`` in the layout ``refs_from_bytes`` reads; a reference with
    counts gets the pseudo-bin."""
    out = bytearray()
    for r in refs:
        has_pseudo = r.n_mapped >= 0 or r.n_unmapped >= 0
        out += struct.pack("<i", len(r.bins) + has_pseudo)
        for bin_, chunks in sorted(r.bins.items()):
            out += struct.pack(f"<Ii{2 * len(chunks)}Q", bin_, len(chunks),
                               *itertools.chain.from_iterable(chunks))
        if has_pseudo:
            out += struct.pack("<IiQQQQ", PSEUDO_BIN, 2, max(r.off_beg, 0),
                               max(r.off_end, 0), max(r.n_mapped, 0),
                               max(r.n_unmapped, 0))
        out += struct.pack(f"<i{len(r.linear)}Q", len(r.linear), *r.linear)
    return bytes(out)


@dataclass
class BAIIndex:
    refs: list[RefIndex]
    n_no_coor: Optional[int] = None

    # -- binary codec ------------------------------------------------------

    @classmethod
    def read(cls, fh: BinaryIO) -> "BAIIndex":
        data = fh.read()
        if data[:4] != BAI_MAGIC:
            raise ValueError("not a BAI file (bad magic)")
        try:
            (n_ref,) = struct.unpack_from("<i", data, 4)
            refs, p = refs_from_bytes(data, 8, n_ref)
        except struct.error as e:
            # raise-don't-garbage: a truncated/corrupt sidecar is a data
            # error for the planner to surface, not an engine crash
            raise ValueError(f"truncated or corrupt BAI: {e}") from e
        tail = data[p:p + 8]
        return cls(refs, struct.unpack("<Q", tail)[0] if len(tail) == 8 else None)

    def write(self, fh: BinaryIO) -> None:
        fh.write(BAI_MAGIC + struct.pack("<i", len(self.refs))
                 + refs_to_bytes(self.refs))
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


#: CIGAR ops that consume the reference (M, D, N, =, X), as a bit mask
_REF_OPS = 0x18D


def _bam_records(reader):
    """(refID, beg0, end0, mapped, at, end_v) of each record of a BAM
    stream, read at fixed offsets: refID, pos, l_read_name, n_cigar_op,
    flag, then the CIGAR ops. An unmapped read spans one base. A CIGAR over
    65535 ops sits in the CG tag behind a ``kSmN`` placeholder, whose N
    already carries the reference length."""
    while True:
        at = reader.tell_voffset()
        head = reader.read(4)
        if len(head) < 4:
            return
        (size,) = struct.unpack("<i", head)
        body = reader.read(size)
        if len(body) < size:
            return
        rid, pos0, l_name, n_op, flag = struct.unpack_from("<iiB3xHH", body)
        mapped = not flag & 0x4
        ref_len = sum(op >> 4 for op in struct.unpack_from(
            f"<{n_op}I", body, 32 + l_name) if _REF_OPS >> (op & 0xF) & 1)
        yield (rid, pos0, pos0 + (max(ref_len, 1) if mapped else 1), mapped,
               at, reader.tell_voffset())


def build_bai(path: str, open_fn=open) -> BAIIndex:
    """One sequential pass over a BAM file → a BAIIndex (the offline analog
    of htsjdk's BAMIndexer; lets engine-written BAMs carry real indexes)."""
    from hadoop_bam_spark.formats import bam

    b = IndexBuilder()
    with open_fn(path, "rb") as fh:
        reader = bgzf.BGZFReader(fh)
        _, refs, _ = bam.read_header(reader)
        b.add_records(_bam_records(reader))
    return BAIIndex(*IndexBuilder.merge([(b, 0)], 0, range(len(refs))))


def read_bai(path: str, open_fn=open) -> BAIIndex:
    with open_fn(path, "rb") as fh:
        return BAIIndex.read(fh)


# ---------------------------------------------------------------------------
# The one binning-index builder. Offline indexers feed it a whole file;
# writers feed it each part DURING the executor write (part-local voffsets)
# and merge the parts driver-side with offset shifting, which replaces a
# post-merge sequential re-read of the whole output (at 100 TB that would
# double the write path through one process). The same shift-and-merge
# idea the .sbi merge uses (SAMFileMerger.java:105-149).
# ---------------------------------------------------------------------------

@dataclass
class _PartRef:
    bins: dict = field(default_factory=dict)       # bin -> [(beg_v, end_v)]
    linear: dict = field(default_factory=dict)     # window -> min voffset
    off_beg: int = -1
    off_end: int = -1
    n_mapped: int = 0
    n_unmapped: int = 0


def _shift_v(v: int, base: int) -> int:
    return ((v >> 16) + base) << 16 | (v & 0xFFFF)


def _add_chunk(bl: list, beg: int, end: int) -> None:
    """Append chunk [beg, end) to a bin's chunk list, joining the last
    chunk when it starts before the end of the BGZF block that chunk ends
    in (htslib's ``compress_binning`` rule; seeking within one block is
    free)."""
    if bl and (beg >> 16) <= (bl[-1][1] >> 16):
        bl[-1] = (bl[-1][0], max(bl[-1][1], end))
    else:
        bl.append((beg, end))


class IndexBuilder:
    """Binning-index accumulation for one file or one part file, in the
    ``(min_shift, depth)`` scheme of hts-specs CSIv1; BAI and tabix use its
    (14, 5). Records come in file order, keyed by reference id, with the
    voffsets they were written at.

    Per reference it keeps each bin's chunks (``_add_chunk``), a linear
    index of the least start voffset of the records overlapping each
    ``1 << min_shift`` window (a window nothing overlaps is absent, so a
    record at voffset 0 claims its windows like any other), the first start
    and last end voffsets, and mapped and unmapped counts. ``merge`` turns
    parts into the file's RefIndex list."""

    def __init__(self, min_shift: int = LINEAR_SHIFT, depth: int = DEPTH):
        self.min_shift = min_shift
        self.depth = depth
        self.refs: dict = {}  # key -> _PartRef, in first-appearance order
        self.n_no_coor = 0

    def add(self, key, beg0: int, end0: int, mapped: bool, at: int,
            end_v: int):
        """One placed record written at [at, end_v): the rule
        :meth:`add_batch` vectorizes."""
        import numpy as np

        from hadoop_bam_spark.formats.bam_venc import reg2bin_vec

        r = self.refs.setdefault(key, _PartRef())
        if mapped:
            r.n_mapped += 1
        else:
            r.n_unmapped += 1
        bin_ = int(reg2bin_vec(np.array([beg0]), np.array([end0]),
                               self.min_shift, self.depth)[0])
        _add_chunk(r.bins.setdefault(bin_, []), at, end_v)
        if r.off_beg < 0:
            r.off_beg = at
        r.off_end = max(r.off_end, end_v)
        for w in range(beg0 >> self.min_shift,
                       (max(beg0, end0 - 1) >> self.min_shift) + 1):
            r.linear[w] = min(r.linear.get(w, at), at)

    def add_batch(self, rid, beg0, end0, mapped, at, end_v):
        """Vector form of :meth:`add` over one batch of records written in
        file order (``at``/``end_v`` are each record's start and end
        voffsets, with end_v >= at). Records with no coordinate (rid < 0
        or beg0 < 0) count toward ``n_no_coor``. Leaves the state
        per-record ``add`` would.

        Chunks: records are stably grouped by (reference, bin). A record
        opens a new chunk when its start block is past the block of the
        running max of end_v before it in its bin — ``add``'s rule, as a
        chunk's end IS that running max when every end_v >= its at. The
        last chunk of each bin carries into the next batch."""
        import numpy as np

        from hadoop_bam_spark.formats.bam_venc import reg2bin_vec

        rid, beg0, end0, at, end_v = (
            np.asarray(x, dtype=np.int64) for x in (rid, beg0, end0, at, end_v))
        mapped = np.asarray(mapped, dtype=bool)
        placed = (rid >= 0) & (beg0 >= 0)
        if not bool(placed.all()):
            self.n_no_coor += int(len(placed) - placed.sum())
            rid, beg0, end0, mapped, at, end_v = (
                x[placed] for x in (rid, beg0, end0, mapped, at, end_v))
        if not len(rid):
            return

        # per-reference counters; new keys in first-appearance order
        keys, first, inv = np.unique(rid, return_index=True, return_inverse=True)
        n_map = np.bincount(inv, weights=mapped, minlength=len(keys))
        n_all = np.bincount(inv, minlength=len(keys))
        last_end = np.full(len(keys), -1, dtype=np.int64)
        np.maximum.at(last_end, inv, end_v)
        for j in np.argsort(first).tolist():
            r = self.refs.setdefault(int(keys[j]), _PartRef())
            r.n_mapped += int(n_map[j])
            r.n_unmapped += int(n_all[j] - n_map[j])
            if r.off_beg < 0:
                r.off_beg = int(at[first[j]])
            r.off_end = max(r.off_end, int(last_end[j]))

        # chunks per (reference, bin)
        kb = (rid << 32) | reg2bin_vec(beg0, end0, self.min_shift, self.depth)
        order = np.argsort(kb, kind="stable")
        kb, a, e = kb[order], at[order], end_v[order]
        seg_start = np.ones(len(kb), dtype=bool)
        seg_start[1:] = kb[1:] != kb[:-1]
        seg = np.cumsum(seg_start) - 1
        seg_keys = kb[seg_start].tolist()
        carry = np.array(
            [self.refs[k >> 32].bins.get(k & 0xFFFFFFFF, [(-1, -1)])[-1][1]
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
            bl = self.refs[k >> 32].bins.setdefault(k & 0xFFFFFFFF, [])
            if opens[i]:
                bl.append((int(a[i]), mx))
            else:
                bl[-1] = (bl[-1][0], max(bl[-1][1], mx))

        # linear index: min start voffset per (reference, window)
        fw = beg0 >> self.min_shift
        nw = (np.maximum(beg0, end0 - 1) >> self.min_shift) - fw + 1
        rec = np.repeat(np.arange(len(rid)), nw)
        first_of = np.cumsum(nw) - nw
        win = fw[rec] + np.arange(len(rec)) - first_of[rec]
        wkeys, winv = np.unique((rid[rec] << 32) | win, return_inverse=True)
        wmin = np.full(len(wkeys), np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(wmin, winv, at[rec])
        for k, v in zip(wkeys.tolist(), wmin.tolist()):
            lin = self.refs[k >> 32].linear
            w = k & 0xFFFFFFFF
            lin[w] = min(lin.get(w, v), v)

    def add_records(self, records, batch: int = 1 << 16) -> None:
        """``add_batch`` over an iterable of (rid, beg0, end0, mapped, at,
        end_v) tuples, ``batch`` records at a time."""
        it = iter(records)
        while rows := list(itertools.islice(it, batch)):
            self.add_batch(*zip(*rows))

    def remap_part_end(self, old: int, new: int) -> None:
        """Rebase the end-of-part voffset representation.

        The writer expresses the final record's end as (last short block,
        tail offset); a reader scanning the MERGED file expresses the same
        byte as (next part's first block, 0). BCF parts remap after close so
        the merged index equals a rebuild from the merged file; BAM parts
        keep the writer's form. Only chunk ENDS and off_end can hold the
        part-end voffset (no record starts there)."""
        if old == new:
            return
        for r in self.refs.values():
            for chunks in r.bins.values():
                if chunks and chunks[-1][1] == old:
                    chunks[-1] = (chunks[-1][0], new)
            if r.off_end == old:
                r.off_end = new

    @staticmethod
    def merge(
        parts: list[tuple["IndexBuilder", int]], header_len: int, keys
    ) -> tuple[list[RefIndex], int]:
        """Ordered (builder, part_compressed_length) -> (RefIndex per key
        of ``keys``, n_no_coor), with each part's voffsets shifted past the
        header and the parts before it. A reference no record reaches keeps
        the -1 counts, so it gets no pseudo-bin; an unset linear window
        reads 0, as BAI and tabix store it."""
        merged = {k: (RefIndex(), {}) for k in keys}
        n_no_coor = 0
        base = header_len
        for stats, part_len in parts:
            n_no_coor += stats.n_no_coor
            for key, pr in stats.refs.items():
                r, linear = merged[key]
                for bin_, chunks in pr.bins.items():
                    bl = r.bins.setdefault(bin_, [])
                    for b, e in chunks:
                        _add_chunk(bl, _shift_v(b, base), _shift_v(e, base))
                for w, off in pr.linear.items():
                    off = _shift_v(off, base)
                    linear[w] = min(linear.get(w, off), off)
                if r.off_beg < 0:
                    r.off_beg = _shift_v(pr.off_beg, base)
                    r.n_mapped = r.n_unmapped = 0
                r.off_end = max(r.off_end, _shift_v(pr.off_end, base))
                r.n_mapped += pr.n_mapped
                r.n_unmapped += pr.n_unmapped
            base += part_len
        for r, linear in merged.values():
            r.linear = [0] * (max(linear, default=-1) + 1)
            for w, off in linear.items():
                r.linear[w] = off
        return [r for r, _ in merged.values()], n_no_coor
