"""CSI — coordinate-sorted index v1 (public hts-specs CSIv1 layout), the
BAI generalization with configurable ``(min_shift, depth)`` that
htslib/bcftools write by default for BCF.

Same role as BAI/tabix in this engine: intervals map through the binning
scheme to merged chunk voffset spans, and the BCF source drops BGZF splits
whose block range cannot overlap any span (planning-time pruning; the
row-level overlap residual stays). ``build_csi`` constructs the index from
any BCF we can read, one sequential voffset-tracking pass — engine-written
files get real indexes without external tooling (mirrors bai.build_bai).

Queries go through ``bai.ref_chunks`` at the index's ``(min_shift,
depth)``, so a CSI span is bounded on the right as BAI's and tabix's are:
chunks begin before the first chunk of the nearest bin that starts at or
after the query end (htslib's ``max_off``; it holds for a coordinate-sorted
file). CSI gets no left bound. htslib takes one from the ``loffset`` of the
finest present bin at the query start, which it fills from its linear
index: the first record overlapping the bin's first window. The engine's
writers record each bin's own first record instead (below), and a read
that straddles into the query window from a coarser bin starts before it,
so that ``loffset`` is no lower bound for the query.

Binary layout (BGZF-compressed, like tabix)::

    magic "CSI\\x01"  min_shift:i32  depth:i32  l_aux:i32  aux[l_aux]
    n_ref:i32
      per ref: n_bin:i32
        per bin: bin:u32  loffset:u64  n_chunk:i32  (beg:u64 end:u64)*
    n_no_coor:u64 (optional)

The metadata pseudo-bin (bin id past the largest real bin) is skipped on
read like BAI's 37450; reg2bins never queries it.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from typing import Optional

from hadoop_bam_spark.formats import bgzf
from hadoop_bam_spark.formats.bai import RefIndex, interval_spans

CSI_MAGIC = b"CSI\x01"


def reg2bin_csi(beg: int, end: int, min_shift: int, depth: int) -> int:
    """Smallest bin fully containing [beg, end) (hts-specs CSI reg2bin)."""
    end -= 1
    s = min_shift
    t = ((1 << (depth * 3)) - 1) // 7
    level = depth
    while level > 0:
        if beg >> s == end >> s:
            return t + (beg >> s)
        level -= 1
        s += 3
        t -= 1 << (level * 3)
    return 0


@dataclass
class CSIIndex:
    min_shift: int = 14
    depth: int = 5
    aux: bytes = b""
    refs: list[RefIndex] = field(default_factory=list)
    #: None = the optional trailing counter was absent (unknown), matching
    #: BAI semantics — 0 means PROVABLY no unplaced-unmapped records
    n_no_coor: Optional[int] = None

    @property
    def _pseudo_bin(self) -> int:
        # one past the largest real bin (BAI's 37450 for 14/5)
        return ((1 << ((self.depth + 1) * 3)) - 1) // 7 + 1

    @classmethod
    def from_bytes(cls, data: bytes) -> "CSIIndex":
        try:
            return cls._from_bytes_unchecked(data)
        except (struct.error, IndexError) as e:
            # raise-don't-garbage: corrupt payload behind a valid BGZF
            # wrap (e.g. a foreign tool's layout drift) is a data error
            raise ValueError(f"truncated or corrupt CSI: {e}") from e

    @classmethod
    def _from_bytes_unchecked(cls, data: bytes) -> "CSIIndex":
        if data[:4] != CSI_MAGIC:
            raise ValueError("not a CSI index (bad magic)")
        min_shift, depth, l_aux = struct.unpack_from("<3i", data, 4)
        p = 16
        aux = data[p : p + l_aux]
        p += l_aux
        (n_ref,) = struct.unpack_from("<i", data, p)
        p += 4
        idx = cls(min_shift=min_shift, depth=depth, aux=aux)
        pseudo = idx._pseudo_bin
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, p)
            p += 4
            r = RefIndex()
            for _ in range(n_bin):
                bin_, loffset, n_chunk = struct.unpack_from("<IQi", data, p)
                p += 16
                chunks = []
                for _ in range(n_chunk):
                    b, e = struct.unpack_from("<QQ", data, p)
                    p += 16
                    chunks.append((b, e))
                if bin_ == pseudo:
                    if len(chunks) >= 1:
                        r.off_beg, r.off_end = chunks[0]
                    if len(chunks) >= 2:
                        r.n_mapped, r.n_unmapped = chunks[1]
                    continue
                r.bins[bin_] = chunks
                if loffset:
                    r.loffset[bin_] = loffset
            idx.refs.append(r)
        if p + 8 <= len(data):
            (idx.n_no_coor,) = struct.unpack_from("<Q", data, p)
        return idx

    def to_bytes(self) -> bytes:
        out = bytearray()
        out += CSI_MAGIC
        out += struct.pack("<3i", self.min_shift, self.depth, len(self.aux))
        out += self.aux
        out += struct.pack("<i", len(self.refs))
        pseudo = self._pseudo_bin
        for r in self.refs:
            bins = sorted(r.bins.items())
            # pseudo-bin re-emitted when its metadata is present, so a
            # bcftools/samtools-written .csi round-trips without losing the
            # per-ref voffset span and mapped/unmapped counts htslib tools
            # read back (`bcftools index -s`)
            has_pseudo = r.off_beg >= 0 or r.n_mapped >= 0
            out += struct.pack("<i", len(bins) + (1 if has_pseudo else 0))
            for bin_, chunks in bins:
                out += struct.pack(
                    "<IQi", bin_, r.loffset.get(bin_, 0), len(chunks)
                )
                for b, e in chunks:
                    out += struct.pack("<QQ", b, e)
            if has_pseudo:
                out += struct.pack("<IQi", pseudo, 0, 2)
                out += struct.pack("<QQ", max(r.off_beg, 0), max(r.off_end, 0))
                out += struct.pack(
                    "<QQ", max(r.n_mapped, 0), max(r.n_unmapped, 0)
                )
        if self.n_no_coor is not None:
            out += struct.pack("<Q", self.n_no_coor)
        return bytes(out)

    def span_for_intervals(
        self,
        intervals: list[tuple[str, int, int]],
        contigs: list[str],
    ) -> list[tuple[int, int]]:
        """Union of chunk voffset spans over 1-based inclusive intervals;
        contig names resolve through the BCF header dictionary order."""
        name_to_id = {c: i for i, c in enumerate(contigs)}
        return interval_spans(self.refs, name_to_id, intervals,
                              self.min_shift, self.depth)


def names_from_aux(aux: bytes) -> list[str]:
    """Contig names from a tabix-flavored CSI aux block (htslib layout:
    7 little-endian int32 config words — format, col_seq, col_beg, col_end,
    meta, skip, l_nm — then NUL-separated names). Empty when the aux is
    absent or not tabix-shaped."""
    if len(aux) < 28:
        return []
    (l_nm,) = struct.unpack_from("<i", aux, 24)
    blob = aux[28 : 28 + l_nm]
    return [n.decode() for n in blob.split(b"\x00") if n]


def csi_from_tabix(tbi) -> CSIIndex:
    """Tabix -> CSI(14,5): identical binning, names preserved in the aux
    block (the htslib tabix-flavored CSI layout bcftools emits)."""
    aux = struct.pack(
        "<6i", tbi.fmt, tbi.col_seq, tbi.col_beg, tbi.col_end, tbi.meta,
        tbi.skip,
    )
    blob = b"".join(n.encode() + b"\x00" for n in tbi.names)
    aux += struct.pack("<i", len(blob)) + blob
    idx = CSIIndex(min_shift=14, depth=5, aux=aux)
    for r in tbi.refs:
        nr = RefIndex()
        nr.bins = {b: list(cs) for b, cs in r.bins.items()}
        nr.linear = list(r.linear)  # kept for fidelity; CSI writes ignore it
        idx.refs.append(nr)
    return idx


class BAMIndexView:
    """BAI-shaped query surface over a CSI index, so the BAM planner can
    fall back to ``<file>.csi`` (samtools index -c output — REQUIRED for
    contigs past the 512 Mbp BAI coordinate limit) for interval chunk-span
    pruning. CSI has no linear index, so the BAI-based split calculation
    and the last-linear-bin unmapped shortcut degrade gracefully (empty
    linear lists / None)."""

    def __init__(self, csi_idx: CSIIndex):
        self._csi = csi_idx
        self.refs = csi_idx.refs  # RefIndex objects; .linear stays empty
        self.n_no_coor = csi_idx.n_no_coor

    def span_for_intervals(self, refs, intervals):
        return self._csi.span_for_intervals(
            intervals, [name for name, _ln in refs]
        )

    def start_of_last_linear_bin(self) -> Optional[int]:
        return None


def csi_from_bai(bai_idx) -> CSIIndex:
    """BAI -> CSI(14,5): the binning schemes are identical at that shape,
    so bins/chunks carry over verbatim (linear index has no CSI analog)."""
    idx = CSIIndex(min_shift=14, depth=5, n_no_coor=bai_idx.n_no_coor)
    for r in bai_idx.refs:
        nr = RefIndex()
        nr.bins = {b: list(cs) for b, cs in r.bins.items()}
        idx.refs.append(nr)
    return idx


def read_csi(path: str, open_fn=open) -> CSIIndex:
    with open_fn(path, "rb") as fh:
        reader = bgzf.BGZFReader(fh)
        data = bytearray()
        while True:
            chunk = reader.read(1 << 20)
            if not chunk:
                break
            data += chunk
    return CSIIndex.from_bytes(bytes(data))


def write_csi(idx: CSIIndex, path: str, open_fn=open) -> None:
    with open_fn(path, "wb") as fh:
        w = bgzf.BGZFWriter(fh)
        w.write(idx.to_bytes())
        w.close()


class CSIPartStats:
    """CSI accumulation for ONE part file with part-local voffsets —
    the BCF analog of bai.PartIndexStats: the sink gathers (rid, beg0,
    end0, voffset span) per record DURING the executor write, so the
    driver never re-reads and re-decodes the merged output
    (``build_csi``'s one-pass scan costs ~13x the write itself at 2M
    records). Accumulation order must be file order: the chunk-adjacency
    merge and first-touch loffset reproduce ``build_csi`` exactly, so the
    merged index is byte-identical (asserted in tests/test_bcf_venc.py)."""

    def __init__(self, min_shift: int = 14, depth: int = 5):
        self.min_shift = min_shift
        self.depth = depth
        self.refs: dict[int, RefIndex] = {}

    def add(self, rid: int, bin_: int, at: int, nxt: int) -> None:
        r = self.refs.get(rid)
        if r is None:
            r = self.refs[rid] = RefIndex(linear=[])
            r.n_mapped = r.n_unmapped = 0
        bins = r.bins
        bl = bins.get(bin_)
        if bl and bl[-1][1] == at:
            bl[-1] = (bl[-1][0], nxt)
        else:
            bins.setdefault(bin_, []).append((at, nxt))
        r.loffset.setdefault(bin_, at)
        if r.off_beg < 0:
            r.off_beg = at
        r.off_end = nxt
        r.n_mapped += 1

    def add_record(self, rid: int, beg0: int, end0: int, at: int, nxt: int):
        self.add(rid, reg2bin_csi(beg0, end0, self.min_shift, self.depth),
                 at, nxt)

    def remap_part_end(self, old: int, new: int) -> None:
        """Rebase the end-of-part voffset representation.

        The writer expresses the final record's end as (last short block,
        tail offset); a reader scanning the MERGED file expresses the same
        byte as (next part's first block, 0). Remapping after close keeps
        cross-part chunk adjacency — and byte parity with build_csi. Only
        chunk ENDS and off_end can hold the part-end voffset (no record
        starts there)."""
        if old == new:
            return
        for r in self.refs.values():
            for chunks in r.bins.values():
                if chunks and chunks[-1][1] == old:
                    chunks[-1] = (chunks[-1][0], new)
            if r.off_end == old:
                r.off_end = new


def csi_from_part_stats(
    parts: list[tuple[Optional[CSIPartStats], int]],
    header_len: int,
    n_refs: int,
    min_shift: int = 14,
    depth: int = 5,
) -> CSIIndex:
    """Merge ordered (stats, part_compressed_length) into one CSIIndex,
    rebasing part-local voffsets onto the merged file. Mirrors
    ``build_csi``'s in-pass rules (adjacency chunk merge, first-touch
    loffset, pseudo-bin span/counts) so results are identical."""
    from hadoop_bam_spark.formats.bai import _shift_v

    idx = CSIIndex(min_shift=min_shift, depth=depth)
    idx.refs = [RefIndex(linear=[]) for _ in range(n_refs)]
    base = header_len
    for stats, part_len in parts:
        if stats is not None:
            for rid, pr in stats.refs.items():
                r = idx.refs[rid]
                for bin_, chunks in pr.bins.items():
                    bl = r.bins.setdefault(bin_, [])
                    for b, e in chunks:
                        b, e = _shift_v(b, base), _shift_v(e, base)
                        if bl and bl[-1][1] == b:
                            bl[-1] = (bl[-1][0], e)
                        else:
                            bl.append((b, e))
                for bin_, off in pr.loffset.items():
                    r.loffset.setdefault(bin_, _shift_v(off, base))
                if pr.off_beg >= 0:
                    if r.off_beg < 0:
                        r.off_beg = _shift_v(pr.off_beg, base)
                        r.n_mapped = r.n_unmapped = 0
                    r.off_end = _shift_v(pr.off_end, base)
                    r.n_mapped += pr.n_mapped
        base += part_len
    return idx


def build_csi(
    path: str, open_fn=open, min_shift: int = 14, depth: int = 5
) -> CSIIndex:
    """Index an engine-readable BGZF BCF in one voffset-tracking pass."""
    from hadoop_bam_spark.formats import bcf as bcf_mod

    with open_fn(path, "rb") as fh:
        reader = bgzf.BGZFReader(fh)
        hdr, _ = bcf_mod.read_bcf_header(reader)
        idx = CSIIndex(min_shift=min_shift, depth=depth)
        idx.refs = [RefIndex() for _ in hdr.contigs]
        name_to_id = {c: i for i, c in enumerate(hdr.contigs)}
        while True:
            at = reader.tell_voffset()
            head = reader.read(8)
            if len(head) < 8:
                break
            l_shared, l_indiv = struct.unpack_from("<II", head, 0)
            body = reader.read(l_shared + l_indiv)
            if len(body) < l_shared + l_indiv:
                raise ValueError("truncated BCF record")
            row, _ = bcf_mod.decode_record(head + body, 0, hdr)
            nxt = reader.tell_voffset()
            contig, start, end = row[0], row[1], row[2]
            rid = name_to_id.get(contig)
            if rid is not None:
                b = reg2bin_csi(start - 1, end, min_shift, depth)
                r = idx.refs[rid]
                bins = r.bins
                if b in bins and bins[b] and bins[b][-1][1] == at:
                    bins[b][-1] = (bins[b][-1][0], nxt)
                else:
                    bins.setdefault(b, []).append((at, nxt))
                # htslib seek hint: min voffset of the bin's records
                # (coordinate-sorted input -> first touch is the min)
                r.loffset.setdefault(b, at)
                # pseudo-bin stats (bcftools index -s reads these back)
                if r.off_beg < 0:
                    r.off_beg = at
                    r.n_mapped = r.n_unmapped = 0
                r.off_end = nxt
                r.n_mapped += 1
        return idx
