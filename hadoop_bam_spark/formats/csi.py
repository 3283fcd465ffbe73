"""CSI — coordinate-sorted index v1 (public hts-specs CSIv1 layout), the
BAI generalization with configurable ``(min_shift, depth)`` that
htslib/bcftools write by default for BCF.

Same role as BAI/tabix in this engine: intervals map through the binning
scheme to merged chunk voffset spans, and the BCF source drops BGZF splits
whose block range cannot overlap any span (planning-time pruning; the
row-level overlap residual stays). ``build_csi`` constructs the index from
any BCF we can read, one sequential voffset-tracking pass — engine-written
files get real indexes without external tooling. It, the BCF sink and
``csi_from_bai``/``csi_from_tabix`` all go through ``bai.IndexBuilder``.

Each bin's ``loffset`` is written as htslib's ``update_loff`` writes it
(``loffsets``): the linear-index entry of the bin's first window, the
least voffset of a record overlapping that window, with empty windows
filled from the entry before. A ``.csi`` read from disk keeps its own.

Queries go through ``bai.ref_chunks`` at the index's ``(min_shift,
depth)``, so a CSI span is bounded on the right as BAI's and tabix's are:
chunks begin before the first chunk of the nearest bin that starts at or
after the query end (htslib's ``max_off``; it holds for a coordinate-sorted
file). CSI gets no left bound. htslib takes one from the ``loffset`` of a
present bin at the query start. A ``.csi`` the engine wrote before its
``loffset``s followed htslib holds each bin's own first record there, and
a long record reaching into the query from a coarser bin starts before
it. The engine cannot tell such files apart, so it bounds on no
``loffset``.

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
from hadoop_bam_spark.formats.bai import IndexBuilder, RefIndex, interval_spans

CSI_MAGIC = b"CSI\x01"


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
        if data[:4] != CSI_MAGIC:
            raise ValueError("not a CSI index (bad magic)")
        try:
            return cls._from_bytes(data)
        except struct.error as e:
            # raise-don't-garbage: corrupt payload behind a valid BGZF
            # wrap (e.g. a foreign tool's layout drift) is a data error
            raise ValueError(f"truncated or corrupt CSI: {e}") from e

    @classmethod
    def _from_bytes(cls, data: bytes) -> "CSIIndex":
        min_shift, depth, l_aux = struct.unpack_from("<3i", data, 4)
        idx = cls(min_shift=min_shift, depth=depth, aux=data[16:16 + l_aux])
        (n_ref,) = struct.unpack_from("<i", data, 16 + l_aux)
        p = 20 + l_aux
        for _ in range(n_ref):
            (n_bin,) = struct.unpack_from("<i", data, p)
            p += 4
            r = RefIndex()
            for _ in range(n_bin):
                bin_, loffset, n_chunk = struct.unpack_from("<IQi", data, p)
                flat = struct.unpack_from(f"<{2 * n_chunk}Q", data, p + 16)
                p += 16 + 16 * n_chunk
                chunks = list(zip(flat[::2], flat[1::2]))
                if bin_ == idx._pseudo_bin:
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
    block (the htslib tabix-flavored CSI layout bcftools emits), each bin's
    ``loffset`` from the tabix linear index."""
    aux = struct.pack(
        "<6i", tbi.fmt, tbi.col_seq, tbi.col_beg, tbi.col_end, tbi.meta,
        tbi.skip,
    )
    blob = b"".join(n.encode() + b"\x00" for n in tbi.names)
    aux += struct.pack("<i", len(blob)) + blob
    return CSIIndex(aux=aux, refs=[
        RefIndex(bins=dict(r.bins), loffset=loffsets(r, 5)) for r in tbi.refs])


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
    so bins/chunks carry over verbatim, and each bin's ``loffset`` comes
    from the BAI linear index."""
    return CSIIndex(n_no_coor=bai_idx.n_no_coor, refs=[
        RefIndex(bins=dict(r.bins), loffset=loffsets(r, 5))
        for r in bai_idx.refs])


def read_csi(path: str, open_fn=open) -> CSIIndex:
    return CSIIndex.from_bytes(bgzf.read_all(path, open_fn))


def write_csi(idx: CSIIndex, path: str, open_fn=open) -> None:
    bgzf.write_all(path, idx.to_bytes(), open_fn)


def loffsets(r: RefIndex, depth: int) -> dict[int, int]:
    """Each bin's ``loffset``, as htslib's ``update_loff`` sets it: the
    linear-index entry of the bin's first window, where an empty window
    takes the entry before it and 0 stands where nothing precedes. An
    entry of 0 reads as empty: in a coordinate-sorted file only the
    leading windows can hold voffset 0, and nothing precedes them."""
    filled, last = [], 0
    for off in r.linear:
        last = off or last
        filled.append(last)
    firsts = [((1 << 3 * level) - 1) // 7 for level in range(depth + 1)]
    out = {}
    for bin_ in r.bins:
        level = max(lv for lv, f in enumerate(firsts) if f <= bin_)
        w = (bin_ - firsts[level]) << 3 * (depth - level)
        out[bin_] = filled[w] if w < len(filled) else 0
    return out


def csi_from_builders(parts, header_len: int, n_refs: int,
                      min_shift: int = 14, depth: int = 5) -> CSIIndex:
    """The CSIIndex of ordered (bai.IndexBuilder, part length) parts
    (``IndexBuilder.merge``): the pseudo-bin of every reference with
    records, and each bin's ``loffset`` from the builders' linear index.
    The optional ``n_no_coor`` stays unwritten."""
    refs, _ = IndexBuilder.merge(parts, header_len, range(n_refs))
    for r in refs:
        r.loffset, r.linear = loffsets(r, depth), []
    return CSIIndex(min_shift, depth, refs=refs)


def _bcf_records(reader):
    """(CHROM, beg0, end0, True, at, end_v) of each record of a BCF stream,
    read at fixed offsets: CHROM, POS and rlen open the shared section,
    and end0 = POS + rlen (the record's 1-based END)."""
    while True:
        at = reader.tell_voffset()
        head = reader.read(8)
        if len(head) < 8:
            return
        l_shared, l_indiv = struct.unpack("<II", head)
        body = reader.read(l_shared + l_indiv)
        if len(body) < l_shared + l_indiv:
            raise ValueError("truncated BCF record")
        rid, pos0, rlen = struct.unpack_from("<iii", body)
        yield rid, pos0, pos0 + rlen, True, at, reader.tell_voffset()


def build_csi(
    path: str, open_fn=open, min_shift: int = 14, depth: int = 5
) -> CSIIndex:
    """Index an engine-readable BGZF BCF in one voffset-tracking pass."""
    from hadoop_bam_spark.formats import bcf as bcf_mod

    b = IndexBuilder(min_shift, depth)
    with open_fn(path, "rb") as fh:
        reader = bgzf.BGZFReader(fh)
        hdr, _ = bcf_mod.read_bcf_header(reader)
        b.add_records(_bcf_records(reader))
    return csi_from_builders([(b, 0)], 0, len(hdr.contigs), min_shift, depth)
