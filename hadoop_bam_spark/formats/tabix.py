"""Tabix (.tbi) index: read / write / build-from-BGZF-text / interval query.

Tabix is the generic-text sibling of BAI — identical UCSC binning + linear
index per reference, plus a small header describing which columns hold the
sequence name and coordinates.  It is the index behind the reference's VCF
bounded traversal (VCFInputFormat.java:388-472: intervals → chunk file
pointers → split overlap filtering); the VCF source uses it the same way at
plan time.

Queries share ``bai.ref_chunks``, so tabix spans carry BAI's two bounds:
the linear-index entry of the query start's window on the left, and on the
right the first chunk of the nearest bin that starts at or after the query
end (htslib's ``max_off``). Both presume a coordinate-sorted file, as tabix
itself does; htsjdk's tabix reader stops at the interval end to the same
effect.

The .tbi container itself is BGZF-compressed.  ``build_tabix`` constructs
an index from any BGZF-compressed tab-text file we can read (one pass with
line-level virtual offsets, fed to ``bai.IndexBuilder`` as the text sinks
feed it), so engine-written ``.vcf.bgz`` files get real indexes without
external tooling. A headerless file's first line sits at voffset 0 and
claims its linear windows like any other.

Layout (htslib tabix spec):
    magic 'TBI\\1', n_ref i32,
    format i32 (1=SAM 2=VCF, |0x10000 = 0-based half-open),
    col_seq col_beg col_end i32, meta i32 (comment char), skip i32,
    l_nm i32, names (NUL-terminated, concatenated),
    per ref: n_bin, [bin u32, n_chunk, (cnk_beg u64, cnk_end u64)...],
             n_intv, [ioffset u64 ...]
    optional n_no_coor u64.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass
from typing import Iterator, Optional

from hadoop_bam_spark.formats import bgzf
from hadoop_bam_spark.formats.bai import (
    IndexBuilder,
    interval_spans,
    ref_chunks,
    refs_from_bytes,
    refs_to_bytes,
)

TBI_MAGIC = b"TBI\x01"

#: format codes (tabix spec)
FMT_GENERIC = 0
FMT_SAM = 1
FMT_VCF = 2
FMT_ZERO_BASED = 0x10000


@dataclass
class TabixIndex:
    names: list[str]
    refs: list[RefIndex]
    fmt: int = FMT_VCF
    col_seq: int = 1
    col_beg: int = 2
    col_end: int = 0
    meta: int = ord("#")
    skip: int = 0
    n_no_coor: Optional[int] = None

    # -- binary codec (payload is BGZF-wrapped by read()/write()) ----------

    @classmethod
    def from_bytes(cls, data: bytes) -> "TabixIndex":
        if data[:4] != TBI_MAGIC:
            raise ValueError("not a tabix index (bad magic)")
        try:
            (n_ref, fmt, col_seq, col_beg, col_end, meta, skip,
             l_nm) = struct.unpack_from("<8i", data, 4)
            names = [n.decode() for n in data[36:36 + l_nm].split(b"\x00")[:-1]]
            refs, p = refs_from_bytes(data, 36 + l_nm, n_ref)
        except struct.error as e:
            # raise-don't-garbage: corrupt payload behind a valid BGZF
            # wrap (e.g. a foreign tool's layout drift) is a data error
            raise ValueError(f"truncated or corrupt tabix index: {e}") from e
        n_no_coor = (
            struct.unpack_from("<Q", data, p)[0] if p + 8 <= len(data) else None
        )
        return cls(names, refs, fmt, col_seq, col_beg, col_end, meta, skip, n_no_coor)

    def to_bytes(self) -> bytes:
        nm = b"".join(n.encode() + b"\x00" for n in self.names)
        out = bytearray()
        out += TBI_MAGIC
        out += struct.pack(
            "<8i", len(self.refs), self.fmt, self.col_seq, self.col_beg,
            self.col_end, self.meta, self.skip, len(nm),
        )
        out += nm
        out += refs_to_bytes(self.refs)
        if self.n_no_coor is not None:
            out += struct.pack("<Q", self.n_no_coor)
        return bytes(out)

    # -- queries -----------------------------------------------------------

    def chunks_for(self, name: str, beg0: int, end0: int) -> list[tuple[int, int]]:
        try:
            rid = self.names.index(name)
        except ValueError:
            return []
        return ref_chunks(self.refs[rid], beg0, end0)

    def span_for_intervals(
        self, intervals: list[tuple[str, int, int]]
    ) -> list[tuple[int, int]]:
        """Union of chunk voffset spans over 1-based inclusive
        (contig, start, stop) intervals."""
        return interval_spans(
            self.refs, {n: i for i, n in enumerate(self.names)}, intervals)


def read_tabix(path: str, open_fn=open) -> TabixIndex:
    return TabixIndex.from_bytes(bgzf.read_all(path, open_fn))


def write_tabix(idx: TabixIndex, path: str, open_fn=open) -> None:
    bgzf.write_all(path, idx.to_bytes(), open_fn)


def _iter_lines_with_voffsets(fh) -> Iterator[tuple[int, int, str]]:
    """(start_voffset, end_voffset, line) over a BGZF text stream."""
    pending = b""
    pending_voffset = 0
    last_block = (0, 0)
    for coffset, payload in bgzf.iter_blocks(fh, 0):
        if not payload:
            continue
        last_block = (coffset, len(payload))
        upto = 0
        while True:
            nl = payload.find(b"\n", upto)
            if nl < 0:
                if payload[upto:]:
                    if not pending:
                        pending_voffset = bgzf.make_voffset(coffset, upto)
                    pending += payload[upto:]
                break
            start_v = pending_voffset if pending else bgzf.make_voffset(coffset, upto)
            line = pending + payload[upto : nl + 1]
            yield (
                start_v,
                bgzf.make_voffset(coffset, nl + 1),
                line.decode("utf-8", "replace").rstrip("\r\n"),
            )
            pending = b""
            upto = nl + 1
    if pending:
        end_v = bgzf.make_voffset(*last_block)
        yield pending_voffset, end_v, pending.decode("utf-8", "replace").rstrip("\r\n")


def build_tabix(
    path: str,
    fmt: int = FMT_VCF,
    col_seq: int = 1,
    col_beg: int = 2,
    col_end: int = 0,
    meta: str = "#",
    open_fn=open,
) -> TabixIndex:
    """One pass over a BGZF-compressed tab-text file → TabixIndex (the
    offline analog of ``tabix -p vcf``). For VCF the end coordinate is
    ``pos + len(ref) - 1`` when no end column is configured. Contigs are
    numbered in first-seen order."""
    names: dict[str, int] = {}

    def records(fh):
        for at, end_v, line in _iter_lines_with_voffsets(fh):
            if not line or (meta and line.startswith(meta)):
                continue
            cols = line.split("\t")
            beg = int(cols[col_beg - 1])
            if col_end:
                end = int(cols[col_end - 1])
                beg0, end0 = (beg, end) if fmt & FMT_ZERO_BASED else (beg - 1, end)
            elif fmt & ~FMT_ZERO_BASED == FMT_VCF:
                ref_allele = cols[3] if len(cols) > 3 else "N"
                beg0 = beg - 1
                end0 = beg0 + max(len(ref_allele), 1)
            else:
                beg0, end0 = beg - 1, beg
            rid = names.setdefault(cols[col_seq - 1], len(names))
            yield rid, beg0, end0, True, at, end_v

    b = IndexBuilder()
    with open_fn(path, "rb") as fh:
        b.add_records(records(fh))
    refs, n_no_coor = IndexBuilder.merge([(b, 0)], 0, range(len(names)))
    return TabixIndex(list(names), refs, fmt, col_seq, col_beg, col_end,
                      ord(meta), 0, n_no_coor)
