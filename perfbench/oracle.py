"""Independent answers for every benchmark operation.

Oracles are computed from the generator's arrays with NumPy; the output
reader below walks a BAM with zlib and struct only. Neither shares code
with the engine under test.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

from gen import CONTIGS, Reads

_CONSUMES_REF = {0, 2, 3, 7, 8}  # M D N = X


class Positions:
    """Per-contig sorted 1-based (start, end) of placed reads."""

    def __init__(self, r: Reads):
        self.by_contig = {}
        for rid, (name, _) in enumerate(CONTIGS):
            sel = r.rid == rid
            s = r.pos0[sel].astype(np.int64) + 1
            e = s + r.reflen[sel] - 1
            o = np.argsort(s, kind="stable")
            self.by_contig[name] = (s[o], e[o])
        self.max_reflen = int(r.reflen.max())

    def overlapping(self, contig: str, start: int, stop: int):
        s, e = self.by_contig[contig]
        lo = np.searchsorted(s, start - self.max_reflen + 1, "left")
        hi = np.searchsorted(s, stop, "right")
        keep = e[lo:hi] >= start
        return s[lo:hi][keep], e[lo:hi][keep]

    def count_overlapping(self, contig: str, start: int, stop: int) -> int:
        return len(self.overlapping(contig, start, stop)[0])

    def count_starting(self, contig: str, start: int, stop: int) -> int:
        s, _ = self.by_contig[contig]
        return int(np.searchsorted(s, stop, "right") - np.searchsorted(s, start, "left"))


def walk_bam(path: str):
    """Decode a BAM's record layout -> (refs, rid, pos0, start voffsets,
    record bodies). Assumes BC is the first gzip extra subfield, which
    every BGZF writer emits."""
    with open(path, "rb") as f:
        data = f.read()
    payloads, coffs = [], []
    p = 0
    while p < len(data):
        xlen = struct.unpack_from("<H", data, p + 10)[0]
        bsize = struct.unpack_from("<H", data, p + 16)[0] + 1
        payloads.append(zlib.decompress(data[p + 12 + xlen:p + bsize - 8], -15))
        coffs.append(p)
        p += bsize
    ulens = np.array([len(x) for x in payloads], dtype=np.int64)
    ustart = np.concatenate([[0], np.cumsum(ulens)])
    stream = b"".join(payloads)
    (l_text,) = struct.unpack_from("<i", stream, 4)
    u = 8 + l_text
    (n_ref,) = struct.unpack_from("<i", stream, u)
    u += 4
    refs = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack_from("<i", stream, u)
        name = stream[u + 4:u + 3 + l_name].decode()
        (l_ref,) = struct.unpack_from("<i", stream, u + 4 + l_name)
        refs.append((name, l_ref))
        u += 8 + l_name
    starts, bodies = [], []
    while u + 4 <= len(stream):
        (bs,) = struct.unpack_from("<i", stream, u)
        starts.append(u)
        bodies.append(stream[u + 4:u + 4 + bs])
        u += 4 + bs
    starts = np.array(starts, dtype=np.int64)
    head = np.frombuffer(b"".join(b[:8] for b in bodies), dtype="<i4").reshape(-1, 2)
    blk = np.searchsorted(ustart, starts, "right") - 1
    vstart = (np.array(coffs, dtype=np.int64)[blk] << 16) | (starts - ustart[blk])
    return refs, head[:, 0].copy(), head[:, 1].copy(), vstart, bodies


def body_reflen(body: bytes) -> int:
    l_name = body[8]
    (n_cigar,) = struct.unpack_from("<H", body, 12)
    ops = struct.unpack_from(f"<{n_cigar}I", body, 32 + l_name)
    return max(sum(op >> 4 for op in ops if (op & 0xF) in _CONSUMES_REF), 1)


def check_sorted_output(path: str, r: Reads, positions: Positions, query) -> list[str]:
    """Problems with a coordinate-sorted BAM written from ``r``: structure,
    read count, order, and one ``.bai`` region lookup against brute force."""
    from hadoop_bam_spark.formats.bai import read_bai
    from hadoop_bam_spark.tools.bgzf_bam_validator import validate_file

    problems = list(validate_file(path))[:3]
    refs, rid, pos0, vstart, bodies = walk_bam(path)
    if [n for n, _ in refs] != [n for n, _ in CONTIGS]:
        problems.append(f"reference dictionary {refs}")
    if len(rid) != r.n:
        problems.append(f"{len(rid)} records, expected {r.n}")
        return problems
    key = np.where(rid < 0, np.iinfo(np.int32).max, rid).astype(np.int64) << 32 | (pos0 + 1)
    if (np.diff(key) < 0).any():
        problems.append("records not in coordinate order")
    if not np.array_equal(np.sort(rid), np.sort(r.rid)):
        problems.append("contig multiset changed")
    contig, start, stop = query
    spans = read_bai(path + ".bai").span_for_intervals(refs, [query])
    want_rid = [n for n, _ in refs].index(contig)
    found = 0
    for vb, ve in spans:
        for i in np.flatnonzero((vstart >= vb) & (vstart < ve) & (rid == want_rid)):
            p1 = int(pos0[i]) + 1
            if p1 <= stop and p1 + body_reflen(bodies[i]) - 1 >= start:
                found += 1
    want = positions.count_overlapping(contig, start, stop)
    if found != want:
        problems.append(f".bai query {query}: {found} records, expected {want}")
    return problems
