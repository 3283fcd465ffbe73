"""Seeded synthetic alignment inputs for the genomics I/O benchmark.

Everything here is NumPy plus zlib, written against the public SAM/BAM spec
and sharing no code with the engine, so the engine only ever sees the files
and the oracles computed from the generator's own arrays stay independent.

The generator draws a random reference, places paired reads on it with a
mix of CIGAR shapes, per-read mismatches, Illumina-like quality profiles and
realistic flag bits, and appends a ~5% unplaced-unmapped tail. Sequences come
from the reference, so overlapping reads share bytes the way real data does
(which is what makes a coordinate-sorted BAM compress better than an
unsorted one).
"""

from __future__ import annotations

import struct
import zlib
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

import numpy as np

READ_LEN = 100
#: lexicographic order == dictionary order, so ``orderBy("rname")`` is a
#: valid coordinate sort key
CONTIGS = (("chr1", 4_000_000), ("chr2", 3_000_000), ("chr3", 2_000_000),
           ("chrX", 1_000_000))
UNMAPPED_FRAC = 0.05

BLOCK_PAYLOAD = 0xFF00
BGZF_EOF = bytes.fromhex("1f8b08040000000000ff0600424302001b0003000000000000000000")
SBI_GRANULARITY = 4096

# CIGAR op codes (SAM spec): M=0 I=1 D=2 S=4
_M, _I, _D, _S = 0, 1, 2, 4
_NIBBLE = np.array([1, 2, 4, 8], dtype=np.uint8)  # A C G T
_NAME_LEN = 13  # "r" + 11 digits + NUL


@dataclass
class Reads:
    """One row per read, in generation order (not file order)."""

    rid: np.ndarray      # int32, -1 = unplaced
    pos0: np.ndarray     # int32, -1 = unplaced
    reflen: np.ndarray   # int64, reference bases consumed (1 for unplaced)
    flag: np.ndarray     # uint16
    mapq: np.ndarray     # uint8
    nm: np.ndarray       # uint8 (mapped reads carry NM/AS tags)
    kind: np.ndarray     # int8: 0 = 100M, 1 = M-I-M, 2 = M-D-M, 3 = S-M-S, -1 = unmapped
    cig: np.ndarray      # (n, 3) int64 op lengths for the 3-op kinds
    name_id: np.ndarray  # int64, unique per read
    seq: np.ndarray      # (n, READ_LEN) uint8 base codes 0..3
    qual: np.ndarray     # (n, READ_LEN) uint8 phred
    mate_rid: np.ndarray
    mate_pos0: np.ndarray
    tlen: np.ndarray

    @property
    def n(self) -> int:
        return len(self.rid)

    def sorted_order(self) -> np.ndarray:
        """Coordinate order: placed reads by (rid, pos0), unplaced last."""
        key_rid = np.where(self.rid < 0, np.iinfo(np.int32).max, self.rid)
        return np.lexsort((self.name_id, self.pos0, key_rid))


def make_reads(seed: int, n: int) -> Reads:
    rng = np.random.default_rng(seed)
    lens = np.array([ln for _, ln in CONTIGS], dtype=np.int64)
    genome = rng.integers(0, 4, int(lens.sum()), dtype=np.uint8)
    contig_base = np.concatenate([[0], np.cumsum(lens)[:-1]])

    n_unmapped = int(round(n * UNMAPPED_FRAC))
    unmapped = np.zeros(n, dtype=bool)
    unmapped[rng.choice(n, n_unmapped, replace=False)] = True

    kind = rng.choice(4, n, p=[0.85, 0.05, 0.05, 0.05]).astype(np.int8)
    kind[unmapped] = -1
    cig = np.zeros((n, 3), dtype=np.int64)
    a = rng.integers(20, 80, n)
    b = rng.integers(1, 6, n)
    # M-I-M: a M, b I, rest M (query 100, ref 100 - b)
    k = kind == 1
    cig[k] = np.stack([a[k], b[k], READ_LEN - a[k] - b[k]], axis=1)
    # M-D-M: a M, b D, rest M (query 100, ref 100 + b)
    k = kind == 2
    cig[k] = np.stack([a[k], b[k], READ_LEN - a[k]], axis=1)
    # S-M-S: clips at both ends
    k = kind == 3
    c1, c2 = rng.integers(1, 15, n), rng.integers(1, 15, n)
    cig[k] = np.stack([c1[k], READ_LEN - c1[k] - c2[k], c2[k]], axis=1)
    reflen = np.full(n, READ_LEN, dtype=np.int64)
    reflen[kind == 1] = READ_LEN - cig[kind == 1, 1]
    reflen[kind == 2] = READ_LEN + cig[kind == 2, 1]
    reflen[kind == 3] = cig[kind == 3, 1]
    reflen[unmapped] = 1

    rid = rng.choice(len(CONTIGS), n, p=lens / lens.sum()).astype(np.int32)
    pos0 = (rng.random(n) * (lens[rid] - 2 * reflen - 600)).astype(np.int64)
    rid[unmapped] = -1
    pos0[unmapped] = -1

    # sequence = the reference bases at the read's start (the CIGAR shape is
    # not applied to the bases; nothing downstream realigns them)
    gpos = np.where(unmapped, 0, contig_base[np.maximum(rid, 0)] + pos0)
    seq = np.lib.stride_tricks.sliding_window_view(genome, READ_LEN)[gpos]
    seq[unmapped] = rng.integers(0, 4, (n_unmapped, READ_LEN), dtype=np.uint8)
    n_mm = rng.poisson(1.0, n).clip(0, 6)
    rows = np.repeat(np.arange(n), n_mm)
    cols = rng.integers(0, READ_LEN, len(rows))
    seq[rows, cols] = (seq[rows, cols] + rng.integers(1, 4, len(rows),
                                                       dtype=np.uint8)) % 4
    nm = n_mm.copy()
    indel = (kind == 1) | (kind == 2)
    nm[indel] += cig[indel, 1]
    nm[unmapped] = 0

    # quality: one of 32 decaying profiles per read + per-base jitter
    ramp = np.linspace(0.0, 1.0, READ_LEN)
    profiles = np.clip(
        rng.integers(34, 40, (32, 1)) - rng.integers(4, 16, (32, 1)) * ramp ** 2,
        2, 41,
    ).astype(np.int16)
    qual = profiles[rng.integers(0, 32, n)] + rng.integers(-3, 4, (n, READ_LEN),
                                                           dtype=np.int16)
    n_low = rng.binomial(READ_LEN, 0.01, n)
    qual[np.repeat(np.arange(n), n_low), rng.integers(0, READ_LEN, n_low.sum())] = 2
    qual = np.clip(qual, 2, 41).astype(np.uint8)

    first = rng.random(n) < 0.5
    rev = rng.random(n) < 0.5
    flag = np.full(n, 0x1, dtype=np.int64)
    flag |= np.where(first, 0x40, 0x80)
    flag |= np.where(rev, 0x10, 0x20)
    flag |= np.where(rng.random(n) < 0.9, 0x2, 0)
    flag |= np.where(rng.random(n) < 0.03, 0x400, 0)
    flag |= np.where(rng.random(n) < 0.01, 0x100, 0)
    flag |= np.where(rng.random(n) < 0.005, 0x200, 0)
    flag[unmapped] = 0x1 | 0x4 | 0x8 | np.where(first[unmapped], 0x40, 0x80)
    mapq = np.where(rng.random(n) < 0.1, 0, 60)
    mid = rng.random(n) < 0.1
    mapq[mid] = rng.integers(1, 60, int(mid.sum()))
    mapq[unmapped] = 0

    insert = rng.normal(350, 40, n).astype(np.int64).clip(READ_LEN, 600)
    mate_pos0 = np.where(rev, pos0 - insert + READ_LEN, pos0 + insert - READ_LEN)
    mate_pos0 = np.maximum(mate_pos0, 0)
    tlen = np.where(rev, -insert, insert)
    mate_rid = rid.copy()
    mate_pos0[unmapped] = -1
    tlen[unmapped] = 0

    return Reads(
        rid=rid, pos0=pos0.astype(np.int32), reflen=reflen,
        flag=flag.astype(np.uint16), mapq=mapq.astype(np.uint8),
        nm=nm.astype(np.uint8), kind=kind, cig=cig,
        name_id=rng.permutation(n).astype(np.int64) + seed % 1000 * 10**8,
        seq=seq, qual=qual, mate_rid=mate_rid.astype(np.int32),
        mate_pos0=mate_pos0.astype(np.int32), tlen=tlen.astype(np.int32),
    )


def reg2bin(beg: np.ndarray, end: np.ndarray) -> np.ndarray:
    """SAM spec section 5.3 reg2bin on [beg, end) arrays (0-based)."""
    end = end - 1
    out = np.zeros(len(beg), dtype=np.int64)
    done = np.zeros(len(beg), dtype=bool)
    for shift, base in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        hit = ~done & ((beg >> shift) == (end >> shift))
        out[hit] = base + (beg[hit] >> shift)
        done |= hit
    return out


def _record_dtype(n_cigar: int, l_tags: int) -> np.dtype:
    fields = [
        ("block_size", "<i4"), ("ref_id", "<i4"), ("pos", "<i4"),
        ("l_read_name", "u1"), ("mapq", "u1"), ("bin", "<u2"),
        ("n_cigar", "<u2"), ("flag", "<u2"), ("l_seq", "<i4"),
        ("next_ref", "<i4"), ("next_pos", "<i4"), ("tlen", "<i4"),
        ("name", "u1", (_NAME_LEN,)),
    ]
    if n_cigar:
        fields.append(("cigar", "<u4", (n_cigar,)))
    fields += [("seq", "u1", ((READ_LEN + 1) // 2,)), ("qual", "u1", (READ_LEN,))]
    if l_tags:
        fields.append(("tags", "u1", (l_tags,)))
    return np.dtype(fields)


def _encode_group(r: Reads, idx: np.ndarray, n_cigar: int, tagged: bool) -> np.ndarray:
    """Fixed-layout records for reads ``idx`` as a structured array."""
    dt = _record_dtype(n_cigar, 8 if tagged else 0)
    rec = np.zeros(len(idx), dtype=dt)
    rec["block_size"] = dt.itemsize - 4
    rec["ref_id"] = r.rid[idx]
    rec["pos"] = r.pos0[idx]
    rec["l_read_name"] = _NAME_LEN
    rec["mapq"] = r.mapq[idx]
    p0 = r.pos0[idx].astype(np.int64)
    rec["bin"] = np.where(p0 < 0, 4680, reg2bin(p0, p0 + r.reflen[idx]))
    rec["n_cigar"] = n_cigar
    rec["flag"] = r.flag[idx]
    rec["l_seq"] = READ_LEN
    rec["next_ref"] = r.mate_rid[idx]
    rec["next_pos"] = r.mate_pos0[idx]
    rec["tlen"] = r.tlen[idx]
    digits = (r.name_id[idx, None] // 10 ** np.arange(10, -1, -1)) % 10 + 48
    rec["name"][:, 0] = ord("r")
    rec["name"][:, 1:12] = digits
    if n_cigar == 1:
        rec["cigar"][:, 0] = (READ_LEN << 4) | _M
    elif n_cigar == 3:
        k = r.kind[idx]
        ops = np.select(
            [k[:, None] == 1, k[:, None] == 2, k[:, None] == 3],
            [np.array([_M, _I, _M]), np.array([_M, _D, _M]), np.array([_S, _M, _S])],
        )
        rec["cigar"] = (r.cig[idx] << 4) | ops
    codes = _NIBBLE[r.seq[idx]]
    rec["seq"] = (codes[:, 0::2] << 4) | codes[:, 1::2]
    rec["qual"] = r.qual[idx]
    if tagged:
        tags = rec["tags"]
        tags[:, 0:3] = np.frombuffer(b"NMC", np.uint8)
        tags[:, 3] = r.nm[idx]
        tags[:, 4:7] = np.frombuffer(b"ASC", np.uint8)
        tags[:, 7] = READ_LEN - np.minimum(r.nm[idx].astype(np.int64) * 5, READ_LEN)
    return rec


def encode_records(r: Reads, order: np.ndarray) -> tuple[bytes, np.ndarray]:
    """Records of ``order`` concatenated -> (stream bytes, per-record start
    offsets into the stream, with one extra entry for the end)."""
    groups = [
        (r.kind[order] == -1, 0, False),
        (r.kind[order] == 0, 1, True),
        (r.kind[order] >= 1, 3, True),
    ]
    size = np.zeros(len(order), dtype=np.int64)
    blobs = []
    for sel, n_cigar, tagged in groups:
        rec = _encode_group(r, order[sel], n_cigar, tagged)
        size[sel] = rec.dtype.itemsize
        blobs.append((np.flatnonzero(sel), memoryview(rec.tobytes()),
                      rec.dtype.itemsize))
    starts = np.zeros(len(order) + 1, dtype=np.int64)
    np.cumsum(size, out=starts[1:])
    pieces: list = [None] * len(order)
    for where, mv, w in blobs:
        for j, i in enumerate(where.tolist()):
            pieces[i] = mv[j * w:(j + 1) * w]
    return b"".join(pieces), starts


def encode_header(sort_order: str) -> bytes:
    text = f"@HD\tVN:1.6\tSO:{sort_order}\n" + "".join(
        f"@SQ\tSN:{name}\tLN:{ln}\n" for name, ln in CONTIGS
    ) + "@RG\tID:grp1\tSM:sample1\tPL:ILLUMINA\n"
    tb = text.encode()
    out = [b"BAM\x01", struct.pack("<i", len(tb)), tb,
           struct.pack("<i", len(CONTIGS))]
    for name, ln in CONTIGS:
        nb = name.encode() + b"\x00"
        out += [struct.pack("<i", len(nb)), nb, struct.pack("<i", ln)]
    return b"".join(out)


def _deflate(payload: bytes) -> bytes:
    co = zlib.compressobj(6, zlib.DEFLATED, -15)
    data = co.compress(payload) + co.flush()
    head = b"\x1f\x8b\x08\x04" + struct.pack("<IBBH", 0, 0, 0xFF, 6) + \
        b"BC" + struct.pack("<HH", 2, len(data) + 25)
    return head + data + struct.pack("<II", zlib.crc32(payload), len(payload))


def write_bgzf(path: str, stream: bytes, threads: int) -> np.ndarray:
    """BGZF-compress ``stream`` into ``path``; returns the compressed offset
    of every block, plus one final entry for the EOF block."""
    chunks = [stream[i:i + BLOCK_PAYLOAD] for i in range(0, len(stream), BLOCK_PAYLOAD)]
    with ThreadPoolExecutor(max_workers=threads) as ex:
        blocks = list(ex.map(_deflate, chunks))
    coffsets = np.zeros(len(blocks) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blocks], out=coffsets[1:])
    with open(path, "wb") as f:
        f.writelines(blocks)
        f.write(BGZF_EOF)
    return coffsets


def voffsets(u: np.ndarray, coffsets: np.ndarray, total: int) -> np.ndarray:
    """Virtual offsets of uncompressed stream positions ``u``."""
    blk = u // BLOCK_PAYLOAD
    v = (coffsets[blk] << 16) | (u % BLOCK_PAYLOAD)
    return np.where(u >= total, coffsets[-1] << 16, v)


def write_bai(path: str, r: Reads, order: np.ndarray, vbeg: np.ndarray,
              vend: np.ndarray) -> None:
    """BAI (SAM spec section 5.2) for a coordinate-sorted file whose i-th
    record is read ``order[i]`` spanning virtual offsets [vbeg[i], vend[i])."""
    rid = r.rid[order].astype(np.int64)
    pos0 = r.pos0[order].astype(np.int64)
    end0 = pos0 + r.reflen[order]
    bins = reg2bin(pos0, end0)
    out = [b"BAI\x01", struct.pack("<i", len(CONTIGS))]
    for ref in range(len(CONTIGS)):
        sel = np.flatnonzero(rid == ref)
        if not len(sel):
            out.append(struct.pack("<ii", 0, 0))
            continue
        # chunks: same-bin records in file order, coalesced while the next
        # record starts in the block where the previous one ended
        by_bin = sel[np.argsort(bins[sel], kind="stable")]
        b = bins[by_bin]
        brk = np.ones(len(by_bin), dtype=bool)
        brk[1:] = (b[1:] != b[:-1]) | ((vbeg[by_bin[1:]] >> 16) > (vend[by_bin[:-1]] >> 16))
        first = np.flatnonzero(brk)
        last = np.append(first[1:], len(by_bin)) - 1
        chunk_bin = b[first]
        cb, ce = vbeg[by_bin[first]], vend[by_bin[last]]
        ubins, bstart = np.unique(chunk_bin, return_index=True)
        bend = np.append(bstart[1:], len(chunk_bin))
        out.append(struct.pack("<i", len(ubins) + 1))
        for bn, s, e in zip(ubins.tolist(), bstart.tolist(), bend.tolist()):
            out.append(struct.pack("<Ii", bn, e - s))
            out.append(np.stack([cb[s:e], ce[s:e]], axis=1).astype("<u8").tobytes())
        n_unmapped_placed = int(((r.flag[order][sel] & 0x4) != 0).sum())
        out.append(struct.pack("<Ii", 37450, 2))
        out.append(struct.pack("<QQQQ", int(vbeg[sel[0]]), int(vend[sel[-1]]),
                               len(sel) - n_unmapped_placed, n_unmapped_placed))
        # linear index: lowest record voffset overlapping each 16 kb window
        w0, w1 = pos0[sel] >> 14, (end0[sel] - 1) >> 14
        lin = np.full(int(w1.max()) + 1, np.iinfo(np.int64).max, dtype=np.int64)
        np.minimum.at(lin, w0, vbeg[sel])
        np.minimum.at(lin, w1, vbeg[sel])
        lin[lin == np.iinfo(np.int64).max] = 0
        out.append(struct.pack("<i", len(lin)))
        out.append(lin.astype("<u8").tobytes())
    out.append(struct.pack("<Q", int((rid < 0).sum())))
    with open(path, "wb") as f:
        f.write(b"".join(out))


def write_sbi(path: str, vbeg: np.ndarray, file_size: int) -> None:
    """Splitting index: the voffset of every SBI_GRANULARITY-th record."""
    offs = vbeg[::SBI_GRANULARITY].astype(">i8")
    with open(path, "wb") as f:
        f.write(b"SBI\x01" + struct.pack(">qq", SBI_GRANULARITY, len(offs)))
        f.write(offs.tobytes())
        f.write(struct.pack(">q", file_size << 16))


def write_bam(path: str, r: Reads, order: np.ndarray, sort_order: str,
              threads: int, index: bool) -> None:
    """One BAM of reads ``order``; ``index`` adds .bai and .sbi sidecars."""
    header = encode_header(sort_order)
    body, starts = encode_records(r, order)
    stream = header + body
    coffsets = write_bgzf(path, stream, threads)
    if index:
        u = starts + len(header)
        v = voffsets(u, coffsets, len(stream))
        write_bai(path + ".bai", r, order, v[:-1], v[1:])
        write_sbi(path + ".sbi", v[:-1], int(coffsets[-1]) + len(BGZF_EOF))


def make_targets(seed: int, n: int, width: int = 1000) -> list[tuple[str, int, int]]:
    """``n`` distinct seeded (contig, start, stop) targets, 1-based inclusive."""
    rng = np.random.default_rng(seed + 7919)
    lens = np.array([ln for _, ln in CONTIGS], dtype=np.int64)
    out: set = set()
    while len(out) < n:
        c = int(rng.choice(len(CONTIGS), p=lens / lens.sum()))
        s = int(rng.integers(1, lens[c] - width))
        out.add((CONTIGS[c][0], s, s + width - 1))
    return sorted(out)


def write_bed(path: str, targets: list[tuple[str, int, int]]) -> None:
    with open(path, "w") as f:
        for c, s, e in targets:
            f.write(f"{c}\t{s - 1}\t{e}\n")
