"""Pure-Python CRAM codec (read 2.x/3.0, write 3.0).

The reference treats CRAM as a first-class SAM-family format
(CRAMInputFormat.java:31-80 plans splits on container boundaries;
CRAMRecordReader.java:33-56 decodes a container range;
CRAMRecordWriter.java:74-121 writes bare containers merged behind a header
+ EOF container, util/SAMFileMerger.java:92-103). It delegates the codec
itself to htsjdk; here the codec is implemented directly from the public
CRAM 2.1/3.0 specification (samtools/hts-specs CRAMv3.pdf):

- file definition, ITF8/LTF8 varints, container/block framing (v2 without
  / v3 with CRC32 trailers), gzip/bzip2/lzma/rANS-4x8 block codecs
- compression header: preservation map (RN/AP/RR/SM/TD), data-series
  encoding map, tag encoding map
- encodings: EXTERNAL, HUFFMAN (canonical, MSB-first), BETA, GAMMA,
  SUBEXP, BYTE_ARRAY_LEN, BYTE_ARRAY_STOP over a core bit stream +
  external byte streams
- record decode: bam/compression flags, positions, detached/downstream
  mates, tag lines, feature-based cigar/sequence reconstruction
  (with reference FASTA, substitution matrix) and verbatim-bases records

The writer emits a conservative, spec-valid 3.0 subset: multiref slices,
absolute positions, detached mates, every data series in its own
gzip-compressed EXTERNAL block, sequences stored verbatim ('b'/BA
features, no reference required: RR=false) — the same shape htslib
produces under ``no_ref``, so files round-trip without a FASTA at hand.
"""

from __future__ import annotations

import gzip
import struct
import zlib
from dataclasses import dataclass, field
from typing import BinaryIO, Iterator, Optional

CRAM_MAGIC = b"CRAM"

#: Fixed 38-byte v3 EOF container (CRAM 3.0 spec §9), field by field:
#: container header = length 15 (int32 LE), ref_seq_id -1 (5-byte itf8),
#: start 4542278 ("EOF" packed in a 4-byte itf8 e0454f46), span/nrec/
#: counter/bases all 0, n_blocks 1, no landmarks, header CRC32 05bdd94f;
#: then one raw block: method 0, type 1, id 0, sizes 6/6, data = three
#: empty maps "010001000100", block CRC32 ee63014b. Both CRCs verify
#: with zlib.crc32 over the preceding bytes (tests/test_cram3_golden.py
#: re-derives the whole thing; an earlier revision carried a spurious
#: extra NUL before the block CRC that foreign readers' byte-compare
#: EOF checks would have rejected).
EOF_CONTAINER_V3 = bytes.fromhex(
    "0f000000ffffffff0fe0454f4600000000010005bdd94f0001000606"
    "010001000100ee63014b"
)
#: 30-byte v2.1 EOF container: same fields minus both CRC32s (CRCs were
#: introduced in 3.0).
EOF_CONTAINER_V2 = bytes.fromhex(
    "0b000000ffffffff0fe0454f460000000001000001000606010001000100"
)

# block content types (spec §8)
CT_FILE_HEADER = 0
CT_COMPRESSION_HEADER = 1
CT_SLICE_HEADER = 2
CT_EXTERNAL = 4
CT_CORE = 5

# block compression methods
M_RAW, M_GZIP, M_BZIP2, M_LZMA, M_RANS = 0, 1, 2, 3, 4


# ---------------------------------------------------------------------------
# ITF8 / LTF8 varints
# ---------------------------------------------------------------------------

def read_itf8(data, p: int) -> tuple[int, int]:
    b1 = data[p]
    if b1 < 0x80:
        return b1, p + 1
    if b1 < 0xC0:
        return ((b1 & 0x7F) << 8) | data[p + 1], p + 2
    if b1 < 0xE0:
        return ((b1 & 0x3F) << 16) | (data[p + 1] << 8) | data[p + 2], p + 3
    if b1 < 0xF0:
        return (
            ((b1 & 0x1F) << 24)
            | (data[p + 1] << 16)
            | (data[p + 2] << 8)
            | data[p + 3],
            p + 4,
        )
    return (
        ((b1 & 0x0F) << 28)
        | (data[p + 1] << 20)
        | (data[p + 2] << 12)
        | (data[p + 3] << 4)
        | (data[p + 4] & 0x0F),
        p + 5,
    )


def read_itf8_signed(data, p: int) -> tuple[int, int]:
    v, p = read_itf8(data, p)
    if v > 0x7FFFFFFF:
        v -= 1 << 32
    return v, p


def write_itf8(v: int) -> bytes:
    v &= 0xFFFFFFFF
    if v < 0x80:
        return bytes([v])
    if v < 0x4000:
        return bytes([0x80 | (v >> 8), v & 0xFF])
    if v < 0x200000:
        return bytes([0xC0 | (v >> 16), (v >> 8) & 0xFF, v & 0xFF])
    if v < 0x10000000:
        return bytes(
            [0xE0 | (v >> 24), (v >> 16) & 0xFF, (v >> 8) & 0xFF, v & 0xFF]
        )
    return bytes(
        [
            0xF0 | (v >> 28),
            (v >> 20) & 0xFF,
            (v >> 12) & 0xFF,
            (v >> 4) & 0xFF,
            v & 0x0F,
        ]
    )


def read_ltf8(data, p: int) -> tuple[int, int]:
    b1 = data[p]
    n = 0
    mask = 0x80
    while n < 8 and b1 & mask:
        n += 1
        mask >>= 1
    if n == 0:
        return b1, p + 1
    if n < 8:
        v = b1 & (0xFF >> (n + 1))
    else:
        v = 0
    for i in range(n):
        v = (v << 8) | data[p + 1 + i]
    if v > 0x7FFFFFFFFFFFFFFF:
        v -= 1 << 64
    return v, p + 1 + n


def write_ltf8(v: int) -> bytes:
    v &= 0xFFFFFFFFFFFFFFFF
    if v < 0x80:
        return bytes([v])
    out = []
    n = 0
    x = v
    while True:
        n += 1
        x >>= 8
        # n bytes following can hold v if v < 2^(8n + (7-n)) for n<8
        if n == 8 or v < (1 << (8 * n + (7 - n))):
            break
    if n == 8:
        return bytes([0xFF]) + v.to_bytes(8, "big")
    first = (0xFF << (8 - n)) & 0xFF | (v >> (8 * n))
    return bytes([first]) + v.to_bytes(n + 1, "big")[1:]


# ---------------------------------------------------------------------------
# rANS 4x8 decode (CRAM 3.0 spec §13; htslib rans_static layout)
# ---------------------------------------------------------------------------

_RANS_TF_SHIFT = 12
_RANS_TOTFREQ = 1 << _RANS_TF_SHIFT
_RANS_LOW = 1 << 23


def _rans_read_freqs(data, p):
    """Order-0 frequency table -> (freq[256], cum[256], lookup[4096], p)."""
    freq = [0] * 256
    sym = data[p]
    p += 1
    last = sym
    rle = 0
    while True:
        f = data[p]
        p += 1
        if f >= 128:
            f = ((f & 127) << 8) | data[p]
            p += 1
        freq[sym] = f
        if rle > 0:
            rle -= 1
            sym += 1
        else:
            last = sym
            sym = data[p]
            p += 1
            if sym == last + 1:
                rle = data[p]
                p += 1
        if sym == 0:
            break
    cum = [0] * 257
    for i in range(256):
        cum[i + 1] = cum[i] + freq[i]
    lookup = bytearray(_RANS_TOTFREQ)
    for i in range(256):
        if freq[i]:
            lookup[cum[i] : cum[i + 1]] = bytes([i]) * freq[i]
    return freq, cum, bytes(lookup), p


def rans_decode(data: bytes, raw_size: int) -> bytes:
    if not data:
        if raw_size:
            raise ValueError("truncated rANS block")
        return b""
    order = data[0]
    # compressed size u32, raw size u32 (little-endian)
    try:
        (n_out,) = struct.unpack_from("<I", data, 5)
    except struct.error:
        raise ValueError("truncated rANS block") from None
    if raw_size is not None and n_out != raw_size:
        raise ValueError(
            f"rANS raw size mismatch: block header says {raw_size}, "
            f"stream embeds {n_out}"
        )
    if order in (0, 1):
        # optional C kernel (~50x; formats/rans_native.py) — the scalar
        # body below is the always-available reference implementation
        from hadoop_bam_spark.formats import rans_native

        got = rans_native.decode(data[9:], order, n_out)
        if got is not None:
            return got
    try:
        return _rans_decode_body(data, order, n_out)
    except (IndexError, struct.error):
        raise ValueError("truncated rANS block") from None


def _rans_decode_body(data: bytes, order: int, n_out: int) -> bytes:
    p = 9
    out = bytearray(n_out)
    if order == 0:
        freq, cum, lookup, p = _rans_read_freqs(data, p)
        states = list(struct.unpack_from("<4I", data, p))
        p += 16
        for i in range(n_out):
            s = states[i & 3]
            f = s & (_RANS_TOTFREQ - 1)
            sym = lookup[f]
            out[i] = sym
            s = freq[sym] * (s >> _RANS_TF_SHIFT) + f - cum[sym]
            while s < _RANS_LOW:
                s = (s << 8) | data[p]
                p += 1
            states[i & 3] = s
    elif order == 1:
        # per-context tables, contexts RLE-compressed the same way
        freqs = [None] * 256
        ctx = data[p]
        p += 1
        last_ctx = ctx
        rle = 0
        while True:
            f, c, lk, p = _rans_read_freqs(data, p)
            freqs[ctx] = (f, c, lk)
            if rle > 0:
                rle -= 1
                ctx += 1
            else:
                last_ctx = ctx
                ctx = data[p]
                p += 1
                if ctx == last_ctx + 1:
                    rle = data[p]
                    p += 1
            if ctx == 0:
                break
        states = list(struct.unpack_from("<4I", data, p))
        p += 16
        q = n_out >> 2
        ptrs = [0, q, 2 * q, 3 * q]
        ctxs = [0, 0, 0, 0]
        for i in range(q):
            for j in range(4):
                f_, c_, lk_ = freqs[ctxs[j]] or freqs[0]
                s = states[j]
                f = s & (_RANS_TOTFREQ - 1)
                sym = lk_[f]
                out[ptrs[j]] = sym
                ptrs[j] += 1
                s = f_[sym] * (s >> _RANS_TF_SHIFT) + f - c_[sym]
                while s < _RANS_LOW:
                    s = (s << 8) | data[p]
                    p += 1
                states[j] = s
                ctxs[j] = sym
        # remainder handled by the 4th state
        i = 4 * q
        s = states[3]
        c3 = ctxs[3]
        while i < n_out:
            f_, c_, lk_ = freqs[c3] or freqs[0]
            f = s & (_RANS_TOTFREQ - 1)
            sym = lk_[f]
            out[i] = sym
            i += 1
            s = f_[sym] * (s >> _RANS_TF_SHIFT) + f - c_[sym]
            # renormalize only while input remains: the final symbols of a
            # well-formed stream leave the state below LOW with no bytes left
            while s < _RANS_LOW and p < len(data):
                s = (s << 8) | data[p]
                p += 1
            c3 = sym
    else:
        raise ValueError(f"unsupported rANS order {order}")
    return bytes(out)


# ---------------------------------------------------------------------------
# Blocks and containers
# ---------------------------------------------------------------------------

@dataclass
class Block:
    method: int
    content_type: int
    content_id: int
    data: bytes  # uncompressed

    @classmethod
    def parse(cls, buf, p: int, major: int,
              rans_cache: Optional[dict] = None) -> tuple["Block", int]:
        try:
            return cls._parse_unchecked(buf, p, major, rans_cache)
        except IndexError as e:
            # truncated block frame (varint or method/type byte read
            # past the buffer) — a data error, not an engine crash
            raise ValueError(
                f"truncated CRAM block frame at {p}: {e}") from e

    @classmethod
    def _parse_unchecked(cls, buf, p, major,
                         rans_cache) -> tuple["Block", int]:
        start = p
        method = buf[p]
        ctype = buf[p + 1]
        p += 2
        content_id, p = read_itf8(buf, p)
        csize, p = read_itf8(buf, p)
        rsize, p = read_itf8(buf, p)
        raw = bytes(buf[p : p + csize])
        p += csize
        if major >= 3:
            p += 4  # CRC32
        if method == M_RAW:
            data = raw
        elif method == M_GZIP:
            try:
                data = gzip.decompress(raw)
            except (OSError, zlib.error, EOFError) as e:
                raise ValueError(
                    f"corrupt gzip block payload: {e}") from e
        elif method == M_BZIP2:
            import bz2

            try:
                data = bz2.decompress(raw)
            except (OSError, ValueError) as e:
                raise ValueError(
                    f"corrupt bzip2 block payload: {e}") from e
        elif method == M_LZMA:
            import lzma

            try:
                data = lzma.decompress(raw)
            except lzma.LZMAError as e:
                # LZMAError subclasses Exception only — translate so
                # corrupt bytes surface as a data error
                raise ValueError(
                    f"corrupt lzma block payload: {e}") from e
        elif method == M_RANS:
            # scan pre-pass may have batch-decoded this block already
            # (keyed by block start offset; see prescan_rans_blocks)
            data = rans_cache.get(start) if rans_cache else None
            if data is None:
                data = rans_decode(raw, rsize)
        else:
            raise ValueError(f"unsupported block method {method}")
        return cls(method, ctype, content_id, data), p

    def serialize(self, major: int, level: int = 6) -> bytes:
        if self.method == M_GZIP:
            # mtime=0: a wall-clock stamp in the gzip member header would
            # make identical containers byte-differ run to run (breaks
            # deterministic output and the venc parity contract).
            #
            # Entropy-gated effort (htslib-spirit codec selection, but by
            # a cheap byte-histogram instead of trial compression): DEFLATE
            # cannot beat the order-0 byte entropy on match-free data, so a
            # large block whose entropy is already ~8 bits/byte (e.g. raw
            # binary quality streams) gets level 1 — deeper search burns
            # CPU for <1% gain. Anything with real structure keeps the
            # caller's ``level``. Pure function of the data, so scalar and
            # vectorized encoders stay byte-identical.
            eff = level
            if len(self.data) >= (1 << 16):
                import numpy as _np

                h = _np.bincount(
                    _np.frombuffer(self.data, dtype=_np.uint8), minlength=256
                )
                p = h[h > 0] / len(self.data)
                if float(-(p * _np.log2(p)).sum()) >= 7.2:
                    eff = 1
            raw = gzip.compress(self.data, eff, mtime=0)
        elif self.method == M_RAW:
            raw = self.data
        elif self.method == M_RANS:
            from hadoop_bam_spark.formats.rans import (
                rans_encode_order0,
                rans_encode_order1,
            )

            # order pick by a 16 KiB SAMPLE (order-1 wins on correlated
            # streams — phred runs — and loses its per-context table
            # overhead on iid data): encoding the sample with both orders
            # costs ~10 ms; encoding the whole block twice cost 30% of
            # the cram-rr-rans write throughput (FORMAT_BENCH r9)
            order1 = False
            if len(self.data) >= (1 << 14):
                sample = self.data[: 1 << 14]
                order1 = len(rans_encode_order1(sample)) < len(
                    rans_encode_order0(sample)
                )
            raw = (
                rans_encode_order1(self.data)
                if order1
                else rans_encode_order0(self.data)
            )
        else:
            raise ValueError("writer supports raw/gzip/rans blocks only")
        out = bytearray([self.method, self.content_type])
        out += write_itf8(self.content_id)
        out += write_itf8(len(raw))
        out += write_itf8(len(self.data))
        out += raw
        if major >= 3:
            out += struct.pack("<I", zlib.crc32(bytes(out)))
        return bytes(out)


def prescan_rans_blocks(body, major: int) -> list:
    """Structural walk of a container body: (block_offset, raw_payload,
    raw_size) for every rANS block, WITHOUT decompressing anything.

    The scan's read-ahead feeds these from MANY containers into one
    ``rans_vec.decode_batch`` call (native kernel per block, or numpy
    lockstep across blocks), then hands per-offset results back through
    ``Block.parse(rans_cache=...)``. Block framing per CRAM 3.0 §8:
    method, type, itf8 content-id/comp-size/raw-size, payload, CRC32.
    """
    out = []
    p = 0
    end = len(body)
    try:
        while p < end:
            start = p
            method = body[p]
            p += 2  # method + content type
            _, p = read_itf8(body, p)
            csize, p = read_itf8(body, p)
            rsize, p = read_itf8(body, p)
            if method == M_RANS:
                out.append((start, bytes(body[p : p + csize]), rsize))
            p += csize
            if major >= 3:
                p += 4  # CRC32
    except IndexError:
        # malformed tail: leave it to Block.parse to raise with context
        pass
    return out


def batch_rans_caches(bodies: list, major: int) -> list:
    """Pre-decode every rANS block across MANY container bodies in one
    ``rans_vec.decode_batch`` call; returns one {block_offset: raw
    bytes} dict per body for ``ContainerDecoder.decode(rans_cache=)``.

    Purely an accelerator: on any batch-level failure (e.g. the
    structural prescan desynced on an exotic body) it returns empty
    caches and ``Block.parse`` decodes scalar with its own, precise
    errors."""
    pres = [prescan_rans_blocks(b, major) for b in bodies]
    blobs = [(raw, rsize) for pre in pres for (_o, raw, rsize) in pre]
    if not blobs:
        return [{} for _ in bodies]
    from hadoop_bam_spark.formats import rans_vec

    try:
        decoded = rans_vec.decode_batch(blobs)
    except ValueError:
        return [{} for _ in bodies]
    caches = []
    i = 0
    for pre in pres:
        c = {}
        for off, _raw, _rs in pre:
            c[off] = decoded[i]
            i += 1
        caches.append(c)
    return caches


@dataclass
class ContainerHeader:
    length: int  # byte length of the container body (after the header)
    ref_seq_id: int
    start: int
    span: int
    n_records: int
    record_counter: int
    n_bases: int
    n_blocks: int
    landmarks: list[int]
    header_size: int  # bytes consumed by this header

    @classmethod
    def parse(cls, buf, p: int, major: int) -> "ContainerHeader":
        try:
            return cls._parse_unchecked(buf, p, major)
        except (IndexError, struct.error) as e:
            # truncated header bytes: a varint reader walked off the
            # buffer — a data error, not an engine crash
            raise ValueError(
                f"truncated CRAM container header at {p}: {e}") from e

    @classmethod
    def _parse_unchecked(cls, buf, p: int, major: int) -> "ContainerHeader":
        p0 = p
        (length,) = struct.unpack_from("<i", buf, p)
        p += 4
        ref_seq_id, p = read_itf8_signed(buf, p)
        start, p = read_itf8(buf, p)
        span, p = read_itf8(buf, p)
        n_records, p = read_itf8(buf, p)
        record_counter, p = read_ltf8(buf, p)
        n_bases, p = read_ltf8(buf, p)
        n_blocks, p = read_itf8(buf, p)
        n_landmarks, p = read_itf8(buf, p)
        landmarks = []
        for _ in range(n_landmarks):
            lm, p = read_itf8(buf, p)
            landmarks.append(lm)
        if major >= 3:
            p += 4  # CRC32
        return cls(
            length, ref_seq_id, start, span, n_records, record_counter,
            n_bases, n_blocks, landmarks, p - p0,
        )

    def serialize(self, major: int) -> bytes:
        out = bytearray(struct.pack("<i", self.length))
        out += write_itf8(self.ref_seq_id)
        out += write_itf8(self.start)
        out += write_itf8(self.span)
        out += write_itf8(self.n_records)
        out += write_ltf8(self.record_counter)
        out += write_ltf8(self.n_bases)
        out += write_itf8(self.n_blocks)
        out += write_itf8(len(self.landmarks))
        for lm in self.landmarks:
            out += write_itf8(lm)
        if major >= 3:
            out += struct.pack("<I", zlib.crc32(bytes(out)))
        return bytes(out)


def read_file_definition(fh: BinaryIO) -> tuple[int, int]:
    """-> (major, minor); consumes the 26-byte file definition."""
    magic = fh.read(4)
    if magic != CRAM_MAGIC:
        raise ValueError("not a CRAM file (bad magic)")
    major, minor = fh.read(1)[0], fh.read(1)[0]
    fh.read(20)  # file id
    return major, minor


def read_sam_header_text(fh: BinaryIO, major: int) -> tuple[str, int]:
    """Read the SAM header container (must follow the file definition).
    Returns (header_text, offset_after_container)."""
    start = fh.tell()
    head = fh.read(64)
    hdr = ContainerHeader.parse(head, 0, major)
    fh.seek(start + hdr.header_size)
    body = fh.read(hdr.length)
    block, _ = Block.parse(body, 0, major)
    (text_len,) = struct.unpack_from("<i", block.data, 0)
    text = block.data[4 : 4 + text_len].decode("utf-8", "replace")
    return text.rstrip("\x00"), start + hdr.header_size + hdr.length


def iter_container_offsets(path: str, open_fn=open) -> Iterator[tuple[int, "ContainerHeader"]]:
    """(file_offset, header) for every container after the SAM header one.
    Stops at the EOF container (ref_seq_id==-1 with 0 records) or EOF.
    Reads only container headers — this is the split-planning scan
    (reference CRAMInputFormat.getSplits walks container boundaries,
    CRAMInputFormat.java:31-80)."""
    with open_fn(path, "rb") as fh:
        major, _ = read_file_definition(fh)
        _, pos = read_sam_header_text(fh, major)
        import io as io_module
        import os

        try:
            size = os.fstat(fh.fileno()).st_size
        except (AttributeError, OSError, ValueError, io_module.UnsupportedOperation):
            size = None
        while True:
            fh.seek(pos)
            head = fh.read(64)
            if len(head) < 8:
                return
            hdr = ContainerHeader.parse(head, 0, major)
            if hdr.ref_seq_id == -1 and hdr.n_records == 0 and hdr.start in (0, 0x454F46):
                return  # EOF container
            yield pos, hdr
            pos += hdr.header_size + hdr.length
            if size is not None and pos >= size:
                return


# ---------------------------------------------------------------------------
# Core bit stream + encodings (CRAM spec §12; decode side supports EXTERNAL,
# HUFFMAN, BETA, GAMMA, SUBEXP, BYTE_ARRAY_LEN, BYTE_ARRAY_STOP — the set
# cramtools/htslib/htsjdk emit)
# ---------------------------------------------------------------------------

E_NULL, E_EXTERNAL, E_GOLOMB, E_HUFFMAN = 0, 1, 2, 3

#: raw phred byte -> phred+33 text char (exact chr(q + 33) semantics,
#: including codepoints past 255 for out-of-range stored values)
_PHRED33_STR = str.maketrans({q: chr(q + 33) for q in range(256)})

#: phred+33 text byte -> raw phred (the encode inverse: ord(c) - 33 mod 256,
#: one C translate pass instead of a per-char generator)
_PHRED33_ENC = bytes((i - 33) & 0xFF for i in range(256))


def _phred_encode(qual: str) -> bytes:
    """qual text -> raw phred bytes; latin-1 translate fast path with a
    per-char fallback for codepoints past 255 (the decode side emits
    chr(q + 33) up to 288 for stored phreds >= 223 — those must
    round-trip, not crash the C path)."""
    try:
        return qual.encode("latin-1").translate(_PHRED33_ENC)
    except UnicodeEncodeError:
        return bytes((ord(c) - 33) & 0xFF for c in qual)

#: itf8 bytes for the 1-byte domain (encode hot path: most series values)
_ITF8_SMALL = [bytes([v]) for v in range(128)]

#: data series consumed as itf8 INTEGERS by the slice decoder (I());
#: everything else (BA/QS/FC/BS bytes, RN/IN/SC/BB/QQ byte arrays) carries
#: raw bytes and must never be bulk-itf8-decoded.
_INT_SERIES = frozenset(
    "BF CF RI RL AP RG MF NS NP TS NF TL FN DL HC PD RS MQ".split()
)
E_BYTE_ARRAY_LEN, E_BYTE_ARRAY_STOP, E_BETA, E_SUBEXP = 4, 5, 6, 7
E_GOLOMB_RICE, E_GAMMA = 8, 9


class CoreBits:
    """MSB-first bit reader over the slice's core block."""

    __slots__ = ("data", "pos")

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read_bit(self) -> int:
        p = self.pos
        self.pos = p + 1
        return (self.data[p >> 3] >> (7 - (p & 7))) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v


class ExtCursor:
    """Sequential read cursor over one external block's bytes."""

    __slots__ = ("data", "p")

    def __init__(self, data: bytes):
        self.data = data
        self.p = 0

    def byte(self) -> int:
        v = self.data[self.p]
        self.p += 1
        return v

    def take(self, n: int) -> bytes:
        v = self.data[self.p : self.p + n]
        self.p += n
        return v

    def itf8(self) -> int:
        v, self.p = read_itf8(self.data, self.p)
        return v

    def until(self, stop: int) -> bytes:
        q = self.data.index(stop, self.p)
        v = self.data[self.p : q]
        self.p = q + 1
        return v


def _s32(v: int) -> int:
    return v - (1 << 32) if v > 0x7FFFFFFF else v


def _decode_itf8_block(data: bytes) -> list:
    """Decode EVERY itf8 value in a block in one tight loop, signed.

    Used when an external block is exclusively owned by one integer data
    series: its values are then a dense sequential run, so one pass with
    local-variable state replaces four layers of per-value calls
    (I() -> decoder lambda -> ExtCursor.itf8 -> read_itf8) in the record
    hot loop. Bit layout identical to read_itf8 + _s32."""
    out = []
    app = out.append
    p, n = 0, len(data)
    while p < n:
        b0 = data[p]
        if b0 < 0x80:
            v = b0
            p += 1
        elif b0 < 0xC0:
            v = ((b0 & 0x7F) << 8) | data[p + 1]
            p += 2
        elif b0 < 0xE0:
            v = ((b0 & 0x3F) << 16) | (data[p + 1] << 8) | data[p + 2]
            p += 3
        elif b0 < 0xF0:
            v = (((b0 & 0x1F) << 24) | (data[p + 1] << 16)
                 | (data[p + 2] << 8) | data[p + 3])
            p += 4
        else:
            v = (((b0 & 0x0F) << 28) | (data[p + 1] << 20)
                 | (data[p + 2] << 12) | (data[p + 3] << 4)
                 | (data[p + 4] & 0x0F))
            p += 5
        app(v - 4294967296 if v > 0x7FFFFFFF else v)
    return out


def _encoding_cids(codec: int, params: bytes) -> list:
    """External block content-ids referenced by one encoding (recursing
    into BYTE_ARRAY_LEN's nested len/val encodings)."""
    if codec == E_EXTERNAL:
        cid, _ = read_itf8(params, 0)
        return [cid]
    if codec == E_BYTE_ARRAY_STOP:
        cid, _ = read_itf8(params, 1)
        return [cid]
    if codec == E_BYTE_ARRAY_LEN:
        len_codec, len_params, rest = _parse_encoding(params)
        val_codec, val_params, _ = _parse_encoding(rest)
        return _encoding_cids(len_codec, len_params) + _encoding_cids(
            val_codec, val_params
        )
    return []


def _parse_encoding(params: bytes):
    """(codec_id, raw_params) from a 'codec itf8, len itf8, bytes' triple."""
    codec, p = read_itf8(params, 0)
    plen, p = read_itf8(params, p)
    return codec, params[p : p + plen], params[p + plen :]


def _huffman_table(params: bytes):
    """Canonical-code table {(nbits, code): symbol} + zero-bit fast path."""
    n, p = read_itf8(params, 0)
    syms = []
    for _ in range(n):
        v, p = read_itf8(params, p)
        syms.append(_s32(v))
    n2, p = read_itf8(params, p)
    lens = []
    for _ in range(n2):
        v, p = read_itf8(params, p)
        lens.append(v)
    if n == 1 and lens[0] == 0:
        return None, syms[0]  # constant series, zero bits consumed
    order = sorted(range(n), key=lambda i: (lens[i], i))  # stable by alphabet
    table = {}
    code, prev = 0, lens[order[0]]
    for i in order:
        code <<= lens[i] - prev
        prev = lens[i]
        table[(lens[i], code)] = syms[i]
        code += 1
    return table, None


def make_int_decoder(codec: int, params: bytes, ext: dict, core: CoreBits,
                     bulk_cids=frozenset()):
    """-> () -> int for an integer data series.

    ``bulk_cids``: content-ids whose external block is exclusively owned by
    one integer series — those decode the ENTIRE block once
    (_decode_itf8_block) and serve values through a C-speed list iterator
    instead of per-value cursor calls."""
    if codec == E_EXTERNAL:
        cid, _ = read_itf8(params, 0)
        cur = ext[cid]
        if cid in bulk_cids and cur.p == 0:
            values = _decode_itf8_block(cur.data)
            cur.p = len(cur.data)
            return iter(values).__next__
        return lambda: _s32(cur.itf8())
    if codec == E_HUFFMAN:
        table, const = _huffman_table(params)
        if table is None:
            return lambda: const
        def huff():
            nbits, code = 0, 0
            while True:
                code = (code << 1) | core.read_bit()
                nbits += 1
                sym = table.get((nbits, code))
                if sym is not None:
                    return sym
        return huff
    if codec == E_BETA:
        offset, p = read_itf8(params, 0)
        nbits, _ = read_itf8(params, p)
        return lambda: core.read_bits(nbits) - offset
    if codec == E_GAMMA:
        offset, _ = read_itf8(params, 0)
        def gamma():
            nz = 0
            while core.read_bit() == 0:
                nz += 1
            v = 1
            for _ in range(nz):
                v = (v << 1) | core.read_bit()
            return v - offset
        return gamma
    if codec == E_SUBEXP:
        offset, p = read_itf8(params, 0)
        k, _ = read_itf8(params, p)
        def subexp():
            i = 0
            while core.read_bit():
                i += 1
            if i == 0:
                n = core.read_bits(k)
            else:
                b = i + k - 1
                n = (1 << b) | core.read_bits(b)
            return n - offset
        return subexp
    raise ValueError(f"unsupported integer encoding {codec}")


def make_byte_decoder(codec: int, params: bytes, ext: dict, core: CoreBits):
    """-> () -> int (one byte) for a byte data series (FC/BS/BA/QS)."""
    if codec == E_EXTERNAL:
        cid, _ = read_itf8(params, 0)
        cur = ext[cid]
        return cur.byte
    if codec == E_HUFFMAN:
        table, const = _huffman_table(params)
        if table is None:
            return lambda: const
        def huff():
            nbits, code = 0, 0
            while True:
                code = (code << 1) | core.read_bit()
                nbits += 1
                sym = table.get((nbits, code))
                if sym is not None:
                    return sym
        return huff
    if codec == E_BETA:
        offset, p = read_itf8(params, 0)
        nbits, _ = read_itf8(params, p)
        return lambda: core.read_bits(nbits) - offset
    raise ValueError(f"unsupported byte encoding {codec}")


def make_bytes_decoder(codec: int, params: bytes, ext: dict, core: CoreBits,
                       bulk_cids=frozenset()):
    """-> (n_hint) -> bytes for byte-array series (RN/IN/SC/BB/QQ, tags).

    BYTE_ARRAY_LEN ignores n_hint (its own length stream rules);
    BYTE_ARRAY_STOP reads to its stop byte."""
    if codec == E_BYTE_ARRAY_STOP:
        stop = params[0]
        cid, _ = read_itf8(params, 1)
        cur = ext[cid]
        return lambda n_hint=None: cur.until(stop)
    if codec == E_BYTE_ARRAY_LEN:
        len_codec, len_params, rest = _parse_encoding(params)
        val_codec, val_params, _ = _parse_encoding(rest)
        length = make_int_decoder(len_codec, len_params, ext, core, bulk_cids)
        if val_codec == E_EXTERNAL:
            cid, _ = read_itf8(val_params, 0)
            cur = ext[cid]
            return lambda n_hint=None: cur.take(length())
        one = make_byte_decoder(val_codec, val_params, ext, core)
        return lambda n_hint=None: bytes(one() for _ in range(length()))
    if codec == E_EXTERNAL:
        # fixed-length run read directly from the block (needs n_hint)
        cid, _ = read_itf8(params, 0)
        cur = ext[cid]
        return lambda n_hint: cur.take(n_hint)
    raise ValueError(f"unsupported byte-array encoding {codec}")


# ---------------------------------------------------------------------------
# Compression header / slice header
# ---------------------------------------------------------------------------

@dataclass
class CompressionHeader:
    read_names_included: bool = True
    ap_delta: bool = False
    reference_required: bool = True
    substitution_matrix: bytes = b"\x1b\x1b\x1b\x1b\x1b"
    tag_lines: list = field(default_factory=list)  # [[(tag, type), ...], ...]
    data_series: dict = field(default_factory=dict)  # key -> (codec, params)
    tag_encodings: dict = field(default_factory=dict)  # (tag, type) -> (codec, params)

    @classmethod
    def parse(cls, data: bytes) -> "CompressionHeader":
        try:
            return cls._parse_unchecked(data)
        except (IndexError, struct.error) as e:
            # truncated/corrupt map bytes are a data error, not a crash
            raise ValueError(
                f"corrupt CRAM compression header: {e}") from e

    @classmethod
    def _parse_unchecked(cls, data: bytes) -> "CompressionHeader":
        h = cls()
        p = 0
        _size, p = read_itf8(data, p)
        n, p = read_itf8(data, p)
        for _ in range(n):
            key = data[p : p + 2].decode("latin-1")
            p += 2
            if key == "RN":
                h.read_names_included = bool(data[p]); p += 1
            elif key == "AP":
                h.ap_delta = bool(data[p]); p += 1
            elif key == "RR":
                h.reference_required = bool(data[p]); p += 1
            elif key == "SM":
                h.substitution_matrix = data[p : p + 5]; p += 5
            elif key == "TD":
                ln, p = read_itf8(data, p)
                blob = data[p : p + ln]; p += ln
                lines = blob.split(b"\x00")
                if blob.endswith(b"\x00"):
                    lines = lines[:-1]
                h.tag_lines = [
                    [
                        (line[i : i + 2].decode("latin-1"), chr(line[i + 2]))
                        for i in range(0, len(line), 3)
                    ]
                    for line in lines
                ]
            else:  # unknown single-byte boolean keys (MI/UI/PI in old writers)
                p += 1
        _size, p = read_itf8(data, p)
        n, p = read_itf8(data, p)
        for _ in range(n):
            key = data[p : p + 2].decode("latin-1")
            p += 2
            codec, p = read_itf8(data, p)
            plen, p = read_itf8(data, p)
            h.data_series[key] = (codec, data[p : p + plen])
            p += plen
        _size, p = read_itf8(data, p)
        n, p = read_itf8(data, p)
        for _ in range(n):
            kv, p = read_itf8(data, p)
            tag = chr((kv >> 16) & 0xFF) + chr((kv >> 8) & 0xFF)
            typ = chr(kv & 0xFF)
            codec, p = read_itf8(data, p)
            plen, p = read_itf8(data, p)
            h.tag_encodings[(tag, typ)] = (codec, data[p : p + plen])
            p += plen
        return h


@dataclass
class SliceHeader:
    ref_seq_id: int
    start: int
    span: int
    n_records: int
    counter: int
    n_blocks: int
    content_ids: list[int]
    embedded_ref_id: int
    md5: bytes

    @classmethod
    def parse(cls, data: bytes, major: int) -> "SliceHeader":
        try:
            return cls._parse_unchecked(data, major)
        except (IndexError, struct.error) as e:
            # truncated/corrupt header bytes are a data error, not a crash
            raise ValueError(f"corrupt CRAM slice header: {e}") from e

    @classmethod
    def _parse_unchecked(cls, data: bytes, major: int) -> "SliceHeader":
        p = 0
        ref, p = read_itf8_signed(data, p)
        start, p = read_itf8(data, p)
        span, p = read_itf8(data, p)
        nrec, p = read_itf8(data, p)
        if major >= 3:
            counter, p = read_ltf8(data, p)
        else:
            counter, p = read_itf8(data, p)
        nblk, p = read_itf8(data, p)
        nids, p = read_itf8(data, p)
        ids = []
        for _ in range(nids):
            v, p = read_itf8(data, p)
            ids.append(v)
        embed, p = read_itf8_signed(data, p)
        md5 = data[p : p + 16]
        return cls(ref, start, span, nrec, counter, nblk, ids, embed, md5)


# ---------------------------------------------------------------------------
# Reference window lookup (faidx-backed; needed when RR=true)
# ---------------------------------------------------------------------------

class FastaRef:
    """Random-access windows into a FASTA: uses the .fai when present, else
    one in-memory scan (fine for test refs; production paths carry a .fai).

    Base lookups go through a small chunk cache (64 x 64 KiB LRU) so the
    per-record window calls of multiref decode/encode paths cost a dict hit,
    not an open+seek — the same role htsjdk's CRAMReferenceSource caching
    plays for the reference codec."""

    _CHUNK = 64 * 1024
    _MAX_CHUNKS = 64

    def __init__(self, path: str, open_fn=open):
        self._path = path
        self._open = open_fn
        self._chunks: dict[int, bytes] = {}  # file-chunk index -> raw bytes
        self._index: dict[str, tuple[int, int, int, int]] = {}
        fai = path + ".fai"
        import os

        if os.path.exists(fai):
            with open_fn(fai, "rt") as fh:
                for line in fh:
                    f = line.rstrip("\n").split("\t")
                    if len(f) >= 5:
                        self._index[f[0]] = (int(f[1]), int(f[2]), int(f[3]), int(f[4]))
        else:
            with open_fn(path, "rb") as fh:
                name, off, nbases, width, length = None, 0, 0, 0, 0
                pos = 0
                for raw in fh:
                    if raw.startswith(b">"):
                        if name is not None:
                            self._index[name] = (length, off, nbases, width)
                        name = raw[1:].split()[0].decode()
                        off = pos + len(raw)
                        nbases, width, length = 0, 0, 0
                    elif name is not None and raw.strip():
                        if nbases == 0:
                            nbases, width = len(raw.strip()), len(raw)
                        length += len(raw.strip())
                    pos += len(raw)
                if name is not None:
                    self._index[name] = (length, off, nbases, width)

    def _read_range(self, first: int, n: int) -> bytes:
        """Raw file bytes [first, first+n) via the chunk cache."""
        out = bytearray()
        chunk = self._CHUNK
        ci = first // chunk
        while len(out) < n:
            data = self._chunks.get(ci)
            if data is None:
                if len(self._chunks) >= self._MAX_CHUNKS:
                    self._chunks.pop(next(iter(self._chunks)))
                with self._open(self._path, "rb") as fh:
                    fh.seek(ci * chunk)
                    data = fh.read(chunk)
                self._chunks[ci] = data
            lo = first + len(out) - ci * chunk
            out += data[lo : lo + n - len(out)]
            if len(data) < chunk:  # EOF chunk
                break
            ci += 1
        return bytes(out)

    def contig_array(self, name: str):
        """Whole contig as an uppercase uint8 numpy array — the bulk
        gather surface the vectorized RR=true encoder (cram_venc.py)
        compares read bases against. One sequential read + one vectorized
        newline strip; byte-for-byte equal to ``window(name, 1, length)``
        (parity-tested in tests/test_cram_venc.py). Callers cache the
        result (the column encoder keeps a small per-contig FIFO) — this
        method re-reads the file each call."""
        import numpy as np

        length, off, linebases, linewidth = self._index[name]
        if length == 0:
            return np.zeros(0, np.uint8)
        nlines = (length + linebases - 1) // linebases
        with self._open(self._path, "rb") as fh:
            fh.seek(off)
            raw = fh.read(nlines * linewidth)
        a = np.frombuffer(raw, np.uint8)
        a = a[(a != 0x0A) & (a != 0x0D)][:length]
        return np.where((a >= 0x61) & (a <= 0x7A), a - 0x20, a).astype(
            np.uint8
        )

    def contig_length(self, name: str) -> int:
        return self._index[name][0]

    def window(self, name: str, start: int, end: int) -> bytes:
        """Uppercase bases for [start, end] 1-based inclusive."""
        length, off, linebases, linewidth = self._index[name]
        end = min(end, length)
        if start > end:
            return b""
        first = off + (start - 1) // linebases * linewidth + (start - 1) % linebases
        need = end - start + 1
        # read enough raw bytes to cover `need` bases plus line breaks
        raw = self._read_range(
            first,
            need + need // max(linebases, 1) * (linewidth - linebases) + linewidth,
        )
        out = bytearray()
        for b in raw:
            if b not in (0x0A, 0x0D):
                out.append(b)
                if len(out) == need:
                    break
        return bytes(out).upper()


# ---------------------------------------------------------------------------
# Record decode
# ---------------------------------------------------------------------------

CF_QUAL_STORED = 0x1
CF_DETACHED = 0x2
CF_MATE_DOWNSTREAM = 0x4
CF_NO_SEQ = 0x8

_SUB_ALTS = {b: "ACGTN".replace(b, "") for b in "ACGTN"}


def _substitute(matrix: bytes, ref_base: str, code: int) -> str:
    """BS code -> base: each matrix byte packs, per alternative base in
    ACGTN-minus-ref order, its 2-bit substitution code (spec §10.5)."""
    r = "ACGTN".find(ref_base)
    if r < 0:
        r = 4
    byte = matrix[r]
    alts = _SUB_ALTS["ACGTN"[r]]
    for j in range(4):
        if (byte >> (6 - 2 * j)) & 3 == code:
            return alts[j]
    return "N"


def _decode_tag_value(typ: str, buf: bytes) -> tuple[str, Optional[str]]:
    """BAM-layout value bytes -> (SAM value string, B-array subtype)."""
    if typ == "A":
        return chr(buf[0]), None
    if typ in "cCsSiI":
        fmt = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}[typ]
        return str(struct.unpack_from(fmt, buf, 0)[0]), None
    if typ == "f":
        v = struct.unpack_from("<f", buf, 0)[0]
        return (repr(v) if v != int(v) else str(int(v))), None
    if typ in "ZH":
        return buf.rstrip(b"\x00").decode("latin-1"), None
    if typ == "B":
        sub = chr(buf[0])
        (cnt,) = struct.unpack_from("<i", buf, 1)
        fmt = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[sub]
        vals = struct.unpack_from(f"<{cnt}{fmt}", buf, 5)
        s = sub + "," + ",".join(
            (repr(v) if v != int(v) else str(int(v))) if sub == "f" else str(v)
            for v in vals
        )
        return s, sub
    raise ValueError(f"unknown tag type {typ!r}")


def _parse_rgs(header_text: str) -> list[str]:
    rgs = []
    for line in header_text.splitlines():
        if line.startswith("@RG"):
            for f in line.split("\t")[1:]:
                if f.startswith("ID:"):
                    rgs.append(f[3:])
    return rgs


class ContainerDecoder:
    """Decode every record of one container body into SAM-schema tuples.

    Mirrors the reference read path (CRAMRecordReader.java:33-56 delegates
    to htsjdk's container reader); implemented here directly from the CRAM
    2.x/3.0 spec so executors need no JVM."""

    def __init__(self, major: int, refs: list[tuple[str, int]],
                 ref_fasta: Optional[FastaRef] = None,
                 read_groups: Optional[list[str]] = None):
        self.major = major
        self.refs = refs
        self.ref_fasta = ref_fasta
        self.read_groups = read_groups or []

    def decode(self, body, hdr: ContainerHeader,
               rans_cache: Optional[dict] = None) -> list[tuple]:
        comp_block, _ = Block.parse(body, 0, self.major, rans_cache)
        if comp_block.content_type != CT_COMPRESSION_HEADER:
            raise ValueError("container does not start with a compression header")
        comp = CompressionHeader.parse(comp_block.data)
        rows: list[tuple] = []
        for lm in hdr.landmarks:
            try:
                rows.extend(
                    self._decode_slice(body, lm, comp, hdr, rans_cache)
                )
            except (StopIteration, KeyError, IndexError,
                    struct.error) as e:
                # corrupt/truncated slice bytes: a bulk-decoded series
                # iterator ran dry (StopIteration — which, escaping into
                # a caller's generator frame, would become an opaque
                # PEP 479 RuntimeError), an encoding referenced an
                # external block id the slice doesn't carry (KeyError),
                # a position index walked outside a decoded array
                # (IndexError), or a typed tag value came up short
                # (struct.error). All are data errors, not engine
                # crashes.
                raise ValueError(
                    "corrupt CRAM slice at landmark "
                    f"{lm}: {type(e).__name__}: {e}"
                ) from e
        return rows

    # -- slice ---------------------------------------------------------------

    def _decode_slice(self, body, landmark: int, comp: CompressionHeader,
                      chdr: ContainerHeader,
                      rans_cache: Optional[dict] = None) -> list[tuple]:
        sh_block, p = Block.parse(body, landmark, self.major, rans_cache)
        if sh_block.content_type != CT_SLICE_HEADER:
            raise ValueError("expected slice header block at landmark")
        sh = SliceHeader.parse(sh_block.data, self.major)
        core_data = b""
        ext: dict[int, ExtCursor] = {}
        embedded_ref = None
        for _ in range(sh.n_blocks):
            blk, p = Block.parse(body, p, self.major, rans_cache)
            if blk.content_type == CT_CORE:
                core_data = blk.data
            else:
                ext[blk.content_id] = ExtCursor(blk.data)
                if blk.content_id == sh.embedded_ref_id:
                    embedded_ref = blk.data

        # columnar fast path (formats/cram_vec.py): whole-slice numpy
        # decode when every needed series is EXTERNAL with exclusive
        # blocks; returns None for shapes it does not cover.
        from hadoop_bam_spark.formats import cram_vec

        fast = cram_vec.decode_slice_columnar(
            self, sh, comp, {cid: c.data for cid, c in ext.items()},
            embedded_ref,
        )
        if fast is not None:
            self._resolve_mates(fast)
            return [tuple(r[:12]) for r in fast]
        core = CoreBits(core_data)

        # Blocks exclusively owned by ONE integer-series encoding can be
        # bulk-decoded (all itf8 values in one pass); shared blocks keep
        # the interleaved per-value cursor path.
        cid_users: dict[int, int] = {}
        int_cids: set = set()
        for key, (codec, params) in comp.data_series.items():
            for cid in _encoding_cids(codec, params):
                cid_users[cid] = cid_users.get(cid, 0) + 1
            if codec == E_EXTERNAL and key in _INT_SERIES:
                int_cids.update(_encoding_cids(codec, params))
            elif codec == E_BYTE_ARRAY_LEN:
                # the LENGTH sub-stream is itf8 ints (the value stream is not)
                len_codec, len_params, _ = _parse_encoding(params)
                if len_codec == E_EXTERNAL:
                    int_cids.update(_encoding_cids(len_codec, len_params))
        for codec, params in comp.tag_encodings.values():
            for cid in _encoding_cids(codec, params):
                cid_users[cid] = cid_users.get(cid, 0) + 1
        bulk_cids = frozenset(
            c for c in int_cids if cid_users.get(c) == 1 and c in ext
        )

        dec_int: dict[str, callable] = {}
        dec_byte: dict[str, callable] = {}
        dec_bytes: dict[str, callable] = {}

        def I(key):  # noqa: E743 - terse decoder accessors keep decode readable
            d = dec_int.get(key)
            if d is None:
                codec, params = comp.data_series[key]
                d = dec_int[key] = make_int_decoder(codec, params, ext, core,
                                                    bulk_cids)
            return d()

        def BYTE(key):
            d = dec_byte.get(key)
            if d is None:
                codec, params = comp.data_series[key]
                d = dec_byte[key] = make_byte_decoder(codec, params, ext, core)
            return d()

        def ARR(key, n_hint=None):
            d = dec_bytes.get(key)
            if d is None:
                codec, params = comp.data_series[key]
                d = dec_bytes[key] = make_bytes_decoder(codec, params, ext,
                                                        core, bulk_cids)
            return d(n_hint)

        run_readers: dict[str, callable] = {}

        def RUN(key, n):
            """Bulk n-byte read of a byte series — one slice for EXTERNAL
            codecs instead of n per-byte calls (the seq/qual hot path);
            bit-codec series fall back to the per-byte decoder. Cursor
            state is shared with BYTE(), so mixing them is safe."""
            r = run_readers.get(key)
            if r is None:
                codec, params = comp.data_series[key]
                if codec == E_EXTERNAL:
                    cid, _ = read_itf8(params, 0)
                    r = ext[cid].take
                else:
                    one = make_byte_decoder(codec, params, ext, core)
                    r = lambda n: bytes(one() for _ in range(n))  # noqa: E731
                run_readers[key] = r
            return r(n)

        tag_decoders: dict[tuple[str, str], callable] = {}

        def TAGVAL(tag, typ):
            d = tag_decoders.get((tag, typ))
            if d is None:
                codec, params = comp.tag_encodings[(tag, typ)]
                d = tag_decoders[(tag, typ)] = make_bytes_decoder(codec, params, ext, core)
            return d(None)

        # reference window for this slice (single-ref slices only)
        ref_window, ref_woff = None, 0
        def ref_bases(ref_id: int, start: int, n: int) -> str:
            nonlocal ref_window, ref_woff
            if n <= 0:
                return ""
            if embedded_ref is not None:
                return embedded_ref[start - sh.start : start - sh.start + n].decode("latin-1").upper()
            if ref_window is not None and ref_id == sh.ref_seq_id:
                return ref_window[start - ref_woff : start - ref_woff + n]
            if self.ref_fasta is None:
                if comp.reference_required:
                    raise ValueError(
                        "CRAM slice requires a reference; pass option('reference', <fasta>)"
                    )
                return "N" * n
            name = self.refs[ref_id][0]
            if ref_id == sh.ref_seq_id and sh.ref_seq_id >= 0:
                ref_window = self.ref_fasta.window(name, sh.start, sh.start + sh.span - 1).decode("latin-1")
                ref_woff = sh.start
                return ref_window[start - ref_woff : start - ref_woff + n]
            return self.ref_fasta.window(name, start, start + n - 1).decode("latin-1")

        records = []
        last_pos = sh.start
        multiref = sh.ref_seq_id == -2

        # Hot-series decoders bound to locals once: every record reads
        # these, so the I() dict-dispatch overhead is paid here instead of
        # per record.
        def _bind(key):
            if key not in comp.data_series or sh.n_records == 0:
                return None
            codec, params = comp.data_series[key]
            d = dec_int.get(key)
            if d is None:
                d = dec_int[key] = make_int_decoder(codec, params, ext, core,
                                                    bulk_cids)
            return d

        d_bf, d_cf, d_rl, d_ap, d_rg, d_tl = (
            _bind("BF"), _bind("CF"), _bind("RL"), _bind("AP"),
            _bind("RG"), _bind("TL"),
        )
        def _bind_byte(key):
            d = dec_byte.get(key)
            if d is None:
                codec, params = comp.data_series[key]
                d = dec_byte[key] = make_byte_decoder(codec, params, ext, core)
            return d

        # mapped-record series bind lazily on the FIRST mapped record: a
        # slice of only-unmapped records may declare them with degenerate
        # (empty-alphabet) codecs that must never be constructed
        d_fn = d_fp = d_mq = d_fc = None
        from hadoop_bam_spark.formats.sam import tag_value_repr as _tvr
        for i in range(sh.n_records):
            bf = d_bf()
            cf = d_cf()
            ref_id = _s32(I("RI")) if multiref else sh.ref_seq_id
            rl = d_rl()
            if comp.ap_delta:
                pos = last_pos + d_ap()
                last_pos = pos
            else:
                pos = d_ap()
            rg = _s32(d_rg())
            if comp.read_names_included:
                qname = ARR("RN").decode("latin-1")
            else:
                qname = f"r{sh.counter + i}"
            flag = bf
            rnext_id, pnext, tlen, nf = -1, 0, 0, None
            if cf & CF_DETACHED:
                mf = I("MF")
                if not comp.read_names_included:
                    qname = ARR("RN").decode("latin-1")
                rnext_id = _s32(I("NS"))
                pnext = I("NP")
                tlen = _s32(I("TS"))
                flag |= (0x20 if mf & 1 else 0) | (0x8 if mf & 2 else 0)
            elif cf & CF_MATE_DOWNSTREAM:
                nf = I("NF")
            tags: dict[str, str] = {}
            tl = d_tl()
            for tag, typ in (comp.tag_lines[tl] if comp.tag_lines else ()):
                s, sub = _decode_tag_value(typ, TAGVAL(tag, typ))
                tags[tag] = _tvr(typ, s, sub)
            if rg >= 0 and rg < len(self.read_groups) and "RG" not in tags:
                tags["RG"] = self.read_groups[rg]

            mapq = 0
            cigar = None
            seq: Optional[str] = None
            qual_raw: Optional[bytearray] = None
            if not flag & 0x4:  # mapped: feature-based reconstruction
                if d_fn is None:
                    d_fn, d_mq = _bind("FN"), _bind("MQ")
                fn = d_fn()
                feats = []
                fpos = 0
                if fn and d_fc is None:
                    # FC/FP bind on the first FEATURE: all-match slices may
                    # declare them with empty-alphabet codecs
                    d_fc, d_fp = _bind_byte("FC"), _bind("FP")
                for _ in range(fn):
                    fc = chr(d_fc())
                    fpos += d_fp()
                    if fc == "X":
                        feats.append((fpos, fc, BYTE("BS")))
                    elif fc == "D":
                        feats.append((fpos, fc, I("DL")))
                    elif fc == "I":
                        feats.append((fpos, fc, ARR("IN")))
                    elif fc == "i":
                        feats.append((fpos, fc, bytes([BYTE("BA")])))
                    elif fc == "S":
                        feats.append((fpos, fc, ARR("SC")))
                    elif fc == "H":
                        feats.append((fpos, fc, I("HC")))
                    elif fc == "P":
                        feats.append((fpos, fc, I("PD")))
                    elif fc == "N":
                        feats.append((fpos, fc, I("RS")))
                    elif fc == "B":
                        base = BYTE("BA")
                        q = BYTE("QS")
                        feats.append((fpos, fc, (base, q)))
                    elif fc == "b":
                        feats.append((fpos, fc, ARR("BB")))
                    elif fc == "q":
                        # length: remainder of the read from fpos (the
                        # htslib cram_decode.c 'q' contract) — only used
                        # when QQ is a bare EXTERNAL codec; BYTE_ARRAY_LEN
                        # carries its own length stream
                        feats.append((fpos, fc, ARR("QQ", rl - fpos + 1)))
                    elif fc == "Q":
                        feats.append((fpos, fc, BYTE("QS")))
                    else:
                        raise ValueError(f"unknown feature code {fc!r}")
                mapq = d_mq()
                qual_raw = bytearray([0xFF]) * rl if rl else bytearray()
                seq_parts: list[str] = []
                cig: list[tuple[int, str]] = []
                read_pos, ref_pos = 1, pos

                def add_op(n, op):
                    if n <= 0:
                        return
                    if cig and cig[-1][1] == op:
                        cig[-1] = (cig[-1][0] + n, op)
                    else:
                        cig.append((n, op))

                noseq = bool(cf & CF_NO_SEQ)  # '*' sequence: never touch the ref

                def fill_match(upto):
                    nonlocal read_pos, ref_pos
                    n = upto - read_pos
                    if n > 0:
                        seq_parts.append("N" * n if noseq else ref_bases(ref_id, ref_pos, n))
                        add_op(n, "M")
                        read_pos += n
                        ref_pos += n

                for fpos, fc, val in feats:
                    fill_match(fpos)
                    if fc == "X":
                        rb = "N" if noseq else (ref_bases(ref_id, ref_pos, 1) or "N")
                        seq_parts.append(_substitute(comp.substitution_matrix, rb, val))
                        add_op(1, "M")
                        read_pos += 1
                        ref_pos += 1
                    elif fc == "D":
                        add_op(val, "D")
                        ref_pos += val
                    elif fc in "Ii":
                        b = val.decode("latin-1")
                        seq_parts.append(b)
                        add_op(len(b), "I")
                        read_pos += len(b)
                    elif fc == "S":
                        b = val.decode("latin-1")
                        seq_parts.append(b)
                        add_op(len(b), "S")
                        read_pos += len(b)
                    elif fc == "H":
                        add_op(val, "H")
                    elif fc == "P":
                        add_op(val, "P")
                    elif fc == "N":
                        # RS = reference SKIP: consumes reference (spec
                        # §10.5 feature codes; splice-aware decode was
                        # dropping the advance — caught by the columnar
                        # path's property parity, tests/test_cram_vec.py)
                        add_op(val, "N")
                        ref_pos += val
                    elif fc == "B":
                        base, q = val
                        seq_parts.append(chr(base))
                        qual_raw[fpos - 1] = q
                        add_op(1, "M")
                        read_pos += 1
                        ref_pos += 1
                    elif fc == "b":
                        b = val.decode("latin-1")
                        seq_parts.append(b)
                        add_op(len(b), "M")
                        read_pos += len(b)
                        ref_pos += len(b)
                    elif fc == "Q":
                        qual_raw[fpos - 1] = val
                    elif fc == "q":
                        # QQ stretch of quality scores: scatter at fpos,
                        # read/ref positions unaffected (spec §10.5; the
                        # lossy-qual shape htslib emits). Was parsed but
                        # silently dropped before r6.
                        qual_raw[fpos - 1 : fpos - 1 + len(val)] = val
                fill_match(rl + 1)
                if cf & CF_QUAL_STORED:
                    qual_raw = bytearray(
                        ARR("QS", rl) if "QS" in comp.data_series and self._qs_is_array(comp) else RUN("QS", rl)
                    )
                seq = None if cf & CF_NO_SEQ else ("".join(seq_parts) or None)
                cigar = "".join(f"{n}{op}" for n, op in cig) or None
            else:  # unmapped: verbatim bases
                if not cf & CF_NO_SEQ:
                    seq = RUN("BA", rl).decode("latin-1") or None
                if cf & CF_QUAL_STORED:
                    qual_raw = bytearray(RUN("QS", rl))
            qual = None
            if qual_raw is not None and rl and qual_raw[0] != 0xFF:
                qual = bytes(qual_raw).decode("latin-1").translate(_PHRED33_STR)
            rname = self.refs[ref_id][0] if 0 <= ref_id < len(self.refs) else None
            records.append([
                qname, flag, rname, pos if rname else pos, mapq, cigar,
                self.refs[rnext_id][0] if 0 <= rnext_id < len(self.refs) else None,
                pnext, tlen, seq, qual, tags, nf,
            ])

        self._resolve_mates(records)
        return [tuple(r[:12]) for r in records]

    @staticmethod
    def _qs_is_array(comp: CompressionHeader) -> bool:
        """QS stored via a byte-array codec (writer fast path) vs per-byte."""
        codec, _ = comp.data_series["QS"]
        return codec in (E_BYTE_ARRAY_LEN, E_BYTE_ARRAY_STOP)

    def _resolve_mates(self, records: list[list]) -> None:
        """Link CF_MATE_DOWNSTREAM records (spec §10.3: NF = distance to the
        next fragment; pairwise template resolution as in the reference's
        htsjdk decode path)."""
        from hadoop_bam_spark.formats.bam import cigar_ref_length

        for i, rec in enumerate(records):
            nf = rec[12]
            if nf is None:
                continue
            j = i + nf + 1
            if j >= len(records):
                continue
            mate = records[j]
            rec[6], rec[7] = mate[2], mate[3]  # rnext, pnext
            mate[6], mate[7] = rec[2], rec[3]
            rec[1] |= (0x20 if mate[1] & 0x10 else 0) | (0x8 if mate[1] & 0x4 else 0)
            mate[1] |= (0x20 if rec[1] & 0x10 else 0) | (0x8 if rec[1] & 0x4 else 0)
            if rec[2] is not None and rec[2] == mate[2]:
                end_i = rec[3] + cigar_ref_length(rec[5]) - 1
                end_j = mate[3] + cigar_ref_length(mate[5]) - 1
                tlen = max(end_i, end_j) - min(rec[3], mate[3]) + 1
                if rec[3] <= mate[3]:
                    rec[8], mate[8] = tlen, -tlen
                else:
                    rec[8], mate[8] = -tlen, tlen


# ---------------------------------------------------------------------------
# Writer (CRAM 3.0, conservative subset: multiref single-slice containers,
# absolute positions, detached mates, names preserved, RR=false — sequences
# verbatim via 'b'/BA so no reference is needed, the same shape htslib
# produces under no_ref. Reference writer contract: CRAMRecordWriter.java:74-121.)
# ---------------------------------------------------------------------------

_WRITER_FILE_ID = b"hadoop_bam_spark/cram".ljust(20, b"\x00")[:20]

#: fixed content ids for the standard data series (tag blocks use the
#: spec's packed 3-byte ids, which start at 0x410000 — no collision)
_SERIES_IDS = {
    k: i + 1
    for i, k in enumerate(
        ["BF", "CF", "RI", "RL", "AP", "RG", "RN", "MF", "NS", "NP", "TS",
         "TL", "FN", "FC", "FP", "DL", "BA", "QS", "IN", "SC", "HC", "PD",
         "RS", "BB", "BS", "MQ", "QQ"]
    )
}

#: external block content id this writer uses for an embedded reference
#: (spec just says "a block id named by the slice header" — readers,
#: including this one, locate it via the header field, so the value only
#: needs to avoid the data-series ids above and the (tag<<16|type) range)
EMBEDDED_REF_CONTENT_ID = 100
_INT_SERIES = {"BF", "CF", "RI", "RL", "AP", "RG", "MF", "NS", "NP", "TS",
               "TL", "FN", "FP", "DL", "HC", "PD", "RS", "MQ"}
_BYTE_SERIES = {"FC", "BA", "QS", "BS"}
_ARRAY_SERIES = {"RN", "IN", "SC", "BB", "QQ"}

_CIGAR_CONSUME_READ = set("MIS=X")

#: parsed-cigar memo (encode hot path: real lanes repeat a handful of
#: cigar shapes — "100M" dominates); cleared when unbounded growth looms
_CIGAR_MEMO: dict = {}


def _cigar_ops_cached(cigar: str):
    """-> (ops, query_len, ref_len), memoized per cigar string."""
    got = _CIGAR_MEMO.get(cigar)
    if got is None:
        if len(_CIGAR_MEMO) > 65536:
            _CIGAR_MEMO.clear()
        ops = _cigar_ops(cigar)
        got = _CIGAR_MEMO[cigar] = (
            ops,
            sum(n for n, op in ops if op in _CIGAR_CONSUME_READ),
            sum(n for n, op in ops if op in "MDN=X"),
        )
    return got


def _cigar_ops(cigar: str) -> list[tuple[int, str]]:
    ops, num = [], 0
    for ch in cigar:
        if ch.isdigit():
            num = num * 10 + ord(ch) - 48
        else:
            ops.append((num, ch))
            num = 0
    return ops


def cigar_query_length(cigar: Optional[str]) -> int:
    if not cigar:
        return 0
    return sum(n for n, op in _cigar_ops(cigar) if op in _CIGAR_CONSUME_READ)


def write_file_definition(fh: BinaryIO, major: int = 3, minor: int = 0) -> None:
    fh.write(CRAM_MAGIC + bytes([major, minor]) + _WRITER_FILE_ID)


def encode_header_container(header_text: str, major: int = 3) -> bytes:
    """SAM-header container (first container of the file, spec §7)."""
    payload = struct.pack("<i", len(header_text)) + header_text.encode()
    block = Block(M_RAW, CT_FILE_HEADER, 0, payload).serialize(major)
    hdr = ContainerHeader(
        length=len(block), ref_seq_id=0, start=0, span=0, n_records=0,
        record_counter=0, n_bases=0, n_blocks=1, landmarks=[0], header_size=0,
    )
    return hdr.serialize(major) + block


#: substitution code for (ref_base, read_base) under the fixed matrix
#: 0x1b per ref row: code j == index of the read base in ACGTN-minus-ref.
def _sub_code(ref_base: str, read_base: str):
    r = "ACGTN".find(ref_base)
    if r < 0:
        r = 4
    j = _SUB_ALTS["ACGTN"[r]].find(read_base)
    return j if j >= 0 else None


def encode_container(rows: list[tuple], ref_index: dict[str, int],
                     record_counter: int, major: int = 3,
                     ref_fasta: Optional[FastaRef] = None,
                     ref_names: Optional[list[str]] = None,
                     records_per_slice: int = 10000,
                     gzip_level: int = 6,
                     qual_mode: str = "stored",
                     embed_reference: bool = False,
                     codecs: str = "gzip") -> bytes:
    """One container (1..N slices of <= ``records_per_slice`` records
    each, the samtools/htsjdk layout) from SAM-schema tuples.

    With ``ref_fasta`` (+ ``ref_names``, id -> contig name), mapped M/=/X
    stretches are reference-compressed (RR=true): matching bases are
    implicit, mismatches become 'X' substitution codes against the fixed
    matrix, and only bases the matrix cannot express fall back to verbatim
    single-base 'b' features — the same reference-based encode htsjdk
    defaults to (CRAMRecordWriter.java:74-121). Without it, sequences go
    verbatim (RR=false, the htslib no_ref shape).

    ``qual_mode="qq"`` stores mapped-record qualities as a single 'q'
    (QQ stretch) feature at position 1 instead of a stored QS array —
    a spec-valid alternate layout (§10.5) used as the interop test
    vector for the QQ decode paths; unmapped records keep QS storage
    (features are mapped-only).
    """
    from hadoop_bam_spark.formats.bam import _encode_tag_value, cigar_ref_length

    # tag-line dictionary is CONTAINER-scoped (TL indexes resolve through
    # the one compression header all slices share)
    tag_lines: list[tuple] = []
    line_index: dict[tuple, int] = {}

    def match_features(feats, read_pos, ref_id, ref_pos, bases):
        """Emit features for an M/=/X stretch against the reference."""
        name = ref_names[ref_id] if ref_names and 0 <= ref_id < len(ref_names) else None
        refseq = ""
        if name is not None:
            refseq = ref_fasta.window(
                name, ref_pos, ref_pos + len(bases) - 1
            ).decode("latin-1")
        for i, rb in enumerate(bases):
            fb = refseq[i] if i < len(refseq) else ""
            if rb == fb:
                continue  # implicit match — the whole point of RR=true
            code = _sub_code(fb, rb) if fb else None
            if code is not None:
                feats.append((read_pos + i, "X", code))
            else:  # base the matrix can't express (or past contig end)
                feats.append((read_pos + i, "b", rb))

    def encode_slice(chunk: list[tuple], allow_by_ref: bool = True) -> dict:
        """Per-record encode of one slice's records into its own stream
        set (each slice carries its own core/external blocks)."""
        ints: dict[str, bytearray] = {k: bytearray() for k in _INT_SERIES}
        bytestreams: dict[str, bytearray] = {k: bytearray() for k in _BYTE_SERIES}
        arrays: dict[str, bytearray] = {k: bytearray() for k in _ARRAY_SERIES}
        tag_blocks: dict[tuple[str, str], bytearray] = {}
        n_bases = 0

        def put_int(key, v):
            ints[key] += (_ITF8_SMALL[v] if 0 <= v < 128 else write_itf8(v))

        # alignment footprint for single-reference slice stamping: when
        # every record maps to ONE ref, the slice header carries the real
        # (ref, start, span) so a .crai built from headers can prune
        # interval queries; mixed/unmapped content stays multiref (-2),
        # the htslib no_ref shape
        seen_refs: set = set()
        aln_min: Optional[int] = None
        aln_max: Optional[int] = None

        for row in chunk:
            (qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen,
             seq, qual, tags) = row
            flag = int(flag)
            ref_id = ref_index.get(rname, -1) if rname else -1
            cigar_ops, qlen, reflen = (
                _cigar_ops_cached(cigar) if cigar else ([], 0, 0)
            )
            rl = len(seq) if seq else qlen
            seen_refs.add(ref_id)
            if ref_id >= 0 and pos:
                end = pos + max(reflen, 1) - 1
                aln_min = pos if aln_min is None else min(aln_min, pos)
                aln_max = end if aln_max is None else max(aln_max, end)
            if seq and cigar and not flag & 0x4:
                if qlen != len(seq):
                    raise ValueError(
                        f"cigar {cigar!r} query length {qlen} != seq length {len(seq)}"
                    )
            n_bases += rl
            qual_as_feature = (
                qual_mode == "qq" and qual is not None and not flag & 0x4
            )
            cf = CF_DETACHED
            if qual is not None and not qual_as_feature:
                cf |= CF_QUAL_STORED
            if seq is None:
                cf |= CF_NO_SEQ
            put_int("BF", flag)
            put_int("CF", cf)
            put_int("RI", ref_id)
            put_int("RL", rl)
            put_int("AP", pos or 0)
            put_int("RG", -1)
            arrays["RN"] += (qname or "").encode("latin-1") + b"\x00"
            put_int("MF", (1 if flag & 0x20 else 0) | (2 if flag & 0x8 else 0))
            put_int("NS", ref_index.get(rnext, -1) if rnext else -1)
            put_int("NP", pnext or 0)
            put_int("TS", tlen or 0)
            # tag line
            encoded_tags = []
            for tag, v in (tags or {}).items():
                wire = _encode_tag_value(tag, v)
                encoded_tags.append((tag, chr(wire[2]), wire[3:]))
            line_key = tuple((t, ty) for t, ty, _ in encoded_tags)
            tl = line_index.get(line_key)
            if tl is None:
                tl = line_index[line_key] = len(tag_lines)
                tag_lines.append(line_key)
            put_int("TL", tl)
            for tag, ty, val in encoded_tags:
                blk = tag_blocks.setdefault((tag, ty), bytearray())
                blk += write_itf8(len(val)) + val
            if not flag & 0x4:  # mapped: features from the cigar
                # reference-compress only when the record actually has a place
                # on the reference
                by_ref = (allow_by_ref and ref_fasta is not None
                          and ref_id >= 0 and (pos or 0) >= 1)
                feats = []
                read_pos = 1
                ref_pos = pos or 1
                if cigar:
                    for n, op in _cigar_ops(cigar):
                        if op in "M=X":
                            if seq is not None:
                                bases = seq[read_pos - 1 : read_pos - 1 + n]
                                if by_ref:
                                    match_features(feats, read_pos, ref_id,
                                                   ref_pos, bases)
                                else:
                                    feats.append((read_pos, "b", bases))
                            read_pos += n
                            ref_pos += n
                        elif op == "I":
                            b = seq[read_pos - 1 : read_pos - 1 + n] if seq else "N" * n
                            feats.append((read_pos, "I", b))
                            read_pos += n
                        elif op == "S":
                            b = seq[read_pos - 1 : read_pos - 1 + n] if seq else "N" * n
                            feats.append((read_pos, "S", b))
                            read_pos += n
                        elif op == "D":
                            feats.append((read_pos, "D", n))
                            ref_pos += n
                        elif op == "N":
                            feats.append((read_pos, "N", n))
                            ref_pos += n
                        elif op == "H":
                            feats.append((read_pos, "H", n))
                        elif op == "P":
                            feats.append((read_pos, "P", n))
                        else:
                            raise ValueError(f"unsupported cigar op {op!r}")
                elif seq is not None:
                    if by_ref:
                        match_features(feats, 1, ref_id, ref_pos, seq)
                    else:
                        feats.append((1, "b", seq))
                if qual_as_feature:
                    # whole-read QQ stretch at position 1; must lead so FP
                    # deltas stay non-negative for the cigar features after it
                    feats.insert(0, (1, "q", qual))
                put_int("FN", len(feats))
                prev = 0
                for fpos, fc, val in feats:
                    bytestreams["FC"].append(ord(fc))
                    put_int("FP", fpos - prev)
                    prev = fpos
                    if fc in "bIS":
                        arrays["BB" if fc == "b" else ("IN" if fc == "I" else "SC")] += (
                            val.encode("latin-1") + b"\x00"
                        )
                    elif fc == "X":
                        bytestreams["BS"].append(val)
                    elif fc == "D":
                        put_int("DL", val)
                    elif fc == "N":
                        put_int("RS", val)
                    elif fc == "H":
                        put_int("HC", val)
                    elif fc == "P":
                        put_int("PD", val)
                    elif fc == "q":
                        qq = _phred_encode(val)
                        arrays["QQ"] += write_itf8(len(qq)) + qq
                put_int("MQ", mapq or 0)
                if qual is not None and not qual_as_feature:
                    bytestreams["QS"] += _phred_encode(qual)
            else:  # unmapped
                if seq is not None:
                    bytestreams["BA"] += seq.encode("latin-1")
                if qual is not None:
                    bytestreams["QS"] += _phred_encode(qual)


        return dict(
            ints=ints, bytestreams=bytestreams, arrays=arrays,
            tag_blocks=tag_blocks, n_bases=n_bases, seen_refs=seen_refs,
            aln_min=aln_min, aln_max=aln_max, n=len(chunk),
        )

    step = max(records_per_slice, 1)
    chunks = [rows[i : i + step] for i in range(0, len(rows), step)] or [rows]

    def _chunk_allows_by_ref(chunk) -> bool:
        # Under embed_reference the output must be SELF-CONTAINED: a
        # multiref slice has no single [start, span] window to embed, so
        # its records encode verbatim instead of reference-compressed —
        # otherwise a reader without the FASTA could not reconstruct them.
        if not embed_reference or ref_fasta is None:
            return True
        rids = {
            (ref_index.get(r[2], -1) if r[2] else -1) for r in chunk
        }
        return len(rids) == 1 and min(rids) >= 0

    slices = [encode_slice(c, _chunk_allows_by_ref(c)) for c in chunks]
    if embed_reference and ref_fasta is not None:
        attach_embedded_refs(
            slices, lambda rid, lo, hi: ref_fasta.window(
                ref_names[rid], lo, hi
            ) if ref_names and 0 <= rid < len(ref_names) else None,
        )
    return assemble_container(
        slices, tag_lines, len(rows), record_counter, major,
        rr=ref_fasta is not None, gzip_level=gzip_level, codecs=codecs,
    )


def attach_embedded_refs(slices: list[dict], window_fn) -> None:
    """Attach the [aln_min, aln_max] reference window to every SINGLE-REF
    slice dict (spec §8.5 embedded reference) so readers need no FASTA.
    ``window_fn(rid, lo, hi) -> bytes | None`` supplies the bases —
    shared by the scalar path (FastaRef.window) and the column encoder
    (contig-array slice), so both embed identical bytes. Multiref /
    unmapped slices are left alone (they have no single window; their
    records either carry verbatim bases or need no reference)."""
    for sl in slices:
        if (len(sl["seen_refs"]) == 1 and sl["aln_min"] is not None
                and min(sl["seen_refs"]) >= 0):
            rid = next(iter(sl["seen_refs"]))
            emb = window_fn(int(rid), sl["aln_min"], sl["aln_max"])
            if emb is not None:
                sl["embed_ref"] = emb


#: data series offered to the rANS codec under ``codecs="auto"``: the
#: quality/flag class htsjdk routes to rANS behind
#: CRAMRecordWriter.java:74-121 — per-base quals (QS, length-prefixed QQ),
#: flags (BF/CF/MF), feature codes (FC), substitution codes (BS), mapq
#: (MQ). Base series (BA/BB) and name/tag text stay gzip: LZ matches beat
#: order-0 entropy there.
_RANS_CANDIDATE_SERIES = {"QS", "QQ", "BF", "CF", "MF", "FC", "BS", "MQ"}
_RANS_MIN_BLOCK = 1024  # below this the freq table overhead dominates


def assemble_container(
    slices: list[dict],
    tag_lines: list[tuple],
    n_rows: int,
    record_counter: int,
    major: int = 3,
    rr: bool = False,
    gzip_level: int = 6,
    codecs: str = "gzip",
) -> bytes:
    """Compression header + slice blocks + container header from per-slice
    stream dicts (the shape ``encode_slice`` produces). Shared by the
    scalar path above and the vectorized column encoder
    (formats/cram_venc.py), so both produce identical container bytes for
    identical streams.

    ``codecs="auto"`` additionally offers rANS-4x8 order-0 to the
    quality/flag-class series (``_RANS_CANDIDATE_SERIES``) and keeps
    whichever encoding MEASURES smaller per block — the per-series
    selection htsjdk performs, by trial instead of heuristic. gzip stays
    the default because the pure-Python rANS encoder runs ~3.5 MB/s
    single-thread (FORMAT_BENCH.md r9); flip it on when output size
    matters more than write throughput."""
    # --- compression header -------------------------------------------------
    td = b"".join(
        b"".join(t.encode("latin-1") + ty.encode("latin-1") for t, ty in line) + b"\x00"
        for line in tag_lines
    )
    pres = bytearray()
    pres += b"RN" + b"\x01"
    pres += b"AP" + b"\x00"
    pres += b"RR" + (b"\x01" if rr else b"\x00")
    pres += b"SM" + b"\x1b\x1b\x1b\x1b\x1b"
    pres += b"TD" + write_itf8(len(td)) + td
    pres_map = write_itf8(5) + pres  # n entries then entries; prefix size below

    def encoding_external(cid: int) -> bytes:
        params = write_itf8(cid)
        return write_itf8(E_EXTERNAL) + write_itf8(len(params)) + params

    def encoding_stop(stop: int, cid: int) -> bytes:
        params = bytes([stop]) + write_itf8(cid)
        return write_itf8(E_BYTE_ARRAY_STOP) + write_itf8(len(params)) + params

    ds = bytearray()
    n_ds = 0
    for key in _SERIES_IDS:
        cid = _SERIES_IDS[key]
        if key == "QQ":
            # quality bytes may legitimately be 0x00 (phred 0), so a stop
            # byte can't delimit them — length-prefixed like tag values
            nested = encoding_external(cid) + encoding_external(cid)
            enc = (write_itf8(E_BYTE_ARRAY_LEN)
                   + write_itf8(len(nested)) + nested)
        elif key in _ARRAY_SERIES:
            enc = encoding_stop(0x00, cid)
        else:
            enc = encoding_external(cid)
        ds += key.encode("latin-1") + enc
        n_ds += 1
    ds_map = write_itf8(n_ds) + ds

    all_tags = sorted(set().union(*[set(sl["tag_blocks"]) for sl in slices]))
    tg = bytearray()
    for (tag, ty) in all_tags:
        kv = (ord(tag[0]) << 16) | (ord(tag[1]) << 8) | ord(ty)
        nested = encoding_external(kv) + encoding_external(kv)
        params = nested
        tg += write_itf8(kv) + write_itf8(E_BYTE_ARRAY_LEN) + write_itf8(len(params)) + params
    tg_map = write_itf8(len(all_tags)) + tg

    comp_data = (
        write_itf8(len(pres_map)) + pres_map
        + write_itf8(len(ds_map)) + ds_map
        + write_itf8(len(tg_map)) + tg_map
    )
    comp_block = Block(
        M_GZIP, CT_COMPRESSION_HEADER, 0, bytes(comp_data)
    ).serialize(major, gzip_level)

    # --- per-slice blocks + headers -----------------------------------------
    core_block = Block(M_RAW, CT_CORE, 0, b"").serialize(major)
    parts: list[bytes] = []
    landmarks: list[int] = []
    at = len(comp_block)
    counter = record_counter
    total_bases = 0
    total_blocks = 1  # compression header block
    union_refs: set = set()
    cmin: Optional[int] = None
    cmax: Optional[int] = None
    for sl in slices:
        ext_blocks: list[tuple[int, bytes]] = []
        for key, cid in _SERIES_IDS.items():
            data = (sl["ints"].get(key) or sl["bytestreams"].get(key)
                    or sl["arrays"].get(key) or b"")
            ext_blocks.append((cid, bytes(data)))
        for (tag, ty) in sorted(sl["tag_blocks"]):
            kv = (ord(tag[0]) << 16) | (ord(tag[1]) << 8) | ord(ty)
            ext_blocks.append((kv, bytes(sl["tag_blocks"][(tag, ty)])))
        # single-ref slice when every record maps to one reference
        # (htsjdk's sorted-output shape — enables .crai interval pruning);
        # anything mixed or unmapped stays multiref (htslib no_ref shape)
        if (len(sl["seen_refs"]) == 1 and sl["aln_min"] is not None
                and min(sl["seen_refs"]) >= 0):
            sl_ref = next(iter(sl["seen_refs"]))
            sl_start, sl_span = sl["aln_min"], sl["aln_max"] - sl["aln_min"] + 1
        else:
            sl_ref, sl_start, sl_span = -2, 0, 0
        # embedded reference (spec §8.5): the producer attached the ref
        # window covering [aln_min, aln_max]; only meaningful for a
        # single-ref slice, where decode indexes it from sh.start
        embed_id = 0xFFFFFFFF
        emb = sl.get("embed_ref")
        if emb is not None and sl_ref >= 0:
            embed_id = EMBEDDED_REF_CONTENT_ID
            ext_blocks.append((embed_id, bytes(emb)))
        rans_cids = (
            {_SERIES_IDS[k] for k in _RANS_CANDIDATE_SERIES}
            if codecs == "auto"
            else frozenset()
        )

        def _ext(cid: int, data: bytes) -> bytes:
            if not data:
                return Block(M_RAW, CT_EXTERNAL, cid, data).serialize(major)
            g = Block(M_GZIP, CT_EXTERNAL, cid, data).serialize(
                major, gzip_level
            )
            if cid in rans_cids and len(data) >= _RANS_MIN_BLOCK:
                r = Block(M_RANS, CT_EXTERNAL, cid, data).serialize(major)
                if len(r) < len(g):
                    return r
            return g

        ext_serialized = [_ext(cid, data) for cid, data in ext_blocks]
        union_refs |= sl["seen_refs"]
        if sl_ref >= 0:
            cmin = sl_start if cmin is None else min(cmin, sl_start)
            e = sl_start + sl_span - 1
            cmax = e if cmax is None else max(cmax, e)

        slice_hdr = bytearray()
        slice_hdr += write_itf8(sl_ref & 0xFFFFFFFF)  # -2 multiref else ref
        slice_hdr += write_itf8(sl_start)
        slice_hdr += write_itf8(sl_span)
        slice_hdr += write_itf8(sl["n"])
        slice_hdr += write_ltf8(counter)
        slice_hdr += write_itf8(1 + len(ext_serialized))  # core + external
        slice_hdr += write_itf8(len(ext_blocks))
        for cid, _ in ext_blocks:
            slice_hdr += write_itf8(cid)
        slice_hdr += write_itf8(embed_id)  # embedded-ref block id or -1
        slice_hdr += bytes(16)  # md5 unset (all-zero = "not known")
        slice_block = Block(
            M_RAW, CT_SLICE_HEADER, 0, bytes(slice_hdr)
        ).serialize(major)

        part = slice_block + core_block + b"".join(ext_serialized)
        landmarks.append(at)
        at += len(part)
        parts.append(part)
        counter += sl["n"]
        total_bases += sl["n_bases"]
        total_blocks += 2 + len(ext_serialized)  # slice hdr + core + ext

    # container footprint: single-ref only when EVERY slice is single-ref
    # on the same reference
    if (len(union_refs) == 1 and cmin is not None and min(union_refs) >= 0
            and all(sl["aln_min"] is not None and len(sl["seen_refs"]) == 1
                    for sl in slices)):
        ctr_ref = next(iter(union_refs))
        ctr_start, ctr_span = cmin, cmax - cmin + 1
    else:
        ctr_ref, ctr_start, ctr_span = -2, 0, 0

    body = comp_block + b"".join(parts)
    chdr = ContainerHeader(
        length=len(body), ref_seq_id=ctr_ref, start=ctr_start, span=ctr_span,
        n_records=n_rows,
        record_counter=record_counter, n_bases=total_bases,
        n_blocks=total_blocks, landmarks=landmarks,
        header_size=0,
    )
    return chdr.serialize(major) + body


# ---------------------------------------------------------------------------
# File-level helpers (driver planning + tests)
# ---------------------------------------------------------------------------

def read_cram_file_header(path: str, open_fn=open):
    """-> (major, header_text, refs, read_groups, first_container_offset)."""
    from hadoop_bam_spark.formats.sam import parse_header

    with open_fn(path, "rb") as fh:
        major, _ = read_file_definition(fh)
        text, pos = read_sam_header_text(fh, major)
    hdr = parse_header(text.splitlines(True))
    ordered = sorted(hdr.sequences.items(), key=lambda kv: kv[1][0])
    refs = [(name, ln) for name, (_, ln) in ordered]
    return major, text, refs, _parse_rgs(text), pos


# Bounded container read-ahead for decode_file: same 48 MB pattern as
# sources/cram_source.py:_READAHEAD_BYTES — batch every rANS block of a
# chunk into one decode_batch call without ever materializing more than
# one chunk's container bodies (keeps the generator lazy for streaming /
# early-exit consumers).
_DECODE_FILE_READAHEAD = 48 << 20


def decode_file(path: str, reference: Optional[str] = None,
                open_fn=open) -> Iterator[tuple]:
    """All records of a CRAM file (test/convenience path)."""
    major, _text, refs, rgs, _pos = read_cram_file_header(path, open_fn)
    ref_fasta = FastaRef(reference, open_fn) if reference else None
    dec = ContainerDecoder(major, refs, ref_fasta=ref_fasta, read_groups=rgs)
    offsets = list(iter_container_offsets(path, open_fn))
    with open_fn(path, "rb") as fh:
        i = 0
        while i < len(offsets):
            batch: list = []
            total = 0
            while i < len(offsets) and total < _DECODE_FILE_READAHEAD:
                off, chdr = offsets[i]
                fh.seek(off + chdr.header_size)
                batch.append((chdr, fh.read(chdr.length)))
                total += chdr.length
                i += 1
            caches = batch_rans_caches([b for _, b in batch], major)
            for (chdr, body), cache in zip(batch, caches):
                yield from dec.decode(body, chdr, cache)
