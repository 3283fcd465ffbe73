"""BGZF (Blocked GZip Format) codec — Python over libdeflate or zlib, no
htsjdk/pysam.

BGZF is a sequence of independent gzip members (max 64 KiB of uncompressed
payload each) whose compressed size is recorded in the gzip FEXTRA field
(subfield id ``BC``). Because every block is self-contained, a byte range of
a BGZF file can be decompressed independently once it is aligned to a block
boundary — this is what makes BAM/VCF.bgz splittable in parallel scans.

Reference semantics reproduced here (behavior, not code):
- block layout + BC subfield parsing: the split guesser's magic/XLEN checks
  (reference util/BGZFSplitGuesser.java:64-168);
- virtual offsets ``(compressedOffset << 16) | intraBlockOffset``
  (reference FileVirtualSplit.java:73-78);
- split alignment = "scan forward for the first provable block start",
  proven by decompressing the candidate block and checking the next header
  follows immediately (reference util/BGZFSplitGuesser.java:88-150);
- terminator-less part files + a 28-byte EOF block appended at merge time
  (reference BAMRecordWriter.java:128-140, util/SAMFileMerger.java:70-103).
"""

from __future__ import annotations

import ctypes
import os
import struct
import threading
import zlib
from dataclasses import dataclass
from typing import BinaryIO, Iterator, Optional

#: Max uncompressed payload per block (format constant, 0xff00 used by htslib
#: to leave headroom for incompressible data; 0xffff is the hard cap).
MAX_BLOCK_PAYLOAD = 0xFF00

#: The canonical 28-byte BGZF EOF marker block (empty payload).
BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)

_HEADER = struct.Struct("<4BI2B2H")  # magic(4) mtime xfl os xlen
_BC_SUBFIELD = struct.Struct("<2sH")  # 'BC' + slen
_MAGIC = b"\x1f\x8b\x08\x04"


def make_voffset(coffset: int, uoffset: int) -> int:
    """Virtual offset: compressed block start << 16 | intra-block offset."""
    return (coffset << 16) | (uoffset & 0xFFFF)


def split_voffset(voffset: int) -> tuple[int, int]:
    return voffset >> 16, voffset & 0xFFFF


# ---------------------------------------------------------------------------
# Deflate codec. libdeflate, the library htslib builds its BGZF on, deflates
# about three times and inflates about twice as fast as zlib at the same
# level; zlib stays as the fallback. Both write raw deflate that either one
# inflates, but their compressed bytes differ, so a file's bytes depend on
# which codec this process engaged (see codec()).
# ---------------------------------------------------------------------------

#: Largest BGZF block (BSIZE is a uint16 of size - 1), and so also the
#: largest payload an ISIZE field may declare.
MAX_BLOCK_SIZE = 0x10000
#: Largest raw-deflate body that still fits one block with its 26 bytes of
#: header and footer.
_MAX_DEFLATED = MAX_BLOCK_SIZE - 26

_LIBDEFLATE = "libdeflate.so.0"
#: libdeflate_result codes other than LIBDEFLATE_SUCCESS (0)
_INFLATE_ERRORS = {1: "BAD_DATA", 2: "SHORT_OUTPUT", 3: "INSUFFICIENT_SPACE"}

_lock = threading.Lock()
_lib = None          # ctypes handle once loaded
_failed = False      # sticky: a process never retries a failed load
_local = threading.local()


def _open_libdeflate():
    """The system libdeflate with its prototypes declared, or None."""
    sz, vp = ctypes.c_size_t, ctypes.c_void_p
    try:
        lib = ctypes.CDLL(_LIBDEFLATE)
        lib.libdeflate_alloc_compressor.argtypes = [ctypes.c_int]
        lib.libdeflate_alloc_compressor.restype = vp
        lib.libdeflate_alloc_decompressor.argtypes = []
        lib.libdeflate_alloc_decompressor.restype = vp
        lib.libdeflate_free_compressor.argtypes = [vp]
        lib.libdeflate_free_compressor.restype = None
        lib.libdeflate_free_decompressor.argtypes = [vp]
        lib.libdeflate_free_decompressor.restype = None
        lib.libdeflate_deflate_compress.argtypes = [vp, ctypes.c_char_p, sz, vp, sz]
        lib.libdeflate_deflate_compress.restype = sz
        lib.libdeflate_deflate_decompress.argtypes = [
            vp, ctypes.c_char_p, sz, vp, sz, ctypes.POINTER(sz)]
        lib.libdeflate_deflate_decompress.restype = ctypes.c_int
        lib.libdeflate_crc32.argtypes = [ctypes.c_uint32, vp, sz]
        lib.libdeflate_crc32.restype = ctypes.c_uint32
    except (OSError, AttributeError):
        return None
    return lib


def _load():
    """libdeflate, loaded once per process; None when the library is absent
    or ``SPARK_GRAFT_NO_NATIVE`` is set, and then zlib does the work."""
    global _lib, _failed
    if _lib is not None or _failed:
        return _lib
    with _lock:
        if _lib is None and not _failed:
            if not os.environ.get("SPARK_GRAFT_NO_NATIVE"):
                _lib = _open_libdeflate()
            _failed = _lib is None
    return _lib


def codec() -> str:
    """The deflate codec this process engaged: ``"libdeflate"`` or
    ``"zlib"``."""
    return "zlib" if _load() is None else "libdeflate"


class _ThreadCodec:
    """One thread's libdeflate handles and output buffer: libdeflate's
    compressors and decompressors must not be shared between threads."""

    def __init__(self, lib):
        self._lib = lib
        self._compressors: dict = {}
        self.decompressor = lib.libdeflate_alloc_decompressor()
        if not self.decompressor:
            raise MemoryError("libdeflate_alloc_decompressor")
        self.out = ctypes.create_string_buffer(MAX_BLOCK_SIZE)
        self.n_out = ctypes.c_size_t()

    def compressor(self, level: int):
        c = self._compressors.get(level)
        if c is None:
            c = self._lib.libdeflate_alloc_compressor(level)
            if not c:
                raise ValueError(f"libdeflate has no compression level {level}")
            self._compressors[level] = c
        return c

    def __del__(self):
        for c in self._compressors.values():
            self._lib.libdeflate_free_compressor(c)
        if self.decompressor:
            self._lib.libdeflate_free_decompressor(self.decompressor)


def _thread_codec(lib) -> _ThreadCodec:
    tc = getattr(_local, "codec", None)
    if tc is None:
        tc = _local.codec = _ThreadCodec(lib)
    return tc


def compress_block(payload: bytes, level: int = 6) -> bytes:
    """One complete BGZF block for <= 64 KiB of payload."""
    if len(payload) > 0xFFFF:
        raise ValueError(f"BGZF block payload {len(payload)} > 65535")
    lib = _load()
    if lib is None:
        co = zlib.compressobj(level, zlib.DEFLATED, -15)
        deflated = co.compress(payload) + co.flush()
        crc = zlib.crc32(payload)
    else:
        payload = bytes(payload)  # ctypes takes bytes, zlib any buffer
        tc = _thread_codec(lib)
        n = lib.libdeflate_deflate_compress(
            tc.compressor(level), payload, len(payload), tc.out, _MAX_DEFLATED)
        if n == 0:
            raise ValueError(
                f"libdeflate could not fit {len(payload)} bytes in one BGZF block")
        deflated = ctypes.string_at(tc.out, n)
        crc = lib.libdeflate_crc32(0, payload, len(payload))
    if len(deflated) > _MAX_DEFLATED:
        raise ValueError(f"deflated BGZF block {len(deflated)} > {_MAX_DEFLATED}")
    bsize = len(deflated) + 25 + 1  # header(12) + BC(6) + crc(4) + isize(4)
    header = _MAGIC + struct.pack(
        "<IBBH", 0, 0, 0xFF, 6
    ) + _BC_SUBFIELD.pack(b"BC", 2) + struct.pack("<H", bsize - 1)
    footer = struct.pack("<II", crc, len(payload))
    return header + deflated + footer


def block_size_at(buf: bytes, off: int = 0) -> Optional[int]:
    """Total compressed size of the block starting at ``buf[off]``, or None
    if the bytes there are not a valid BGZF block header."""
    if len(buf) - off < 18:
        return None
    if buf[off : off + 4] != _MAGIC:
        return None
    xlen = struct.unpack_from("<H", buf, off + 10)[0]
    if len(buf) - off < 12 + xlen:
        return None
    # Walk the FEXTRA subfields looking for BC.
    p, end = off + 12, off + 12 + xlen
    while p + 4 <= end:
        si1, si2, slen = buf[p], buf[p + 1], struct.unpack_from("<H", buf, p + 2)[0]
        if si1 == 0x42 and si2 == 0x43 and slen == 2:
            if p + 6 > end:
                return None
            return struct.unpack_from("<H", buf, p + 4)[0] + 1
        p += 4 + slen
    return None


def decompress_block(buf: bytes, off: int = 0) -> tuple[bytes, int]:
    """Decompress the block at ``buf[off]`` -> (payload, total_block_size).

    Raises ValueError on malformed data (used by the guesser to reject
    false-positive magic hits), whichever codec inflates it.
    """
    bsize = block_size_at(buf, off)
    if bsize is None or off + bsize > len(buf):
        raise ValueError("not a complete BGZF block")
    xlen = struct.unpack_from("<H", buf, off + 10)[0]
    data_start = off + 12 + xlen
    crc, isize = struct.unpack_from("<II", buf, off + bsize - 8)
    if isize > MAX_BLOCK_SIZE:
        raise ValueError(f"BGZF ISIZE {isize} > {MAX_BLOCK_SIZE}")
    data = bytes(buf[data_start : off + bsize - 8])  # no copy when buf is bytes
    lib = _load()
    if lib is None:
        try:
            payload = zlib.decompress(data, -15)
        except zlib.error as e:
            raise ValueError(f"BGZF block does not inflate: {e}") from None
        payload_crc = zlib.crc32(payload)
    else:
        tc = _thread_codec(lib)
        # the output buffer is the format's maximum, never the header's ISIZE
        rc = lib.libdeflate_deflate_decompress(
            tc.decompressor, data, len(data), tc.out, MAX_BLOCK_SIZE,
            ctypes.byref(tc.n_out))
        if rc:
            raise ValueError(
                f"BGZF block does not inflate: libdeflate {_INFLATE_ERRORS.get(rc, rc)}")
        payload = ctypes.string_at(tc.out, tc.n_out.value)
        payload_crc = lib.libdeflate_crc32(0, payload, len(payload))
    if len(payload) != isize or payload_crc != crc:
        raise ValueError("BGZF block CRC/ISIZE mismatch")
    return payload, bsize


def is_bgzf(head: bytes) -> bool:
    """Sniff whether a gzip stream is BGZF (the reference's enhanced-gzip
    dispatch, util/BGZFEnhancedGzipCodec.java:41-75)."""
    return block_size_at(head) is not None


def guess_next_block_start(buf: bytes, start: int = 0) -> Optional[int]:
    """First provable BGZF block boundary at or after ``start`` in ``buf``.

    A candidate (magic match) is accepted only if its block decompresses
    cleanly AND is followed either by another valid block header or by the
    end of the buffer — the same two-block proof the reference uses
    (util/BGZFSplitGuesser.java:88-150). Returns None if no boundary is
    provable in the buffer.
    """
    pos = buf.find(_MAGIC, start)
    while pos != -1:
        try:
            _, bsize = decompress_block(buf, pos)
            nxt = pos + bsize
            if nxt == len(buf) or block_size_at(buf, nxt) is not None:
                return pos
        except ValueError:
            pass
        pos = buf.find(_MAGIC, pos + 1)
    return None


#: Worst-case bytes needed to prove a boundary: two max-size blocks.
MAX_GUESS_BYTES = 2 * 0x10000


def iter_blocks(
    f: BinaryIO, coffset: int = 0, end_coffset: Optional[int] = None
) -> Iterator[tuple[int, bytes]]:
    """Yield (compressed_offset, payload) for blocks starting in
    [coffset, end_coffset). Reads sequentially; empty (EOF) blocks yield
    empty payloads and are skipped by callers that care."""
    f.seek(coffset)
    while end_coffset is None or coffset < end_coffset:
        header = f.read(18)
        if len(header) < 18:
            return
        bsize = block_size_at(header)
        if bsize is None:
            raise ValueError(f"bad BGZF block header at {coffset}")
        rest = f.read(bsize - 18)
        payload, _ = decompress_block(header + rest)
        yield coffset, payload
        coffset += bsize


class BGZFReader:
    """Random-access reader addressed by virtual offsets."""

    def __init__(self, f: BinaryIO):
        self._f = f
        self._block_coffset = -1
        self._block: bytes = b""
        self._next_coffset = 0
        self._uoffset = 0

    def seek_voffset(self, voffset: int) -> None:
        coffset, uoffset = split_voffset(voffset)
        if coffset != self._block_coffset:
            self._load_block(coffset)
        self._uoffset = uoffset

    def tell_voffset(self) -> int:
        # At end-of-block, the canonical position is the start of the next.
        if self._block_coffset < 0:
            return make_voffset(self._next_coffset, 0)
        if self._uoffset >= len(self._block):
            return make_voffset(self._next_coffset, 0)
        return make_voffset(self._block_coffset, self._uoffset)

    def _load_block(self, coffset: int) -> bool:
        self._f.seek(coffset)
        header = self._f.read(18)
        if len(header) < 18:
            self._block_coffset = -1
            self._block = b""
            self._next_coffset = coffset
            return False
        bsize = block_size_at(header)
        if bsize is None:
            raise ValueError(f"bad BGZF block header at {coffset}")
        payload, _ = decompress_block(header + self._f.read(bsize - 18))
        self._block_coffset = coffset
        self._block = payload
        self._next_coffset = coffset + bsize
        self._uoffset = 0
        return True

    def read(self, n: int) -> bytes:
        """Read exactly n bytes (fewer only at EOF), spanning blocks."""
        out = bytearray()
        while n > 0:
            if self._block_coffset < 0 or self._uoffset >= len(self._block):
                if not self._load_block(self._next_coffset):
                    break
                # skip empty (EOF-marker) blocks
                if not self._block:
                    continue
            take = min(n, len(self._block) - self._uoffset)
            out += self._block[self._uoffset : self._uoffset + take]
            self._uoffset += take
            n -= take
        return bytes(out)


class BGZFWriter:
    """Streaming BGZF writer.

    ``write_terminator=False`` produces a headerless, terminator-less part
    that can be byte-concatenated with sibling parts and finished with a
    single EOF block — the reference's sharded-writer contract
    (BAMRecordWriter.java:128-140).
    """

    def __init__(self, f: BinaryIO, level: int = 6, write_terminator: bool = True):
        self._f = f
        self._level = level
        self._terminate = write_terminator
        self._buf = bytearray()
        self._coffset = 0  # compressed bytes written so far
        self._u_flushed = 0  # uncompressed bytes already flushed to blocks
        #: compressed start offset of each flushed block; all mid-stream
        #: blocks carry exactly MAX_BLOCK_PAYLOAD uncompressed bytes, so
        #: uncompressed position u lives in block u // MAX_BLOCK_PAYLOAD —
        #: which lets batch writers recover any record's virtual offset
        #: AFTER a bulk write instead of calling tell per record.
        self.block_coffsets: list = []
        self.closed = False

    def tell_voffset(self) -> int:
        return make_voffset(self._coffset, len(self._buf))

    @property
    def u_total(self) -> int:
        """Total uncompressed bytes written so far (flushed + buffered)."""
        return self._u_flushed + len(self._buf)

    def voffset_of_u(self, u: int) -> int:
        """Virtual offset of uncompressed stream position ``u``.

        Valid for any u <= u_total. Positions inside already-flushed blocks
        resolve via the block table; buffered-tail positions resolve against
        the current compressed offset — both match what ``tell_voffset``
        returned at the moment position u was the write cursor."""
        if u >= self._u_flushed:
            return make_voffset(self._coffset, u - self._u_flushed)
        return make_voffset(
            self.block_coffsets[u // MAX_BLOCK_PAYLOAD], u % MAX_BLOCK_PAYLOAD
        )

    def voffsets_of_u(self, u):
        """Vector form of :meth:`voffset_of_u`: int64 virtual offsets of
        the uncompressed positions ``u`` (each <= u_total)."""
        import numpy as np

        u = np.asarray(u, dtype=np.int64)
        tail = u >= self._u_flushed
        out = (self._coffset << 16) + (u - self._u_flushed)
        if not bool(tail.all()):
            head = ~tail
            blk = u[head] // MAX_BLOCK_PAYLOAD
            lo = int(blk.min())
            table = np.array(self.block_coffsets[lo : int(blk.max()) + 1],
                             dtype=np.int64)
            out[head] = (table[blk - lo] << 16) | (u[head] % MAX_BLOCK_PAYLOAD)
        return out

    def write(self, data: bytes) -> None:
        self._buf += data
        while len(self._buf) >= MAX_BLOCK_PAYLOAD:
            self._flush_block(MAX_BLOCK_PAYLOAD)

    def _flush_block(self, n: int) -> None:
        block = compress_block(bytes(self._buf[:n]), self._level)
        self.block_coffsets.append(self._coffset)
        self._f.write(block)
        self._coffset += len(block)
        self._u_flushed += n
        del self._buf[:n]

    def close(self) -> None:
        if self.closed:
            return
        if self._buf:
            self._flush_block(len(self._buf))
        if self._terminate:
            self._f.write(BGZF_EOF)
            self._coffset += len(BGZF_EOF)
        self.closed = True


def read_all(path: str, open_fn=open) -> bytes:
    """The uncompressed payload of a whole BGZF file (a .tbi or .csi)."""
    with open_fn(path, "rb") as fh:
        reader = BGZFReader(fh)
        data = bytearray()
        while chunk := reader.read(1 << 20):
            data += chunk
    return bytes(data)


def write_all(path: str, data: bytes, open_fn=open) -> None:
    """``data`` as a whole BGZF file, EOF block included."""
    with open_fn(path, "wb") as fh:
        w = BGZFWriter(fh)
        w.write(data)
        w.close()


@dataclass(frozen=True)
class BGZFSplit:
    """A planned byte range aligned to block boundaries (driver-side)."""

    path: str
    start_coffset: int
    end_coffset: int  # exclusive


def align_splits(
    path: str,
    file_size: int,
    target_split_bytes: int,
    read_range_fn,
) -> list[BGZFSplit]:
    """Plan block-aligned splits for one BGZF file.

    ``read_range_fn(path, start, length) -> bytes`` abstracts the filesystem.
    Raw byte ranges of ~target size are snapped forward to the first provable
    block boundary (reference BGZFSplitFileInputFormat.getSplits +
    BGZFSplitGuesser). Ranges that contain no boundary merge into their
    successor by construction.
    """
    if file_size <= 0:
        return []
    boundaries = [0]
    raw = target_split_bytes
    pos = raw
    while pos < file_size:
        buf = read_range_fn(path, pos, min(MAX_GUESS_BYTES, file_size - pos))
        found = guess_next_block_start(buf)
        if found is not None and pos + found < file_size:
            b = pos + found
            if b > boundaries[-1]:
                boundaries.append(b)
        pos += raw
    boundaries.append(file_size)
    return [
        BGZFSplit(path, boundaries[i], boundaries[i + 1])
        for i in range(len(boundaries) - 1)
        if boundaries[i] < boundaries[i + 1]
    ]


# ---------------------------------------------------------------------------
# .bgzfi block index (reference util/BGZFBlockIndexer.java:92-178 writes the
# big-endian 6-byte offset of every G-th block, terminated by the file
# length; util/BGZFBlockIndex.java reads it and adds offset 0). With the
# sidecar present, split alignment is a pure lookup — no data reads.
# ---------------------------------------------------------------------------

class BGZFBlockIndex:
    """Sorted block-start offsets (subset, every G-th) + file length."""

    def __init__(self, offsets: list[int], file_size: int):
        # the offset after the final block == file_size: not a block start
        self.offsets = sorted({o for o in offsets if 0 <= o < file_size} | {0})
        self.file_size = file_size

    def next_block(self, pos: int) -> Optional[int]:
        """First indexed block offset strictly after ``pos``
        (BGZFBlockIndex.nextBlock)."""
        import bisect

        i = bisect.bisect_right(self.offsets, pos)
        return self.offsets[i] if i < len(self.offsets) else None

    def prev_block(self, pos: int) -> Optional[int]:
        import bisect

        i = bisect.bisect_right(self.offsets, pos) - 1
        return self.offsets[i] if i >= 0 else None

    def write(self, fh: BinaryIO) -> None:
        """Reference layout: entries except offset 0, then file length."""
        for off in self.offsets:
            if off != 0:
                fh.write(off.to_bytes(6, "big"))
        fh.write(self.file_size.to_bytes(6, "big"))

    @classmethod
    def read(cls, fh: BinaryIO) -> "BGZFBlockIndex":
        data = fh.read()
        if len(data) < 6 or len(data) % 6:
            raise ValueError("invalid .bgzfi: not a multiple of 6 bytes")
        vals = [
            int.from_bytes(data[i : i + 6], "big") for i in range(0, len(data), 6)
        ]
        if any(a > b for a, b in zip(vals, vals[1:])):
            raise ValueError("invalid .bgzfi: offsets not in order")
        return cls(vals[:-1], vals[-1])


def build_bgzfi(path: str, granularity: int = 1024, open_fn=None) -> BGZFBlockIndex:
    """One header-skipping pass over a BGZF file -> BGZFBlockIndex (the
    offline analog of the reference's BGZFBlockIndexer main)."""
    if open_fn is None:
        from hadoop_bam_spark import fs

        open_fn = fs.open_file
    offsets = []
    pos = 0
    n = 0
    with open_fn(path, "rb") as fh:
        buf = b""
        buf_at = 0
        while True:
            if pos - buf_at + 64 > len(buf):
                fh.seek(pos)
                buf = fh.read(1 << 20)
                buf_at = pos
                if len(buf) < 18:
                    break
            bs = block_size_at(buf, pos - buf_at)
            if bs is None:
                raise ValueError(f"not a BGZF block at offset {pos}")
            n += 1
            pos += bs
            if n % granularity == 0:
                offsets.append(pos)  # offset AFTER every G-th block
    return BGZFBlockIndex(offsets, pos)


def align_splits_indexed(
    path: str, index: BGZFBlockIndex, target_split_bytes: int
) -> list[BGZFSplit]:
    """Block-aligned splits from a .bgzfi — pure lookups, zero data reads
    (reference BGZFSplitFileInputFormat with the sidecar present)."""
    file_size = index.file_size
    if file_size <= 0:
        return []
    boundaries = [0]
    pos = target_split_bytes
    while pos < file_size:
        b = index.next_block(pos - 1)
        if b is not None and boundaries[-1] < b < file_size:
            boundaries.append(b)
        pos += target_split_bytes
    boundaries.append(file_size)
    return [
        BGZFSplit(path, boundaries[i], boundaries[i + 1])
        for i in range(len(boundaries) - 1)
        if boundaries[i] < boundaries[i + 1]
    ]
