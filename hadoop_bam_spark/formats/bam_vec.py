"""Vectorized (columnar) BAM record decode — numpy over block buffers.

The scan hot loop. Instead of `struct.unpack`-per-record tuples
(formats/bam.py:decode_record — kept for encode round-trips, the split
guesser, and single-record uses), partitions decode thousands of records at
once straight into Arrow arrays:

- record bodies for a batch are joined into ONE contiguous buffer; the
  32-byte fixed prefixes (refID/pos/l_read_name/mapq/bin/n_cigar/flag/
  l_seq/next_refID/next_pos/tlen) are gathered with a single fancy-index
  and reinterpreted through a structured dtype — no per-record unpack;
- variable-width sections (qname / cigar ops / packed seq / qual) are
  gathered with one repeat/cumsum index per section and turned into Arrow
  StringArrays via ``from_buffers`` — per-record Python objects are never
  built for them;
- sequence nibbles decode via ``bytes.hex()`` + ``str.translate`` (the hex
  digit of each nibble IS its 4-bit code, so hex → base is one C-speed
  table pass);
- CIGAR text is formatted once per distinct op sequence, not per record:
  the op bytes are dictionary-encoded, only the dictionary entries are
  formatted (and cached on the decoder across batches), and a ``take`` by
  the dictionary indices puts the texts back in record order;
- residual predicates (unmapped-only, contig pre-check, interval overlap
  with CIGAR reference-length arithmetic) evaluate as numpy masks BEFORE
  any string column is built.

Fills the role of htsjdk's BAMRecordCodec inner loop behind the reference's
record reader (BAMRecordReader.java:226-235) — the reference gets this
speed from JVM bytecode; we get it from batch vectorization.
"""

from __future__ import annotations

import struct
from typing import Iterator, Optional

import numpy as np

from hadoop_bam_spark.formats import bgzf
from hadoop_bam_spark.formats.bam import CIGAR_OPS, SEQ_CODE, _decode_tags

#: The BAM fixed record prefix, exactly 32 bytes (SAM spec §4.2).
PREFIX_DTYPE = np.dtype(
    [
        ("ref_id", "<i4"),
        ("pos", "<i4"),
        ("l_read_name", "u1"),
        ("mapq", "u1"),
        ("bin", "<u2"),
        ("n_cigar", "<u2"),
        ("flag", "<u2"),
        ("l_seq", "<i4"),
        ("next_ref", "<i4"),
        ("next_pos", "<i4"),
        ("tlen", "<i4"),
    ]
)
assert PREFIX_DTYPE.itemsize == 32

#: hex digit -> base char: a packed-seq byte's hex repr is (high nibble,
#: low nibble) in order, which is exactly BAM's base order.
_HEX_TO_BASE = str.maketrans("0123456789abcdef", SEQ_CODE)

#: cigar op index -> does the op consume reference bases (M/D/N/=/X)?
_CONSUMES_REF = np.zeros(16, dtype=bool)
for _i, _c in enumerate(CIGAR_OPS):
    _CONSUMES_REF[_i] = _c in "MDN=X"

#: cigar op code -> op char; the 7 codes SAM leaves unassigned read "?"
_CIGAR_CHARS = CIGAR_OPS + "?" * (16 - len(CIGAR_OPS))

#: most distinct op sequences a decoder remembers the text of
CIGAR_CACHE_MAX = 65536


def _format_cigar(ops: bytes) -> str:
    """Packed uint32 cigar ops -> SAM cigar text."""
    return "".join(f"{op >> 4}{_CIGAR_CHARS[op & 0xF]}"
                   for op in np.frombuffer(ops, dtype="<u4").tolist())


def iter_body_batches(f, vstart: int, vend: int, batch_records: int = 8192):
    """Yield (buffer, starts, lens) batches covering every record whose
    START virtual offset is in [vstart, vend).

    Record bodies are contiguous in the decompressed BGZF payload stream, so
    a batch is simply the joined block payloads plus two int arrays marking
    each owned record's body — no per-record objects, one tight
    boundary-walking loop (read the int32 length, hop). ``buffer`` may carry
    trailing bytes past the last record (a partial next record); decoders
    only touch [start, start+len) regions. Ownership/stop handling follows
    the same voffset rule as the row path (BAMRecordReader.java:226-235).
    """
    cstart, ustart = bgzf.split_voffset(vstart)
    cend, uend = bgzf.split_voffset(vend)
    segs: list = []          # contiguous payload segments
    seg_starts: list = []    # absolute stream offset of each segment start
    blocks: list = []        # (stream_start, coffset, intra0), oldest first
    total_end = 0            # stream offset past last appended byte
    base = 0                 # stream offset of segs[0][0]
    starts: list = []
    lens: list = []
    cur = 0                  # stream offset of the next record boundary
    unpack = struct.unpack
    unpack_from = struct.unpack_from

    def read4(o: int) -> bytes:
        i = len(segs) - 1
        while seg_starts[i] > o:
            i -= 1
        out = b""
        while len(out) < 4 and i < len(segs):
            rel = o + len(out) - seg_starts[i]
            out += bytes(segs[i][rel : rel + 4 - len(out)])
            i += 1
        return out

    def flush():
        nonlocal segs, seg_starts, base, starts, lens
        joined = b"".join(segs)
        st = np.asarray(starts, dtype=np.int64) - base
        ln = np.asarray(lens, dtype=np.int64)
        starts = []
        lens = []
        rem = joined[cur - base :]
        segs = [rem] if rem else []
        seg_starts = [cur] if rem else []
        base = cur
        return joined[: len(joined)], st, ln

    stop = False
    for coffset, payload in bgzf.iter_blocks(f, cstart):
        if not payload:
            continue
        intra0 = ustart if coffset == cstart else 0
        if intra0 >= len(payload):
            continue  # start boundary canonicalizes to the next block
        if intra0:
            payload = payload[intra0:]
        segs.append(payload)
        seg_starts.append(total_end)
        blocks.append((total_end, coffset, intra0))
        total_end += len(payload)
        # prune blocks fully behind the walk cursor
        while len(blocks) > 1 and blocks[1][0] <= cur:
            blocks.pop(0)
        seg = segs[-1]
        seg_start = seg_starts[-1]
        seg_end = total_end
        while cur + 4 <= total_end:
            if coffset >= cend:
                # stop checks only matter once blocks reach the end block
                bi = len(blocks) - 1
                while blocks[bi][0] > cur:
                    bi -= 1
                bstart, bco, bintra0 = blocks[bi]
                if bco > cend or (
                    bco == cend and (cur - bstart + bintra0) >= uend
                ):
                    stop = True
                    break
            if cur >= seg_start and cur + 4 <= seg_end:
                (bs,) = unpack_from("<i", seg, cur - seg_start)
            else:
                (bs,) = unpack("<i", read4(cur))
            if cur + 4 + bs > total_end:
                break  # record not fully buffered yet
            starts.append(cur + 4)
            lens.append(bs)
            cur += 4 + bs
        if stop:
            break
        if len(starts) >= batch_records:
            yield flush()
    if starts:
        yield flush()


def iter_bodies_span(f, vstart: int, vend: int) -> Iterator:
    """Yield raw record bodies (length prefix stripped, as memoryviews or
    bytes) for every record whose START virtual offset is in [vstart, vend)
    — the split ownership rule (reference BAMRecordReader.java:226-235).

    Walks whole decompressed BGZF blocks instead of issuing two
    ``BGZFReader.read`` calls per record; a record's start voffset is
    (block_coffset, intra_block_offset), with the canonical position of an
    end-of-block boundary being the next block's start (same convention as
    BGZFReader.tell_voffset).
    """
    cstart, ustart = bgzf.split_voffset(vstart)
    cend, uend = bgzf.split_voffset(vend)
    head = b""  # partial 4-byte length prefix carried across blocks
    body: Optional[bytearray] = None  # partial body carried across blocks
    body_need = 0
    for coffset, payload in bgzf.iter_blocks(f, cstart):
        n = len(payload)
        if n == 0:
            continue  # EOF-marker / empty block
        pos = ustart if coffset == cstart else 0
        mv = memoryview(payload)
        while pos < n:
            if body is not None:
                take = min(body_need, n - pos)
                body += mv[pos : pos + take]
                pos += take
                body_need -= take
                if body_need == 0:
                    yield bytes(body)
                    body = None
                continue
            if head:
                take = 4 - len(head)
                head += payload[pos : pos + take]
                pos += take
                if len(head) < 4:
                    break  # block exhausted mid-prefix
                (bs,) = struct.unpack("<i", head)
                head = b""
                body = bytearray()
                body_need = bs
                continue
            # Fresh record starting at (coffset, pos): ownership check.
            if coffset > cend or (coffset == cend and pos >= uend):
                return
            if n - pos >= 4:
                (bs,) = struct.unpack_from("<i", payload, pos)
                end = pos + 4 + bs
                if end <= n:
                    yield mv[pos + 4 : end]
                    pos = end
                else:
                    body = bytearray(mv[pos + 4 :])
                    body_need = bs - (n - pos - 4)
                    pos = n
            else:
                head = bytes(mv[pos:])
                pos = n
    # Truncated trailing record at EOF: dropped, matching the row path.


def _gather(buf: np.ndarray, starts: np.ndarray, lens: np.ndarray):
    """Concatenate buf[starts[i] : starts[i]+lens[i]] for all i.

    Returns (values uint8 array, offsets int64 array of len n+1) — the
    standard repeat/cumsum variable-slice gather, one vector op per step.
    Index arrays are int32 (batch buffers are far below 2 GiB), halving
    the memory traffic of the hot fancy-index.
    """
    n = len(starts)
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    total = int(offsets[-1])
    if total == 0:
        return np.empty(0, dtype=np.uint8), offsets
    off32 = offsets.astype(np.int32)
    src = np.arange(total, dtype=np.int32)
    src -= np.repeat(off32[:-1], lens)
    src += np.repeat(starts.astype(np.int32), lens)
    return buf[src], offsets


def _validity(null_mask: Optional[np.ndarray], n: int):
    """Arrow validity-bitmap buffer (or None when nothing is null)."""
    import pyarrow as pa

    if null_mask is None or not null_mask.any():
        return None, 0
    valid = np.packbits(~null_mask, bitorder="little")
    return pa.py_buffer(valid.tobytes()), int(null_mask.sum())


def _string_array(vals: np.ndarray, offsets: np.ndarray,
                  null_mask: Optional[np.ndarray] = None):
    """uint8 values + int64 offsets -> Arrow string array (zero-copy-ish).

    Falls back to per-record latin-1 decode if any byte is non-ASCII
    (Arrow utf8 must not carry latin-1 high bytes; BAM names/quals are
    ASCII in practice, so the fallback is cold).
    """
    import pyarrow as pa

    n = len(offsets) - 1
    if vals.size and int(vals.max()) >= 128:
        out = []
        bs = vals.tobytes()
        for i in range(n):
            if null_mask is not None and null_mask[i]:
                out.append(None)
            else:
                out.append(bs[offsets[i] : offsets[i + 1]].decode("latin-1"))
        return pa.array(out, type=pa.string())
    nulls, null_count = _validity(null_mask, n)
    return pa.StringArray.from_buffers(
        n,
        pa.py_buffer(offsets.astype(np.int32).tobytes()),
        pa.py_buffer(vals.tobytes()),
        nulls,
        null_count,
    )


class BAMBatchDecoder:
    """Columnar decoder bound to one file's reference dictionary.

    ``decode(bodies, ...)`` -> dict of SAM column name -> pyarrow array for
    the requested ``fields`` (any subset of the 12 SAM columns), after
    applying the optional vectorized predicates.
    """

    def __init__(self, refs: list, fields: Optional[list] = None):
        self.refs = refs
        self.fields = list(fields) if fields is not None else [
            "qname", "flag", "rname", "pos", "mapq", "cigar",
            "rnext", "pnext", "tlen", "seq", "qual", "tags",
        ]
        # ref-id -> name lookup with one extra slot for invalid ids -> None
        self._names = np.array(
            [name for name, _ in refs] + [None], dtype=object
        )
        self._nref = len(refs)
        #: packed cigar op bytes -> text, across this decoder's batches
        self._cigar_text: dict = {}

    def _ref_names(self, rid: np.ndarray):
        import pyarrow as pa

        safe = np.where((rid >= 0) & (rid < self._nref), rid, self._nref)
        return pa.array(self._names[safe], type=pa.string())

    def decode(
        self,
        bodies: list,
        unmapped_only: bool = False,
        intervals_by_rid: Optional[list] = None,
        start_ranges: Optional[list] = None,
    ) -> Optional[dict]:
        """bodies: raw record bodies (bytes/memoryview, no length prefix).

        Convenience wrapper over :meth:`decode_span` for body lists (tests,
        single-record uses); the scan hot path feeds ``decode_span`` with
        the (buffer, starts, lens) batches from :func:`iter_body_batches`.
        """
        if not bodies:
            return None
        buf = b"".join(bodies)
        lens = np.fromiter((len(b) for b in bodies), np.int64, len(bodies))
        starts = np.zeros(len(bodies), dtype=np.int64)
        np.cumsum(lens[:-1], out=starts[1:])
        return self.decode_span(buf, starts, lens, unmapped_only=unmapped_only,
                                intervals_by_rid=intervals_by_rid,
                                start_ranges=start_ranges)

    def decode_span(
        self,
        buf: bytes,
        starts: np.ndarray,
        lens: np.ndarray,
        unmapped_only: bool = False,
        intervals_by_rid: Optional[list] = None,
        start_ranges: Optional[list] = None,
    ) -> Optional[dict]:
        """Record bodies at buf[starts[i] : starts[i]+lens[i]] -> columns.

        Returns {column -> pyarrow array} for self.fields, or None when the
        batch filters down to zero rows. ``intervals_by_rid`` is a list of
        (ref_id, start, stop) 1-based inclusive intervals; a record passes
        if it overlaps any (same residual the row path applied).
        ``start_ranges`` is a list of (ref_id, lo, hi); a record passes if
        its ref id is one of them and its 1-based ``pos`` column value is in
        ``[lo, hi]``, which is exactly ``rname = c AND pos >= lo AND pos <=
        hi``. A record must pass every predicate given.
        """
        if len(starts) == 0:
            return None
        arr = np.frombuffer(buf, dtype=np.uint8)
        prefix = (
            arr[starts[:, None] + np.arange(32, dtype=np.int64)]
            .copy()
            .view(PREFIX_DTYPE)
            .reshape(-1)
        )

        rid = prefix["ref_id"]
        n_cigar = prefix["n_cigar"].astype(np.int64)
        pos1 = prefix["pos"] + 1  # 1-based; -1 (unmapped) -> 0

        # --- vectorized predicates --------------------------------------
        mask = None
        if unmapped_only:
            mask = rid == -1
        if start_ranges is not None:
            p = pos1.astype(np.int64)  # bounds may lie outside int32
            m = np.zeros(len(rid), dtype=bool)
            for srid, lo, hi in start_ranges:
                m |= (rid == srid) & (p >= lo) & (p <= hi)
            mask = m if mask is None else (mask & m)
        if intervals_by_rid is not None:
            l_read_name = prefix["l_read_name"].astype(np.int64)
            cigar_start = starts + 32 + l_read_name
            ops_bytes, cig_off = _gather(arr, cigar_start, 4 * n_cigar)
            ops = ops_bytes.view("<u4")
            contrib = (ops >> 4).astype(np.int64) * _CONSUMES_REF[ops & 0xF]
            cs = np.zeros(len(contrib) + 1, dtype=np.int64)
            np.cumsum(contrib, out=cs[1:])
            cig_cnt_off = (cig_off // 4).astype(np.int64)
            reflen = cs[cig_cnt_off[1:]] - cs[cig_cnt_off[:-1]]
            reflen = np.maximum(reflen, 1)
            end1 = pos1 + reflen - 1
            m = np.zeros(len(rid), dtype=bool)
            for irid, istart, istop in intervals_by_rid:
                m |= (rid == irid) & (pos1 <= istop) & (istart <= end1)
            mask = m if mask is None else (mask & m)
        if mask is not None:
            if not mask.any():
                return None
            sel = np.flatnonzero(mask)
            starts, lens, prefix = starts[sel], lens[sel], prefix[sel]
            rid = prefix["ref_id"]
            n_cigar = prefix["n_cigar"].astype(np.int64)
            pos1 = prefix["pos"] + 1

        # --- derived section offsets ------------------------------------
        l_read_name = prefix["l_read_name"].astype(np.int64)
        l_seq = prefix["l_seq"].astype(np.int64)
        nb = (l_seq + 1) // 2
        name_start = starts + 32
        cigar_start = name_start + l_read_name
        seq_start = cigar_start + 4 * n_cigar
        qual_start = seq_start + nb
        tag_start = qual_start + l_seq
        rec_end = starts + lens

        import pyarrow as pa

        out: dict = {}
        for f in self.fields:
            if f == "qname":
                vals, off = _gather(arr, name_start, l_read_name - 1)
                out[f] = _string_array(vals, off)
            elif f == "flag":
                out[f] = pa.array(prefix["flag"].astype(np.int32))
            elif f == "rname":
                out[f] = self._ref_names(rid)
            elif f == "pos":
                out[f] = pa.array(pos1.astype(np.int32))
            elif f == "mapq":
                out[f] = pa.array(prefix["mapq"].astype(np.int32))
            elif f == "cigar":
                out[f] = self._cigar_column(arr, cigar_start, n_cigar)
            elif f == "rnext":
                out[f] = self._ref_names(prefix["next_ref"])
            elif f == "pnext":
                nxt = prefix["next_pos"]
                out[f] = pa.array(
                    np.where(nxt >= 0, nxt + 1, 0).astype(np.int32)
                )
            elif f == "tlen":
                out[f] = pa.array(prefix["tlen"].astype(np.int32))
            elif f == "seq":
                out[f] = self._seq_column(arr, seq_start, nb, l_seq)
            elif f == "qual":
                out[f] = self._qual_column(arr, qual_start, l_seq)
            elif f == "tags":
                out[f] = self._tags_column(buf, arr, tag_start, rec_end)
            else:
                raise ValueError(f"unknown SAM column {f!r}")
        # SAM spec 4.2.2 long-CIGAR reconstitution: a 2-op sentinel
        # `<l_seq>S<x>N` whose record carries a CG:B,I tag means the real
        # cigar overflowed uint16 n_cigar_op (ultralong reads; htsjdk does
        # the same swap). The candidate probe is three compares over the
        # (rare) 2-op records; the per-record patch only runs on hits.
        if "cigar" in out or "tags" in out:
            two = np.flatnonzero(n_cigar == 2)
            if len(two):
                ob, _ = _gather(
                    arr, cigar_start[two], np.full(len(two), 8, np.int64)
                )
                w = ob.view("<u4").reshape(-1, 2)
                pat = (
                    ((w[:, 0] & 0xF) == 4)
                    & ((w[:, 0] >> 4) == l_seq[two])
                    & ((w[:, 1] & 0xF) == 3)
                )
                if bool(pat.any()):
                    self._reconstitute_long_cigars(
                        out, buf, tag_start, rec_end, two[pat]
                    )
        return out

    @staticmethod
    def _reconstitute_long_cigars(out, buf, tag_start, rec_end, cand):
        """Swap sentinel cigars for their CG-tag ops and drop CG from the
        tag maps — per-record Python on the handful of hit rows only."""
        import pyarrow as pa

        from hadoop_bam_spark.formats import bam as B

        fixes = {}
        for i in cand.tolist():
            tags = B._decode_tags(
                bytes(buf[int(tag_start[i]): int(rec_end[i])])
            )
            cg = tags.get("CG")
            if cg is not None:
                fixes[int(i)] = B.cg_tag_to_cigar(cg)
        if not fixes:
            return
        if "cigar" in out:
            vals = out["cigar"].to_pylist()
            for i, c in fixes.items():
                vals[i] = c
            out["cigar"] = pa.array(vals, type=pa.string())
        if "tags" in out:
            t = out["tags"].to_pylist()
            for i in fixes:
                ent = t[i]
                t[i] = (
                    {k: v for k, v in ent.items() if k != "CG"}
                    if isinstance(ent, dict)
                    else [kv for kv in ent if kv[0] != "CG"]
                )
            out["tags"] = pa.array(t, type=out["tags"].type)

    def _cigar_column(self, arr, cigar_start, n_cigar):
        """n_cigar==0 -> null (SAM '*'). The records' op bytes are
        dictionary-encoded, each distinct op sequence is formatted once
        (and remembered across batches in ``_cigar_text``), and the texts
        are taken back to record order by the dictionary indices."""
        import pyarrow as pa
        import pyarrow.compute as pc

        n = len(cigar_start)
        ops_bytes, off = _gather(arr, cigar_start, 4 * n_cigar)
        if ops_bytes.size == 0:
            return pa.nulls(n, type=pa.string())
        nulls, null_count = _validity(n_cigar == 0, n)
        raw = pa.Array.from_buffers(
            pa.binary(), n,
            [nulls, pa.py_buffer(off.astype(np.int32)), pa.py_buffer(ops_bytes)],
            null_count,
        )
        d = pc.dictionary_encode(raw)
        cache = self._cigar_text
        texts = []
        for ops in d.dictionary.to_pylist():
            text = cache.get(ops)
            if text is None:
                text = _format_cigar(ops)
                if len(cache) < CIGAR_CACHE_MAX:
                    cache[ops] = text
            texts.append(text)
        return pa.array(texts, type=pa.string()).take(d.indices)

    def _seq_column(self, arr, seq_start, nb, l_seq):
        """Packed nibbles -> base string. hex() emits (high, low) nibble
        chars per byte = BAM base order; translate maps nibble hex -> base.
        Odd-length records' trailing pad char is dropped with one mask."""
        packed, off = _gather(arr, seq_start, nb)
        decoded = packed.tobytes().hex().translate(_HEX_TO_BASE)
        chars = np.frombuffer(decoded.encode("ascii"), dtype=np.uint8)
        odd = (l_seq & 1).astype(bool)
        if odd.any():
            keep = np.ones(len(chars), dtype=bool)
            keep[2 * off[1:][odd] - 1] = False
            chars = chars[keep]
        offsets = np.zeros(len(l_seq) + 1, dtype=np.int64)
        np.cumsum(l_seq, out=offsets[1:])
        return _string_array(chars, offsets, null_mask=(l_seq == 0))

    def _qual_column(self, arr, qual_start, l_seq):
        """phred+33 text; null when l_seq==0 or stored qual is 0xFF-missing."""
        first = arr[np.minimum(qual_start, len(arr) - 1)]
        null = (l_seq == 0) | (first == 0xFF)
        eff = np.where(null, 0, l_seq)
        raw, offsets = _gather(arr, qual_start, eff)
        vals = np.minimum(raw.astype(np.int16) + 33, 255).astype(np.uint8)
        return _string_array(vals, offsets, null_mask=null)

    def _tags_column(self, buf, arr, tag_start, rec_end):
        """Aux tags -> map<string,string>, in wire order.

        The tag blocks are gathered into one buffer and walked column-wise
        by :func:`_walk_tags`, for any mix of tag layouts across the batch
        (tag-less unmapped reads, ``MD:Z``/``RG:Z`` strings, arrays). Only a
        batch that :func:`_walk_tags` declines (a malformed block, a repeated
        tag, non-ASCII text) takes the per-record ``_decode_tags`` loop,
        which raises the row codec's exact errors."""
        tlen = np.maximum(rec_end - tag_start, 0)
        tb, toff = _gather(arr, tag_start, tlen)
        walked = _walk_tags(tb, toff)
        if walked is not None:
            return walked
        import pyarrow as pa

        n = len(tag_start)
        keys: list = []
        vals: list = []
        offsets = np.zeros(n + 1, dtype=np.int32)
        ts, te = tag_start.tolist(), rec_end.tolist()
        for i in range(n):
            a, b = ts[i], te[i]
            if b > a:
                for k, v in _decode_tags(buf[a:b]).items():
                    keys.append(k)
                    vals.append(v)
            offsets[i + 1] = len(keys)
        return pa.MapArray.from_arrays(
            pa.array(offsets, type=pa.int32()),
            pa.array(keys, type=pa.string()),
            pa.array(vals, type=pa.string()),
        )


#: Aux value width by wire type byte: the fixed types carry their width,
#: Z/H are NUL-terminated (0), B is a counted array (-1), anything else is
#: an unknown type (-2).
_TAG_WIDTH = np.full(256, -2, dtype=np.int64)
for _c, _w in zip("AcCsSiIf", (1, 1, 1, 2, 2, 4, 4, 4)):
    _TAG_WIDTH[ord(_c)] = _w
_TAG_WIDTH[ord("Z")] = _TAG_WIDTH[ord("H")] = 0
_TAG_WIDTH[ord("B")] = -1

#: B-array element width by subtype byte (0 = not a valid subtype).
_B_ELEM_WIDTH = np.zeros(256, dtype=np.int64)
for _c, _w in zip("cCsSiIf", (1, 1, 2, 2, 4, 4, 4)):
    _B_ELEM_WIDTH[ord(_c)] = _w

_INT_TAG_DTYPES = {ord("c"): "<i1", ord("C"): "<u1", ord("s"): "<i2",
                   ord("S"): "<u2", ord("i"): "<i4", ord("I"): "<u4"}

#: Z strings the bare tag encoder would re-type, so tag_value_repr gives
#: them a ``Z:`` prefix: guess_tag_encoding's prefix, int, array and float
#: rules (formats/sam.py) in RE2 spelling. Python's ``$`` also matches
#: before one trailing newline, hence ``\n?$``.
_Z_RETYPED = (
    r"^(?:[AcCsSiIfZH]:|[cCsSiIf],|[-+]?[0-9]+\n?$"
    r"|[-+]?(?:(?:[0-9]+\.[0-9]*|\.[0-9]+)(?:[eE][-+]?[0-9]+)?"
    r"|[0-9]+[eE][-+]?[0-9]+)\n?$)"
)


def _walk_tags(tb: np.ndarray, toff: np.ndarray):
    """Column-wise aux-tag decode of the tag blocks tb[toff[i]:toff[i+1]].

    One cursor per record; each step reads every active record's 3-byte
    tag header at once, sizes its value from the type tables (Z/H through
    one ``searchsorted`` over the buffer's NUL positions) and advances,
    until no record has a full header left. Values come out per type in
    bulk: integers through one Arrow cast, A/Z/H through one variable-slice
    gather plus one regex pass for the ``Z:`` prefix rule; only f and B
    entries are formatted one by one, with the row codec's own code.

    Returns a map<string,string> array, or None when the row codec must
    decide: a malformed block (unknown type, overrun, missing NUL), a
    repeated tag, or non-ASCII bytes in a key or text value."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(toff) - 1
    end = toff[1:]
    cur = toff[:-1].copy()
    nul = np.flatnonzero(tb == 0)
    walked = []  # per step: (active rows, header positions, value ends)
    act = np.flatnonzero(end - cur >= 3)
    while act.size:
        p, e = cur[act], end[act]
        w = _TAG_WIDTH[tb[p + 2]]
        if bool((w == -2).any()):
            return None
        vend = p + 3 + np.maximum(w, 0)
        nxt = vend.copy()
        s = w == 0
        if bool(s.any()):
            k = np.searchsorted(nul, p[s] + 3)
            if bool((k >= len(nul)).any()):
                return None
            z = nul[k]
            if bool((z >= e[s]).any()):
                return None
            vend[s], nxt[s] = z, z + 1
        b = w == -1
        if bool(b.any()):
            pb = p[b]
            if bool((pb + 8 > e[b]).any()):
                return None
            ew = _B_ELEM_WIDTH[tb[pb + 3]]
            cnt = (tb[(pb + 4)[:, None] + np.arange(4)].copy()
                   .view("<i4").reshape(-1).astype(np.int64))
            if bool((ew == 0).any()) or bool((cnt < 0).any()):
                return None
            vend[b] = nxt[b] = pb + 8 + cnt * ew
        if bool((nxt > e).any()):
            return None
        walked.append((act, p, vend))
        cur[act] = nxt
        act = act[end[act] - nxt >= 3]

    # a record takes part in steps 0..count-1, so its entry of step j sits
    # at map offset + j: wire order without a sort
    counts = np.zeros(n, dtype=np.int64)
    for act, _, _ in walked:
        counts[act] += 1
    offsets = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=offsets[1:])
    m = int(offsets[-1])
    if m == 0:
        return pa.MapArray.from_arrays(
            pa.array(offsets.astype(np.int32)), pa.array([], pa.string()),
            pa.array([], pa.string()))
    hdr = np.empty(m, dtype=np.int64)
    vend = np.empty(m, dtype=np.int64)
    for j, (act, p, ve) in enumerate(walked):
        at = offsets[act] + j
        hdr[at], vend[at] = p, ve
    row = np.repeat(np.arange(n, dtype=np.int64), counts)
    k0, k1 = tb[hdr], tb[hdr + 1]
    if int(k0.max()) >= 128 or int(k1.max()) >= 128:
        return None
    code = np.sort((row << 16) | (k0.astype(np.int64) << 8) | k1)
    if bool((code[1:] == code[:-1]).any()):
        return None  # repeated tag: the row codec's dict keeps the last
    kb = np.empty(2 * m, dtype=np.uint8)
    kb[0::2], kb[1::2] = k0, k1
    keys = pa.StringArray.from_buffers(
        m, pa.py_buffer(np.arange(0, 2 * m + 1, 2, dtype=np.int32)),
        pa.py_buffer(kb))

    typ = tb[hdr + 2]
    vstart = hdr + 3
    parts, placed = [], np.empty(m, dtype=np.int64)
    base = 0

    is_int = np.isin(typ, list(_INT_TAG_DTYPES))
    if bool(is_int.any()):
        sel = np.flatnonzero(is_int)
        ints = np.empty(len(sel), dtype=np.int64)
        for t, dt in _INT_TAG_DTYPES.items():
            hit = typ[sel] == t
            if bool(hit.any()):
                wd = np.dtype(dt).itemsize
                at = vstart[sel[hit]]
                ints[hit] = (tb[at[:, None] + np.arange(wd)].copy()
                             .view(dt).reshape(-1))
        parts.append(pc.cast(pa.array(ints), pa.string()))
        placed[sel] = base + np.arange(len(sel))
        base += len(sel)

    is_txt = (typ == ord("Z")) | (typ == ord("A")) | (typ == ord("H"))
    if bool(is_txt.any()):
        sel = np.flatnonzero(is_txt)
        vals, voff = _gather(tb, vstart[sel], vend[sel] - vstart[sel])
        if vals.size and int(vals.max()) >= 128:
            return None
        txt = pa.StringArray.from_buffers(
            len(sel), pa.py_buffer(voff.astype(np.int32)),
            pa.py_buffer(vals))
        ttyp = typ[sel]
        need = ttyp != ord("Z")
        z = ~need
        if bool(z.any()):
            need[z] = pc.match_substring_regex(
                txt.filter(pa.array(z)), _Z_RETYPED).to_numpy(
                    zero_copy_only=False)
        if bool(need.any()):
            prefix = pa.StringArray.from_buffers(
                len(sel), pa.py_buffer(np.arange(len(sel) + 1, dtype=np.int32)),
                pa.py_buffer(np.ascontiguousarray(ttyp)))
            txt = pc.if_else(pa.array(need),
                             pc.binary_join_element_wise(prefix, txt, ":"),
                             txt)
        parts.append(txt)
        placed[sel] = base + np.arange(len(sel))
        base += len(sel)

    other = np.flatnonzero(~is_int & ~is_txt)  # f and B
    if len(other):
        scalar = []
        try:
            for h, v in zip(hdr[other].tolist(), vend[other].tolist()):
                (val,) = _decode_tags(tb[h:v].tobytes()).values()
                scalar.append(val)
        except (ValueError, OverflowError):
            return None
        parts.append(pa.array(scalar, type=pa.string()))
        placed[other] = base + np.arange(len(other))

    values = pa.concat_arrays(parts).take(pa.array(placed))
    return pa.MapArray.from_arrays(
        pa.array(offsets.astype(np.int32)), keys, values)
