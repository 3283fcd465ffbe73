"""BAM binary format codec — pure Python (no htsjdk/pysam).

Wire format per the public SAM/BAM spec (https://samtools.github.io/hts-specs/).
Reference behaviors reproduced (semantics, not code):

- header read-once-on-driver (reference util/SAMHeaderReader.java:48-75);
- record field layout the split guesser validates at fixed offsets
  (reference BAMSplitGuesser.java:237-339): refID/pos bounds vs n_ref,
  read-name nul terminator, minimum record size 4*9+1+1+1
  (BAMSplitGuesser.java:75);
- split alignment by candidate-validation: a guessed record offset is
  accepted only if a run of consecutive records decodes cleanly across
  multiple BGZF blocks (BAMSplitGuesser.java:108-235, BLOCKS_NEEDED=3);
- records emitted with SAM-text-compatible field values so a BAM scan and a
  SAM scan of the same data are row-identical (the reference emits the same
  htsjdk SAMRecord from both paths).
"""

from __future__ import annotations

import re
import struct
from typing import Iterator, Optional

from hadoop_bam_spark.formats import bgzf
from hadoop_bam_spark.formats.sam import (
    _SAM_FLOAT_RE,
    _SAM_INT_RE,
    SAMHeader,
    TAG_PREFIX_TYPES,
    parse_header,
    tag_value_repr,
)

BAM_MAGIC = b"BAM\x01"

SEQ_CODE = "=ACMGRSVTWYHKDBN"
SEQ_NIBBLE = {c: i for i, c in enumerate(SEQ_CODE)}
CIGAR_OPS = "MIDNSHP=X"
CIGAR_CODE = {c: i for i, c in enumerate(CIGAR_OPS)}

#: 4*9 + 1 + 1 + 1: 9 fixed int32 fields + shortest name ("\0") + 1-base
#: seq+qual (reference BAMSplitGuesser.java:75).
SHORTEST_RECORD = 4 * 9 + 1 + 1 + 1

#: Consecutive BGZF blocks a guess must decode through to be accepted
#: (reference BAMSplitGuesser.java:66-69).
BLOCKS_NEEDED_FOR_GUESS = 3


# ---------------------------------------------------------------------------
# Header
# ---------------------------------------------------------------------------

def read_header(reader: bgzf.BGZFReader) -> tuple[SAMHeader, list[tuple[str, int]], int]:
    """Read the BAM preamble -> (header, [(ref_name, ref_len)], end_voffset).

    ``end_voffset`` is the virtual offset of the first alignment record.
    """
    magic = reader.read(4)
    if magic != BAM_MAGIC:
        raise ValueError(f"not a BAM file (magic {magic!r})")
    (l_text,) = struct.unpack("<i", reader.read(4))
    text = reader.read(l_text).split(b"\x00", 1)[0].decode("utf-8", "replace")
    (n_ref,) = struct.unpack("<i", reader.read(4))
    refs: list[tuple[str, int]] = []
    for _ in range(n_ref):
        (l_name,) = struct.unpack("<i", reader.read(4))
        name = reader.read(l_name)[:-1].decode("utf-8")
        (l_ref,) = struct.unpack("<i", reader.read(4))
        refs.append((name, l_ref))
    header = parse_header(text.splitlines())
    # BAM's binary ref dictionary is authoritative even if @SQ lines are absent.
    if not header.sequences:
        for i, (name, ln) in enumerate(refs):
            header.sequences[name] = (i, ln)
    return header, refs, reader.tell_voffset()


def encode_header(header: SAMHeader, refs: list[tuple[str, int]]) -> bytes:
    text = header.text.encode()
    out = [BAM_MAGIC, struct.pack("<i", len(text)), text, struct.pack("<i", len(refs))]
    for name, ln in refs:
        nb = name.encode() + b"\x00"
        out += [struct.pack("<i", len(nb)), nb, struct.pack("<i", ln)]
    return b"".join(out)


# ---------------------------------------------------------------------------
# Record decode
# ---------------------------------------------------------------------------

#: byte -> its two decoded bases; one table lookup per BYTE instead of two
#: shift/mask lookups per BASE (the decode hot loop).
_SEQ_PAIR = [SEQ_CODE[b >> 4] + SEQ_CODE[b & 0xF] for b in range(256)]

#: encode fast path: base char (either case) -> its nibble as a hex digit,
#: so str.translate + bytes.fromhex packs the sequence without a Python loop
_SEQ_TO_HEX = str.maketrans(
    {c: format(i, "x") for i, c in enumerate(SEQ_CODE)}
    | {c.lower(): format(i, "x") for i, c in enumerate(SEQ_CODE) if c.isalpha()}
)
_SEQ_KNOWN = re.compile(f"[{SEQ_CODE}{SEQ_CODE.lower()}]*\\Z")

#: phred+33 text -> raw scores via bytes.translate. Chars below '!' would
#: clamp to 0 silently — encode_record validates the string first (below)
#: so malformed quals fail loudly instead of round-tripping as phred 0.
_QUAL_SUB33 = bytes(max(q - 33, 0) for q in range(256))

#: Legal SAM qual text: printable phred+33, '!' (0) .. '~' (93).
_QUAL_VALID = re.compile(r"[!-~]*\Z")

#: phred+33 re-encode as a bytes.translate table (C-speed, no Python loop).
_QUAL33 = bytes(min(q + 33, 255) for q in range(256))


def _decode_seq(data: bytes, l_seq: int) -> Optional[str]:
    if l_seq == 0:
        return None
    pairs = _SEQ_PAIR
    s = "".join([pairs[b] for b in data])
    return s if len(s) == l_seq else s[:l_seq]


def _decode_tags(buf: bytes) -> dict[str, str]:
    """Tag block -> {tag: SAM-text value string} (matches the SAM text
    column the sam.py parser produces, so BAM and SAM scans are comparable).
    Values that would re-encode under a different type carry a 'TYPE:' prefix
    (see tag_value_repr) so tag types are preserved round-trip."""
    try:
        return _decode_tags_unchecked(buf)
    except (struct.error, IndexError, KeyError) as e:
        # raise-don't-garbage: corrupt tag bytes are a data error
        raise ValueError(f"malformed BAM tag block: {e}") from e


def _decode_tags_unchecked(buf: bytes) -> dict[str, str]:
    tags: dict[str, str] = {}
    p, n = 0, len(buf)
    while p + 3 <= n:
        tag = buf[p : p + 2].decode("latin-1")
        typ = chr(buf[p + 2])
        p += 3
        sub = None
        if typ == "A":
            s = chr(buf[p]); p += 1
        elif typ in "cC":
            s = str(struct.unpack_from("<b" if typ == "c" else "<B", buf, p)[0]); p += 1
        elif typ in "sS":
            s = str(struct.unpack_from("<h" if typ == "s" else "<H", buf, p)[0]); p += 2
        elif typ in "iI":
            s = str(struct.unpack_from("<i" if typ == "i" else "<I", buf, p)[0]); p += 4
        elif typ == "f":
            v = struct.unpack_from("<f", buf, p)[0]; p += 4
            s = repr(v) if v != int(v) else str(int(v))
        elif typ in "ZH":
            end = buf.index(b"\x00", p)
            s = buf[p:end].decode("latin-1")
            p = end + 1
        elif typ == "B":
            sub = chr(buf[p]); (cnt,) = struct.unpack_from("<i", buf, p + 1); p += 5
            fmt = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[sub]
            width = struct.calcsize("<" + fmt)
            vals = struct.unpack_from(f"<{cnt}{fmt}", buf, p)
            p += cnt * width
            s = sub + "," + ",".join(
                (repr(v) if v != int(v) else str(int(v))) if sub == "f" else str(v)
                for v in vals
            )
        else:
            raise ValueError(f"unknown BAM tag type {typ!r}")
        tags[tag] = tag_value_repr(typ, s, sub)
    return tags


def cg_tag_to_cigar(value: str) -> str:
    """CG:B,I tag value string ('I,w1,w2,...' / 'B:I,...') -> cigar text
    (each word packs count<<4 | op-code, same layout as the cigar block)."""
    body = value[2:] if value.startswith("B:") else value
    return "".join(
        f"{int(w) >> 4}{CIGAR_OPS[int(w) & 0xF]}"
        for w in body.split(",")[1:]
    )


def decode_record(
    buf: bytes, refs: list[tuple[str, int]], wanted: Optional[frozenset] = None
) -> tuple:
    """One alignment record body (without leading block_size) -> SAM row tuple
    (qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual, tags).

    ``wanted`` (None = all) skips building the expensive variable-block
    fields — cigar/seq/qual strings and the tag parse — when the projection
    doesn't need them; skipped fields come back None. The Spark-side analog
    of the reference's lazy decode (LazyBAMRecordFactory.java:53-111), driven
    here by the source's pruned schema instead of first-touch.
    """
    if len(buf) < 32:
        raise ValueError(
            f"malformed BAM record: body {len(buf)} bytes, need >= 32")
    (ref_id, pos, l_read_name, mapq, _bin, n_cigar, flag, l_seq,
     next_ref, next_pos, tlen) = struct.unpack_from("<iiBBHHHiiii", buf, 0)
    # raise-don't-garbage: corrupt length fields must surface as a data
    # error, not struct.error/IndexError from reads past the buffer
    if l_seq < 0 or l_read_name < 1 or (
            32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
            > len(buf)):
        raise ValueError(
            "malformed BAM record: variable-length fields "
            f"(l_read_name={l_read_name}, n_cigar={n_cigar}, "
            f"l_seq={l_seq}) overrun the {len(buf)}-byte body")
    p = 32
    qname = buf[p : p + l_read_name - 1].decode("latin-1")
    p += l_read_name
    cigar = None
    ops: tuple = ()
    if n_cigar:
        if wanted is None or "cigar" in wanted:
            ops = struct.unpack_from(f"<{n_cigar}I", buf, p)
            cigar = "".join(f"{op >> 4}{CIGAR_OPS[op & 0xF]}" for op in ops)
        elif n_cigar == 2 and "tags" in wanted:
            # tags-only projection still needs the 2-op sentinel probe so
            # the CG artifact is stripped exactly as in a full decode —
            # projection must be a pure column subset of the full record
            # (the vectorized path already behaves this way)
            ops = struct.unpack_from("<2I", buf, p)
        p += 4 * n_cigar
    seq = None
    if wanted is None or "seq" in wanted:
        seq = _decode_seq(buf[p : p + (l_seq + 1) // 2], l_seq)
    p += (l_seq + 1) // 2
    qual = None
    if wanted is None or "qual" in wanted:
        qual_raw = buf[p : p + l_seq]
        if l_seq and qual_raw and qual_raw[0] != 0xFF:
            qual = qual_raw.translate(_QUAL33).decode("latin-1")
    p += l_seq
    tags = _decode_tags(buf[p:]) if wanted is None or "tags" in wanted else None
    # SAM spec 4.2.2 long-CIGAR reconstitution: a `<l_seq>S<x>N` sentinel
    # with a CG:B,I tag means the real ops overflowed uint16 n_cigar_op
    if (
        len(ops) == 2
        and n_cigar == 2
        and (ops[0] & 0xF) == 4  # S covering the whole read
        and (ops[0] >> 4) == l_seq
        and (ops[1] & 0xF) == 3  # N spanning the reference
    ):
        t = tags if tags is not None else _decode_tags(buf[p:])
        cg = t.get("CG")
        if cg is not None:
            if cigar is not None:
                cigar = cg_tag_to_cigar(cg)
            if tags is not None:
                tags = {k: v for k, v in tags.items() if k != "CG"}
    rname = refs[ref_id][0] if 0 <= ref_id < len(refs) else None
    rnext = refs[next_ref][0] if 0 <= next_ref < len(refs) else None
    return (
        qname, flag, rname, pos + 1, mapq, cigar, rnext,
        next_pos + 1 if next_pos >= 0 else 0, tlen, seq, qual, tags,
    )


def iter_records(
    reader: bgzf.BGZFReader,
    refs: list[tuple[str, int]],
    start_voffset: int,
    end_voffset: Optional[int] = None,
) -> Iterator[tuple]:
    """Records whose START virtual offset is in [start, end) — the split
    ownership rule that makes parallel scans emit each record exactly once
    (reference BAMRecordReader.java:226-235)."""
    reader.seek_voffset(start_voffset)
    while True:
        at = reader.tell_voffset()
        if end_voffset is not None and at >= end_voffset:
            return
        head = reader.read(4)
        if len(head) < 4:
            return
        (block_size,) = struct.unpack("<i", head)
        body = reader.read(block_size)
        if len(body) < block_size:
            return
        yield decode_record(body, refs)


# ---------------------------------------------------------------------------
# Record encode
# ---------------------------------------------------------------------------

def reg2bin(beg: int, end: int) -> int:
    """Standard BAI bin for [beg, end) 0-based half-open (SAM spec §5.3)."""
    end -= 1
    if beg >> 14 == end >> 14:
        return ((1 << 15) - 1) // 7 + (beg >> 14)
    if beg >> 17 == end >> 17:
        return ((1 << 12) - 1) // 7 + (beg >> 17)
    if beg >> 20 == end >> 20:
        return ((1 << 9) - 1) // 7 + (beg >> 20)
    if beg >> 23 == end >> 23:
        return ((1 << 6) - 1) // 7 + (beg >> 23)
    if beg >> 26 == end >> 26:
        return ((1 << 3) - 1) // 7 + (beg >> 26)
    return 0


_CIGAR_CONSUME_REF = set("MDN=X")


def cigar_ref_length(cigar: Optional[str]) -> int:
    if not cigar:
        return 1
    total, num = 0, 0
    for ch in cigar:
        if ch.isdigit():
            num = num * 10 + ord(ch) - 48
        else:
            if ch in _CIGAR_CONSUME_REF:
                total += num
            num = 0
    return max(total, 1)


_INT_TAG_FMT = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}


def _encode_tag_value(tag: str, v: str) -> bytes:
    # Explicit "TYPE:value" representation (written by tag_value_repr) is
    # authoritative — this is what preserves A/H/f/Z types round-trip.
    if len(v) >= 2 and v[1] == ":" and v[0] in TAG_PREFIX_TYPES:
        typ, val = v[0], v[2:]
        if typ == "A":
            return tag.encode() + b"A" + val[:1].encode("latin-1")
        if typ in _INT_TAG_FMT:
            return tag.encode() + typ.encode() + struct.pack(_INT_TAG_FMT[typ], int(val))
        if typ == "f":
            return tag.encode() + b"f" + struct.pack("<f", float(val))
        # Z and H share the null-terminated string layout
        return tag.encode() + typ.encode() + val.encode("latin-1") + b"\x00"
    if _SAM_INT_RE.match(v):
        iv = int(v)
        if -2147483648 <= iv <= 2147483647:
            return tag.encode() + b"i" + struct.pack("<i", iv)
    if "," in v and v[:1] in "cCsSiIf" and v[1:2] == ",":
        sub = v[0]
        parts = v[2:].split(",")
        fmt = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I", "f": "f"}[sub]
        vals = [float(x) if sub == "f" else int(x) for x in parts]
        return (
            tag.encode() + b"B" + sub.encode()
            + struct.pack("<i", len(vals))
            + struct.pack(f"<{len(vals)}{fmt}", *vals)
        )
    if _SAM_FLOAT_RE.match(v):
        return tag.encode() + b"f" + struct.pack("<f", float(v))
    return tag.encode() + b"Z" + v.encode("latin-1") + b"\x00"


def encode_record(row: tuple, ref_index: dict[str, int]) -> bytes:
    """Inverse of decode_record; ``row`` in SAM_SCHEMA order."""
    (qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual, tags) = row
    ref_id = ref_index.get(rname, -1) if rname else -1
    next_ref = ref_index.get(rnext, -1) if rnext else -1
    pos0 = (pos or 0) - 1
    next_pos0 = (pnext or 0) - 1
    name_b = qname.encode("latin-1") + b"\x00"
    cigar_b = b""
    n_cigar = 0
    cg_b = b""
    if cigar:
        num = 0
        ops = []
        for ch in cigar:
            if ch.isdigit():
                num = num * 10 + ord(ch) - 48
            else:
                ops.append((num << 4) | CIGAR_CODE[ch])
                num = 0
        if len(ops) > 0xFFFF:
            # SAM spec 4.2.2 long-CIGAR convention (ultralong reads):
            # n_cigar_op is uint16, so the record stores the sentinel
            # `<l_seq>S<reflen>N` and the real ops ride in a CG:B,I tag —
            # htsjdk writes/reads the same shape behind the reference.
            lseq = len(seq) if seq else 0
            sentinel = [
                (lseq << 4) | CIGAR_CODE["S"],
                (cigar_ref_length(cigar) << 4) | CIGAR_CODE["N"],
            ]
            cg_b = (
                b"CGBI"
                + struct.pack("<i", len(ops))
                + struct.pack(f"<{len(ops)}I", *ops)
            )
            ops = sentinel
        n_cigar = len(ops)
        cigar_b = struct.pack(f"<{n_cigar}I", *ops)
    l_seq = len(seq) if seq else 0
    if seq:
        if _SEQ_KNOWN.match(seq):
            # base -> nibble-as-hex-digit, then fromhex packs two bases per
            # byte high-nibble-first — exactly BAM's layout, all C-speed
            h = seq.translate(_SEQ_TO_HEX)
            seq_b = bytes.fromhex(h + "0" if l_seq % 2 else h)
        else:  # unusual base codes: per-char fallback
            seq_b = bytearray((l_seq + 1) // 2)
            for i, c in enumerate(seq):
                nib = SEQ_NIBBLE.get(c.upper(), 15)
                seq_b[i >> 1] |= nib << 4 if i % 2 == 0 else nib
            seq_b = bytes(seq_b)
    else:
        seq_b = b""
    if qual:
        if not _QUAL_VALID.match(qual):
            raise ValueError(
                f"invalid qual string for {qname!r}: chars must be in "
                "'!'..'~' (phred+33)"
            )
        if len(qual) != l_seq:
            raise ValueError(
                f"BAM encode: qual length {len(qual)} != seq length {l_seq} "
                f"for {qname!r}"
            )
        qual_b = qual.encode("latin-1").translate(_QUAL_SUB33)
    else:
        qual_b = b"\xff" * l_seq
    # when the long-cigar sentinel path generates its own CG block, drop
    # any pre-existing 'CG' entry from the user tags (e.g. copied verbatim
    # from another tool's output) — two CG tags in one record is ambiguous
    # per SAM spec and the generated one is authoritative for this cigar
    tag_items = (tags or {}).items()
    if cg_b:
        tag_items = [(k, v) for k, v in tag_items if k != "CG"]
    tags_b = (
        b"".join(_encode_tag_value(k, v) for k, v in tag_items)
        + cg_b
    )
    bin_ = reg2bin(max(pos0, 0), max(pos0, 0) + cigar_ref_length(cigar)) if ref_id >= 0 else 0
    body = (
        struct.pack(
            "<iiBBHHHiiii",
            ref_id, pos0, len(name_b), mapq or 0, bin_, n_cigar,
            int(flag), l_seq, next_ref, next_pos0, int(tlen or 0),
        )
        + name_b + cigar_b + bytes(seq_b) + qual_b + tags_b
    )
    return struct.pack("<i", len(body)) + body


# ---------------------------------------------------------------------------
# Split guessing (arbitrary byte offset -> first record boundary)
# ---------------------------------------------------------------------------

def _plausible_record_at(buf: bytes, off: int, n_ref: int) -> bool:
    """Field-bounds validation at fixed offsets, mirroring the checks in
    reference BAMSplitGuesser.java:237-339."""
    if off + 4 + SHORTEST_RECORD > len(buf):
        return False
    (block_size,) = struct.unpack_from("<i", buf, off)
    if block_size < SHORTEST_RECORD or block_size > 0x10000000:
        return False
    (ref_id, pos, l_read_name, _mapq, _bin, n_cigar, _flag, l_seq,
     next_ref, next_pos, _tlen) = struct.unpack_from("<iiBBHHHiiii", buf, off + 4)
    if not (-1 <= ref_id < n_ref) or not (-1 <= next_ref < n_ref):
        return False
    if not (-1 <= pos < (1 << 31) - 1) or not (-1 <= next_pos < (1 << 31) - 1):
        return False
    if l_read_name < 1:
        return False
    name_end = off + 4 + 32 + l_read_name - 1
    if name_end >= len(buf) or buf[name_end] != 0:
        return False
    fixed = 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
    if block_size < fixed:
        return False
    return True


def guess_next_record_voffset(
    buf: bytes, base_offset: int, n_ref: int
) -> Optional[int]:
    """Virtual offset of the first record starting at or after ``base_offset``
    (the file offset of ``buf[0]``). The compressed buffer should span at
    least BLOCKS_NEEDED_FOR_GUESS max-size blocks past the first boundary.

    Two-stage guess, mirroring the reference's planner fallback
    (BAMInputFormat.java:481-540): snap to a provable BGZF block boundary,
    decompress a multi-block window, then scan for a clean record run.
    """
    block_off = bgzf.guess_next_block_start(buf)
    if block_off is None:
        return None
    payload = bytearray()
    # (compressed offset, cumulative payload start) per decompressed block —
    # the map from a payload offset back to its owning block. Comparing
    # rec_off against 0xFFFF is WRONG here: blocks hold <= 0xFF00-byte
    # payloads, so an offset in [block_len, 0xFFFF] would silently produce a
    # voffset pointing past its block's payload (a misaligned scan).
    block_map: list[tuple[int, int]] = []
    p = block_off
    blocks = 0
    while p < len(buf) and blocks < BLOCKS_NEEDED_FOR_GUESS + 1:
        try:
            chunk, bsize = bgzf.decompress_block(buf, p)
        except ValueError:
            break
        block_map.append((p, len(payload)))
        payload += chunk
        p += bsize
        blocks += 1
    rec_off = guess_record_start(bytes(payload), n_ref)
    if rec_off is None:
        return None
    for q, pstart in reversed(block_map):
        if rec_off >= pstart:
            return bgzf.make_voffset(base_offset + q, rec_off - pstart)
    return None


def guess_record_start(
    payload: bytes, n_ref: int, min_records: int = 8
) -> Optional[int]:
    """First offset in decompressed ``payload`` that starts a clean run of
    records: every subsequent block_size link must land either exactly at the
    payload end or on another record that FULLY DECODES (cigar op codes, tag
    block, field bounds — the reference's BAMSplitGuesser decodes candidates
    through the codec for the same reason, BAMSplitGuesser.java:108-235;
    fixed-offset plausibility alone admits ~0.05% false positives that later
    crash or corrupt the scan). Returns None if no offset qualifies (caller
    falls back to the next block / next split)."""
    dummy_refs = [("", 0)] * max(n_ref, 0)
    for cand in range(0, max(len(payload) - SHORTEST_RECORD - 4, 0) + 1):
        if not _plausible_record_at(payload, cand, n_ref):
            continue
        ok, seen, p = True, 0, cand
        while p < len(payload):
            if p + 4 > len(payload) or seen >= min_records:
                break
            (bs,) = struct.unpack_from("<i", payload, p)
            nxt = p + 4 + bs
            if nxt > len(payload):
                break  # record spills past buffer — can't disprove; accept run
            if not _plausible_record_at(payload, p, n_ref):
                ok = False
                break
            try:
                decode_record(payload[p + 4 : nxt], dummy_refs)
            except Exception:
                ok = False
                break
            seen += 1
            p = nxt
        if ok and seen > 0:
            return cand
    return None
