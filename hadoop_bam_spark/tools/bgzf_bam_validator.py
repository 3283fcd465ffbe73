"""Standalone BGZF + BAM structural validator.

The BGZF/BAM twin of ``tools/cram3_validator.py`` — walks a file
byte-by-byte against the published specs (gzip RFC 1952 member framing,
the SAM spec's BGZF §4.1 and BAM §4.2 layouts) WITHOUT importing the
engine's reader/writer (``formats/bgzf.py``, ``formats/bam.py``), so a
same-author misreading in the engine's matched pair cannot
self-validate. The r12 CRAM EOF-constant bug is the motivating failure
mode: engine-only roundtrips masked a spec-invalid fixed trailer; the
analogous BGZF risks are the 28-byte EOF member, the BC/BSIZE extra
subfield arithmetic, and per-member CRC32/ISIZE — all re-derived here.
It inflates and checksums with the stdlib ``zlib`` on purpose, even where
the engine deflates and inflates through libdeflate: a second codec is
the independent oracle for the engine's blocks.

Checks:
- gzip member framing: magic/CM/FLG, FEXTRA with a BC subfield whose
  BSIZE matches the actual member length, raw-deflate payload inflates,
  CRC32 and ISIZE match the inflated bytes, member length <= 65536.
- BAM payload stream: magic, l_text/header text, n_ref reference
  dictionary (name lengths, NUL termination, non-negative l_ref),
  record frames: block_size covers the fixed 32-byte core, l_read_name
  >= 1 with NUL-terminated name, variable sections exactly fill
  block_size, refID/next_refID within [-1, n_ref), bin/cigar/seq
  length cross-checks (n_cigar_op vs consumed bytes).
- the final member is the spec's fixed 28-byte EOF block, byte-exact.

Usage::

    python -m hadoop_bam_spark.tools.bgzf_bam_validator file.bam [...]

Library surface: :func:`validate_bytes` / :func:`validate_file` return
finding strings (empty == structurally valid). ``mode="bgzf"`` checks
only the compression layer (for .bgz text files).
"""

from __future__ import annotations

import struct
import sys
import zlib

#: the spec's fixed empty-member EOF marker (SAM spec §4.1.2), re-typed
#: from the published constant — deliberately NOT imported from the
#: engine's bgzf module
EOF_MEMBER = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000"
)

MAX_MEMBER = 65536  # BSIZE is uint16 of (length - 1)

CIGAR_OPS = "MIDNSHP=X"


def _parse_member(buf: bytes, p: int, findings: list, where: str):
    """One gzip member with the BC extra subfield; returns
    (payload bytes | None, next offset | None)."""
    n = len(buf)
    if p + 18 > n:
        findings.append(f"{where}: truncated member header "
                        f"({n - p} bytes left, need >= 18)")
        return None, None
    if buf[p:p + 2] != b"\x1f\x8b":
        findings.append(f"{where}: bad gzip magic "
                        f"{buf[p:p + 2].hex()}")
        return None, None
    cm, flg = buf[p + 2], buf[p + 3]
    if cm != 8:
        findings.append(f"{where}: compression method {cm}, not 8")
    if not flg & 0x04:
        findings.append(f"{where}: FEXTRA not set — not a BGZF member")
        return None, None
    if flg != 0x04:
        # the SAM spec's BGZF layout fixes FLG to exactly FEXTRA;
        # FNAME/FCOMMENT/FHCRC bits would shift the payload start under
        # RFC 1952 and break every fixed-layout BGZF reader
        findings.append(
            f"{where}: FLG {flg:#04x} carries bits beyond FEXTRA")
    (xlen,) = struct.unpack_from("<H", buf, p + 10)
    xp, xend = p + 12, p + 12 + xlen
    if xend > n:
        findings.append(f"{where}: XLEN {xlen} overruns the file")
        return None, None
    bsize = None
    while xp + 4 <= xend:
        si1, si2, slen = buf[xp], buf[xp + 1], struct.unpack_from(
            "<H", buf, xp + 2)[0]
        if xp + 4 + slen > xend:
            findings.append(f"{where}: extra subfield overruns XLEN")
            break
        if (si1, si2) == (66, 67):  # 'B','C'
            if slen != 2:
                findings.append(
                    f"{where}: BC subfield length {slen}, not 2")
            else:
                bsize = struct.unpack_from("<H", buf, xp + 4)[0]
        xp += 4 + slen
    if bsize is None:
        findings.append(f"{where}: no BC subfield (not BGZF)")
        return None, None
    member_len = bsize + 1
    if member_len > MAX_MEMBER:
        findings.append(
            f"{where}: member length {member_len} > 65536")
    end = p + member_len
    if end > n:
        findings.append(
            f"{where}: BSIZE says {member_len} bytes but only "
            f"{n - p} remain")
        return None, None
    comp = buf[p + 12 + xlen : end - 8]
    crc_stored, isize = struct.unpack_from("<II", buf, end - 8)
    try:
        payload = zlib.decompress(comp, wbits=-15)
    except zlib.error as e:
        findings.append(f"{where}: deflate payload does not inflate "
                        f"({e})")
        return None, end
    if len(payload) != isize:
        findings.append(
            f"{where}: ISIZE {isize} != inflated size {len(payload)}")
    crc = zlib.crc32(payload) & 0xFFFFFFFF
    if crc != crc_stored:
        findings.append(
            f"{where}: payload CRC32 mismatch (stored "
            f"{crc_stored:#010x}, computed {crc:#010x})")
    return payload, end


def _validate_bam_stream(data: bytes, findings: list,
                         max_findings: int) -> None:
    """The decompressed BAM byte stream (SAM spec §4.2)."""
    n = len(data)
    if n < 12:
        findings.append("BAM stream shorter than its fixed header")
        return
    if data[:4] != b"BAM\x01":
        findings.append(f"bad BAM magic {data[:4]!r}")
        return
    (l_text,) = struct.unpack_from("<i", data, 4)
    p = 8
    if l_text < 0 or p + l_text + 4 > n:
        findings.append(f"l_text {l_text} overruns the stream")
        return
    p += l_text
    (n_ref,) = struct.unpack_from("<i", data, p)
    p += 4
    if n_ref < 0:
        findings.append(f"negative n_ref {n_ref}")
        return
    for i in range(n_ref):
        if p + 4 > n:
            findings.append(f"ref[{i}]: truncated l_name")
            return
        (l_name,) = struct.unpack_from("<i", data, p)
        p += 4
        if l_name < 1 or p + l_name + 4 > n:
            findings.append(f"ref[{i}]: l_name {l_name} invalid")
            return
        if data[p + l_name - 1] != 0:
            findings.append(f"ref[{i}]: name not NUL-terminated")
        (l_ref,) = struct.unpack_from("<i", data, p + l_name)
        if l_ref < 0:
            findings.append(f"ref[{i}]: negative l_ref {l_ref}")
        p += l_name + 4
    rec = 0
    while p < n:
        where = f"record[{rec}] @{p}"
        if p + 4 > n:
            findings.append(f"{where}: truncated block_size")
            return
        (block_size,) = struct.unpack_from("<i", data, p)
        p += 4
        if block_size < 32 or p + block_size > n:
            findings.append(
                f"{where}: block_size {block_size} invalid "
                f"({n - p} bytes left)")
            return
        (ref_id, pos, l_read_name, _mapq, _bin, n_cigar, _flag, l_seq,
         next_ref, _next_pos, _tlen) = struct.unpack_from(
            "<iiBBHHHiiii", data, p)
        body_end = p + block_size
        for label, rid in (("refID", ref_id), ("next_refID", next_ref)):
            if rid < -1 or rid >= n_ref:
                findings.append(
                    f"{where}: {label} {rid} outside [-1, {n_ref})")
        if l_read_name < 1:
            findings.append(f"{where}: l_read_name {l_read_name} < 1")
            return
        if l_seq < 0:
            findings.append(f"{where}: negative l_seq {l_seq}")
            return
        q = p + 32
        fixed = 32 + l_read_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq
        if fixed > block_size:
            findings.append(
                f"{where}: variable sections need {fixed} bytes but "
                f"block_size is {block_size}")
            return
        if data[q + l_read_name - 1] != 0:
            findings.append(f"{where}: read name not NUL-terminated")
        q += l_read_name
        for ci in range(n_cigar):
            (op,) = struct.unpack_from("<I", data, q + 4 * ci)
            if (op & 0xF) > 8:
                findings.append(
                    f"{where}: cigar op {op & 0xF} > 8 at index {ci}")
                break
        # the remainder after seq/qual is the tag block; walking typed
        # tags is the decoder's job — structurally we only require the
        # sections to FIT (checked above)
        p = body_end
        rec += 1
        if len(findings) >= max_findings:
            findings.append("... (finding limit reached)")
            return


def validate_bytes(buf: bytes, mode: str = "bam",
                   max_findings: int = 200,
                   require_eof: bool = True) -> list[str]:
    """Validate a whole BGZF file; ``mode="bam"`` additionally checks
    the decompressed stream as BAM. Returns finding strings.

    ``require_eof``: the 28-byte empty EOF member is a "should" in the
    SAM spec (htsjdk warns on absence, pre-marker-era files like the
    reference's own test.bam legitimately lack it) but the ENGINE
    always writes it — keep True when auditing engine output, pass
    False for foreign files."""
    findings: list[str] = []
    p = 0
    payloads: list[bytes] = []
    member_no = 0
    saw_eof = False
    while p < len(buf):
        if (len(buf) - p == len(EOF_MEMBER)
                and buf.endswith(EOF_MEMBER)):
            saw_eof = True
            p = len(buf)
            break
        payload, nxt = _parse_member(
            buf, p, findings, f"member[{member_no}] @0x{p:x}")
        if nxt is None:
            return findings
        if payload is not None:
            payloads.append(payload)
        p = nxt
        member_no += 1
        if len(findings) >= max_findings:
            findings.append("... (finding limit reached)")
            return findings
    if require_eof and not saw_eof:
        findings.append(
            "file does not end with the fixed 28-byte BGZF EOF member")
    if mode == "bam":
        _validate_bam_stream(b"".join(payloads), findings, max_findings)
    return findings


def validate_file(path: str, mode: str = "bam",
                  require_eof: bool = True) -> list[str]:
    with open(path, "rb") as fh:
        return validate_bytes(fh.read(), mode, require_eof=require_eof)


def main(argv: list[str]) -> int:
    mode = "bam"
    require_eof = True
    paths = []
    for a in argv:
        if a == "--bgzf":
            mode = "bgzf"
        elif a == "--no-require-eof":
            require_eof = False
        else:
            paths.append(a)
    if not paths:
        print("usage: bgzf_bam_validator [--bgzf] FILE [...]",
              file=sys.stderr)
        return 2
    bad = 0
    for path in paths:
        findings = validate_file(path, mode, require_eof=require_eof)
        for f in findings:
            print(f"{path}: {f}")
        if findings:
            bad += 1
        else:
            print(f"{path}: OK")
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
