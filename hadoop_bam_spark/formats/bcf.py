"""BCF2 binary codec: header, record decode, and split guesser.

Implements the BCF2.1/2.2 layout from the public VCFv4.3 specification
(section 6, "BCF specification"). Reference behavior parity:
``BCFRecordReader`` (BCFRecordReader.java:70-173) for decode semantics and
``BCFSplitGuesser`` (BCFSplitGuesser.java:118-360) for record-boundary
realignment of arbitrary byte-range splits. Decoded rows land in the same
``VCF_SCHEMA`` tuples the text parser produces, so everything downstream
(sinks, queries, oracle) is format-agnostic.

Typed-value encoding recap (spec §6.3.3): descriptor byte = type (low 4
bits: 0 MISSING / 1 int8 / 2 int16 / 3 int32 / 5 float32 / 7 char) and
count (high 4 bits; 15 = overflow, actual count follows as a typed int).
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field
from functools import cached_property
from typing import Optional

from hadoop_bam_spark.formats.vcf import VCFHeader, parse_vcf_header

BCF_MAGIC = b"BCF\x02"

# sentinel bit patterns (spec §6.3.3, table of missing / end-of-vector)
_INT8_MISSING = -128
_INT8_EOV = -127
_INT16_MISSING = -32768
_INT16_EOV = -32767
_INT32_MISSING = -2147483648
_INT32_EOV = -2147483647
_FLOAT_MISSING_BITS = 0x7F800001
_FLOAT_EOV_BITS = 0x7F800002

_INT_MISSING = {1: _INT8_MISSING, 2: _INT16_MISSING, 3: _INT32_MISSING}
_INT_EOV = {1: _INT8_EOV, 2: _INT16_EOV, 3: _INT32_EOV}
_INT_FMT = {1: "b", 2: "h", 3: "i"}
_INT_SIZE = {1: 1, 2: 2, 3: 4}


@dataclass
class BCFHeader:
    """Driver-side header state: VCF header text plus the two dictionaries
    BCF records index into (spec §6.2.1; reference rebuilds the contig dict
    the same way, BCFRecordReader.java:105-125)."""

    vcf: VCFHeader
    strings: list[str] = field(default_factory=list)  # FILTER/INFO/FORMAT ids
    contigs: list[str] = field(default_factory=list)
    n_samples: int = 0

    @property
    def string_index(self) -> dict:
        """name -> dictionary index, built once (encode hot path)."""
        got = self.__dict__.get("_sidx")
        if got is None or len(got) != len(self.strings):
            got = self.__dict__["_sidx"] = {
                s: i for i, s in enumerate(self.strings)
            }
        return got

    @cached_property
    def info_flag_idx(self) -> frozenset:
        """Dictionary indexes of the INFO keys the header declares
        ``Type=Flag``. Spec §6.3.3 lets a flag be encoded by any
        non-reserved typed value, so decoders key flag-ness on the header,
        not on the value's type."""
        idx = self.string_index
        flags = set()
        for line in self.vcf.lines:
            if line.startswith("##INFO=<"):
                kv = _meta_fields(line)
                if kv.get("Type") == "Flag" and kv.get("ID") in idx:
                    flags.add(idx[kv["ID"]])
        return frozenset(flags)

    @property
    def contig_index(self) -> dict:
        got = self.__dict__.get("_cidx")
        if got is None or len(got) != len(self.contigs):
            got = self.__dict__["_cidx"] = {
                c: i for i, c in enumerate(self.contigs)
            }
        return got


def _meta_fields(line: str) -> dict:
    """The key=value fields of a ``##KEY=<...>`` header line."""
    inner = line[line.index("<") + 1 : line.rindex(">")]
    return dict(p.split("=", 1) for p in inner.split(",") if "=" in p)


def _parse_idx(line: str) -> Optional[int]:
    if "<" not in line:
        return None
    kv = _meta_fields(line)
    return int(kv["IDX"]) if "IDX" in kv else None


def _dict_put(d: list, key: str, idx: Optional[int]) -> None:
    if idx is None:
        if key not in d:
            d.append(key)
        return
    while len(d) <= idx:
        d.append(None)
    d[idx] = key


def parse_bcf_header_text(text: str) -> BCFHeader:
    """Build string + contig dictionaries per spec §6.2.1: index = IDX= when
    present, else order of first appearance; PASS is implicitly entry 0."""
    lines = text.rstrip("\x00").splitlines()
    vcf = parse_vcf_header(lines)
    strings: list[str] = ["PASS"]
    contigs: list[str] = []
    for line in lines:
        if line.startswith(("##FILTER=", "##INFO=", "##FORMAT=")):
            key = _meta_fields(line).get("ID")
            if key is None:
                continue
            if key == "PASS":
                continue
            _dict_put(strings, key, _parse_idx(line))
        elif line.startswith("##contig="):
            kv = _meta_fields(line)
            if "ID" in kv:
                _dict_put(contigs, kv["ID"], _parse_idx(line))
    return BCFHeader(vcf, strings, contigs, len(vcf.samples))


def read_bcf_header(stream) -> tuple[BCFHeader, int]:
    """Read magic + l_text + header text from an UNCOMPRESSED byte stream
    (BGZF-wrap upstream). Returns (header, bytes_consumed)."""
    magic = stream.read(5)
    if magic[:4] != BCF_MAGIC:
        raise ValueError(f"not a BCF2 file (magic {magic!r})")
    (l_text,) = struct.unpack("<I", stream.read(4))
    text = stream.read(l_text).decode("utf-8", "replace")
    return parse_bcf_header_text(text), 9 + l_text


def _read_typed_descriptor(buf: bytes, off: int) -> tuple[int, int, int]:
    """-> (type, count, next_offset)."""
    desc = buf[off]
    off += 1
    typ = desc & 0x0F
    count = desc >> 4
    if count == 15:
        n, off = _read_typed_int_scalar(buf, off)
        count = n
    return typ, count, off


def _read_typed_int_scalar(buf: bytes, off: int) -> tuple[int, int]:
    typ, count, off = _read_typed_descriptor(buf, off)
    if typ not in _INT_FMT or count != 1:
        raise ValueError(f"expected scalar typed int at {off}, got type={typ} n={count}")
    (v,) = struct.unpack_from("<" + _INT_FMT[typ], buf, off)
    return v, off + _INT_SIZE[typ]


def _read_typed_value(buf: bytes, off: int):
    """Decode one typed value -> (python value, next_offset).

    ints/floats of count 1 -> scalar; count>1 -> list (EOV-trimmed);
    char -> str; MISSING -> None.
    """
    typ, count, off = _read_typed_descriptor(buf, off)
    return _read_vector(buf, off, typ, count)


def _chars(raw: bytes) -> str:
    """A BCF character vector as text, up to its first NUL: VCFv4.3
    §6.3.3 pads per-sample strings to one width with NULs, and htslib
    reads every char vector up to the first."""
    end = raw.find(0)
    return (raw if end < 0 else raw[:end]).decode("utf-8", "replace")


def _read_vector(buf: bytes, off: int, typ: int, count: int):
    if typ == 0 or count == 0:
        return None, off
    if typ == 7:
        s = _chars(buf[off : off + count])
        return (None if s == "" else s), off + count
    if typ == 5:
        vals = []
        for i in range(count):
            (bits,) = struct.unpack_from("<I", buf, off + 4 * i)
            if bits == _FLOAT_EOV_BITS:
                break
            if bits == _FLOAT_MISSING_BITS:
                vals.append(None)
            else:
                vals.append(struct.unpack_from("<f", buf, off + 4 * i)[0])
        off += 4 * count
        return (vals[0] if len(vals) == 1 else vals or None), off
    if typ in _INT_FMT:
        raw = struct.unpack_from(f"<{count}{_INT_FMT[typ]}", buf, off)
        off += count * _INT_SIZE[typ]
        vals = []
        for v in raw:
            if v == _INT_EOV[typ]:
                break
            vals.append(None if v == _INT_MISSING[typ] else v)
        return (vals[0] if len(vals) == 1 else vals or None), off
    raise ValueError(f"unknown BCF type {typ}")


def _fmt_scalar(v) -> str:
    if v is None:
        return "."
    if isinstance(v, float):
        s = f"{v:g}"
        return s
    return str(v)


def _fmt_value(v) -> str:
    if isinstance(v, list):
        return ",".join(_fmt_scalar(x) for x in v)
    return _fmt_scalar(v)


def _gt_string(vals) -> Optional[str]:
    """GT int vector -> '0/1' style text (spec §6.3.3 GT encoding: each
    value = (allele+1)<<1 | phased; 0 = missing allele)."""
    if vals is None:
        return None
    if not isinstance(vals, list):
        vals = [vals]
    out = []
    for i, v in enumerate(vals):
        if v is None:
            out.append(("|" if i else "") + ".")
            continue
        allele = (v >> 1) - 1
        sep = ("|" if v & 1 else "/") if i else ""
        out.append(sep + ("." if allele < 0 else str(allele)))
    return "".join(out) or None


#: GT raw-value tuples recur constantly (a cohort has a handful of genotype
#: combinations) — memoize the formatted string per trimmed tuple
_GT_CACHE: dict = {}


def _gt_cached(t: tuple) -> Optional[str]:
    got = _GT_CACHE.get(t, 0)
    if got != 0:
        return got
    if len(_GT_CACHE) > 4096:
        _GT_CACHE.clear()
    got = _GT_CACHE[t] = _gt_string(t[0] if len(t) == 1 else list(t) or None)
    return got


def _scalar_int(buf: bytes, p: int, upk=struct.unpack_from) -> tuple[int, int]:
    """Inline typed scalar int -> (value, next). Same contract as
    _read_typed_int_scalar without the descriptor-helper call."""
    desc = buf[p]
    p += 1
    typ = desc & 0x0F
    count = desc >> 4
    if count == 15:
        count, p = _scalar_int(buf, p)
    if count != 1:
        raise ValueError(f"expected scalar typed int at {p}, got type={typ} n={count}")
    if typ == 1:
        v = buf[p]
        return (v - 256 if v > 127 else v), p + 1
    if typ == 2:
        return upk("<h", buf, p)[0], p + 2
    if typ == 3:
        return upk("<i", buf, p)[0], p + 4
    raise ValueError(f"expected scalar typed int at {p}, got type={typ} n={count}")


def _read_str(buf: bytes, p: int):
    """Inline typed char vector -> (str|None, next); falls back to the
    generic reader for non-char types."""
    desc = buf[p]
    p += 1
    typ = desc & 0x0F
    count = desc >> 4
    if count == 15:
        count, p = _scalar_int(buf, p)
    if typ != 7:
        return _read_vector(buf, p, typ, count)
    if count == 0:
        return None, p
    s = _chars(buf[p : p + count])
    return (s or None), p + count


def decode_record(buf: bytes, off: int, hdr: BCFHeader):
    """Decode one BCF record at ``off`` -> (VCF_SCHEMA tuple, next_offset).

    Fast path: descriptor parsing and the FORMAT per-sample loops are
    inlined with ONE bulk struct.unpack per (format key x all samples)
    instead of a typed-value reader call per sample — the same hot-loop
    treatment the CRAM decoder got. Semantics are identical to
    :func:`decode_record_ref` (property-tested) and to the reference's
    BCFRecordReader.java:126-173.

    Raise-don't-garbage: corrupt bytes surface as ``ValueError``, never
    struct.error / IndexError / KeyError from reads past declared spans
    or dictionary indexes outside the header tables.
    """
    try:
        return _decode_record_unchecked(buf, off, hdr)
    except (struct.error, IndexError, KeyError, OverflowError,
            TypeError) as e:
        # TypeError: a corrupted type descriptor can deliver e.g. a str
        # vector where an int dictionary index belongs
        raise ValueError(f"malformed BCF record at {off}: {e}") from e


def _decode_record_unchecked(buf: bytes, off: int, hdr: BCFHeader):
    upk = struct.unpack_from
    strings = hdr.strings
    flags = hdr.info_flag_idx
    l_shared, l_indiv = upk("<II", buf, off)
    shared_end = off + 8 + l_shared
    rec_end = shared_end + l_indiv
    chrom, pos, rlen = upk("<iii", buf, off + 8)
    qual_bits, n_allele_info, n_fmt_sample = upk("<III", buf, off + 20)
    p = off + 32
    n_info = n_allele_info & 0xFFFF
    n_allele = n_allele_info >> 16
    n_sample = n_fmt_sample & 0xFFFFFF
    n_fmt = n_fmt_sample >> 24

    qual = None
    if qual_bits != _FLOAT_MISSING_BITS:
        qual = upk("<f", buf, off + 20)[0]

    vid, p = _read_str(buf, p)
    alleles = []
    for _ in range(n_allele):
        a, p = _read_str(buf, p)
        alleles.append(a)

    # FILTER: typed int vector of dictionary indexes
    desc = buf[p]
    p += 1
    ftyp = desc & 0x0F
    fcount = desc >> 4
    if fcount == 15:
        fcount, p = _scalar_int(buf, p)
    if ftyp == 0 or fcount == 0:
        filters = None
    elif ftyp in _INT_FMT:
        vals = upk("<%d%s" % (fcount, _INT_FMT[ftyp]), buf, p)
        p += fcount * _INT_SIZE[ftyp]
        eov = _INT_EOV[ftyp]
        miss = _INT_MISSING[ftyp]
        fv = []
        for v in vals:
            if v == eov:
                break
            fv.append(None if v == miss else v)
        filters = [strings[i] for i in fv] if fv else None
    else:
        filt_vals, p = _read_vector(buf, p, ftyp, fcount)
        if filt_vals is None:
            filters = None
        else:
            if not isinstance(filt_vals, list):
                filt_vals = [filt_vals]
            filters = [strings[i] for i in filt_vals]

    info: dict[str, str] = {}
    end = pos + rlen  # 1-based inclusive end (pos is 0-based)
    for _ in range(n_info):
        key_idx, p = _scalar_int(buf, p)
        key = strings[key_idx]
        desc = buf[p]
        p += 1
        typ = desc & 0x0F
        count = desc >> 4
        if count == 15:
            count, p = _scalar_int(buf, p)
        if typ == 0 or key_idx in flags:
            # a flag, whatever its value (spec §6.3.3): skip the value
            _, p = _read_vector(buf, p, typ, count)
            info[key] = "true"
        elif typ == 7:
            s = _chars(buf[p : p + count])
            p += count
            info[key] = s if s else "."
        elif count == 1 and typ in (1, 2, 3):
            if typ == 1:
                v = buf[p]
                v = v - 256 if v > 127 else v
                p += 1
            elif typ == 2:
                v = upk("<h", buf, p)[0]
                p += 2
            else:
                v = upk("<i", buf, p)[0]
                p += 4
            info[key] = "." if v == _INT_MISSING[typ] or v == _INT_EOV[typ] else str(v)
        elif count == 1 and typ == 5:
            bits = upk("<I", buf, p)[0]
            p += 4
            if bits == _FLOAT_EOV_BITS or bits == _FLOAT_MISSING_BITS:
                info[key] = "."
            else:
                info[key] = "%g" % upk("<f", buf, p - 4)[0]
        else:
            val, p = _read_vector(buf, p, typ, count)
            info[key] = _fmt_value(val)

    genotypes = None
    if n_fmt and n_sample:
        p2 = shared_end
        per_sample: list[dict] = [dict() for _ in range(n_sample)]
        for _ in range(n_fmt):
            key_idx, p2 = _scalar_int(buf, p2)
            key = strings[key_idx]
            desc = buf[p2]
            p2 += 1
            typ = desc & 0x0F
            count = desc >> 4
            if count == 15:
                count, p2 = _scalar_int(buf, p2)
            if typ == 0 or count == 0:
                continue
            if typ in (1, 2, 3):
                total = n_sample * count
                vals = upk("<%d%s" % (total, _INT_FMT[typ]), buf, p2)
                p2 += total * _INT_SIZE[typ]
                eov = _INT_EOV[typ]
                miss = _INT_MISSING[typ]
                if key == "GT":
                    for s in range(n_sample):
                        sub = vals[s * count : (s + 1) * count]
                        if eov in sub or miss in sub:
                            t = []
                            for v in sub:
                                if v == eov:
                                    break
                                t.append(None if v == miss else v)
                            sub = tuple(t)
                        gt = _GT_CACHE.get(sub, 0)
                        if gt == 0:
                            gt = _gt_cached(sub)
                        if gt is not None:
                            per_sample[s][key] = gt
                elif count == 1:
                    for s in range(n_sample):
                        v = vals[s]
                        if v != eov and v != miss:
                            per_sample[s][key] = str(v)
                else:
                    for s in range(n_sample):
                        t = []
                        for v in vals[s * count : (s + 1) * count]:
                            if v == eov:
                                break
                            t.append(None if v == miss else v)
                        if len(t) == 1:
                            if t[0] is not None:
                                per_sample[s][key] = str(t[0])
                        elif t:
                            per_sample[s][key] = ",".join(
                                "." if x is None else str(x) for x in t
                            )
            elif typ == 7:
                base = p2
                for s in range(n_sample):
                    v = _chars(buf[base + s * count : base + (s + 1) * count])
                    if v:
                        per_sample[s][key] = v
                p2 = base + n_sample * count
            elif typ == 5:
                total = n_sample * count
                bits = upk("<%dI" % total, buf, p2)
                flts = upk("<%df" % total, buf, p2)
                p2 += 4 * total
                for s in range(n_sample):
                    t = []
                    for i in range(s * count, (s + 1) * count):
                        b = bits[i]
                        if b == _FLOAT_EOV_BITS:
                            break
                        t.append(None if b == _FLOAT_MISSING_BITS else flts[i])
                    if len(t) == 1:
                        if t[0] is not None:
                            per_sample[s][key] = "%g" % t[0]
                    elif t:
                        per_sample[s][key] = ",".join(
                            "." if x is None else "%g" % x for x in t
                        )
            else:
                for s in range(n_sample):
                    val, p2 = _read_vector(buf, p2, typ, count)
                    if val is not None:
                        per_sample[s][key] = _fmt_value(val)
        samples = hdr.vcf.samples or [f"S{i}" for i in range(n_sample)]
        genotypes = [
            (samples[s], per_sample[s].get("GT"), per_sample[s])
            for s in range(n_sample)
        ]

    row = (
        hdr.contigs[chrom],
        pos + 1,
        end,
        vid,
        alleles[0] if alleles else None,
        alleles[1:] or None,
        qual,
        filters,
        info,
        genotypes,
    )
    return row, rec_end


def decode_record_ref(buf: bytes, off: int, hdr: BCFHeader):
    """Reference (pre-optimization) decode, kept as the parity oracle for
    tests — one typed-value reader call per value, structured exactly like
    the spec text.
    """
    l_shared, l_indiv = struct.unpack_from("<II", buf, off)
    shared_end = off + 8 + l_shared
    rec_end = shared_end + l_indiv
    p = off + 8
    chrom, pos, rlen = struct.unpack_from("<iii", buf, p)
    (qual_bits,) = struct.unpack_from("<I", buf, p + 12)
    (n_allele_info,) = struct.unpack_from("<I", buf, p + 16)
    (n_fmt_sample,) = struct.unpack_from("<I", buf, p + 20)
    p += 24
    n_info = n_allele_info & 0xFFFF
    n_allele = n_allele_info >> 16
    n_sample = n_fmt_sample & 0xFFFFFF
    n_fmt = n_fmt_sample >> 24

    qual = None
    if qual_bits != _FLOAT_MISSING_BITS:
        (qual,) = struct.unpack("<f", struct.pack("<I", qual_bits))

    vid, p = _read_typed_value(buf, p)
    alleles = []
    for _ in range(n_allele):
        a, p = _read_typed_value(buf, p)
        alleles.append(a)
    filt_vals, p = _read_typed_value(buf, p)
    if filt_vals is None:
        filters = None
    else:
        if not isinstance(filt_vals, list):
            filt_vals = [filt_vals]
        filters = [hdr.strings[i] for i in filt_vals]
    info: dict[str, str] = {}
    end = pos + rlen  # 1-based inclusive end (pos is 0-based)
    for _ in range(n_info):
        key_idx, p = _read_typed_int_scalar(buf, p)
        key = hdr.strings[key_idx]
        typ, count, p = _read_typed_descriptor(buf, p)
        val, p = _read_vector(buf, p, typ, count)
        if typ == 0 or key_idx in hdr.info_flag_idx:
            info[key] = "true"  # flag, whatever its value (spec §6.3.3)
        else:
            info[key] = _fmt_value(val)

    genotypes = None
    if n_fmt and n_sample:
        p = shared_end
        per_sample: list[dict] = [dict() for _ in range(n_sample)]
        keys: list[str] = []
        for _ in range(n_fmt):
            key_idx, p = _read_typed_int_scalar(buf, p)
            key = hdr.strings[key_idx]
            keys.append(key)
            typ, count, p = _read_typed_descriptor(buf, p)
            for s in range(n_sample):
                if typ == 0:
                    continue
                val, p = _read_vector(buf, p, typ, count)
                if key == "GT":
                    gt = _gt_string(val)
                    if gt is not None:
                        per_sample[s][key] = gt
                elif val is not None:
                    per_sample[s][key] = _fmt_value(val)
        samples = hdr.vcf.samples or [f"S{i}" for i in range(n_sample)]
        genotypes = [
            (samples[s], per_sample[s].get("GT"), per_sample[s])
            for s in range(n_sample)
        ]

    row = (
        hdr.contigs[chrom],
        pos + 1,
        end,
        vid,
        alleles[0] if alleles else None,
        alleles[1:] or None,
        qual,
        filters,
        info,
        genotypes,
    )
    return row, rec_end


# --- encoder ------------------------------------------------------------


def _enc_typed_int_scalar(v: int) -> bytes:
    if -120 <= v <= 127:
        return bytes([0x11]) + struct.pack("<b", v)
    if -32000 <= v <= 32767:
        return bytes([0x12]) + struct.pack("<h", v)
    return bytes([0x13]) + struct.pack("<i", v)


#: dictionary indexes (INFO/FORMAT/FILTER keys) recur every record —
#: pre-encoded typed scalars for the small domain
_ENC_IDX_CACHE: dict = {}


def _enc_idx(v: int) -> bytes:
    got = _ENC_IDX_CACHE.get(v)
    if got is None:
        if len(_ENC_IDX_CACHE) > 4096:
            _ENC_IDX_CACHE.clear()
        got = _ENC_IDX_CACHE[v] = _enc_typed_int_scalar(v)
    return got


#: descriptor bytes for the sub-15 count domain (every record hits these)
_ENC_DESC_CACHE = {
    (t, c): bytes([(c << 4) | t]) for t in range(8) for c in range(15)
}


def _enc_descriptor(typ: int, count: int) -> bytes:
    got = _ENC_DESC_CACHE.get((typ, count))
    if got is not None:
        return got
    return bytes([0xF0 | typ]) + _enc_typed_int_scalar(count)


_ENC_STR_CACHE: dict = {}


def _enc_string(s: Optional[str]) -> bytes:
    """Memoized: alleles (A/C/G/T/short indels) and FILTER names recur
    every record."""
    got = _ENC_STR_CACHE.get(s)
    if got is not None:
        return got
    if s is None:
        out = b"\x07"  # char, count 0
    else:
        b = s.encode("utf-8")
        out = _enc_descriptor(7, len(b)) + b
    if len(_ENC_STR_CACHE) > 16384:
        _ENC_STR_CACHE.clear()
    _ENC_STR_CACHE[s] = out
    return out


def _enc_int_vector(vals: list[Optional[int]]) -> bytes:
    lo = min((v for v in vals if v is not None), default=0)
    hi = max((v for v in vals if v is not None), default=0)
    if -120 <= lo and hi <= 127:
        typ, fmt, missing = 1, "b", _INT8_MISSING
    elif -32000 <= lo and hi <= 32767:
        typ, fmt, missing = 2, "h", _INT16_MISSING
    else:
        typ, fmt, missing = 3, "i", _INT32_MISSING
    return _enc_descriptor(typ, len(vals)) + struct.pack(
        "<%d%s" % (len(vals), fmt),
        *(missing if v is None else v for v in vals),
    )


def _enc_float_vector(vals: list[Optional[float]]) -> bytes:
    if None in vals:
        out = _enc_descriptor(5, len(vals))
        for v in vals:
            out += (
                struct.pack("<I", _FLOAT_MISSING_BITS)
                if v is None
                else struct.pack("<f", v)
            )
        return out
    return _enc_descriptor(5, len(vals)) + struct.pack(
        "<%df" % len(vals), *vals
    )


_ENC_INFO_CACHE: dict = {}


def _enc_info_value(text: str) -> bytes:
    """VCF text value -> best-fitting typed encoding (reference analog:
    VariantContextCodec typed INFO encode, VariantContextCodec.java:267-335).

    Memoized: INFO values (small ints, allele frequencies, flags) recur
    constantly across a cohort's records."""
    got = _ENC_INFO_CACHE.get(text)
    if got is not None:
        return got
    if len(_ENC_INFO_CACHE) > 65536:
        _ENC_INFO_CACHE.clear()
    _ENC_INFO_CACHE[text] = got = _enc_info_value_raw(text)
    return got


def _enc_info_value_raw(text: str) -> bytes:
    if text == "true":  # flag
        return b"\x00"
    parts = text.split(",")
    try:
        return _enc_int_vector([None if p == "." else int(p) for p in parts])
    except ValueError:
        pass
    try:
        return _enc_float_vector([None if p == "." else float(p) for p in parts])
    except ValueError:
        pass
    return _enc_string(text)


_ENC_GT_CACHE: dict = {}
_ENC_FILTER_CACHE: dict = {}
_ENC_GTBLOCK_CACHE: dict = {}


def _enc_gt(gt: Optional[str]) -> list[Optional[int]]:
    got = _ENC_GT_CACHE.get(gt)
    if got is not None:
        return got
    if not gt:
        out: list[Optional[int]] = [0]
    else:
        out = []
        allele = ""
        phased = False
        for ch in gt + "/":
            if ch in "/|":
                a = -1 if allele in ("", ".") else int(allele)
                out.append(((a + 1) << 1) | (1 if phased else 0))
                phased = ch == "|"
                allele = ""
            else:
                allele += ch
    if len(_ENC_GT_CACHE) > 4096:
        _ENC_GT_CACHE.clear()
    _ENC_GT_CACHE[gt] = out
    return out


def encode_indiv(genotypes, sidx) -> tuple[bytes, int]:
    """Per-sample (indiv) section of one BCF record -> (bytes, n_fmt).

    Shared by the scalar ``encode_record`` and the vectorized batch
    encoder (``bcf_venc.py``, which calls it once per UNIQUE genotype
    combination instead of once per record)."""
    indiv = bytearray()
    n_fmt = 0
    if genotypes:
        keys: list[str] = []
        for g in genotypes:
            for k in g[2] or {}:
                if k not in keys:
                    keys.append(k)
        if "GT" in keys:
            keys.remove("GT")
            keys.insert(0, "GT")
        n_fmt = len(keys)
        by_sample = [g[2] or {} for g in genotypes]
        for k in keys:
            indiv += _enc_idx(sidx[k])
            if k == "GT":
                # the whole per-record GT block recurs constantly across a
                # cohort (few genotype combos); memo for small panels
                gts_key = (
                    tuple(fm.get("GT") for fm in by_sample)
                    if len(by_sample) <= 16 else None
                )
                if gts_key is not None:
                    got = _ENC_GTBLOCK_CACHE.get(gts_key)
                    if got is not None:
                        indiv += got
                        continue
                _gt_mark = len(indiv)
                vecs = [_enc_gt(fm.get("GT")) for fm in by_sample]
                width = max(len(v) for v in vecs)
                flat: list[Optional[int]] = []
                for v in vecs:
                    flat.extend(v)
                    if len(v) < width:
                        flat.extend([None] * (width - len(v)))
                nn = [x for x in flat if x is not None]
                lo = min(nn, default=0)
                hi = max(nn, default=0)
                lo, hi = min(lo, 0), max(hi, 0)
                typ, fmt, eov = (
                    (1, "b", _INT8_EOV)
                    if -120 <= lo and hi <= 127
                    else (2, "h", _INT16_EOV)
                    if -32000 <= lo and hi <= 32767
                    else (3, "i", _INT32_EOV)
                )
                indiv += _enc_descriptor(typ, width)
                indiv += struct.pack(
                    "<%d%s" % (len(flat), fmt),
                    *(eov if x is None else x for x in flat),
                )
                if gts_key is not None:
                    if len(_ENC_GTBLOCK_CACHE) > 16384:
                        _ENC_GTBLOCK_CACHE.clear()
                    _ENC_GTBLOCK_CACHE[gts_key] = bytes(indiv[_gt_mark:])
            else:
                vals = [fm.get(k) for fm in by_sample]
                cells = [
                    None if v is None else v.split(",") for v in vals
                ]
                width = max((len(c) for c in cells if c), default=1)
                # "." inside a present cell -> MISSING; padding -> EOV
                try:
                    flat_i: list = []
                    for c in cells:
                        c = c or []
                        flat_i += [
                            "MISSING" if x == "." else int(x) for x in c
                        ] + [None] * (width - len(c))
                    indiv += _enc_int_vector_grouped(flat_i, width)
                    continue
                except ValueError:
                    pass
                try:
                    flat_f: list = []
                    for c in cells:
                        c = c or []
                        flat_f += [
                            "MISSING" if x == "." else float(x) for x in c
                        ] + [None] * (width - len(c))
                    indiv += _enc_descriptor(5, width)
                    for x in flat_f:
                        if x is None:
                            indiv += struct.pack("<I", _FLOAT_EOV_BITS)
                        elif x == "MISSING":
                            indiv += struct.pack("<I", _FLOAT_MISSING_BITS)
                        else:
                            indiv += struct.pack("<f", x)
                    continue
                except ValueError:
                    pass
                strs = ["" if v is None else v for v in vals]
                w = max((len(s) for s in strs), default=1) or 1
                indiv += _enc_descriptor(7, w)
                for s in strs:
                    indiv += s.ljust(w, "\x00").encode("utf-8")
    return bytes(indiv), n_fmt


def encode_record(row: tuple, hdr: BCFHeader) -> bytes:
    """VCF_SCHEMA tuple -> one BCF2 record (inverse of decode_record;
    writer parity: BCFRecordWriter.java:108-129)."""
    (contig, start, end, vid, ref, alts, qual, filters, info, genotypes) = row
    sidx = hdr.string_index
    alleles = [ref] + list(alts or [])

    shared = bytearray()
    shared += _enc_string(vid)
    for a in alleles:
        shared += _enc_string(a)
    shared += encode_filters(filters, sidx)
    info = info or {}
    for k, v in info.items():
        shared += _enc_idx(sidx[k])
        shared += _enc_info_value(v)

    indiv, n_fmt = encode_indiv(genotypes, sidx)

    n_sample = len(genotypes) if genotypes else 0
    fixed = struct.pack(
        "<iiiIII",
        hdr.contig_index[contig],
        start - 1,
        end - (start - 1),
        _FLOAT_MISSING_BITS
        if qual is None
        else struct.unpack("<I", struct.pack("<f", qual))[0],
        (len(alleles) << 16) | len(info),
        (n_fmt << 24) | n_sample,
    )
    shared_full = fixed + bytes(shared)
    return (
        struct.pack("<II", len(shared_full), len(indiv))
        + shared_full
        + indiv
    )


def encode_filters(filters, sidx) -> bytes:
    """FILTER column -> typed int vector of dictionary indexes (memoized;
    shared with the vectorized batch encoder).

    The memo keys on the RESOLVED index tuple, not the name tuple: the
    same filter names map to different dictionary indexes under
    different headers, and a name-keyed cache would hand one header's
    bytes to another (order-dependent wrong bytes when a process writes
    two cohorts)."""
    if filters is None:
        return b"\x01"  # int8 vector, count 0
    ft = tuple(sidx[f] for f in filters)
    got = _ENC_FILTER_CACHE.get(ft)
    if got is None:
        if len(_ENC_FILTER_CACHE) > 4096:
            _ENC_FILTER_CACHE.clear()
        got = _ENC_FILTER_CACHE[ft] = _enc_int_vector(list(ft))
    return got


def _enc_int_vector_grouped(vals: list, width: int) -> bytes:
    """Int vector for FORMAT columns: None -> end-of-vector padding,
    "MISSING" -> in-cell missing sentinel."""
    ints = [v for v in vals if isinstance(v, int)]
    lo, hi = min(ints, default=0), max(ints, default=0)
    if -120 <= lo and hi <= 127:
        typ, fmt, eov, miss = 1, "b", _INT8_EOV, _INT8_MISSING
    elif -32000 <= lo and hi <= 32767:
        typ, fmt, eov, miss = 2, "h", _INT16_EOV, _INT16_MISSING
    else:
        typ, fmt, eov, miss = 3, "i", _INT32_EOV, _INT32_MISSING
    return _enc_descriptor(typ, width) + struct.pack(
        "<%d%s" % (len(vals), fmt),
        *(eov if v is None else miss if v == "MISSING" else v for v in vals),
    )


def encode_header(hdr: BCFHeader) -> bytes:
    """Magic + l_text + NUL-terminated header text (spec §6.2)."""
    text = hdr.vcf.text.encode("utf-8") + b"\x00"
    return BCF_MAGIC + b"\x02" + struct.pack("<I", len(text)) + text


# --- split guesser -----------------------------------------------------

#: how many consecutive records must decode cleanly before we trust a
#: candidate offset (reference BCFSplitGuesser verifies a full block chain;
#: BCFSplitGuesser.java:118-271)
RECORDS_NEEDED_FOR_GUESS = 3

_MAX_SHARED = 1 << 24  # sanity bound on l_shared/l_indiv for candidates


def _plausible(buf: bytes, off: int, hdr: BCFHeader) -> bool:
    """Cheap fixed-offset checks before attempting a full decode — the same
    field-bound tests the reference applies (BCFSplitGuesser.java:273-360):
    l_shared/l_indiv sane, CHROM within the contig dict, POS >= -1, and the
    sample count must equal the header's (BCFSplitGuesser cites this as the
    strongest single filter)."""
    if off + 32 > len(buf):
        return False
    l_shared, l_indiv = struct.unpack_from("<II", buf, off)
    if not (24 <= l_shared < _MAX_SHARED and l_indiv < _MAX_SHARED):
        return False
    chrom, pos, rlen = struct.unpack_from("<iii", buf, off + 8)
    if not (0 <= chrom < len(hdr.contigs)):
        return False
    if pos < -1 or rlen < 0:
        return False
    (n_fmt_sample,) = struct.unpack_from("<I", buf, off + 28)
    if (n_fmt_sample & 0xFFFFFF) != hdr.n_samples:
        return False
    return True


def guess_next_record_offset(buf: bytes, hdr: BCFHeader) -> Optional[int]:
    """First offset in ``buf`` where RECORDS_NEEDED_FOR_GUESS records decode
    cleanly and consecutively; None if no such offset exists in the window."""
    for cand in range(0, max(0, len(buf) - 32)):
        if not _plausible(buf, cand, hdr):
            continue
        ok = True
        p = cand
        for _ in range(RECORDS_NEEDED_FOR_GUESS):
            if p == len(buf):
                break  # clean EOF counts as success
            if p + 32 > len(buf) or not _plausible(buf, p, hdr):
                ok = False
                break
            try:
                _, p = decode_record(buf, p, hdr)
            except Exception:
                ok = False
                break
            if p > len(buf):
                ok = False
                break
        if ok:
            return cand
    return None
