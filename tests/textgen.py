"""Engine-free inputs for the codec, source and sink tests, built with
``struct`` and ``zlib`` only and nothing from ``hadoop_bam_spark``:

- a BGZF block writer (the SAMv1 spec's BGZF section);
- the VCF specification's example file (section 1.1) and a BCF 2.2
  encoder for VCF text (VCFv4.3 section 6);
- the SAMv1 specification's example alignment and its 45-bp reference
  (section 1.1);
- a seeded VCF generator, a seeded BAM record writer with mixed
  aux-tag layouts, and seeded SAM and FASTQ text.

Tests can count and compare what these produce without reading it through
the engine: expected values come from the generators' own arithmetic or
from the specifications."""

from __future__ import annotations

import random
import struct
import zlib

BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000")


def bgzf_compress(data: bytes, block_payload: int = 0xFF00,
                  level: int = 6) -> bytes:
    """``data`` as BGZF blocks of at most ``block_payload`` bytes, deflated
    at zlib ``level`` (0 stores them), plus the EOF marker block."""
    out = bytearray()
    for i in range(0, len(data), block_payload):
        chunk = data[i:i + block_payload]
        c = zlib.compressobj(level, zlib.DEFLATED, -15)
        deflated = c.compress(chunk) + c.flush()
        # ID1 ID2 CM FLG MTIME XFL OS XLEN, then the BC subfield with BSIZE
        # (total block size - 1: 18 header + payload + 8 trailer bytes)
        out += struct.pack("<BBBBIBBHBBHH", 31, 139, 8, 4, 0, 0, 255, 6,
                           66, 67, 2, len(deflated) + 25)
        out += deflated
        out += struct.pack("<II", zlib.crc32(chunk), len(chunk))
    return bytes(out + BGZF_EOF)


#: The example file of the VCF 4.2 specification (section 1.1), five records.
VCF_SPEC_EXAMPLE = "\n".join([
    "##fileformat=VCFv4.2",
    "##fileDate=20090805",
    "##source=myImputationProgramV3.1",
    "##reference=file:///seq/references/1000GenomesPilot-NCBI36.fasta",
    '##contig=<ID=20,length=62435964,assembly=B36,'
    'md5=f126cdf8a6e0c7f379d618ff66beb2da,species="Homo sapiens",'
    'taxonomy=x>',
    "##phasing=partial",
    '##INFO=<ID=NS,Number=1,Type=Integer,'
    'Description="Number of Samples With Data">',
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="Total Depth">',
    '##INFO=<ID=AF,Number=A,Type=Float,Description="Allele Frequency">',
    '##INFO=<ID=AA,Number=1,Type=String,Description="Ancestral Allele">',
    '##INFO=<ID=DB,Number=0,Type=Flag,'
    'Description="dbSNP membership, build 129">',
    '##INFO=<ID=H2,Number=0,Type=Flag,Description="HapMap2 membership">',
    '##FILTER=<ID=q10,Description="Quality below 10">',
    '##FILTER=<ID=s50,Description="Less than 50% of samples have data">',
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
    '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Genotype Quality">',
    '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Read Depth">',
    '##FORMAT=<ID=HQ,Number=2,Type=Integer,Description="Haplotype Quality">',
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
    "NA00001\tNA00002\tNA00003",
    "20\t14370\trs6054257\tG\tA\t29\tPASS\tNS=3;DP=14;AF=0.5;DB;H2\t"
    "GT:GQ:DP:HQ\t0|0:48:1:51,51\t1|0:48:8:51,51\t1/1:43:5:.,.",
    "20\t17330\t.\tT\tA\t3\tq10\tNS=3;DP=11;AF=0.017\t"
    "GT:GQ:DP:HQ\t0|0:49:3:58,50\t0|1:3:5:65,3\t0/0:41:3",
    "20\t1110696\trs6040355\tA\tG,T\t67\tPASS\t"
    "NS=2;DP=10;AF=0.333,0.667;AA=T;DB\t"
    "GT:GQ:DP:HQ\t1|2:21:6:23,27\t2|1:2:0:18,2\t2/2:35:4",
    "20\t1230237\t.\tT\t.\t47\tPASS\tNS=3;DP=13;AA=T\t"
    "GT:GQ:DP:HQ\t0|0:54:7:56,60\t0|0:48:4:51,51\t0/0:61:2",
    "20\t1234567\tmicrosat1\tGTC\tG,GTCT\t50\tPASS\tNS=3;DP=9;AA=G\t"
    "GT:GQ:DP\t0/1:35:4\t0/2:17:2\t1/1:40:3",
]) + "\n"

# ---------------------------------------------------------------------------
# BCF 2.2 (VCFv4.3 specification section 6), struct only
# ---------------------------------------------------------------------------

#: (type code, struct format, smallest, largest value) of the typed ints;
#: the values below each type's smallest are its reserved sentinels
_BCF_INTS = ((1, "b", -120, 127), (2, "h", -32760, 32767),
             (3, "i", -2147483640, 2147483647))
#: (MISSING, END_OF_VECTOR) per int type code, and the float32 bit patterns
_BCF_INT_SENTINELS = {1: (-128, -127), 2: (-32768, -32767),
                      3: (-2147483648, -2147483647)}
_BCF_FLOAT_MISSING, _BCF_FLOAT_EOV = 0x7F800001, 0x7F800002


def _bcf_desc(typ: int, count: int) -> bytes:
    """A typed-value descriptor byte; counts from 15 up follow it as a
    typed int."""
    if count < 15:
        return bytes([count << 4 | typ])
    return bytes([0xF0 | typ]) + _bcf_ints([[count]])


def _bcf_ints(rows: list[list]) -> bytes:
    """One typed int vector per row (a row per sample, or one row), in the
    smallest type that holds every value. ``None`` is MISSING, and rows
    shorter than the longest are padded with END_OF_VECTOR."""
    width = max(len(r) for r in rows)
    vals = [v for r in rows for v in r if v is not None]
    typ, fmt = next((t, f) for t, f, lo, hi in _BCF_INTS
                    if lo <= min(vals, default=0) and max(vals, default=0) <= hi)
    miss, eov = _BCF_INT_SENTINELS[typ]
    flat = [miss if v is None else v for r in rows
            for v in r + [eov] * (width - len(r))]
    return _bcf_desc(typ, width) + struct.pack(f"<{len(flat)}{fmt}", *flat)


def _bcf_floats(rows: list[list]) -> bytes:
    """As :func:`_bcf_ints`, for float32 vectors."""
    width = max(len(r) for r in rows)
    out = bytearray(_bcf_desc(5, width))
    for r in rows:
        for v in r:
            out += (struct.pack("<I", _BCF_FLOAT_MISSING) if v is None
                    else struct.pack("<f", v))
        out += struct.pack("<I", _BCF_FLOAT_EOV) * (width - len(r))
    return bytes(out)


def _bcf_chars(rows: list[str]) -> bytes:
    """A char vector per row, NUL-padded to the longest."""
    data = [r.encode() for r in rows]
    width = max(len(d) for d in data)
    return _bcf_desc(7, width) + b"".join(d.ljust(width, b"\x00") for d in data)


def _bcf_gt(gt: str) -> list[int]:
    """A GT string as its allele codes, ``(allele + 1) << 1 | phased``, the
    phase bit set on an allele that follows a ``|``."""
    codes, phased = [], 0
    for tok in gt.replace("|", " | ").replace("/", " / ").split():
        if tok in "|/":
            phased = int(tok == "|")
        else:
            codes.append((0 if tok == "." else int(tok) + 1) << 1 | phased)
    return codes


def _bcf_values(typ: str, key: str, texts: list) -> bytes:
    """The typed values of one INFO or FORMAT key of VCF header type
    ``typ``: a row per text, one for INFO and one per sample for FORMAT,
    where ``None`` is a sample that lacks the key. A flag is written the way
    section 6.3.3 recommends: a 1-element INT8 holding 1."""
    if typ == "Flag":
        return _bcf_ints([[1]])
    if key == "GT":
        return _bcf_ints([_bcf_gt(t) if t else [None] for t in texts])
    if typ in ("Integer", "Float"):
        conv = int if typ == "Integer" else float
        rows = [[None if x == "." else conv(x) for x in t.split(",")]
                if t is not None else [None] for t in texts]
        return (_bcf_ints if typ == "Integer" else _bcf_floats)(rows)
    return _bcf_chars([t or "" for t in texts])


def bcf_file(vcf_text: str) -> bytes:
    """Uncompressed BCF 2.2 (VCFv4.3 section 6) of a VCF file's text. The
    string dictionary is PASS followed by the FILTER, INFO and FORMAT IDs
    in header order, and the contig dictionary is the ``##contig`` lines in
    order (section 6.2.1; the header must carry no ``IDX=`` fields)."""
    lines = vcf_text.rstrip("\n").split("\n")
    head = [ln for ln in lines if ln.startswith("#")]
    body = [ln for ln in lines if not ln.startswith("#")]
    strings, contigs, types = ["PASS"], [], {}
    for ln in head:
        kind = ln[2:ln.find("=")] if ln.startswith("##") else ""
        if kind not in ("FILTER", "INFO", "FORMAT", "contig"):
            continue
        fields = dict(kv.split("=", 1) for kv in
                      ln[ln.index("<") + 1:ln.rindex(">")].split(",")
                      if "=" in kv)
        if kind == "contig":
            contigs.append(fields["ID"])
            continue
        if fields["ID"] not in strings:
            strings.append(fields["ID"])
        types[kind, fields["ID"]] = fields.get("Type")
    index = {k: i for i, k in enumerate(strings)}
    n_sample = len(head[-1].split("\t")) - 9 if "\tFORMAT" in head[-1] else 0

    text = ("\n".join(head) + "\n").encode() + b"\x00"
    out = bytearray(b"BCF\x02\x02" + struct.pack("<I", len(text)) + text)
    for ln in body:
        f = ln.split("\t")
        pos, ref = int(f[1]), f[3]
        alleles = [ref] + ([] if f[4] == "." else f[4].split(","))
        info = [] if f[7] == "." else [
            kv.split("=", 1) if "=" in kv else [kv, ""]
            for kv in f[7].split(";")]
        end = next((int(v) for k, v in info if k == "END"), pos + len(ref) - 1)
        shared = struct.pack(
            "<iiiIII", contigs.index(f[0]), pos - 1, end - pos + 1,
            _BCF_FLOAT_MISSING if f[5] == "." else
            struct.unpack("<I", struct.pack("<f", float(f[5])))[0],
            len(alleles) << 16 | len(info),
            (len(f[8].split(":")) if n_sample else 0) << 24 | n_sample)
        shared += _bcf_chars(["" if f[2] == "." else f[2]])
        shared += b"".join(_bcf_chars([a]) for a in alleles)
        shared += (b"\x00" if f[6] == "." else
                   _bcf_ints([[index[x] for x in f[6].split(";")]]))
        for k, v in info:
            shared += _bcf_ints([[index[k]]]) + _bcf_values(
                types["INFO", k], k, [v])
        indiv = b""
        if n_sample:
            keys = f[8].split(":")
            samples = [s.split(":") for s in f[9:]]
            for j, k in enumerate(keys):
                vals = [s[j] if j < len(s) else None for s in samples]
                indiv += _bcf_ints([[index[k]]]) + _bcf_values(
                    types["FORMAT", k], k, vals)
        out += struct.pack("<II", len(shared), len(indiv)) + shared + indiv
    return bytes(out)


GEN_SAMPLES = ["S1", "S2", "S3"]
GEN_CONTIGS = [("1", 5_000_000), ("2", 4_000_000)]


def gen_vcf_header_lines() -> list[str]:
    """The ``##`` lines of :func:`gen_vcf_text` (for a ``VCFHeader``)."""
    return (
        ["##fileformat=VCFv4.2"]
        + [f"##contig=<ID={c},length={n}>" for c, n in GEN_CONTIGS]
        + [
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
            '##FILTER=<ID=q10,Description="Quality below 10">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="Genotype">',
            '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="Depth">',
            '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="Quality">',
        ]
    )


def gen_vcf_rows(n: int, seed: int = 7) -> list[tuple]:
    """``n`` coordinate-sorted VCF_SCHEMA tuples over GEN_CONTIGS, in the
    form the VCF source reads them back (end = pos + len(ref) - 1, INFO
    and FORMAT values as strings, GT repeated in the per-sample fields)."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        contig, length = GEN_CONTIGS[i * len(GEN_CONTIGS) // n]
        pos = rng.randint(1, length - 10)
        ref = rng.choice(["A", "C", "G", "T", "AC", "GTC"])
        alts = rng.choice([["G"], ["T"], ["T", "TA"], ["C", "CG", "A"]])
        gts = []
        for s in GEN_SAMPLES:
            gt = rng.choice(["0/0", "0/1", "1|1", "0|1"])
            gts.append((s, gt, {"GT": gt, "DP": str(rng.randint(0, 60)),
                                "GQ": str(rng.randint(1, 99))}))
        rows.append((
            contig, pos, pos + len(ref) - 1,
            f"rs{i}" if i % 3 else None,
            ref, alts, float(rng.randint(1, 99)),
            ["PASS"] if i % 5 else ["q10"],
            {"DP": str(rng.randint(1, 500))},
            gts,
        ))
    rows.sort(key=lambda r: (r[0], r[1]))
    return rows


def gen_vcf_text(rows: list[tuple]) -> str:
    """Rows from :func:`gen_vcf_rows` as VCF text with their header."""
    lines = gen_vcf_header_lines() + [
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
        + "\t".join(GEN_SAMPLES)
    ]
    for contig, pos, _end, vid, ref, alts, qual, filters, info, gts in rows:
        keys = list(gts[0][2])
        lines.append("\t".join(
            [contig, str(pos), vid or ".", ref, ",".join(alts),
             f"{qual:g}", ";".join(filters),
             ";".join(f"{k}={v}" for k, v in info.items()), ":".join(keys)]
            + [":".join(f[k] for k in keys) for _, _, f in gts]
        ))
    return "\n".join(lines) + "\n"


# ---------------------------------------------------------------------------
# SAM (SAMv1 specification section 1.1)
# ---------------------------------------------------------------------------

#: The 45-bp reference ``ref`` of the SAMv1 specification's example.
SAM_SPEC_REF = "AGCATGTTAGATAAGATAGCTGTGCTAGTAGGCAGTCAGCGCCAT"

#: The SAMv1 specification's example alignment (section 1.1): six records
#: on ``ref``, the first at position 7.
SAM_SPEC_EXAMPLE = "".join("\t".join(ln.split()) + "\n" for ln in [
    "@HD VN:1.6 SO:coordinate",
    "@SQ SN:ref LN:45",
    "r001 99 ref 7 30 8M2I4M1D3M = 37 39 TTAGATAAAGGATACTG *",
    "r002 0 ref 9 30 3S6M1P1I4M * 0 0 AAAAGATAAGGATA *",
    "r003 0 ref 9 30 5S6M * 0 0 GCCTAAGCTAA * SA:Z:ref,29,-,6H5M,17,0;",
    "r004 0 ref 16 30 6M14N5M * 0 0 ATAGCTTCAGC *",
    "r003 2064 ref 29 17 6H5M * 0 0 TAGGC * SA:Z:ref,9,+,5S6M,30,1;",
    "r001 147 ref 37 30 9M = 7 -39 CAGCGGCAT * NM:i:1",
])


def gen_sam_text(n: int, seed: int = 3) -> str:
    """An unsorted SAM file of ``n`` all-match alignments named ``s<i>``
    over the contigs of :data:`GEN_BAM_REFS`."""
    rng = random.Random(seed)
    lines = ["@HD\tVN:1.6\tSO:unsorted"] + [
        f"@SQ\tSN:{name}\tLN:{ln}" for name, ln in GEN_BAM_REFS]
    for i in range(n):
        l_seq = rng.randint(40, 120)
        seq = "".join(rng.choice("ACGT") for _ in range(l_seq))
        qual = "".join(chr(33 + rng.randint(2, 40)) for _ in range(l_seq))
        lines.append("\t".join([
            f"s{i}", str(rng.choice([0, 16])), rng.choice(["chr1", "chr2"]),
            str(rng.randint(1, 400_000)), "60", f"{l_seq}M", "*", "0", "0",
            seq, qual, f"NM:i:{rng.randint(0, 9)}"]))
    return "\n".join(lines) + "\n"


def gen_fastq_text(n: int, seed: int = 4) -> str:
    """``n`` FASTQ records with Casava 1.8 names (``...:<i> 1:N:0:ACGT``)."""
    rng = random.Random(seed)
    out = []
    for i in range(n):
        l_seq = rng.randint(40, 120)
        out.append(
            f"@INST:7:FC01:1:{1101 + i % 8}:{i}:{rng.randint(1, 9999)} "
            f"1:{rng.choice('NY')}:0:ACGT\n"
            + "".join(rng.choice("ACGTN") for _ in range(l_seq)) + "\n+\n"
            + "".join(chr(33 + rng.randint(2, 40)) for _ in range(l_seq))
            + "\n")
    return "".join(out)


# ---------------------------------------------------------------------------
# BAM (SAM spec section 4.2), struct + zlib only
# ---------------------------------------------------------------------------

GEN_BAM_REFS = [("chr1", 1_000_000), ("chr2", 500_000)]

_CIGAR_CODE = {op: i for i, op in enumerate("MIDNSHP=X")}
_INT_FMT = {"c": "<b", "C": "<B", "s": "<h", "S": "<H", "i": "<i", "I": "<I"}
_ARRAY_FMT = {"c": "b", "C": "B", "s": "h", "S": "H", "i": "i", "I": "I",
              "f": "f"}
_ARRAY_VALUES = {"c": [-5, 0, 7], "C": [0, 200], "s": [-300, 12],
                 "S": [65000, 1], "i": [-70000, 3, 0], "I": [4000000000],
                 "f": [0.5, -2.0, 1.25]}


def bam_aux(key: str, typ: str, value) -> bytes:
    """One aux field: ``value`` is an int (cCsSiI), a float (f), a str
    (A/Z/H, latin-1), or a (subtype, list) pair (B)."""
    head = key.encode() + typ.encode()
    if typ in _INT_FMT:
        return head + struct.pack(_INT_FMT[typ], value)
    if typ == "f":
        return head + struct.pack("<f", value)
    if typ == "A":
        return head + value.encode("latin-1")
    if typ in "ZH":
        return head + value.encode("latin-1") + b"\x00"
    sub, vals = value
    return (head + sub.encode() + struct.pack("<i", len(vals))
            + struct.pack(f"<{len(vals)}{_ARRAY_FMT[sub]}", *vals))


def _reg2bin(beg: int, end: int) -> int:
    end -= 1
    for shift, base in ((14, 4681), (17, 585), (20, 73), (23, 9), (26, 1)):
        if beg >> shift == end >> shift:
            return base + (beg >> shift)
    return 0


def _gen_cigar(rng: random.Random, l_seq: int) -> list[tuple[int, str]]:
    a = rng.randint(10, l_seq - 10)
    return rng.choice([
        [(l_seq, "M")],
        [(a, "M"), (3, "I"), (l_seq - a - 3, "M")],
        [(a, "M"), (5, "D"), (l_seq - a, "M")],
        [(4, "S"), (l_seq - 4, "M")],
    ])


def _gen_tags(rng: random.Random, i: int, unplaced: bool) -> bytes:
    """The aux block of record ``i``: tag-less unplaced reads, a bwa-like
    NM/MD/AS/XS/RG layout, numeric-looking and empty Z strings, and the
    A/H/f/B types (the B subtype cycles over all seven)."""
    if unplaced:
        return b""
    layout = i % 5
    if layout == 0:
        return b"".join([
            bam_aux("NM", "i", rng.randint(0, 4)),
            bam_aux("MD", "Z", rng.choice(["100", "37A62", "12^AC88", "0T99"])),
            bam_aux("AS", "i", rng.randint(50, 100)),
            bam_aux("XS", "i", rng.randint(0, 40)),
            bam_aux("RG", "Z", rng.choice(["grp1", "grp2"])),
        ])
    if layout == 1:
        return b""
    if layout == 2:
        z = ["123", "1.5e3", "i:7", "c,1", "", "-4", "+.5", "Z:x", "text"]
        return bam_aux("NM", "c", -1) + bam_aux("XZ", "Z", z[i // 5 % len(z)])
    if layout == 3:
        sub = "cCsSiIf"[i // 5 % 7]
        return b"".join([
            bam_aux("XA", "A", rng.choice("QR")),
            bam_aux("XH", "H", rng.choice(["1AFF", "", "00"])),
            bam_aux("XF", "f", rng.choice([1.5, 3.0, -0.25])),
            bam_aux("XB", "B", (sub, _ARRAY_VALUES[sub])),
        ])
    return bam_aux("NM", "C", rng.randint(0, 9)) + bam_aux("AS", "S", 300)


def gen_bam_records(n: int = 3000, seed: int = 5, repeat_tag: bool = False,
                    non_ascii: bool = False,
                    cigars: list | None = None) -> list[bytes]:
    """``n`` coordinate-sorted BAM record bodies (no block_size prefix)
    over GEN_BAM_REFS, ending in an unplaced-unmapped tail. Every tenth
    placed read is unmapped (placed at its mate). ``repeat_tag`` gives one
    record a second NM field and ``non_ascii`` one record a latin-1 Z
    string, the two layouts the columnar tag decoder hands back to the row
    codec. ``cigars``, a list of ``[(count, op), ...]`` shapes, gives mapped
    read ``i`` the shape ``cigars[i % len(cigars)]`` and its query length,
    in place of a random one."""
    rng = random.Random(seed)
    n_tail = n // 20
    placed = sorted(
        (rng.randrange(len(GEN_BAM_REFS)),
         rng.randrange(GEN_BAM_REFS[0][1] // 2))
        for _ in range(n - n_tail)
    )
    bodies = []
    for i in range(n):
        unplaced = i >= n - n_tail
        rid, pos = placed[i] if not unplaced else (-1, -1)
        l_seq = rng.randint(40, 120)
        unmapped = unplaced or i % 10 == 9
        cigar = [] if unmapped else _gen_cigar(rng, l_seq)
        if cigar and cigars:
            cigar = cigars[i % len(cigars)]
            l_seq = sum(c for c, op in cigar if op in "MIS=X")
        ref_len = sum(c for c, op in cigar if op in "MDN=X") or 1
        flag = 0x1 | (0x40 if i % 2 else 0x80)
        if unmapped:
            flag |= 0x4
        else:
            flag |= 0x2 | (0x10 if rng.random() < 0.5 else 0x20)
        name = f"gen{seed}:{i}".encode() + b"\x00"
        seq = [rng.randrange(1, 16) for _ in range(l_seq)]
        if l_seq % 2:
            seq.append(0)
        packed = bytes(seq[k] << 4 | seq[k + 1] for k in range(0, len(seq), 2))
        qual = (b"\xff" * l_seq if i % 17 == 3
                else bytes(rng.randint(2, 40) for _ in range(l_seq)))
        tags = _gen_tags(rng, i, unplaced)
        if repeat_tag and i == 10:
            tags += bam_aux("NM", "i", 99)
        if non_ascii and i == 15:
            tags += bam_aux("XN", "Z", "caf\xe9")
        body = struct.pack(
            "<iiBBHHHiiii", rid, pos, len(name), 0 if unmapped else 60,
            _reg2bin(max(pos, 0), max(pos, 0) + ref_len) if pos >= 0 else 4680,
            len(cigar), flag, l_seq, rid, pos + 150 if pos >= 0 else -1,
            0 if unmapped else 300 - 600 * (i % 2),
        ) + name + b"".join(
            struct.pack("<I", c << 4 | _CIGAR_CODE[op]) for c, op in cigar
        ) + packed + qual + tags
        bodies.append(body)
    return bodies


def bam_aux_block(body: bytes) -> bytes:
    """The aux-tag bytes of one record body."""
    l_name, n_cigar, l_seq = (body[8], struct.unpack_from("<H", body, 12)[0],
                              struct.unpack_from("<i", body, 16)[0])
    return body[32 + l_name + 4 * n_cigar + (l_seq + 1) // 2 + l_seq:]


def bam_span(body: bytes) -> tuple[int, int, int]:
    """(refID, pos, end) of one record body, 0-based and half-open: the
    CIGAR's reference length, or one base for a record without a CIGAR (the
    span :func:`gen_bam_records` bins it by)."""
    rid, pos = struct.unpack_from("<ii", body, 0)
    l_name, n_cigar = body[8], struct.unpack_from("<H", body, 12)[0]
    ops = struct.unpack_from(f"<{n_cigar}I", body, 32 + l_name)
    ref_ops = {_CIGAR_CODE[op] for op in "MDN=X"}
    return rid, pos, pos + (sum(c >> 4 for c in ops if c & 0xF in ref_ops)
                            or 1)


def gen_bam_header_text() -> str:
    return "@HD\tVN:1.6\tSO:coordinate\n" + "".join(
        f"@SQ\tSN:{name}\tLN:{ln}\n" for name, ln in GEN_BAM_REFS)


def bam_file(bodies: list[bytes]) -> bytes:
    """A complete BGZF-compressed BAM: header, then the record bodies."""
    text = gen_bam_header_text().encode()
    out = bytearray(b"BAM\x01" + struct.pack("<i", len(text)) + text)
    out += struct.pack("<i", len(GEN_BAM_REFS))
    for name, ln in GEN_BAM_REFS:
        out += struct.pack("<i", len(name) + 1) + name.encode() + b"\x00"
        out += struct.pack("<i", ln)
    for body in bodies:
        out += struct.pack("<i", len(body)) + body
    return bgzf_compress(bytes(out))
