"""Engine-free text inputs for the source/sink tests: a BGZF block writer
(zlib only, per the SAM/BAM spec's BGZF section), the VCF 4.2 spec's
example file, and a seeded VCF generator whose records the tests can count
and compare without reading them through the engine."""

from __future__ import annotations

import random
import struct
import zlib

BGZF_EOF = bytes.fromhex(
    "1f8b08040000000000ff0600424302001b0003000000000000000000")


def bgzf_compress(data: bytes, block_payload: int = 0xFF00) -> bytes:
    """``data`` as BGZF blocks of at most ``block_payload`` bytes, plus the
    EOF marker block."""
    out = bytearray()
    for i in range(0, len(data), block_payload):
        chunk = data[i:i + block_payload]
        c = zlib.compressobj(6, zlib.DEFLATED, -15)
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

GEN_SAMPLES = ["S1", "S2", "S3"]
GEN_CONTIGS = [("1", 5_000_000), ("2", 4_000_000)]


def gen_vcf_header_lines() -> list[str]:
    """The ``##`` lines of :func:`gen_vcf_text` (for a ``VCFHeader``)."""
    return (
        ["##fileformat=VCFv4.2"]
        + [f"##contig=<ID={c},length={n}>" for c, n in GEN_CONTIGS]
        + [
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="Depth">',
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
