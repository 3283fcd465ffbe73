"""Wires tools/bgzf_bam_validator.py to the engine's BAM/BGZF write
paths — the BGZF/BAM twin of test_cram_validator_wiring.py, closing the
same same-author-misreading class for the highest-traffic format (the
fixed 28-byte EOF member and the BC/BSIZE arithmetic are exactly the
bug shape the r12 CRAM EOF fix came from).

1. Acceptance: engine-WRITTEN files validate with ZERO findings across
   the write matrix — formats-level write_bam, the Spark sink (inline
   .sbi/.bai, merged and sharded), BGZF VCF/BED sink output in bgzf
   mode — and the htslib-written foreign fixtures validate with
   require_eof=False (pre-marker-era test.bam has no EOF member).
2. Rejection: seeded bitflips per structural region each yield >= 1
   finding; an exhaustive single-bit sweep covers every byte EXCEPT
   the per-member gzip MTIME/XFL/OS fields (6 bytes/member the format
   legitimately leaves arbitrary) of non-final members; direct
   corruption of the DECOMPRESSED BAM stream exercises the record
   frame checks below the CRC layer.
"""

import io
import random
import struct

import pytest

from hadoop_bam_spark.formats.bam import SAMHeader
from hadoop_bam_spark.tools import bgzf_bam_validator as V

from tests import writers

REFS = [("chr1", 100000), ("chr2", 50000)]
HEADER = SAMHeader(
    "@HD\tVN:1.6\tSO:coordinate\n"
    "@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:50000\n")


def _rows(n=120):
    out = []
    for i in range(n):
        contig = "chr1" if i % 2 else "chr2"
        out.append((f"q{i:04d}", 16 if i % 5 == 0 else 0, contig,
                    10 + i * 3, 30 + i % 30, "20M5S", None, 0, 0,
                    "ACGTA" * 5, "IIIHH" * 5,
                    {"NM": str(i % 4), "XX": f"val{i}"} if i % 3 else {}))
    out.sort(key=lambda r: ({"chr1": 0, "chr2": 1}[r[2]], r[3]))
    out.append(("u0", 4, None, 0, 0, None, None, 0, 0, "ACGT", "IIII", {}))
    return out


ROWS = _rows()


def _engine_bam() -> bytes:
    buf = io.BytesIO()
    writers.write_bam(buf, HEADER, ROWS, refs=REFS)
    return buf.getvalue()


class TestAcceptsEngineOutput:
    def test_formats_level_write(self):
        assert V.validate_bytes(_engine_bam()) == []

    def test_sink_merged_with_indexes(self, spark, tmp_path):
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA

        out = str(tmp_path / "m.bam")
        df = spark.createDataFrame(ROWS, schema=SAM_SCHEMA)
        sinks.write_bam(df.repartition(3), out, HEADER, refs=REFS,
                        index_granularity=20, index_bai=True)
        assert V.validate_file(out) == []

    def test_sink_sharded(self, spark, tmp_path):
        import os

        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA

        out = str(tmp_path / "sharded")
        df = spark.createDataFrame(ROWS, schema=SAM_SCHEMA)
        sinks.write_bam(df.repartition(3), out, HEADER, refs=REFS,
                        sharded=True)
        parts = [p for p in os.listdir(out) if p.endswith(".bam")]
        assert parts
        for p in parts:
            assert V.validate_file(os.path.join(out, p)) == [], p

    def test_bgzf_text_sinks(self, spark, tmp_path):
        """BGZF layer audit of the VCF and BED sink outputs."""
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.bed import BED_SCHEMA
        from hadoop_bam_spark.formats.vcf import VCFHeader

        bed = spark.createDataFrame(
            [("chr1", i * 10 + 1, i * 10 + 5, f"f{i}", None, None, None)
             for i in range(200)], schema=BED_SCHEMA)
        p1 = str(tmp_path / "a.bed.bgz")
        sinks.write_bed(bed, p1, index_tbi=True)
        assert V.validate_file(p1, mode="bgzf") == []
        vhdr = VCFHeader()
        vhdr.lines = ["##fileformat=VCFv4.2",
                      "##contig=<ID=chr1,length=100000>"]
        vhdr.samples = []
        vhdr.contigs = {"chr1": 0}
        from hadoop_bam_spark.formats.vcf import VCF_SCHEMA

        vdf = spark.createDataFrame(
            [("chr1", i * 10 + 1, i * 10 + 1, None, "A", ["T"], 1.0,
              ["PASS"], {}, []) for i in range(200)], schema=VCF_SCHEMA)
        p2 = str(tmp_path / "a.vcf.bgz")
        sinks.write_vcf(vdf, p2, vhdr, index_tbi=True)
        assert V.validate_file(p2, mode="bgzf") == []

    def test_foreign_fixtures(self):
        import os

        res = "/root/reference/src/test/resources"
        if not os.path.exists(f"{res}/test.bam"):
            pytest.skip("reference fixtures absent")
        # htsjdk-written BAM predates the EOF-marker convention
        assert V.validate_file(f"{res}/test.bam",
                               require_eof=False) == []
        for f in ("test.vcf.bgz", "HiSeq.10000.vcf.bgz",
                  "HiSeq.10000.vcf.bgzf.gz", "test.bgzf.bcf"):
            assert V.validate_file(f"{res}/{f}", mode="bgzf",
                                   require_eof=False) == [], f


def _member_offsets(buf):
    """Independent member walk for the sweep's exclusion list."""
    offs, p = [], 0
    while p < len(buf):
        (xlen,) = struct.unpack_from("<H", buf, p + 10)
        bsize = None
        xp = p + 12
        while xp < p + 12 + xlen:
            si = (buf[xp], buf[xp + 1])
            (slen,) = struct.unpack_from("<H", buf, xp + 2)
            if si == (66, 67):
                (bsize,) = struct.unpack_from("<H", buf, xp + 4)
            xp += 4 + slen
        offs.append(p)
        p += bsize + 1
    return offs


class TestRejectsCorruption:
    @pytest.fixture(scope="class")
    def clean(self):
        data = _engine_bam()
        assert V.validate_bytes(data) == []
        return data

    def test_seeded_bitflips_found(self, clean):
        # MTIME/XFL/OS of a NON-FINAL member are legal to vary; flips
        # there are skipped (the final member is the EOF byte-compare,
        # where every flip must be a finding)
        skip = set()
        members = _member_offsets(clean)
        for mo in members[:-1]:
            skip.update(range(mo + 4, mo + 10))
        rng = random.Random("bam-validator")
        for _ in range(60):
            off = rng.randrange(len(clean))
            if off in skip:
                continue
            m = bytearray(clean)
            m[off] ^= 1 << rng.randrange(8)
            assert V.validate_bytes(bytes(m)), off

    def test_truncations_found(self, clean):
        for cut in (len(clean) - 1, len(clean) - 28, len(clean) // 2, 10):
            assert V.validate_bytes(clean[:cut]), cut

    def test_exhaustive_single_bit_sweep(self, clean):
        """Every byte except each non-final member's 6 arbitrary
        MTIME/XFL/OS bytes is protected — UNLESS the flip is
        semantically invisible: BGZF's CRC covers the UNCOMPRESSED
        data, so a flip in a deflate block's unused padding bits can
        leave the inflated payload identical (unlike CRAM, whose block
        CRC covers the compressed bytes). Any unflagged flip must be
        proven payload-identical."""
        import zlib as _z

        def _payloads(b):
            out = []
            for mo in _member_offsets(b):
                (xlen,) = struct.unpack_from("<H", b, mo + 10)
                (bsize,) = struct.unpack_from("<H", b, mo + 16)
                out.append(_z.decompress(
                    b[mo + 12 + xlen : mo + bsize + 1 - 8], wbits=-15))
            return out

        clean_payloads = _payloads(clean)
        skip = set()
        members = _member_offsets(clean)
        for mo in members[:-1]:
            skip.update(range(mo + 4, mo + 10))
        bad = []
        m = bytearray(clean)
        for off in range(len(clean)):
            if off in skip:
                continue
            m[off] ^= 0x10
            if not V.validate_bytes(bytes(m)):
                # unflagged: only acceptable when the mutated file
                # inflates to EXACTLY the clean payloads (a padding-bit
                # flip no reader can observe)
                if _payloads(bytes(m)) != clean_payloads:
                    bad.append(off)
            m[off] ^= 0x10
        assert bad == []

    def test_decompressed_stream_checks(self, clean):
        """Below the CRC layer: corrupt the INFLATED BAM stream directly
        so the record-frame checks (not the member CRC) must catch it."""
        import gzip as _g
        import zlib as _z

        stream = bytearray()
        p = 0
        for mo in _member_offsets(clean):
            (xlen,) = struct.unpack_from("<H", clean, mo + 10)
            (bsize,) = struct.unpack_from("<H", clean, mo + 16)
            comp = clean[mo + 12 + xlen : mo + bsize + 1 - 8]
            stream += _z.decompress(comp, wbits=-15)
        stream = bytes(stream)
        findings: list = []
        V._validate_bam_stream(stream, findings, 200)
        assert findings == []
        rng = random.Random("bam-stream")
        found = 0
        for _ in range(200):
            off = rng.randrange(len(stream))
            m = bytearray(stream)
            m[off] ^= 1 << rng.randrange(8)
            f: list = []
            V._validate_bam_stream(bytes(m), f, 200)
            found += bool(f)
        # many flips land in name/seq/qual/tag content (structurally
        # legal); the frame checks must still catch a healthy share
        # (length fields, magic, NULs, cigar ops, ref ids)
        assert found >= 30, found
