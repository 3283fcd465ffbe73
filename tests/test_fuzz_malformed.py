"""Adversarial malformed-stream fuzz across the binary parsers.

Seeded truncation + bitflip corpora over BGZF / BAM / BCF / rANS / CRAM
streams, asserting the raise-don't-garbage contract: a decoder handed
corrupt bytes must either return (possibly partial but well-typed)
records or raise a CONTROLLED error — ``ValueError`` / ``EOFError`` /
``OSError`` (and the stdlib's ``zlib.error`` from a compressed-payload
layer). It must never surface internal-detail exceptions
(``struct.error``, ``IndexError``, ``KeyError``, ``TypeError``,
``OverflowError``, ...) that a Spark task would report as an engine
crash rather than a data problem, and never hang or allocate
unboundedly off a corrupt length field.

Reference analog: htsjdk's ValidationStringency as applied in
VCFRecordReader.java:77-92,180-196 — STRICT surfaces a *data* error,
LENIENT/SILENT skip the record; all three presume the parser fails
in a controlled way in the first place, which is what this module
pins. The r12 EOF-constant bug showed malformed-byte handling is where
the residual risk lives; this corpus walks every parser's reaction to
systematically broken input rather than waiting for a foreign file to
do it.

Determinism: every corpus derives from ``random.Random(<fixed seed>)``
so a failure reproduces byte-for-byte; the failing (offset, bit/cut) is
in the assertion message.
"""

import io
import os
import random
import struct
import zlib

import pytest

from hadoop_bam_spark.formats import bam, bcf, bgzf, cram
from hadoop_bam_spark.formats.bam import SAMHeader

from tests import writers

#: what a decoder may raise on corrupt input (zlib.error for payloads
#: that fail inside a compression codec; it does not subclass OSError)
CONTROLLED = (ValueError, EOFError, OSError, zlib.error)


def _assert_controlled(fn, label):
    """Run one fuzz trial: result or CONTROLLED raise; anything else is
    a finding."""
    try:
        fn()
    except CONTROLLED:
        pass
    except Exception as e:  # noqa: BLE001 - the point of the fuzz
        pytest.fail(f"{label}: uncontrolled {type(e).__name__}: {e}")


def _mutations(rng, data: bytes, n: int, lo: int = 0):
    """n seeded single-byte bitflips (offset >= lo) and n truncations."""
    out = []
    for _ in range(n):
        off = rng.randrange(lo, len(data))
        bit = 1 << rng.randrange(8)
        m = bytearray(data)
        m[off] ^= bit
        out.append((f"flip@{off}/0x{bit:02x}", bytes(m)))
    for _ in range(n):
        cut = rng.randrange(len(data))
        out.append((f"trunc@{cut}", data[:cut]))
    return out


# ---------------------------------------------------------------------------
# BGZF
# ---------------------------------------------------------------------------

class TestFuzzBGZF:
    """Under the codec this process engages: libdeflate where it loads.
    ``TestFuzzBGZFZlib`` reruns every case under the zlib fallback."""

    def test_single_block(self):
        payload = bytes(range(256)) * 8
        block = bgzf.compress_block(payload)
        rng = random.Random("bgzf-block")
        for label, m in _mutations(rng, block, 120):
            _assert_controlled(lambda m=m: bgzf.decompress_block(m),
                               f"decompress_block {label}")

    def test_reader_stream(self, tmp_path):
        buf = io.BytesIO()
        w = bgzf.BGZFWriter(buf)
        for i in range(6):
            w.write(bytes([i]) * 5000)
        w.close()
        data = buf.getvalue()
        rng = random.Random("bgzf-stream")

        def read_all(m):
            p = tmp_path / "f.bgz"
            p.write_bytes(m)
            with open(p, "rb") as fh:
                r = bgzf.BGZFReader(fh)
                while r.read(4096):
                    pass

        for label, m in _mutations(rng, data, 80):
            _assert_controlled(lambda m=m: read_all(m),
                               f"BGZFReader {label}")

    def test_random_garbage(self):
        rng = random.Random("bgzf-garbage")
        for i in range(60):
            blob = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(1, 200)))
            _assert_controlled(lambda b=blob: bgzf.decompress_block(b),
                               f"garbage[{i}]")


class TestFuzzBGZFZlib(TestFuzzBGZF):
    @pytest.fixture(autouse=True)
    def _zlib(self, monkeypatch):
        monkeypatch.setattr(bgzf, "_load", lambda: None)
        assert bgzf.codec() == "zlib"


# ---------------------------------------------------------------------------
# BAM
# ---------------------------------------------------------------------------

BAM_REFS = [("chr1", 100000), ("chr2", 50000)]
BAM_HEADER = SAMHeader(
    "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100000\n@SQ\tSN:chr2\tLN:50000\n")


def _bam_rows(n=25):
    return [
        (f"r{i}", 0 if i % 3 else 16, "chr1" if i % 2 else "chr2",
         10 + i, 30, "8M", None, 0, 0, "ACGTACGT", "IIIIIIII",
         {"NM": "1"} if i % 2 else {})
        for i in range(n)
    ]


class TestFuzzBAM:
    def _file_bytes(self):
        buf = io.BytesIO()
        writers.write_bam(buf, BAM_HEADER, _bam_rows(), refs=BAM_REFS)
        return buf.getvalue()

    def test_record_bodies(self):
        """Corrupt the DECOMPRESSED record layer (below the BGZF CRC):
        decode_record on mutated bodies."""
        ref_index = {n: i for i, (n, _) in enumerate(BAM_REFS)}
        rng = random.Random("bam-record")
        for row in _bam_rows(8):
            rec = bam.encode_record(tuple(row), ref_index)
            body = rec[4:]  # decode_record takes the body after length
            for label, m in _mutations(rng, body, 40):
                _assert_controlled(
                    lambda m=m: bam.decode_record(m, BAM_REFS),
                    f"decode_record({row[0]}) {label}")

    def test_whole_file_scalar_scan(self, tmp_path):
        data = self._file_bytes()
        rng = random.Random("bam-file")

        def scan(m):
            p = tmp_path / "f.bam"
            p.write_bytes(m)
            with open(p, "rb") as fh:
                r = bgzf.BGZFReader(fh)
                hdr, refs, voff = bam.read_header(r)
                list(bam.iter_records(r, refs, voff))

        for label, m in _mutations(rng, data, 80):
            _assert_controlled(lambda m=m: scan(m), f"bam scan {label}")

    def test_whole_file_vectorized_scan(self, tmp_path):
        """The production columnar path (iter_body_batches +
        BAMBatchDecoder) under the same corpus."""
        from hadoop_bam_spark.formats import bam_vec

        data = self._file_bytes()
        rng = random.Random("bam-vec")

        def scan(m):
            p = tmp_path / "v.bam"
            p.write_bytes(m)
            with open(p, "rb") as fh:
                r = bgzf.BGZFReader(fh)
                _hdr, refs, voff = bam.read_header(r)
            dec = bam_vec.BAMBatchDecoder(refs)
            end_v = bgzf.make_voffset(len(m), 0)
            with open(p, "rb") as fh:
                for span_buf, starts, lens in bam_vec.iter_body_batches(
                        fh, voff, end_v):
                    dec.decode_span(span_buf, starts, lens)

        for label, m in _mutations(rng, data, 80):
            _assert_controlled(lambda m=m: scan(m), f"bam vec {label}")


# ---------------------------------------------------------------------------
# BCF
# ---------------------------------------------------------------------------

BCF_HEADER_TEXT = (
    "##fileformat=VCFv4.2\n"
    "##contig=<ID=1,length=249250621>\n"
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
    '##INFO=<ID=AF,Number=A,Type=Float,Description="a">\n'
    '##FILTER=<ID=q10,Description="q">\n'
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="g">\n'
    '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="q">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tA\tB\n"
)


def _bcf_rows(hdr):
    from hadoop_bam_spark.formats.vcf import parse_vcf_line

    lines = [
        "1\t100\trs1\tA\tT\t29.5\tPASS\tDP=14;AF=0.5\tGT:GQ\t0|0:48\t1/1:43",
        "1\t200\t.\tG\tC,A\t3\tq10\tDP=11\tGT:GQ\t0/1:21\t./.:.",
        "1\t300\t.\tTTT\tT\t.\t.\tAF=0.017\tGT\t0/0\t0/1",
    ]
    return [parse_vcf_line(ln, ["A", "B"], None) for ln in lines]


class TestFuzzBCF:
    @pytest.fixture(scope="class")
    def hdr(self):
        return bcf.parse_bcf_header_text(BCF_HEADER_TEXT)

    def test_record_blobs(self, hdr):
        rng = random.Random("bcf-record")
        for row in _bcf_rows(hdr):
            rec = bcf.encode_record(row, hdr)

            def decode(m):
                off = 0
                while off < len(m):
                    _row, off = bcf.decode_record(m, off, hdr)

            for label, m in _mutations(rng, rec, 60):
                _assert_controlled(lambda m=m: decode(m),
                                   f"bcf decode {label}")

    def test_header_blob(self, hdr):
        blob = bcf.encode_header(hdr)
        rng = random.Random("bcf-header")
        for label, m in _mutations(rng, blob, 60):
            _assert_controlled(
                lambda m=m: bcf.read_bcf_header(io.BytesIO(m)),
                f"bcf header {label}")

    def test_vectorized_batch(self, hdr):
        """The columnar BCF decoder under the same corpus: it may also
        raise VecUnsupported (a ValueError) to bail to the scalar
        path — that IS the contract. Record starts are re-walked from
        the MUTATED bytes, as the production feed does."""
        import numpy as np

        from hadoop_bam_spark.formats import bcf_vec

        rows = _bcf_rows(hdr)
        blob = b"".join(bcf.encode_record(r, hdr) for r in rows)
        rng = random.Random("bcf-vec")

        def decode(m):
            starts, off = [], 0
            while off + 8 <= len(m) and len(starts) < 1000:
                l_shared, l_indiv = struct.unpack_from("<II", m, off)
                end = off + 8 + l_shared + l_indiv
                if end > len(m):
                    break
                starts.append(off)
                off = end
            if not starts:
                return
            bcf_vec.BCFBatchDecoder(hdr).decode(
                m, np.asarray(starts, np.int64))

        for label, m in _mutations(rng, blob, 60):
            _assert_controlled(lambda m=m: decode(m), f"bcf vec {label}")


# ---------------------------------------------------------------------------
# rANS
# ---------------------------------------------------------------------------

class TestFuzzRans:
    def test_mutated_valid_streams(self):
        from hadoop_bam_spark.formats.rans import rans_encode_order0, \
            rans_encode_order1

        rng = random.Random("rans")
        data = bytes(rng.choices(b"IIHHGG?5+", k=4000))
        for enc in (rans_encode_order0, rans_encode_order1):
            stream = enc(data)
            for label, m in _mutations(rng, stream, 80):
                _assert_controlled(
                    lambda m=m: cram.rans_decode(m, len(data)),
                    f"{enc.__name__} {label}")

    def test_random_garbage(self):
        rng = random.Random("rans-garbage")
        for i in range(80):
            blob = bytes(rng.randrange(256)
                         for _ in range(rng.randrange(0, 120)))
            _assert_controlled(
                lambda b=blob: cram.rans_decode(b, 64),
                f"garbage[{i}]")


# ---------------------------------------------------------------------------
# CRAM whole files (decoder side; the structural validator has its own
# corruption corpus in test_cram_validator_wiring.py)
# ---------------------------------------------------------------------------

class TestFuzzCRAM:
    @pytest.fixture(scope="class")
    def clean(self):
        buf = io.BytesIO()
        w = writers.CRAMWriter(
            buf, BAM_REFS,
            header_text=BAM_HEADER.text, records_per_container=10,
            records_per_slice=5)
        for r in _bam_rows(25):
            w.write(r)
        w.close()
        return buf.getvalue()

    def test_mutated_files(self, clean, tmp_path):
        rng = random.Random("cram-file")

        def decode(m):
            p = tmp_path / "f.cram"
            p.write_bytes(m)
            list(cram.decode_file(str(p)))

        for label, m in _mutations(rng, clean, 120):
            _assert_controlled(lambda m=m: decode(m), f"cram {label}")


# ---------------------------------------------------------------------------
# VCF text chunk parser (the vectorized fast path's bail contract:
# dict/None, never an exception — stringency is applied by the scalar
# fallback, so a raise here would bypass lenient/silent entirely)
# ---------------------------------------------------------------------------

class TestFuzzVCFChunk:
    def test_mutated_lines_never_raise(self):
        from hadoop_bam_spark.formats import vcf_vec

        base = [
            "1\t100\trs1\tA\tT\t29.5\tPASS\tDP=14\tGT\t0|0\t1/1",
            "1\t200\t.\tG\tC\t3\tq10\tDP=11\tGT\t0/1\t./1",
        ]
        rng = random.Random("vcf-chunk")
        for i in range(150):
            lines = list(base)
            k = rng.randrange(len(lines))
            s = bytearray(lines[k].encode())
            off = rng.randrange(len(s))
            s[off] = rng.randrange(1, 256)
            lines[k] = s.decode("latin-1")
            out = vcf_vec.parse_vcf_chunk(lines, ["A", "B"], None)
            assert out is None or isinstance(out, dict), i


# ---------------------------------------------------------------------------
# Index sidecars (split planning inputs — often foreign-tool-written:
# reference analog BAMInputFormat/TabixSplittingIndex consumers)
# ---------------------------------------------------------------------------

class TestFuzzIndexes:
    """Seeded corpora over every binary index reader: .sbi,
    .splitting-bai, .bai, .csi, .tbi, .crai, .bgzfi. A corrupt sidecar
    must never crash split planning with an internal exception."""

    @pytest.fixture(scope="class")
    def indexed(self, spark, tmp_path_factory):
        """One indexed BAM + CRAM + VCF via the real sinks; CSI/BGZFI
        built directly."""
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA
        from hadoop_bam_spark.formats.vcf import VCFHeader

        d = tmp_path_factory.mktemp("fuzz_idx")
        rows = [r for r in _bam_rows(300) if r[2] is not None]
        rows.sort(key=lambda r: (r[2], r[3]))
        df = spark.createDataFrame(rows, schema=SAM_SCHEMA)
        bam_p = str(d / "i.bam")
        sinks.write_bam(df, bam_p, BAM_HEADER, refs=BAM_REFS,
                        index_granularity=20, index_bai=True,
                        index_splitting_bai=True)
        cram_p = str(d / "i.cram")
        sinks.write_cram(df, cram_p, BAM_HEADER, refs=BAM_REFS,
                         records_per_container=100, index_crai=True)
        vhdr = VCFHeader()
        vhdr.lines = ["##fileformat=VCFv4.2",
                      "##contig=<ID=chr1,length=100000>"]
        vhdr.samples = []
        vhdr.contigs = {"chr1": 0}
        from hadoop_bam_spark.formats.vcf import VCF_SCHEMA

        vdf = spark.createDataFrame([
            ("chr1", i * 50 + 1, i * 50 + 1, None, "A", ["T"], 10.0,
             ["PASS"], {}, [])
            for i in range(200)
        ], schema=VCF_SCHEMA)
        vcf_p = str(d / "i.vcf.bgz")
        sinks.write_vcf(vdf, vcf_p, vhdr, index_tbi=True)
        with open(vcf_p + ".bgzfi", "wb") as fh:
            bgzf.build_bgzfi(vcf_p, granularity=4).write(fh)
        return d

    def _fuzz_reader(self, path, reader, seed, n=70):
        data = open(path, "rb").read()
        rng = random.Random(seed)
        for label, m in _mutations(rng, data, n):
            _assert_controlled(lambda m=m: reader(m), f"{path} {label}")

    def test_sbi(self, indexed, tmp_path):
        from hadoop_bam_spark.formats.splitting_index import SplittingIndex

        self._fuzz_reader(
            str(indexed / "i.bam.sbi"),
            lambda m: SplittingIndex.read(io.BytesIO(m)), "sbi")

    def test_splitting_bai(self, indexed):
        from hadoop_bam_spark.formats.splitting_index import SplittingIndex

        self._fuzz_reader(
            str(indexed / "i.bam.splitting-bai"),
            lambda m: SplittingIndex.read_reference_layout(io.BytesIO(m)),
            "splitting-bai")

    def test_bai(self, indexed, tmp_path):
        from hadoop_bam_spark.formats import bai

        p = tmp_path / "m.bai"

        def rd(m):
            p.write_bytes(m)
            bai.read_bai(str(p))

        self._fuzz_reader(str(indexed / "i.bam.bai"), rd, "bai")

    def test_crai(self, indexed, tmp_path):
        from hadoop_bam_spark.formats import crai

        p = tmp_path / "m.crai"

        def rd(m):
            p.write_bytes(m)
            crai.read_crai(str(p))

        self._fuzz_reader(str(indexed / "i.cram.crai"), rd, "crai")

    def test_tbi(self, indexed, tmp_path):
        from hadoop_bam_spark.formats import tabix

        p = tmp_path / "m.tbi"

        def rd(m):
            p.write_bytes(m)
            tabix.read_tabix(str(p))

        self._fuzz_reader(str(indexed / "i.vcf.bgz.tbi"), rd, "tbi")

    def test_foreign_htslib_tbi(self, tmp_path):
        """Same corpus over the htslib-WRITTEN HiSeq tabix index."""
        src = "/root/reference/src/test/resources/HiSeq.10000.vcf.bgz.tbi"
        if not os.path.exists(src):
            pytest.skip("reference fixtures absent")
        from hadoop_bam_spark.formats import tabix

        p = tmp_path / "m.tbi"

        def rd(m):
            p.write_bytes(m)
            tabix.read_tabix(str(p))

        self._fuzz_reader(src, rd, "tbi-foreign", n=50)

    def test_csi(self, indexed, tmp_path):
        from hadoop_bam_spark.formats import bcf as bcf_mod
        from hadoop_bam_spark.formats import csi as csi_mod

        hdr = bcf.parse_bcf_header_text(BCF_HEADER_TEXT)
        rows = _bcf_rows(hdr)
        bp = tmp_path / "c.bcf"
        with open(bp, "wb") as fh:
            w = bgzf.BGZFWriter(fh)
            w.write(bcf_mod.encode_header(hdr))
            for r in rows * 40:
                w.write(bcf_mod.encode_record(r, hdr))
            w.close()
        csi_mod.write_csi(csi_mod.build_csi(str(bp)), str(bp) + ".csi")
        p = tmp_path / "m.csi"

        def rd(m):
            p.write_bytes(m)
            csi_mod.read_csi(str(p))

        self._fuzz_reader(str(bp) + ".csi", rd, "csi")

    def test_bgzfi(self, indexed, tmp_path):
        p = tmp_path / "m.bgzfi"

        def rd(m):
            p.write_bytes(m)
            with open(p, "rb") as fh:
                bgzf.BGZFBlockIndex.read(fh)

        self._fuzz_reader(str(indexed / "i.vcf.bgz.bgzfi"), rd, "bgzfi")


# ---------------------------------------------------------------------------
# Text chunk parsers (SAM / FASTQ / QSEQ): the vectorized fast paths'
# bail contract — dict or None (scalar fallback owns stringency), never
# an exception; the scalar parsers raise ValueError only.
# ---------------------------------------------------------------------------

def _mutate_line(rng, line: str) -> str:
    s = bytearray(line.encode("utf-8", "surrogateescape"))
    if not s:
        return "\x00"
    op = rng.randrange(3)
    if op == 0:  # byte substitution
        s[rng.randrange(len(s))] = rng.randrange(1, 256)
    elif op == 1:  # truncation
        del s[rng.randrange(len(s)):]
    else:  # splice a tab/colon/garbage run
        at = rng.randrange(len(s))
        s[at:at] = bytes(rng.choice(b"\t:;|") for _ in range(3))
    return s.decode("latin-1")


class TestFuzzTextChunks:
    def test_sam_chunk_never_raises(self):
        from hadoop_bam_spark.formats import sam, sam_vec

        base = [
            "r1\t0\tchr1\t10\t30\t4M\t*\t0\t0\tACGT\tIIII\tNM:i:1",
            "r2\t16\tchr2\t99\t60\t2M1I2D3M\tchr1\t5\t-42\tACGTAC\t!!!!~~",
        ]
        rng = random.Random("sam-chunk")
        for i in range(200):
            lines = list(base)
            k = rng.randrange(len(lines))
            lines[k] = _mutate_line(rng, lines[k])
            out = sam_vec.parse_sam_chunk(lines)
            assert out is None or isinstance(out, dict), i
            # scalar twin: controlled errors only (stringency boundary)
            _assert_controlled(
                lambda ln=lines[k]: sam.parse_sam_line(ln),
                f"parse_sam_line[{i}]")

    def test_fastq_chunk_never_raises(self):
        from hadoop_bam_spark.sources.fastq_source import (
            fastq_record, parse_fastq_chunk)

        base = [
            ("@M01234:12:000000000-A1B2C:1:1101:1234:5678 1:N:0:ACGT",
             "ACGTACGT", "IIIIIIII"),
            ("@plainname", "GATTACA", "!!!!!!!"),
        ]
        rng = random.Random("fastq-chunk")
        for i in range(200):
            recs = list(base)
            k = rng.randrange(len(recs))
            nm, sq, ql = recs[k]
            j = rng.randrange(3)
            mut = [_mutate_line(rng, [nm, sq, ql][j])]
            recs[k] = tuple(mut[0] if x == j else [nm, sq, ql][x]
                            for x in range(3))
            out = parse_fastq_chunk(recs)
            assert out is None or isinstance(out, dict), i
            _assert_controlled(
                lambda r=recs[k]: fastq_record(*r),
                f"fastq_record[{i}]")

    def test_qseq_chunk_never_raises(self):
        from hadoop_bam_spark.sources.qseq_source import (
            parse_qseq_chunk, parse_qseq_line)

        base = [
            "M01234\t12\t1\t1101\t1234\t5678\tACGT\t1\tACGTACGT"
            "\tabcdefgh\t1",
            "INSTR\t3\t2\t1102\t99\t88\t.\t2\tGATT.ACA\taaaaaaaa\t0",
        ]
        rng = random.Random("qseq-chunk")
        for i in range(200):
            lines = list(base)
            k = rng.randrange(len(lines))
            lines[k] = _mutate_line(rng, lines[k])
            out = parse_qseq_chunk(lines, recode_quality=True)
            assert out is None or isinstance(out, dict), i
            _assert_controlled(
                lambda ln=lines[k]: parse_qseq_line(
                    ln, recode_quality=True),
                f"parse_qseq_line[{i}]")


class TestFuzzForeignCRAM21:
    """Same corpus over the cramtools-written v2.1 fixture (distinct
    read path: no block CRCs, EOF detected by ref_seq_id=-1 instead of
    byte compare) — with its reference FASTA, since v2.1 decode is
    reference-compressed."""

    REF_CRAM = "/root/reference/src/test/resources/test.cram"
    REF_FASTA = "/root/reference/src/test/resources/auxf.fa"

    def test_mutated_files(self, tmp_path):
        if not (os.path.exists(self.REF_CRAM)
                and os.path.exists(self.REF_FASTA)):
            pytest.skip("reference fixtures absent")
        clean = open(self.REF_CRAM, "rb").read()
        rng = random.Random("cram21")

        def decode(m):
            p = tmp_path / "f.cram"
            p.write_bytes(m)
            list(cram.decode_file(str(p), reference=self.REF_FASTA))

        for label, m in _mutations(rng, clean, 150):
            _assert_controlled(lambda m=m: decode(m), f"cram21 {label}")


class TestFuzzBED:
    def test_bed_chunk_and_scalar(self):
        from hadoop_bam_spark.formats.bed import (
            parse_bed_chunk, parse_bed_line)

        base = [
            "chr1\t0\t100\tf1\t500\t+",
            "chr1\t50\t150\tf2\t.\t-\t12\t3,4,5",
            "chr2\t9\t20",
        ]
        rng = random.Random("bed-chunk")
        for i in range(200):
            lines = list(base)
            k = rng.randrange(len(lines))
            lines[k] = _mutate_line(rng, lines[k])
            out = parse_bed_chunk(lines)
            assert out is None or isinstance(out, dict), i
            _assert_controlled(
                lambda ln=lines[k]: parse_bed_line(ln),
                f"parse_bed_line[{i}]")


class TestFuzzGFF:
    def test_gff_chunk_and_scalar(self):
        from hadoop_bam_spark.formats.gff import (
            parse_gff_chunk, parse_gff_line)

        base = [
            "chr1\tens\tgene\t100\t500\t.\t+\t.\tID=g1;Name=x",
            "chr1\t.\texon\t120\t300\t0.5\t-\t2\tParent=g1",
            "chr2\tsrc\t.\t7\t7\t3\t.\t0\t.",
        ]
        rng = random.Random("gff-chunk")
        for i in range(200):
            lines = list(base)
            k = rng.randrange(len(lines))
            lines[k] = _mutate_line(rng, lines[k])
            out = parse_gff_chunk(lines)
            assert out is None or isinstance(out, dict), i
            _assert_controlled(
                lambda ln=lines[k]: parse_gff_line(ln),
                f"parse_gff_line[{i}]")


class TestChainFuzz:
    """Chain-file text parser: mutated valid files and random garbage
    must raise ValueError or parse to well-typed blocks — never an
    internal exception, never a hang."""

    VALID = (
        "chain 4900 chr1 1000 + 100 200 chrA 2000 + 500 605 1\n"
        "50 10 15\n40\n\n"
        "chain 800 chr2 1000 + 300 340 chrB 1000 - 30 70 7\n40\n"
    )

    def test_mutated_valid_text(self):
        from hadoop_bam_spark.formats.chain import parse_chain

        rng = random.Random(0x43484e)
        data = self.VALID.encode()
        for i in range(400):
            b = bytearray(data)
            if i % 2 == 0:
                off = rng.randrange(len(b))
                b[off] ^= 1 << rng.randrange(7)  # keep it mostly ASCII
            else:
                b = b[: rng.randrange(len(b))]
            txt = b.decode("utf-8", "replace")
            _assert_controlled(
                lambda t=txt: parse_chain(t), f"chain mutation #{i}"
            )

    def test_token_garbage(self):
        from hadoop_bam_spark.formats.chain import parse_chain

        rng = random.Random(0x43484f)
        toks = ["chain", "100", "-5", "+", "-", "chr1", "x", "\n", " ",
                "999999999999999999999999", "0", "nan"]
        for i in range(300):
            txt = "".join(
                rng.choice(toks) + rng.choice([" ", "\n"])
                for _ in range(rng.randrange(1, 40))
            )
            _assert_controlled(
                lambda t=txt: parse_chain(t), f"chain garbage #{i}"
            )


class TestBedGraphFuzz:
    """bedGraph line + chunk parsers under mutation: ValueError (scalar)
    or bail-to-None (chunk) — and scalar/vectorized agreement on which
    chunks are clean."""

    def test_mutated_lines(self):
        from hadoop_bam_spark.formats.bedgraph import (
            parse_bedgraph_chunk,
            parse_bedgraph_line,
        )

        rng = random.Random(0xb6b6)
        base = "chr1\t100\t200\t1.5"
        for i in range(400):
            b = bytearray(base.encode())
            off = rng.randrange(len(b))
            b[off] ^= 1 << rng.randrange(7)
            line = b.decode("utf-8", "replace")
            _assert_controlled(
                lambda l=line: parse_bedgraph_line(l), f"bedgraph line #{i}"
            )
            # chunk parser: clean batch OR None; if it returns arrays,
            # the scalar parser must accept the same line
            arrays = parse_bedgraph_chunk([line])
            if arrays:
                try:
                    parse_bedgraph_line(line)
                except ValueError:
                    pytest.fail(
                        f"bedgraph #{i}: vectorized accepted a line the "
                        f"scalar parser rejects: {line!r}"
                    )
