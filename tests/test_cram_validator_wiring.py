"""Wires tools/cram3_validator.py to the engine's CRAM WRITE path.

Two promises from the validator's own docstring are pinned here:

1. **Accept engine-WRITTEN files** across the real write matrix —
   codecs gzip/auto (auto = per-block rANS-4x8 where it measures
   smaller), RR=false verbatim, RR=true reference-compressed,
   embedded-reference self-contained, multi-container/multi-slice,
   plus the Spark sink's sharded (bare-shard parts) and merged single
   file shapes. Every output must produce ZERO findings AND read back
   to the input rows (the reference's TestCRAMOutputFormat read-back
   check; write path mirrored: CRAMRecordWriter.java:74-121 ->
   htsjdk 3.0 container writer, merge util/SAMFileMerger.java:92-103).

2. **Reject corrupted files**: a seeded corruption corpus flips bits
   in every structural region — container header, compression-header
   block, slice-header block, data-block payload, block CRC trailer,
   EOF container — and each mutation must yield >=1 finding. An
   exhaustive sweep then flips one bit at EVERY byte offset past the
   26-byte file definition (whose 20-byte file id is the only
   legitimately unprotected span in the format) and asserts none of
   them validates clean: in a well-formed CRAM 3.0 file every byte
   after the file definition is covered by a CRC32, a byte-exact EOF
   compare, or a structural cross-check.
"""

import io
import random

import pytest

from hadoop_bam_spark.formats import cram
from hadoop_bam_spark.tools import cram3_validator as V

from tests import writers

# ---------------------------------------------------------------------------
# write fixtures
# ---------------------------------------------------------------------------

REFS = [("chr1", 120), ("chr2", 90)]
HEADER = ("@HD\tVN:1.6\tSO:coordinate\n"
          "@SQ\tSN:chr1\tLN:120\n@SQ\tSN:chr2\tLN:90\n")
CHR1 = ("ACGTACGTACGTACGTACGTGGGGCCCCAAAATTTT" * 4)[:120]
CHR2 = ("TTTTAAAACCCCGGGGACGTACGTACGTACGTACGT" * 3)[:90]
assert len(CHR1) == 120 and len(CHR2) == 90


def _rows(n=60):
    """Coordinate-sorted mix: matches, mismatches, indels, clips, tags,
    then an unplaced-unmapped tail — with low-entropy 40-long quals so
    codecs='auto' has rANS-eligible QS blocks (>= 1 KiB per slice)."""
    rng = random.Random(13)
    out = []
    for i in range(n):
        contig = "chr1" if i < n * 2 // 3 else "chr2"
        seq_len = 40
        limit = (120 if contig == "chr1" else 90) - seq_len - 2
        pos = 1 + (i * 7) % max(limit, 1)
        ref = CHR1 if contig == "chr1" else CHR2
        seq = list(ref[pos - 1 : pos - 1 + seq_len])
        cigar = f"{seq_len}M"
        if i % 4 == 1:  # one substitution
            seq[5] = "ACGT"[(("ACGT".find(seq[5]) + 1) % 4)]
        elif i % 4 == 2:  # soft clip + insertion
            cigar = f"2S{seq_len - 5}M3I"
            seq = ["T", "T"] + seq[: seq_len - 5] + ["G", "G", "G"]
        elif i % 4 == 3:  # deletion
            cigar = f"{seq_len // 2}M2D{seq_len - seq_len // 2}M"
        # match-free skewed quals (phred shape): LZ-match-poor so the
        # measured auto pick selects rANS for >=1 KiB QS blocks
        qual = "".join(rng.choices("IIIIIHHHGG?5+", k=len(seq)))
        tags = {"NM": f"{i % 3}", "RG": "rg1"} if i % 2 else {}
        out.append((f"q{i:04d}", 16 if i % 5 == 0 else 0, contig, pos,
                    30 + i % 30, cigar, None, 0, 0, "".join(seq), qual,
                    tags))
    out.sort(key=lambda r: ({"chr1": 0, "chr2": 1}[r[2]], r[3]))
    for j in range(6):  # unmapped tail
        out.append((f"u{j:04d}", 4, None, 0, 0, None, None, 0, 0,
                    "ACGTN" * 8, "!" * 40, {}))
    return out


ROWS = _rows()


@pytest.fixture(scope="module")
def fasta(tmp_path_factory):
    p = tmp_path_factory.mktemp("vw_ref") / "ref.fa"
    p.write_text(f">chr1\n{CHR1}\n>chr2\n{CHR2}\n")
    return str(p)


def _engine_bytes(codecs="gzip", ref_fasta=None, embed=False,
                  per_container=60, per_slice=30):
    buf = io.BytesIO()
    w = writers.CRAMWriter(
        buf, REFS, header_text=HEADER,
        records_per_container=per_container,
        records_per_slice=per_slice,
        ref_fasta=cram.FastaRef(ref_fasta) if ref_fasta else None,
        embed_reference=embed, codecs=codecs)
    for r in ROWS:
        w.write(r)
    w.close()
    return buf.getvalue()


# ---------------------------------------------------------------------------
# 1. acceptance: engine-written matrix validates clean AND reads back
# ---------------------------------------------------------------------------

MATRIX = [
    # (codecs, rr, embed)  — rr/embed need the fasta fixture
    ("gzip", False, False),
    ("auto", False, False),
    ("gzip", True, False),
    ("auto", True, False),
    ("gzip", True, True),
    ("auto", True, True),
]


class TestValidatorAcceptsEngineOutput:
    @pytest.mark.parametrize("codecs,rr,embed", MATRIX)
    def test_writer_matrix_zero_findings(self, codecs, rr, embed, fasta,
                                         tmp_path):
        data = _engine_bytes(codecs=codecs,
                             ref_fasta=fasta if rr else None, embed=embed)
        assert V.validate_bytes(data) == []
        # read-back parity (TestCRAMOutputFormat analog): decode needs
        # the FASTA only for RR-without-embedded-ref outputs
        p = tmp_path / "m.cram"
        p.write_bytes(data)
        back = list(cram.decode_file(
            str(p), reference=fasta if (rr and not embed) else None))
        assert back == ROWS

    def test_qq_qual_mode_layout(self, tmp_path):
        """The alternate spec-valid QQ layout (qualities as a 'q'
        feature stretch instead of a stored QS array, §10.5) must also
        validate clean and read back."""
        mapped = [r for r in ROWS if r[2] is not None]
        buf = io.BytesIO()
        cram.write_file_definition(buf)
        buf.write(cram.encode_header_container(HEADER))
        buf.write(cram.encode_container(
            mapped, {n: i for i, (n, _) in enumerate(REFS)}, 0,
            ref_names=[n for n, _ in REFS], qual_mode="qq"))
        buf.write(cram.EOF_CONTAINER_V3)
        data = buf.getvalue()
        assert V.validate_bytes(data) == []
        p = tmp_path / "qq.cram"
        p.write_bytes(data)
        assert list(cram.decode_file(str(p))) == mapped

    def test_auto_mode_actually_contains_rans_blocks(self):
        """Guards the matrix against silently degenerating to
        gzip-only: the auto file must carry method-4 blocks, so the
        validator's rANS framing checks really ran above."""
        data = _engine_bytes(codecs="auto")
        methods = set()
        cur = V._Cursor(data)
        cur.take(26)
        f: list = []
        while cur.remaining() > len(V.EOF_V3):
            h = V._parse_container_header(cur, f, "c")
            end = cur.pos + h["length"]
            while cur.pos < end:
                blk = V._parse_block(cur, f, "b")
                methods.add(blk.method)
        assert f == []
        assert V.METHOD_RANS in methods


class TestValidatorAcceptsSinkOutput:
    """The Spark sink's two shapes: sharded (standalone part CRAMs from
    bare executor shards) and merged single file."""

    def _df(self, spark):
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA

        return spark.createDataFrame(ROWS, schema=SAM_SCHEMA)

    def _header(self):
        from hadoop_bam_spark.formats.bam import SAMHeader

        return SAMHeader(HEADER)

    def test_merged_single_file(self, spark, tmp_path, fasta):
        from hadoop_bam_spark import sinks

        out = str(tmp_path / "merged.cram")
        sinks.write_cram(self._df(spark).repartition(3), out,
                         self._header(), refs=REFS,
                         records_per_container=20, records_per_slice=10,
                         reference=fasta, index_crai=True, codecs="auto")
        assert V.validate_file(out) == []

    def test_sharded_parts(self, spark, tmp_path, fasta):
        import os

        from hadoop_bam_spark import sinks

        out = str(tmp_path / "sharded")
        sinks.write_cram(self._df(spark).repartition(3), out,
                         self._header(), refs=REFS,
                         records_per_container=20,
                         reference=fasta, embed_reference=True,
                         sharded=True, codecs="auto")
        parts = sorted(p for p in os.listdir(out) if p.endswith(".cram"))
        assert parts
        for p in parts:
            assert V.validate_file(os.path.join(out, p)) == [], p


# ---------------------------------------------------------------------------
# 2. rejection: seeded corruption corpus, one region at a time
# ---------------------------------------------------------------------------

def _layout(buf):
    """Locate each structural region of the FIRST data container using
    the validator's own spec walkers (engine-independent)."""
    f: list = []
    cur = V._Cursor(buf)
    cur.take(26)
    h0 = V._parse_container_header(cur, f, "hdr-container")
    cur.pos += h0["length"]  # skip SAM-header container body
    c_at = cur.pos
    V._parse_container_header(cur, f, "c0")
    regions = {"container_header": (c_at, cur.pos)}
    comp = V._parse_block(cur, f, "comp-header")
    regions["compression_header_block"] = (comp.offset,
                                           comp.offset + comp.size)
    sl = V._parse_block(cur, f, "slice-header")
    regions["slice_header_block"] = (sl.offset, sl.offset + sl.size)
    data0 = V._parse_block(cur, f, "core")
    regions["data_block_payload"] = (data0.offset,
                                     data0.offset + data0.size - 4)
    regions["block_crc_trailer"] = (data0.offset + data0.size - 4,
                                    data0.offset + data0.size)
    regions["eof_container"] = (len(buf) - len(V.EOF_V3), len(buf))
    assert f == [], f
    return regions


class TestValidatorRejectsCorruption:
    @pytest.fixture(scope="class")
    def clean(self):
        data = _engine_bytes(codecs="gzip")
        assert V.validate_bytes(data) == []
        return data

    @pytest.mark.parametrize("region", [
        "container_header", "compression_header_block",
        "slice_header_block", "data_block_payload",
        "block_crc_trailer", "eof_container",
    ])
    def test_seeded_bitflips_each_region_found(self, clean, region):
        lo, hi = _layout(clean)[region]
        rng = random.Random(f"r13:{region}")
        offsets = {rng.randrange(lo, hi) for _ in range(8)}
        for off in offsets:
            bit = 1 << rng.randrange(8)
            mutated = bytearray(clean)
            mutated[off] ^= bit
            findings = V.validate_bytes(bytes(mutated))
            assert findings, (region, off, bit)

    def test_truncation_found(self, clean):
        for cut in (len(clean) - 1, len(clean) - len(V.EOF_V3),
                    len(clean) // 2, 30):
            assert V.validate_bytes(clean[:cut]), cut

    @pytest.mark.parametrize("codecs,rr,embed", [
        ("gzip", False, False),
        ("auto", False, False),   # rANS framing regions
        ("gzip", True, True),     # RR + embedded-reference blocks
    ])
    def test_exhaustive_single_bit_sweep(self, codecs, rr, embed, fasta):
        """Every byte past the file definition is protected: no
        single-bit flip at offset >= 26 validates clean. (Offsets 6..26
        are the spec's arbitrary 20-byte file id — the one legitimately
        unprotected span.) The auto variant carries rANS blocks and the
        embed variant embedded-reference blocks, so the sweep walks
        those framing checks byte-by-byte too."""
        data = _engine_bytes(codecs=codecs,
                             ref_fasta=fasta if rr else None, embed=embed)
        assert V.validate_bytes(data) == []
        misses = []
        mutated = bytearray(data)
        for off in range(26, len(data)):
            mutated[off] ^= 0x10
            if not V.validate_bytes(bytes(mutated)):
                misses.append(off)
            mutated[off] ^= 0x10  # restore in place
        assert misses == []
