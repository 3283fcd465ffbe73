"""Unit tests for the BGZF and BAM codecs (no Spark).

Test strategy mirrors the reference's (SURVEY.md §5): exhaustive guesser
scans (reference TestBAMSplitGuesser / TestBGZFSplitGuesser run the guesser
from every byte offset), round-trips, and index equivalence. Inputs are the
seeded engine-free BAM and BGZF writers in tests/textgen.py; only the
htsjdk-written golden file's record counts need the reference checkout.
"""

import bisect
import io
import os
import struct

import pytest

from hadoop_bam_spark.formats import bam, bgzf
from hadoop_bam_spark.formats.sam import parse_sam_line, format_sam_line
from hadoop_bam_spark.formats.splitting_index import SplittingIndex
from tests import textgen
from tests import writers

RES = "/root/reference/src/test/resources"
has_ref = os.path.isdir(RES)


def _decode_bam(raw: bytes):
    r = bgzf.BGZFReader(io.BytesIO(raw))
    header, refs, start = bam.read_header(r)
    recs = list(bam.iter_records(r, refs, start))
    return raw, header, refs, start, recs


@pytest.fixture(scope="module")
def golden_bam():
    with open(f"{RES}/test.bam", "rb") as f:
        return _decode_bam(f.read())


@pytest.fixture(scope="module")
def gen_bam():
    """3000 seeded records over ~10 BGZF blocks, mixed tag layouts."""
    return _decode_bam(textgen.bam_file(textgen.gen_bam_records()))


class TestBGZF:
    def test_roundtrip(self):
        data = bytes(range(256)) * 1200  # > 4 blocks
        buf = io.BytesIO()
        w = bgzf.BGZFWriter(buf)
        w.write(data)
        w.close()
        raw = buf.getvalue()
        assert raw.endswith(bgzf.BGZF_EOF)
        r = bgzf.BGZFReader(io.BytesIO(raw))
        assert r.read(len(data) + 10) == data

    def test_golden_bgz_matches_plain(self):
        plain = textgen.gen_vcf_text(textgen.gen_vcf_rows(3000)).encode()
        raw = textgen.bgzf_compress(plain)
        assert bgzf.is_bgzf(raw)
        blocks = list(bgzf.iter_blocks(io.BytesIO(raw)))
        assert len(blocks) > 2
        assert b"".join(p for _, p in blocks) == plain

    def test_plain_gzip_is_not_bgzf(self):
        import gzip

        assert not bgzf.is_bgzf(gzip.compress(b"x" * 100000))

    def test_block_guesser_every_offset(self):
        data = os.urandom(150000)
        buf = io.BytesIO()
        w = bgzf.BGZFWriter(buf)
        w.write(data)
        w.close()
        raw = buf.getvalue()
        bounds, off = [], 0
        while off < len(raw):
            bounds.append(off)
            off += bgzf.block_size_at(raw, off)
        for start in range(0, bounds[2]):
            g = bgzf.guess_next_block_start(raw[start:])
            expect = next(b for b in bounds if b >= start)
            assert g is not None and start + g == expect, f"offset {start}"

    def test_terminatorless_parts_concatenate(self):
        parts = []
        for chunk in (b"a" * 70000, b"b" * 10):
            buf = io.BytesIO()
            w = bgzf.BGZFWriter(buf, write_terminator=False)
            w.write(chunk)
            w.close()
            parts.append(buf.getvalue())
        merged = b"".join(parts) + bgzf.BGZF_EOF
        r = bgzf.BGZFReader(io.BytesIO(merged))
        assert r.read(80000) == b"a" * 70000 + b"b" * 10

    def test_voffsets_of_u_matches_scalar(self):
        """The vector form agrees with voffset_of_u at every position of
        the stream so far: flushed blocks, block edges, buffered tail."""
        import numpy as np

        w = bgzf.BGZFWriter(io.BytesIO())
        for n in (1000, 70000, 3, 65280 - 1003, 131000):
            w.write(os.urandom(n))
            u = np.arange(w.u_total + 1)
            want = [w.voffset_of_u(x) for x in range(w.u_total + 1)]
            assert w.voffsets_of_u(u).tolist() == want
            assert w.voffsets_of_u(u[::-7]).tolist() == want[::-7]
        assert len(w.block_coffsets) == 4


class TestBAMCodec:
    @pytest.mark.skipif(not has_ref, reason="reference fixtures absent")
    def test_golden_decode(self, golden_bam):
        _, header, refs, _, recs = golden_bam
        assert len(recs) == 2277
        assert refs[0] == ("1", 249250621) and len(refs) == 84
        # spot field sanity on the first record
        qname, flag, rname, pos, mapq, cigar = recs[0][:6]
        assert rname == "1" and pos == 1581001 and isinstance(flag, int)

    def test_encode_roundtrip(self, gen_bam):
        _, header, refs, _, recs = gen_bam
        buf = io.BytesIO()
        writers.write_bam(buf, header, recs, refs=refs)
        buf.seek(0)
        r2 = bgzf.BGZFReader(buf)
        h2, refs2, s2 = bam.read_header(r2)
        assert refs2 == refs
        assert list(bam.iter_records(r2, refs2, s2)) == recs

    def test_sam_text_equivalence(self, gen_bam):
        """BAM rows -> SAM text -> parse == identity (the reference emits the
        same SAMRecord from both input formats)."""
        _, _, _, _, recs = gen_bam
        assert all(parse_sam_line(format_sam_line(r)) == r for r in recs)

    def test_guesser_grid(self, gen_bam):
        raw, _, refs, start, _ = gen_bam
        r = bgzf.BGZFReader(io.BytesIO(raw))
        true_offsets = []
        r.seek_voffset(start)
        while True:
            at = r.tell_voffset()
            head = r.read(4)
            if len(head) < 4:
                break
            (bs,) = struct.unpack("<i", head)
            body = r.read(bs)
            if len(body) < bs:
                break
            true_offsets.append(at)
        fails = 0
        for off in range(0, len(raw) - 1000, 1999):
            win = raw[off : off + (bam.BLOCKS_NEEDED_FOR_GUESS + 2) * 0x10000]
            g = bam.guess_next_record_voffset(win, off, len(refs))
            idx = bisect.bisect_left(true_offsets, bgzf.make_voffset(off, 0))
            if idx < len(true_offsets):
                if g != true_offsets[idx]:
                    fails += 1
        assert fails == 0

    def test_unmapped_and_missing_fields(self):
        row = ("r1", 4, None, 0, 0, None, None, 0, 0, None, None, {})
        enc = bam.encode_record(row, {})
        assert bam.decode_record(enc[4:], []) == row

    def test_guesser_no_false_positives_replicated(self, gen_bam):
        """Regression: on a BAM built by replicating the input records, the
        plausibility-chain guesser used to return offsets that are NOT true
        record starts (~0.05% of boundary guesses), crashing or corrupting
        the partition scan. Every guess must now land on a true start."""
        _, header, refs, _, recs = gen_bam
        buf = io.BytesIO()
        writers.write_bam(buf, header, recs * 8, refs=refs)
        raw = buf.getvalue()
        r = bgzf.BGZFReader(io.BytesIO(raw))
        _, _, start = bam.read_header(r)
        true_offsets = set()
        r.seek_voffset(start)
        while True:
            at = r.tell_voffset()
            head = r.read(4)
            if len(head) < 4:
                break
            (bs,) = struct.unpack("<i", head)
            if len(r.read(bs)) < bs:
                break
            true_offsets.add(at)
        bad = []
        for off in range(0, len(raw) - 1000, 4093):
            win = raw[off : off + (bam.BLOCKS_NEEDED_FOR_GUESS + 2) * 0x10000]
            g = bam.guess_next_record_voffset(win, off, len(refs))
            if g is not None and g not in true_offsets:
                bad.append((off, g))
        assert bad == []

    def test_tag_types_preserved_roundtrip(self):
        """A-chars, H hex strings, integral floats, and numeric Z strings keep
        their wire type through decode -> map-value string -> encode (the
        reference preserves htsjdk tag types byte-for-byte)."""
        wire = b"".join(
            [
                b"XAAc",                                  # A 'c'
                b"XHH" + b"1AFF\x00",                     # H hex string
                b"XFf" + struct.pack("<f", 3.0),          # f with integral value
                b"XZZ" + b"123\x00",                      # Z that looks numeric
                b"XTZ" + b"A:decoy\x00",                  # Z that looks like a prefix
                b"XIi" + struct.pack("<i", 5),            # plain int
                b"XSs" + struct.pack("<h", -7),           # small int widens to i
                b"XGf" + struct.pack("<f", 3.5),          # fractional float
                b"XBBc" + struct.pack("<i", 2) + struct.pack("<2b", 1, -2),
            ]
        )
        tags = bam._decode_tags(wire)
        assert tags == {
            "XA": "A:c",
            "XH": "H:1AFF",
            "XF": "f:3",
            "XZ": "Z:123",
            "XT": "Z:A:decoy",
            "XI": "5",
            "XS": "-7",
            "XG": "3.5",
            "XB": "c,1,-2",
        }
        re_wire = b"".join(bam._encode_tag_value(k, v) for k, v in tags.items())
        again = bam._decode_tags(re_wire)
        assert again == tags
        # types survive on the wire (XS widens to i like SAM text; rest exact)
        assert b"XAAc" in re_wire and b"XHH1AFF\x00" in re_wire
        assert b"XFf" + struct.pack("<f", 3.0) in re_wire
        assert b"XZZ123\x00" in re_wire and b"XTZA:decoy\x00" in re_wire


class TestSplittingIndex:
    def test_roundtrip_and_lookup(self):
        idx = SplittingIndex(2, [make(100, 5), make(200, 0), make(300, 9)], 400)
        buf = io.BytesIO()
        idx.write(buf)
        buf.seek(0)
        idx2 = SplittingIndex.read(buf)
        assert idx2.voffsets == idx.voffsets
        assert idx2.file_length == 400
        assert idx2.next_record(150) == make(200, 0)
        assert idx2.prev_record(150) == make(100, 5)
        assert idx2.next_record(301) is None

    def test_merge_shifts_offsets(self):
        a = ([make(0, 0), make(50, 3)], 120)
        b = ([make(0, 7)], 80)
        merged = SplittingIndex.merge([a, b], header_length=1000)
        assert merged.voffsets == [make(1000, 0), make(1050, 3), make(1120, 7)]
        assert merged.file_length == 1200


def make(coffset, uoffset):
    return bgzf.make_voffset(coffset, uoffset)


def test_reference_splitting_bai_layout_roundtrip(tmp_path):
    import io
    from hadoop_bam_spark.formats.splitting_index import SplittingIndex

    idx = SplittingIndex(1024, [100 << 16 | 5, 5000 << 16, 90000 << 16 | 77], 123456)
    buf = io.BytesIO()
    idx.write_reference_layout(buf)
    assert len(buf.getvalue()) == 8 * 4  # bare big-endian i64s, no header
    buf.seek(0)
    back = SplittingIndex.read_reference_layout(buf)
    assert back.voffsets == idx.voffsets
    assert back.file_length == idx.file_length


def test_reference_splitting_bai_plans_identical_splits(spark, tmp_path, monkeypatch):
    import os
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats import bam
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.sources.bam_source import BAMReader

    register_all(spark)
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000"]
    hdr.sequences = {"chr1": (0, 100000)}
    rows = [
        (f"r{i}", 0, "chr1", i * 10 + 1, 30, "8M", None, 0, 0,
         "ACGTACGT", "IIIIIIII", {})
        for i in range(2000)
    ]
    df = spark.createDataFrame(rows, SAM_SCHEMA).coalesce(1)
    path = str(tmp_path / "x.bam")
    sinks.write_bam(df, path, hdr, index_granularity=64,
                    index_splitting_bai=True)

    opts = {"path": path, "split_size": "4096"}
    parts_sbi = BAMReader(opts).partitions()
    os.remove(path + ".sbi")  # force the .splitting-bai fallback
    # planning must not fall back to the heuristic guesser
    monkeypatch.setattr(
        bam, "guess_next_record_voffset",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("guesser used")),
    )
    parts_ref = BAMReader(opts).partitions()
    assert [(p.vstart, p.vend) for p in parts_ref] == [
        (p.vstart, p.vend) for p in parts_sbi
    ]
    assert len(parts_ref) > 1


def test_executor_side_realignment_no_driver_guessing(spark, tmp_path, monkeypatch):
    """No index: planning emits raw byte ranges with ZERO driver-side data
    reads (guesser monkeypatched to fail on the driver); executors realign
    edges and the record set matches index-aligned planning exactly."""
    import os
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats import bam
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.sources.bam_source import BAMReader, RawBAMPartition

    register_all(spark)
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000"]
    hdr.sequences = {"chr1": (0, 100000)}
    rows = [
        (f"r{i}", 0, "chr1", i * 10 + 1, 30, "8M", None, 0, 0,
         "ACGTACGT", "IIIIIIII", {})
        for i in range(3000)
    ]
    df = spark.createDataFrame(rows, SAM_SCHEMA).coalesce(1)
    path = str(tmp_path / "x.bam")
    sinks.write_bam(df, path, hdr, index_granularity=64)

    with_index = sorted(
        r.qname for r in
        spark.read.format("bam").option("split_size", "4096").load(path).collect()
    )
    os.remove(path + ".sbi")

    # driver-side planning must not touch record data
    monkeypatch.setattr(
        bam, "guess_next_record_voffset",
        lambda *a, **k: (_ for _ in ()).throw(AssertionError("driver guessed")),
    )
    reader = BAMReader({"path": path, "split_size": "4096"})
    parts = reader.partitions()
    assert len(parts) > 2
    assert all(isinstance(p, RawBAMPartition) for p in parts)
    monkeypatch.undo()

    # executors (separate processes) realign and produce the same records
    raw = sorted(
        r.qname for r in
        spark.read.format("bam").option("split_size", "4096").load(path).collect()
    )
    assert raw == with_index == sorted(q for q, *_ in rows)
