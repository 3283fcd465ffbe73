"""BCF2 codec tests on golden files of the VCF spec's five example
records: that file encoded per VCFv4.3 section 6 by ``tests/textgen.py``
(flags as 1-element INT8s, the form section 6.3.3 recommends), and, wherever
the reference checkout holds them, htsjdk's test.uncompressed.bcf with its
test.vcf. Split-walk tests of the BCF source run on BCF encoded from
``tests/textgen.py`` rows (reference test analog TestBCFRecordReader)."""

import io
import os

import numpy as np
import pytest

from hadoop_bam_spark.formats import bcf, bgzf
from hadoop_bam_spark.formats.vcf import (
    parse_vcf_header,
    parse_vcf_line,
    read_vcf_header,
)
from hadoop_bam_spark.sources import bcf_source
from tests import textgen

RES = "/root/reference/src/test/resources"
PLAIN = os.path.join(RES, "test.uncompressed.bcf")
TEXT = os.path.join(RES, "test.vcf")


@pytest.fixture(scope="module")
def goldens(tmp_path_factory):
    """(uncompressed BCF path, VCF text path) pairs of the same records:
    the spec example always, the reference's files where they exist."""
    d = tmp_path_factory.mktemp("bcf_golden")
    (d / "test.uncompressed.bcf").write_bytes(
        textgen.bcf_file(textgen.VCF_SPEC_EXAMPLE))
    (d / "test.vcf").write_text(textgen.VCF_SPEC_EXAMPLE)
    pairs = [(str(d / "test.uncompressed.bcf"), str(d / "test.vcf"))]
    if os.path.exists(PLAIN):
        pairs.append((PLAIN, TEXT))
    return pairs


def _decode_all(path):
    raw = open(path, "rb").read()
    hdr, off = bcf.read_bcf_header(io.BytesIO(raw))
    rows = []
    while off < len(raw):
        row, off = bcf.decode_record(raw, off, hdr)
        rows.append(row)
    return hdr, rows


class TestBCFCodec:
    def test_header_dictionaries(self, goldens):
        for path, _ in goldens:
            hdr, _ = _decode_all(path)
            assert hdr.vcf.samples == ["NA00001", "NA00002", "NA00003"]
            assert hdr.contigs == ["20"]
            assert hdr.strings[0] == "PASS"
            assert {"NS", "DP", "GT", "GQ", "HQ"} <= set(hdr.strings)

    def test_golden_matches_text_vcf(self, goldens):
        """BCF decode == text VCF parse, field for field (qual approx —
        float32 vs decimal text)."""
        for path, text in goldens:
            _, rows = _decode_all(path)
            vh = read_vcf_header(text)
            trows = [
                t
                for line in open(text)
                if (t := parse_vcf_line(line, vh.samples)) is not None
            ]
            assert len(rows) == len(trows) == 5
            for b, t in zip(rows, trows):
                assert b[0] == t[0] and b[1] == t[1]  # contig, pos
                assert b[3] == t[3] and b[4] == t[4] and b[5] == t[5]
                if t[6] is None:
                    assert b[6] is None
                else:
                    assert b[6] == pytest.approx(t[6], abs=1e-4)
                assert b[7] == t[7]  # filters
                assert b[8] == t[8]  # info map
                assert b[9] == t[9]  # genotypes incl. GT phasing

    def test_encode_roundtrip(self, goldens):
        for path, _ in goldens:
            hdr, rows = _decode_all(path)
            blob = b"".join(bcf.encode_record(r, hdr) for r in rows)
            off, back = 0, []
            while off < len(blob):
                row, off = bcf.decode_record(blob, off, hdr)
                back.append(row)
            assert back == rows

    def test_header_encode_roundtrip(self, goldens):
        for path, _ in goldens:
            hdr, _ = _decode_all(path)
            blob = bcf.encode_header(hdr)
            h2, consumed = bcf.read_bcf_header(io.BytesIO(blob))
            assert consumed == len(blob)
            assert h2.strings == hdr.strings
            assert h2.contigs == hdr.contigs
            assert h2.vcf.samples == hdr.vcf.samples

    def test_guesser_every_offset(self, goldens):
        """From every byte offset in the record region, the guesser must
        land on a true record boundary (reference TestBCFSplitGuesser
        strategy)."""
        for path, _ in goldens:
            raw = open(path, "rb").read()
            hdr, hend = bcf.read_bcf_header(io.BytesIO(raw))
            bounds = []
            off = hend
            while off < len(raw):
                bounds.append(off)
                _, off = bcf.decode_record(raw, off, hdr)
            for probe in range(hend, len(raw)):
                got = bcf.guess_next_record_offset(raw[probe:], hdr)
                if got is not None:
                    assert probe + got in bounds


def test_flag_with_reserved_type_raises():
    """A flag is decoded as true whatever its value, but a reserved type
    code there is still corrupt input (spec §6.3.3)."""
    from hadoop_bam_spark.formats import bcf_vec

    raw = textgen.bcf_file(textgen.VCF_SPEC_EXAMPLE)
    hdr, off = bcf.read_bcf_header(io.BytesIO(raw))
    db = bytes([0x11, hdr.strings.index("DB"), 0x11, 0x01])
    at = raw.index(db, off) + 2
    bad = raw[:at] + bytes([0x14]) + raw[at + 1:]  # type 4 is reserved
    with pytest.raises(ValueError):
        bcf.decode_record(bad, off, hdr)
    with pytest.raises(ValueError):
        bcf.decode_record_ref(bad, off, hdr)
    with pytest.raises(bcf_vec.VecUnsupported):
        bcf_vec.BCFBatchDecoder(hdr).decode(bad, np.array([off]))


#: The spec example with a String FORMAT key whose per-sample values differ
#: in length, so the BCF pads the shorter ones with NULs (VCFv4.3 §6.3.3).
FT_VCF = textgen.VCF_SPEC_EXAMPLE.replace(
    "##FORMAT=<ID=HQ,",
    '##FORMAT=<ID=FT,Number=1,Type=String,Description="Sample filter">\n'
    "##FORMAT=<ID=HQ,",
).replace(
    "GT:GQ:DP:HQ\t0|0:48:1:51,51\t1|0:48:8:51,51\t1/1:43:5:.,.",
    "GT:GQ:DP:HQ:FT\t0|0:48:1:51,51:PASS\t1|0:48:8:51,51:q10;s50"
    "\t1/1:43:5:.,.:.",
)
FT_VALUES = ["PASS", "q10;s50", "."]


def _ft(genotypes):
    return [fields.get("FT") for _, _, fields in genotypes]


def test_string_format_values_end_at_nul(spark, tmp_path):
    """NUL padding is not part of a per-sample String value: the fast and
    reference scalar decoders, the vectorized decoder and an engine
    write/read round trip all give the values as written."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats import bcf_vec
    from hadoop_bam_spark.sources import register_all

    raw = textgen.bcf_file(FT_VCF)
    assert b"PASS\x00\x00\x00" in raw
    hdr, off = bcf.read_bcf_header(io.BytesIO(raw))
    assert _ft(bcf.decode_record(raw, off, hdr)[0][9]) == FT_VALUES
    assert _ft(bcf.decode_record_ref(raw, off, hdr)[0][9]) == FT_VALUES
    cols = bcf_vec.BCFBatchDecoder(hdr).decode(raw, np.array([off]))
    vec = [(g["sample"], g["gt"], dict(g["fields"]))
           for g in cols["genotypes"].to_pylist()[0]]
    assert _ft(vec) == FT_VALUES

    register_all(spark)
    src = tmp_path / "ft.bcf"
    src.write_bytes(raw)
    out = str(tmp_path / "ft_out.bcf")
    df = spark.read.format("bcf").load(str(src))
    sinks.write_bcf(df, out, parse_vcf_header(FT_VCF.splitlines()))
    for path in (str(src), out):
        first = spark.read.format("bcf").load(path).orderBy("start").first()
        assert [g.fields.get("FT") for g in first.genotypes] == FT_VALUES


def _gen_bcf_bytes(rows):
    """Uncompressed BCF of textgen VCF rows (engine codec, no fixture)."""
    vh = parse_vcf_header(textgen.gen_vcf_text([]).splitlines())
    hdr = bcf.parse_bcf_header_text(vh.text)
    return bcf.encode_header(hdr) + b"".join(
        bcf.encode_record(r, hdr) for r in rows
    )


def _write_bgzf(path, raw):
    with open(path, "wb") as fh:
        w = bgzf.BGZFWriter(fh)
        w.write(raw)
        w.close()


@pytest.fixture(scope="module")
def gen_bcf(tmp_path_factory):
    """{"plain": path, "bgzf": path, "vcf": path, "rows": rows}: the same
    textgen records as uncompressed BCF, BGZF BCF and VCF text."""
    d = tmp_path_factory.mktemp("gen_bcf")
    rows = textgen.gen_vcf_rows(3000)
    raw = _gen_bcf_bytes(rows)
    (d / "gen.uncompressed.bcf").write_bytes(raw)
    _write_bgzf(str(d / "gen.bgzf.bcf"), raw)
    (d / "gen.vcf").write_text(textgen.gen_vcf_text(rows))
    return {
        "plain": str(d / "gen.uncompressed.bcf"),
        "bgzf": str(d / "gen.bgzf.bcf"),
        "vcf": str(d / "gen.vcf"),
        "rows": rows,
    }


def _read_range(p, s, n):
    with open(p, "rb") as fh:
        fh.seek(s)
        return fh.read(n)


def _split_records(path, split):
    """Records of every split of ``path``, in split order, through the
    reader's own span walks (``_iter_plain_spans`` / ``_iter_bgzf_spans``)."""
    kind = bcf_source.sniff_bcf(path)
    hdr, hend = bcf_source.read_header(path, kind)
    size = os.path.getsize(path)
    if kind == "plain":
        bounds = list(range(0, size, split)) + [size]
        spans = (
            bcf_source._iter_plain_spans(
                bcf_source.BCFPlainPartition(path, bounds[i], bounds[i + 1]),
                hdr, hend,
            )
            for i in range(len(bounds) - 1)
        )
    else:
        spans = (
            bcf_source._iter_bgzf_spans(
                bcf_source.BCFBgzfPartition(path, s.start_coffset, s.end_coffset),
                hdr, hend,
            )
            for s in bgzf.align_splits(path, size, split, _read_range)
        )
    return [
        bcf.decode_record(buf, int(off), hdr)[0]
        for walk in spans
        for buf, starts in walk
        for off in starts
    ]


class TestBCFSource:
    @pytest.mark.parametrize("kind", ["plain", "bgzf"])
    def test_sniff(self, gen_bcf, kind):
        assert bcf_source.sniff_bcf(gen_bcf[kind]) == kind
        assert bcf_source.sniff_bcf(gen_bcf["vcf"]) is None

    @pytest.mark.parametrize("kind", ["plain", "bgzf"])
    @pytest.mark.parametrize("split", [64, 300, 1 << 20])
    def test_split_invariance(self, gen_bcf, kind, split):
        got = _split_records(gen_bcf[kind], split)
        assert [r[1] for r in got] == [r[1] for r in gen_bcf["rows"]]

    @pytest.mark.parametrize("split", [4096, 16384, 70000])
    def test_multiblock_bgzf_no_record_loss(self, tmp_path, split):
        """Regression: _BgzfByteFeed.drop used to discard the floor
        block-start entry once later blocks were buffered, so block_of(base)
        returned the NEXT block's coffset and the end-of-split ownership
        check dropped records silently (e.g. 4,990/10,000 at split=4096).
        A multi-block file with small splits must return every record."""
        path = str(tmp_path / "big.bcf")
        _write_bgzf(path, _gen_bcf_bytes(textgen.gen_vcf_rows(10000)))
        assert len(_split_records(path, split)) == 10000


class TestFastDecodeParity:
    """The inlined/bulk-unpack decode_record must match decode_record_ref
    (the spec-structured implementation) byte-for-byte on every fixture and
    on adversarial synthetic records."""

    def test_fixture_parity(self, goldens):
        for path, _ in goldens:
            hdr, rows = _decode_all(path)
            blob = b"".join(bcf.encode_record(r, hdr) for r in rows)
            off = off2 = 0
            while off < len(blob):
                r1, off = bcf.decode_record(blob, off, hdr)
                r2, off2 = bcf.decode_record_ref(blob, off2, hdr)
                assert off == off2 and r1 == r2

    def test_synthetic_parity(self):
        import random

        hdr_text = "\n".join([
            "##fileformat=VCFv4.2",
            '##contig=<ID=c1,length=1000>',
            '##FILTER=<ID=PASS,Description="d">',
            '##FILTER=<ID=q10,Description="d">',
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">',
            '##INFO=<ID=AF,Number=A,Type=Float,Description="d">',
            '##INFO=<ID=DB,Number=0,Type=Flag,Description="d">',
            '##INFO=<ID=XS,Number=1,Type=String,Description="d">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="d">',
            '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="d">',
            '##FORMAT=<ID=PL,Number=G,Type=Integer,Description="d">',
            '##FORMAT=<ID=AF,Number=2,Type=Float,Description="d">',
            '##FORMAT=<ID=FC,Number=1,Type=String,Description="d">',
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tA\tB",
        ]) + "\n"
        hdr = bcf.parse_bcf_header_text(hdr_text)
        rng = random.Random(42)
        rows = []
        for i in range(500):
            fm = {}
            if rng.random() < 0.7:
                fm["GT"] = rng.choice(["0/0", "0|1", "1/.", "./.", "1", "."])
                if fm["GT"] == ".":
                    del fm["GT"]
            if rng.random() < 0.5:
                fm["DP"] = str(rng.randrange(300))
            if rng.random() < 0.3:
                fm["PL"] = ",".join(str(rng.randrange(99)) for _ in range(3))
            if rng.random() < 0.3:
                fm["AF"] = "0.5,0.25"
            if rng.random() < 0.2:
                fm["FC"] = "xy"
            gts = [("A", fm.get("GT"), dict(fm)), ("B", fm.get("GT"), dict(fm))]
            info = {}
            if rng.random() < 0.5:
                info["DP"] = str(rng.randrange(100000))
            if rng.random() < 0.3:
                info["AF"] = "0.125"
            if rng.random() < 0.2:
                info["DB"] = "true"
            if rng.random() < 0.2:
                info["XS"] = "s" * rng.randrange(1, 30)
            rows.append((
                "c1", 1 + i, 1 + i,
                None if rng.random() < 0.5 else f"id{i}",
                "ACGT"[: 1 + rng.randrange(3)],
                None if rng.random() < 0.1 else ["T", "G"][: 1 + rng.randrange(2)],
                None if rng.random() < 0.3 else float(rng.randrange(999)) / 4,
                None if rng.random() < 0.2 else ["PASS"],
                info, gts,
            ))
        blob = b"".join(bcf.encode_record(r, hdr) for r in rows)
        off = off2 = 0
        n = 0
        while off < len(blob):
            r1, off = bcf.decode_record(blob, off, hdr)
            r2, off2 = bcf.decode_record_ref(blob, off2, hdr)
            assert off == off2 and r1 == r2, n
            n += 1
        assert n == len(rows)
