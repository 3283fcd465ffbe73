"""Vectorized BCF decode parity: bcf_vec.BCFBatchDecoder output must equal
decode_record_ref row-for-row, on golden files (the VCF spec example
encoded by ``tests/textgen.py``, and the reference's where it exists) and
on hypothesis-generated record batches covering every BCF2 type shape."""

import io
import os
import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_bam_spark.formats import bcf, bcf_vec
from tests import textgen

RES = "/root/reference/src/test/resources"
PLAIN = os.path.join(RES, "test.uncompressed.bcf")

HDR_TEXT = (
    "##fileformat=VCFv4.2\n"
    "##contig=<ID=chr1,length=100000000>\n"
    "##contig=<ID=chr2,length=100000000>\n"
    '##FILTER=<ID=PASS,Description="d">\n'
    '##FILTER=<ID=q10,Description="d">\n'
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
    '##INFO=<ID=AF,Number=A,Type=Float,Description="d">\n'
    '##INFO=<ID=DB,Number=0,Type=Flag,Description="d">\n'
    '##INFO=<ID=SRC,Number=1,Type=String,Description="d">\n'
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="d">\n'
    '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="d">\n'
    '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="d">\n'
    '##FORMAT=<ID=PL,Number=G,Type=Integer,Description="d">\n'
    '##FORMAT=<ID=HQ,Number=2,Type=Integer,Description="d">\n'
    '##FORMAT=<ID=AB,Number=1,Type=Float,Description="d">\n'
    '##FORMAT=<ID=FT,Number=1,Type=String,Description="d">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3\n"
)


def _scalar_rows(buf, hdr):
    rows, off = [], 0
    while off < len(buf):
        row, off = bcf.decode_record_ref(buf, off, hdr)
        rows.append(row)
    return rows


def _starts(buf):
    out, off = [], 0
    while off < len(buf):
        l_shared, l_indiv = struct.unpack_from("<II", buf, off)
        out.append(off)
        off += 8 + l_shared + l_indiv
    return np.array(out, dtype=np.int64)


def _vec_rows(buf, hdr, fields=None, intervals_by_rid=None):
    import pyarrow as pa

    dec = bcf_vec.BCFBatchDecoder(hdr, fields=fields)
    cols = dec.decode(buf, _starts(buf), intervals_by_rid=intervals_by_rid)
    if cols is None:
        return []
    names = fields or [
        "contig", "start", "end", "id", "ref", "alts", "qual",
        "filters", "info", "genotypes",
    ]
    tab = pa.table({k: cols[k] for k in names})
    out = []
    for rec in tab.to_pylist():
        row = []
        for k in names:
            v = rec[k]
            if k == "info" and v is not None:
                v = dict(v)
            if k == "genotypes" and v is not None:
                v = [
                    (g["sample"], g["gt"],
                     dict(g["fields"]) if g["fields"] is not None else None)
                    for g in v
                ]
            row.append(v)
        out.append(tuple(row))
    return out


def _norm_scalar(row):
    """decode_record_ref tuple -> comparable shape (alts/filters lists,
    info dict, genotypes list of (sample, gt, dict))."""
    contig, start, end, vid, ref, alts, qual, filters, info, gts = row
    return (
        contig, start, end, vid, ref,
        list(alts) if alts is not None else None,
        qual,
        list(filters) if filters is not None else None,
        dict(info),
        [(s, g, dict(d)) for (s, g, d) in gts] if gts is not None else None,
    )


def _assert_parity(buf, hdr):
    want = [_norm_scalar(r) for r in _scalar_rows(buf, hdr)]
    got = _vec_rows(buf, hdr)
    assert len(got) == len(want)
    for g, w in zip(got, want):
        for i, name in enumerate(
            ["contig", "start", "end", "id", "ref", "alts", "qual",
             "filters", "info", "genotypes"]
        ):
            if name == "qual":
                if w[i] is None:
                    assert g[i] is None
                else:
                    assert g[i] == pytest.approx(w[i], rel=1e-6)
            else:
                assert g[i] == w[i], f"{name}: {g[i]!r} != {w[i]!r}"


def test_golden_file_parity():
    """The VCF spec example encoded per VCFv4.3 section 6 (flags as
    1-element INT8s), and htsjdk's golden file where it exists."""
    goldens = [textgen.bcf_file(textgen.VCF_SPEC_EXAMPLE)]
    if os.path.exists(PLAIN):
        goldens.append(open(PLAIN, "rb").read())
    for raw in goldens:
        hdr, off = bcf.read_bcf_header(io.BytesIO(raw))
        _assert_parity(raw[off:], hdr)


def _encode(rows, hdr):
    return b"".join(bcf.encode_record(tuple(r), hdr) for r in rows)


def test_basic_batch():
    hdr = bcf.parse_bcf_header_text(HDR_TEXT)
    rows = [
        ("chr1", 100, 100, "v1", "A", ["T"], 50.0, ["PASS"],
         {"DP": "3", "AF": "0.5"},
         [("S1", "0/1", {"GT": "0/1", "DP": "3"}),
          ("S2", "0|0", {"GT": "0|0", "DP": "5"}),
          ("S3", "1/1", {"GT": "1/1", "DP": "7"})]),
        ("chr1", 200, 202, None, "ACG", ["A", "AT"], None, None,
         {"DB": "true", "SRC": "x"},
         [("S1", "0/2", {"GT": "0/2", "PL": "1,2,3"}),
          ("S2", None, {"DP": "9"}),
          ("S3", "./.", {"GT": "./."})]),
        ("chr2", 300, 300, "v3", "G", None, 9.5, ["q10"],
         {},
         [("S1", "0/0", {"GT": "0/0", "HQ": "1,2", "AB": "0.25"}),
          ("S2", "0/0", {"GT": "0/0", "FT": "ok"}),
          ("S3", "0/0", {"GT": "0/0"})]),
    ]
    buf = _encode(rows, hdr)
    _assert_parity(buf, hdr)


def test_projection_and_intervals():
    hdr = bcf.parse_bcf_header_text(HDR_TEXT)
    rows = [
        ("chr1", p, p, f"v{p}", "A", ["T"], 1.0, ["PASS"], {"DP": str(p)},
         [("S1", "0/1", {"GT": "0/1"}), ("S2", "0/0", {"GT": "0/0"}),
          ("S3", "1/1", {"GT": "1/1"})])
        for p in range(100, 1100, 100)
    ]
    buf = _encode(rows, hdr)
    got = _vec_rows(buf, hdr, fields=["contig", "start", "info"])
    assert len(got) == 10
    assert got[0] == ("chr1", 100, {"DP": "100"})
    got = _vec_rows(buf, hdr, intervals_by_rid=[(0, 250, 450)])
    assert [r[1] for r in got] == [300, 400]
    assert _vec_rows(buf, hdr, intervals_by_rid=[(1, 1, 10)]) == []


_val_int = st.one_of(st.none(), st.integers(-1000, 1000))
_gt = st.one_of(
    st.none(),
    st.sampled_from(["0/0", "0/1", "1/1", "0|1", "./.", ".", "0", "1",
                     "0/1/2", "2|0"]),
)


@st.composite
def _variant(draw):
    contig = draw(st.sampled_from(["chr1", "chr2"]))
    pos = draw(st.integers(1, 1_000_000))
    ref = draw(st.sampled_from(["A", "C", "GT", "ACGT"]))
    n_alt = draw(st.integers(0, 3))
    alts = [draw(st.sampled_from(["A", "T", "TT", "<DEL>"]))
            for _ in range(n_alt)] or None
    vid = draw(st.one_of(st.none(), st.sampled_from(["rs1", "x", "longid9"])))
    qual = draw(st.one_of(st.none(), st.floats(0, 1000, width=32)))
    filters = draw(st.one_of(st.none(), st.sampled_from(
        [["PASS"], ["q10"], ["PASS", "q10"]])))
    info = {}
    if draw(st.booleans()):
        info["DP"] = str(draw(st.integers(-100, 10_000)))
    if draw(st.booleans()) and n_alt:
        info["AF"] = ",".join(
            "%g" % draw(st.floats(0, 1, width=32)) for _ in range(n_alt)
        )
    if draw(st.booleans()):
        info["DB"] = "true"
    if draw(st.booleans()):
        info["SRC"] = draw(st.sampled_from(["a", "bb", "c,d"]))
    gts = []
    for sname in ("S1", "S2", "S3"):
        d = {}
        gt = draw(_gt)
        if gt is not None:
            d["GT"] = gt
        if draw(st.booleans()):
            d["DP"] = str(draw(st.integers(0, 500)))
        if draw(st.booleans()):
            d["PL"] = ",".join(
                str(draw(st.integers(0, 255))) for _ in range(3)
            )
        if draw(st.booleans()):
            d["AB"] = "%g" % draw(st.floats(0, 1, width=32))
        if draw(st.booleans()):
            d["FT"] = draw(st.sampled_from(["ok", "no", "zz"]))
        gts.append((sname, d.get("GT"), d))
    end = pos + len(ref) - 1
    return (contig, pos, end, vid, ref, alts, qual, filters, info, gts)


@given(st.lists(_variant(), min_size=1, max_size=40))
@settings(max_examples=60, deadline=None)
def test_property_parity(rows):
    hdr = bcf.parse_bcf_header_text(HDR_TEXT)
    buf = _encode(rows, hdr)
    _assert_parity(buf, hdr)


def test_extended_counts_and_padding():
    """Descriptor count nibble 15 -> typed-scalar-int extension: >14
    alleles, long IDs/strings, wide FORMAT vectors; plus NUL-padded
    per-sample strings (BCF pads to fixed width) and zero-sample rows."""
    hdr = bcf.parse_bcf_header_text(HDR_TEXT)
    wide_alts = [f"{'A' * (i + 1)}" for i in range(20)]  # 21 alleles total
    rows = [
        ("chr1", 10, 10, "id_longer_than_fifteen_chars_x", "A", wide_alts,
         1.0, ["PASS"],
         {"SRC": "a string value longer than fifteen characters"},
         [("S1", "0/1", {"GT": "0/1",
                         "PL": ",".join(str(i) for i in range(21))}),
          ("S2", "0/0", {"GT": "0/0"}),
          ("S3", None, {"FT": "ok"})]),
        ("chr2", 20, 20, None, "C", None, None, None, {}, []),
    ]
    buf = _encode(rows, hdr)
    _assert_parity(buf, hdr)


def test_many_samples_wide_vectors():
    hdr_text = HDR_TEXT.replace(
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3",
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\t"
        + "\t".join(f"S{i}" for i in range(40)),
    )
    hdr = bcf.parse_bcf_header_text(hdr_text)
    gts = [
        (f"S{i}", "0|1" if i % 2 else "1/1",
         {"GT": "0|1" if i % 2 else "1/1", "DP": str(i)})
        for i in range(40)
    ]
    rows = [
        ("chr1", p, p, None, "A", ["T"], 9.0, ["PASS"], {"DP": "7"}, gts)
        for p in range(100, 600, 100)
    ]
    buf = _encode(rows, hdr)
    _assert_parity(buf, hdr)


def test_multi_split_counts(spark, tmp_path):
    """A BGZF BCF large enough for MANY splits must return every row at
    small split sizes — non-first splits realign via the guesser, whose
    strongest filter is the header sample count. Regression for the r5
    2M-row proof that found non-first splits returning ZERO rows when the
    caller's header lacked the #CHROM sample line (the sink now derives
    samples from the data)."""
    from pyspark.sql import functions as F

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.vcf import VCFHeader
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    n = 60_000
    df = spark.range(n).select(
        F.lit("chr1").alias("contig"),
        (F.col("id") * 7 + 1).alias("start"),
        (F.col("id") * 7 + 1).alias("end"),
        F.concat(F.lit("v"), F.col("id")).alias("id"),
        F.lit("A").alias("ref"),
        F.array(F.lit("T")).alias("alts"),
        F.lit(50.0).alias("qual"),
        F.array(F.lit("PASS")).alias("filters"),
        F.create_map(F.lit("DP"), (F.col("id") % 99).cast("string")).alias(
            "info"
        ),
        F.array(
            F.struct(
                F.lit("S1").alias("sample"),
                F.lit("0/1").alias("gt"),
                F.create_map(F.lit("GT"), F.lit("0/1")).alias("fields"),
            )
        ).alias("genotypes"),
    )
    hdr = VCFHeader()
    # deliberately NO samples on the caller's header: the sink must derive
    # them from the data so the embedded header matches the records
    hdr.lines = [
        "##fileformat=VCFv4.2",
        "##contig=<ID=chr1,length=100000000>",
        '##FILTER=<ID=PASS,Description="d">',
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">',
        '##FORMAT=<ID=GT,Number=1,Type=String,Description="d">',
    ]
    hdr.contigs = {"chr1": 0}
    path = str(tmp_path / "multi.bcf")
    sinks.write_bcf(df, path, hdr)
    big = spark.read.format("bcf").option(
        "split_size", str(64 * 1024)
    ).load(path)
    assert big.rdd.getNumPartitions() > 3
    assert big.count() == n
    one = spark.read.format("bcf").load(path).count()
    assert one == n
    # genotypes survive the roundtrip (header samples derived from data)
    r = big.limit(1).collect()[0]
    assert r.genotypes[0].sample == "S1" and r.genotypes[0].gt == "0/1"
