"""GFF3 source/sink (sources/tabix_text.py, formats/gff.py,
sinks.write_gff) — the shared tabix text stack's second binding; the
split/pruning machinery itself is exhaustively covered in test_bed.py
and test_foreign_indexes.py."""

import os
import random

import pytest
from pyspark.sql import functions as F

from hadoop_bam_spark.formats.gff import (
    GFF_SCHEMA,
    format_gff_line,
    parse_gff_chunk,
    parse_gff_line,
)

ROWS = [
    ("chr1", "ens", "gene", 100, 500, None, "+", None, {"ID": "g1"}),
    ("chr1", None, "exon", 120, 300, 0.5, "-", 2,
     {"Parent": "g1", "Note": "a%3Bb=c"}),
    ("chr1", "src", "cds", 150, 152, 12.0, "+", 0, {}),
    ("chr2", None, None, 7, 7, None, None, None, {}),
]


class TestCodec:
    def test_line_roundtrip(self):
        for row in ROWS:
            assert parse_gff_line(format_gff_line(row)) == row

    def test_attribute_value_keeps_equals_and_percent(self):
        # split on FIRST '=' only; percent-encoded bytes stay raw
        row = parse_gff_line("c\t.\t.\t1\t2\t.\t.\t.\tNote=a%3Bb=c")
        assert row[8] == {"Note": "a%3Bb=c"}

    def test_dot_attributes_empty_map(self):
        assert parse_gff_line("c\t.\t.\t1\t2\t.\t.\t.\t.")[8] == {}

    def test_headers_and_fasta_section_skipped(self):
        for ln in ("##gff-version 3", "# x", "", ">chr1", "###"):
            assert parse_gff_line(ln) is None

    def test_malformed_raises(self):
        for bad in ("c\t1\t2", "c\t.\t.\tx\t2\t.\t.\t.\t.",
                    "c\t.\t.\t5\t2\t.\t.\t.\t.",
                    "c\t.\t.\t0\t2\t.\t.\t.\t.",
                    "c\t.\t.\t1\t2\t.\t.\t.\tnoequals"):
            with pytest.raises(ValueError):
                parse_gff_line(bad)

    def test_chunk_parity_with_scalar(self):
        lines = [format_gff_line(r) for r in ROWS]
        arrays = parse_gff_chunk(lines)
        assert arrays is not None
        got = list(zip(*(arrays[c].to_pylist() for c in (
            "contig", "source", "type", "start", "end", "score",
            "strand", "phase", "attributes"))))
        for g, r in zip(got, ROWS):
            assert g[:8] == r[:8]
            assert dict(g[8]) == r[8]

    def test_chunk_bails_on_malformed(self):
        good = format_gff_line(ROWS[0])
        for bad in ("c\t1\t2", "c\t.\t.\tx\t2\t.\t.\t.\t.",
                    "c\t.\t.\t1\t2\t.\t.\t.\tnoequals"):
            assert parse_gff_chunk([good, bad]) is None


@pytest.fixture(scope="module")
def gff_spark(spark):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    return spark


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, schema=GFF_SCHEMA)


def _key(t):
    return tuple("" if v is None else str(v) for v in t)


def _collect(df):
    return sorted(
        ((r.contig, r.source, r.type, r.start, r.end, r.score, r.strand,
          r.phase, tuple(sorted((r.attributes or {}).items())))
         for r in df.collect()), key=_key)


def _want(rows=ROWS):
    return sorted(
        ((r[0], r[1], r[2], r[3], r[4], r[5], r[6], r[7],
          tuple(sorted(r[8].items()))) for r in rows), key=_key)


class TestSourceSink:
    def test_plain_roundtrip(self, gff_spark, tmp_path):
        from hadoop_bam_spark import sinks

        p = str(tmp_path / "a.gff3")
        sinks.write_gff(_df(gff_spark), p)
        assert open(p).readline() == "##gff-version 3\n"
        assert _collect(gff_spark.read.format("gff").load(p)) == _want()

    def test_bgzf_split_invariance_and_pushdown(self, gff_spark, tmp_path):
        from hadoop_bam_spark import sinks

        rng = random.Random(5)
        rows = sorted(
            (("chr%d" % (i % 2 + 1), "s", "gene", s + 1, s + 80,
              None, "+", None, {"ID": f"g{i}"})
             for i, s in enumerate(
                 rng.randrange(1, 1_000_000) for _ in range(4000)))
        , key=lambda r: (r[0], r[3]))
        p = str(tmp_path / "big.gff3.bgz")
        sinks.write_gff(_df(gff_spark, rows), p, index_tbi=True)
        rd = gff_spark.read.format("gff").option("split_size", "8192")
        many = rd.load(p)
        assert many.rdd.getNumPartitions() > 2
        assert many.count() == len(rows)
        full_parts = many.rdd.getNumPartitions()
        iv = rd.option("intervals", "chr1:200000-260000").load(p)
        assert iv.rdd.getNumPartitions() < full_parts
        want = sorted(
            r[8]["ID"] for r in rows
            if r[0] == "chr1" and r[3] <= 260000 and 200000 <= r[4])
        assert sorted(r.attributes["ID"] for r in iv.collect()) == want

    def test_catalyst_filter_pushdown(self, gff_spark, tmp_path):
        from hadoop_bam_spark import sinks

        rng = random.Random(3)
        rows = sorted(
            (("chr%d" % (i % 3 + 1), None, "exon", i * 100 + 1,
              i * 100 + 50, None, None, None,
              {"ID": f"x{rng.randrange(10**9)}"}) for i in range(12000)),
            key=lambda r: (r[0], r[3]))
        p = str(tmp_path / "pf.gff3.bgz")
        sinks.write_gff(_df(gff_spark, rows), p, index_tbi=True)
        rd = gff_spark.read.format("gff").option("split_size", "8192")
        full = rd.load(p).rdd.getNumPartitions()
        flt = rd.load(p).filter(
            (F.col("contig") == "chr2") & (F.col("start") <= 50_000))
        assert flt.rdd.getNumPartitions() < full
        assert flt.count() == sum(
            1 for r in rows if r[0] == "chr2" and r[3] <= 50_000)

    def test_sharded_write(self, gff_spark, tmp_path):
        from hadoop_bam_spark import sinks

        out = str(tmp_path / "sharded")
        sinks.write_gff(_df(gff_spark).repartition(2), out,
                        index_tbi=True, sharded=True)
        parts = [f for f in os.listdir(out) if f.endswith(".gff3.bgz")]
        assert parts
        for part in parts:
            assert os.path.exists(os.path.join(out, part + ".tbi"))
        assert _collect(gff_spark.read.format("gff").load(out)) == _want()

    def test_projection(self, gff_spark, tmp_path):
        from hadoop_bam_spark import sinks

        p = str(tmp_path / "proj.gff3")
        sinks.write_gff(_df(gff_spark), p)
        df = (gff_spark.read.format("gff")
              .option("columns", "contig,start,end,type").load(p))
        assert df.columns == ["contig", "type", "start", "end"]
        assert df.count() == len(ROWS)

    def test_stringency(self, gff_spark, tmp_path):
        p = str(tmp_path / "bad.gff3")
        with open(p, "w") as fh:
            fh.write("##gff-version 3\n"
                     "chr1\t.\tgene\t1\t10\t.\t+\t.\tID=a\n"
                     "chr1\tbroken\n"
                     "chr1\t.\tgene\t20\t30\t.\t-\t.\tID=b\n")
        rd = gff_spark.read.format("gff")
        with pytest.raises(Exception, match="GFF3"):
            rd.option("stringency", "strict").load(p).count()
        assert rd.option("stringency", "lenient").load(p).count() == 2
        assert rd.option("stringency", "silent").load(p).count() == 2
