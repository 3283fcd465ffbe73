"""BED source/sink: codec edges, split invariance, tabix pruning,
stringency, sharding, projection (sources/tabix_text.py, formats/bed.py,
sinks.write_bed). Tabix machinery reference: VCFInputFormat.java:388-472
applied format-agnostically."""

import gzip
import os
import random

import pytest
from pyspark.sql import functions as F

from hadoop_bam_spark.formats.bed import (
    BED_SCHEMA,
    format_bed_line,
    parse_bed_chunk,
    parse_bed_line,
)

ROWS = [
    ("chr1", 1, 100, "f1", 500, "+", None),
    ("chr1", 51, 150, "f2", None, "-", ["12", "3,4,5"]),
    ("chr1", 200, 199, None, None, None, None),  # zero-length insertion
    ("chr1", 5000, 6000, "thick", 0, "+",
     ["5100", "5900", "255,0,0", "2", "100,100", "0,900"]),  # BED12
    ("chr2", 10, 20, "g", 1000, None, None),
    ("chr2", 100000, 100100, ".dotname.", 42, "-", None),
]


class TestCodec:
    def test_line_roundtrip(self):
        for row in ROWS:
            assert parse_bed_line(format_bed_line(row)) == row

    def test_bed3_stays_bed3(self):
        assert format_bed_line(("c", 1, 10, None, None, None, None)) == "c\t0\t10"

    def test_dot_placeholders(self):
        assert parse_bed_line("c\t0\t10\t.\t.\t+") == (
            "c", 1, 10, None, None, "+", None)

    def test_header_lines_skipped(self):
        for ln in ("# comment", "track name=x", "browser position chr1", ""):
            assert parse_bed_line(ln) is None

    def test_malformed_raises(self):
        for bad in ("c\t5", "c\tx\t10", "c\t10\t5", "c\t-1\t5"):
            with pytest.raises(ValueError):
                parse_bed_line(bad)

    def test_chunk_parity_with_scalar(self):
        lines = [format_bed_line(r) for r in ROWS]
        arrays = parse_bed_chunk(lines)
        assert arrays is not None
        cols = list(zip(*(arrays[c].to_pylist()
                          for c in ("contig", "start", "end", "name",
                                    "score", "strand", "rest"))))
        assert [tuple(c) for c in cols] == [
            (r[0], r[1], r[2], r[3], r[4], r[5],
             list(r[6]) if r[6] else None) for r in ROWS]

    def test_chunk_bails_on_malformed(self):
        good = format_bed_line(ROWS[0])
        for bad in ("c\t5", "c\tx\t10", "c\t10\t5"):
            assert parse_bed_chunk([good, bad]) is None


@pytest.fixture(scope="module")
def bed_spark(spark):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    return spark


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, schema=BED_SCHEMA)


def _collect(df):
    return sorted(
        (r.contig, r.start, r.end, r.name, r.score, r.strand,
         tuple(r.rest) if r.rest else None)
        for r in df.collect()
    )


def _want(rows=ROWS):
    return sorted(
        (r[0], r[1], r[2], r[3], r[4], r[5],
         tuple(r[6]) if r[6] else None) for r in rows)


class TestSourceSink:
    def test_plain_roundtrip_with_track_header(self, bed_spark, tmp_path):
        from hadoop_bam_spark import sinks

        p = str(tmp_path / "a.bed")
        sinks.write_bed(_df(bed_spark), p)
        # prepend UCSC header lines; the scan must skip them
        body = open(p).read()
        with open(p, "w") as fh:
            fh.write("browser position chr1\ntrack name=test\n# c\n" + body)
        back = bed_spark.read.format("bed").load(p)
        assert _collect(back) == _want()

    def test_bgzf_split_invariance(self, bed_spark, tmp_path):
        from hadoop_bam_spark import sinks

        rng = random.Random(7)
        rows = sorted(
            (("chr%d" % (i % 3 + 1), s + 1, s + rng.randrange(1, 500),
              f"r{i}", i % 1001, "+-"[i % 2], None)
             for i, s in enumerate(
                 rng.randrange(0, 1_000_000) for _ in range(4000)))
        )
        p = str(tmp_path / "big.bed.bgz")
        sinks.write_bed(_df(bed_spark, rows), p, index_tbi=True)
        one = bed_spark.read.format("bed").load(p)
        many = bed_spark.read.format("bed").option(
            "split_size", "8192").load(p)
        assert many.rdd.getNumPartitions() > 2
        assert _collect(one) == _collect(many) == _want(rows)

    def test_tabix_pushdown_prunes_and_matches(self, bed_spark, tmp_path):
        from hadoop_bam_spark import sinks

        rng = random.Random(11)
        rows = sorted(
            (("chr1", s + 1, s + 50, f"r{i}", None, None, None)
             for i, s in enumerate(
                 rng.randrange(0, 2_000_000) for _ in range(4000)))
        )
        p = str(tmp_path / "itv.bed.bgz")
        sinks.write_bed(_df(bed_spark, rows), p, index_tbi=True)
        rd = bed_spark.read.format("bed").option("split_size", "16384")
        full_parts = rd.load(p).rdd.getNumPartitions()
        iv = rd.option("intervals", "chr1:100000-140000").load(p)
        assert iv.rdd.getNumPartitions() < full_parts
        got = _collect(iv)
        want = _want([r for r in rows
                      if r[1] <= 140000 and 100000 <= r[2]])
        assert got == want

    def test_catalyst_filter_pushdown(self, bed_spark, tmp_path):
        """A plain .filter on contig prunes splits like the intervals
        option (pushFilters synthesizes the interval)."""
        from hadoop_bam_spark import sinks

        rows = sorted(
            (("chr%d" % (i % 4 + 1), i * 200 + 1, i * 200 + 100,
              f"r{i}", None, None, None) for i in range(4000))
        )
        p = str(tmp_path / "pf.bed.bgz")
        sinks.write_bed(_df(bed_spark, rows), p, index_tbi=True)
        rd = bed_spark.read.format("bed").option("split_size", "16384")
        full = rd.load(p).rdd.getNumPartitions()
        flt = rd.load(p).filter(
            (F.col("contig") == "chr3") & (F.col("start") <= 100_000))
        assert flt.rdd.getNumPartitions() < full
        want = _want([r for r in rows
                      if r[0] == "chr3" and r[1] <= 100_000])
        assert _collect(flt) == want

    def test_gzip_whole_file_fallback(self, bed_spark, tmp_path):
        lines = "\n".join(format_bed_line(r) for r in ROWS) + "\n"
        p = str(tmp_path / "a.bed.gz")
        with open(p, "wb") as fh:
            fh.write(gzip.compress(lines.encode()))
        back = bed_spark.read.format("bed").load(p)
        assert back.rdd.getNumPartitions() == 1
        assert _collect(back) == _want()

    def test_sharded_write_with_per_shard_tbi(self, bed_spark, tmp_path):
        from hadoop_bam_spark import sinks

        out = str(tmp_path / "sharded")
        sinks.write_bed(_df(bed_spark).repartition(3), out,
                        index_tbi=True, sharded=True)
        parts = [f for f in os.listdir(out) if f.endswith(".bed.bgz")]
        assert parts
        for part in parts:
            assert os.path.exists(os.path.join(out, part + ".tbi"))
        back = bed_spark.read.format("bed").load(out)
        assert _collect(back) == _want()

    def test_projection_prunes_columns(self, bed_spark, tmp_path):
        from hadoop_bam_spark import sinks

        p = str(tmp_path / "proj.bed")
        sinks.write_bed(_df(bed_spark), p)
        df = (bed_spark.read.format("bed")
              .option("columns", "contig,start,end").load(p))
        assert df.columns == ["contig", "start", "end"]
        assert sorted(tuple(r) for r in df.collect()) == sorted(
            (r[0], r[1], r[2]) for r in ROWS)

    def test_stringency(self, bed_spark, tmp_path):
        p = str(tmp_path / "bad.bed")
        p_ = open(p, "w")
        p_.write("chr1\t0\t10\tok\n"
                 "chr1\tnot_a_number\t20\n"
                 "chr1\t30\t40\tok2\n")
        p_.close()
        rd = bed_spark.read.format("bed")
        with pytest.raises(Exception, match="BED|invalid literal"):
            rd.option("stringency", "strict").load(p).count()
        assert rd.option("stringency", "lenient").load(p).count() == 2
        assert rd.option("stringency", "silent").load(p).count() == 2


class TestVectorizedWrite:
    def test_chunk_formatter_byte_parity(self):
        """format_bed_chunk must produce byte-identical output to the
        scalar formatter on a width-diverse corpus (the sink's chunk_fn
        contract), including literal '.' inside rest."""
        import pyarrow as pa

        from hadoop_bam_spark.formats.bed import format_bed_chunk

        corpus = ROWS + [
            ("chrX", 7, 7, None, None, "+", None),
            ("chrX", 1, 2, ".", None, None, ["."]),
            ("chrX", 3, 4, "n", 0, None, None),
        ]
        types = [pa.string(), pa.int64(), pa.int64(), pa.string(),
                 pa.int32(), pa.string(), pa.list_(pa.string())]
        batch = pa.RecordBatch.from_arrays(
            [pa.array([r[i] for r in corpus], types[i]) for i in range(7)],
            names=["contig", "start", "end", "name", "score", "strand",
                   "rest"])
        want = "".join(
            format_bed_line(r) + "\n" for r in corpus).encode()
        assert format_bed_chunk(batch) == want

    def test_sink_output_identical_across_paths(self, bed_spark, tmp_path):
        """The sink's vectorized chunk path and a hand-written scalar
        dump agree byte-for-byte (single partition, plain text)."""
        from hadoop_bam_spark import sinks

        p = str(tmp_path / "vec.bed")
        sinks.write_bed(_df(bed_spark).coalesce(1), p)
        want = "".join(format_bed_line(r) + "\n" for r in ROWS)
        assert open(p).read() == want


class TestIntervalMerge:
    def _merge(self, spark, rows, gap=0):
        from hadoop_bam_spark.operators.interval_join import interval_merge

        df = spark.createDataFrame(rows, "contig string, start long, stop long")
        out = interval_merge(df, keys=("contig", "start", "stop"), gap=gap)
        return sorted((r.contig, r.start, r.stop, r.n_merged)
                      for r in out.collect())

    def test_overlap_bookend_and_gap(self, bed_spark):
        rows = [
            ("c1", 1, 10), ("c1", 5, 20),    # overlap
            ("c1", 21, 30),                   # book-ended (start == 20+1)
            ("c1", 40, 50),                   # gap of 9
            ("c2", 1, 5),
        ]
        assert self._merge(bed_spark, rows) == [
            ("c1", 1, 30, 3), ("c1", 40, 50, 1), ("c2", 1, 5, 1)]
        # gap=9 closes the hole
        assert self._merge(bed_spark, rows, gap=9) == [
            ("c1", 1, 50, 4), ("c2", 1, 5, 1)]

    def test_contained_and_duplicate_intervals(self, bed_spark):
        rows = [("c1", 1, 100), ("c1", 10, 20), ("c1", 10, 20),
                ("c1", 100, 100), ("c1", 102, 110)]
        # base 101 is uncovered: [102,110] opens a new region
        assert self._merge(bed_spark, rows) == [
            ("c1", 1, 100, 4), ("c1", 102, 110, 1)]
        # gap=1 closes the 1-base hole
        assert self._merge(bed_spark, rows, gap=1) == [("c1", 1, 110, 5)]

    def test_single_data_shuffle_plan(self, bed_spark):
        """The two-phase merge's physical contract: at most THREE shuffle
        stages after AQE — the (contig, chunk) DATA exchange (reused
        across its consumer branches), the per-contig chunk-SUMMARY
        exchange (one row per non-empty chunk) and the absorbed-side
        partial-aggregate exchange (chunk-bounded) — i.e. the data
        itself still moves exactly once, like the old single-window
        form this replaced."""
        import re

        from hadoop_bam_spark.operators.interval_join import interval_merge

        df = bed_spark.createDataFrame(
            [("c1", i * 10, i * 10 + 4) for i in range(200)],
            "contig string, start long, stop long",
        )
        m = interval_merge(df, chunk_size=64)
        m.collect()
        plan = m._jdf.queryExecution().executedPlan().toString()
        stages = set(re.findall(r"ShuffleQueryStage (\d+)", plan))
        assert stages, plan  # AQE final plan materialized shuffle stages
        assert len(stages) <= 3, (sorted(stages), plan)
        # and the data exchange is keyed sub-contig, not per-contig
        assert re.search(r"hashpartitioning\(contig#\d+, _chunk", plan), plan
