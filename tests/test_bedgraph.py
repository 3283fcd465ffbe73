"""bedGraph source/sink/codec: the third binding on the tabix text stack.

Codec-level: scalar/vectorized parse parity, float text roundtrip,
malformed rejection. Engine-level: plain + BGZF roundtrips, split
invariance, tabix pushdown (explicit intervals AND plain Catalyst
filters), sharded writes with per-shard .tbi, projection, stringency.
"""

import gzip
import random

import pytest

from hadoop_bam_spark.formats.bedgraph import (
    BEDGRAPH_SCHEMA,
    format_bedgraph_line,
    is_header_line,
    parse_bedgraph_chunk,
    parse_bedgraph_line,
)

ROWS = [
    ("chr1", 1, 100, 3.0),
    ("chr1", 101, 250, 0.5),
    ("chr2", 11, 11, -2.25),
    ("chr2", 500, 1000, 1e6),
    ("chr10", 7, 42, 0.0),
]


class TestCodec:
    def test_line_roundtrip(self):
        for row in ROWS:
            assert parse_bedgraph_line(format_bedgraph_line(row)) == row

    def test_whole_values_have_no_decimal_point(self):
        assert format_bedgraph_line(("c", 1, 5, 3.0)) == "c\t0\t5\t3"
        assert format_bedgraph_line(("c", 1, 5, 2.5)) == "c\t0\t5\t2.5"

    def test_space_separated_parses(self):
        assert parse_bedgraph_line("chr1 0 100 1.5") == ("chr1", 1, 100, 1.5)

    def test_header_lines_skipped(self):
        for l in ("# x", "track type=bedGraph", "browser position chr1", " "):
            assert is_header_line(l)
            assert parse_bedgraph_line(l) is None

    @pytest.mark.parametrize(
        "bad",
        ["chr1\t0\t10", "chr1\t0\t10\t1\t2", "chr1\tx\t10\t1",
         "chr1\t0\ty\t1", "chr1\t0\t10\tz", "chr1\t10\t5\t1",
         "chr1\t-1\t5\t1"],
    )
    def test_malformed_raises(self, bad):
        with pytest.raises(ValueError):
            parse_bedgraph_line(bad)

    def test_chunk_parity_with_scalar(self):
        rng = random.Random(3)
        lines = []
        for i in range(500):
            s = rng.randrange(0, 10**6)
            v = rng.choice([rng.random() * 100 - 50, float(rng.randrange(100))])
            lines.append(
                format_bedgraph_line((f"chr{i % 5}", s + 1, s + rng.randrange(1, 99), v))
            )
        arrays = parse_bedgraph_chunk(lines)
        assert arrays is not None
        got = list(zip(
            arrays["contig"].to_pylist(), arrays["start"].to_pylist(),
            arrays["end"].to_pylist(), arrays["value"].to_pylist(),
        ))
        assert got == [parse_bedgraph_line(l) for l in lines]

    @pytest.mark.parametrize(
        "bad", ["chr1\t0\t10", "chr1\tx\t10\t1", "chr1\t9\t5\t1"]
    )
    def test_chunk_bails_on_malformed(self, bad):
        lines = ["chr1\t0\t10\t1.5", bad]
        assert parse_bedgraph_chunk(lines) is None


@pytest.fixture(scope="module")
def bg_spark(spark):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    return spark


def _df(spark, rows=ROWS):
    return spark.createDataFrame(rows, schema=BEDGRAPH_SCHEMA)


def _collect(df):
    return sorted((r.contig, r.start, r.end, r.value) for r in df.collect())


class TestSourceSink:
    def test_plain_roundtrip_with_track_header(self, bg_spark, tmp_path):
        from hadoop_bam_spark import sinks

        p = str(tmp_path / "a.bedgraph")
        sinks.write_bedgraph(_df(bg_spark), p)
        body = open(p).read()
        with open(p, "w") as fh:
            fh.write("track type=bedGraph name=test\n# c\n" + body)
        back = bg_spark.read.format("bedgraph").load(p)
        assert _collect(back) == sorted(ROWS)

    def _big_rows(self, seed=7, n=4000):
        rng = random.Random(seed)
        return sorted(
            ("chr%d" % (i % 3 + 1), s + 1, s + rng.randrange(1, 500),
             float(rng.randrange(200)) / 4)
            for i, s in enumerate(
                rng.randrange(0, 1_000_000) for _ in range(n))
        )

    def test_bgzf_split_invariance(self, bg_spark, tmp_path):
        from hadoop_bam_spark import sinks

        rows = self._big_rows()
        p = str(tmp_path / "big.bedgraph.bgz")
        sinks.write_bedgraph(_df(bg_spark, rows), p, index_tbi=True)
        one = bg_spark.read.format("bedgraph").load(p)
        many = bg_spark.read.format("bedgraph").option(
            "split_size", "8192").load(p)
        assert many.rdd.getNumPartitions() > 2
        assert _collect(one) == _collect(many) == sorted(rows)

    def test_tabix_pushdown_prunes_and_matches(self, bg_spark, tmp_path):
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.sources.tabix_text import (
            BEDGRAPH,
            TabixTextReader,
        )

        rows = self._big_rows(seed=11)
        p = str(tmp_path / "idx.bedgraph.bgz")
        sinks.write_bedgraph(_df(bg_spark, rows), p, index_tbi=True)

        iv = "chr2:200000-400000"
        r_all = TabixTextReader(BEDGRAPH, {"path": p, "split_size": "8192"})
        r_pruned = TabixTextReader(
            BEDGRAPH, {"path": p, "split_size": "8192", "intervals": iv})
        assert len(r_pruned.partitions()) < len(r_all.partitions())

        got = _collect(
            bg_spark.read.format("bedgraph").option("intervals", iv).load(p))
        want = sorted(
            r for r in rows
            if r[0] == "chr2" and r[1] <= 400000 and 200000 <= r[2]
        )
        assert got == want

    def test_catalyst_filter_pushdown(self, bg_spark, tmp_path):
        from hadoop_bam_spark import sinks
        from pyspark.sql import functions as F

        rows = self._big_rows(seed=13)
        p = str(tmp_path / "cat.bedgraph.bgz")
        sinks.write_bedgraph(_df(bg_spark, rows), p, index_tbi=True)
        df = bg_spark.read.format("bedgraph").load(p)
        got = _collect(df.filter(F.col("contig") == "chr3"))
        assert got == sorted(r for r in rows if r[0] == "chr3")

    def test_gzip_whole_file_fallback(self, bg_spark, tmp_path):
        text = "".join(
            format_bedgraph_line(r) + "\n" for r in sorted(ROWS)
        )
        p = tmp_path / "w.bedgraph.gz"
        with gzip.open(p, "wt") as fh:
            fh.write(text)
        back = bg_spark.read.format("bedgraph").load(str(p))
        assert _collect(back) == sorted(ROWS)

    def test_sharded_write_with_per_shard_tbi(self, bg_spark, tmp_path):
        import os

        from hadoop_bam_spark import sinks

        rows = self._big_rows(seed=17, n=1000)
        d = str(tmp_path / "shards")
        sinks.write_bedgraph(
            _df(bg_spark, rows).repartition(4), d,
            index_tbi=True, sharded=True)
        shards = [f for f in os.listdir(d) if f.endswith(".bedgraph.bgz")]
        assert len(shards) >= 2
        for s in shards:
            assert os.path.exists(os.path.join(d, s + ".tbi"))
        back = bg_spark.read.format("bedgraph").load(d)
        assert _collect(back) == sorted(rows)

    def test_projection_prunes_columns(self, bg_spark, tmp_path):
        from hadoop_bam_spark import sinks

        p = str(tmp_path / "proj.bedgraph")
        sinks.write_bedgraph(_df(bg_spark), p)
        df = bg_spark.read.format("bedgraph").option(
            "columns", "contig,value").load(p)
        assert df.columns == ["contig", "value"]
        assert sorted((r.contig, r.value) for r in df.collect()) == sorted(
            (r[0], r[3]) for r in ROWS)

    def test_stringency(self, bg_spark, tmp_path):
        p = tmp_path / "bad.bedgraph"
        p.write_text("chr1\t0\t10\t1.5\nchr1\tBAD\t20\t2\nchr2\t5\t9\t0\n")
        silent = bg_spark.read.format("bedgraph").option(
            "stringency", "silent").load(str(p))
        assert _collect(silent) == [("chr1", 1, 10, 1.5), ("chr2", 6, 9, 0.0)]
        strict = bg_spark.read.format("bedgraph").load(str(p))
        with pytest.raises(Exception):
            strict.collect()


def test_nonfinite_values_write_and_reparse():
    """NaN/inf must not kill an executor mid-write; they render as
    'nan'/'inf'/'-inf' and re-parse."""
    for v, txt in [(float("nan"), "nan"), (float("inf"), "inf"),
                   (float("-inf"), "-inf")]:
        line = format_bedgraph_line(("c", 1, 5, v))
        assert line == f"c\t0\t5\t{txt}"
        back = parse_bedgraph_line(line)
        assert back[:3] == ("c", 1, 5)
        assert repr(back[3]) == repr(v)


def test_zero_length_record_rejected():
    """ADVICE r13: chromStart == chromEnd has no meaning in a value track
    (no insertion-point semantics) and the inverted engine row
    (start = end + 1) silently corrupted coverage arithmetic."""
    import pyarrow  # noqa: F401  (vectorized path dependency)

    from hadoop_bam_spark.formats.bedgraph import (
        parse_bedgraph_chunk,
        parse_bedgraph_line,
    )

    with pytest.raises(ValueError, match="zero-length"):
        parse_bedgraph_line("chr1\t5\t5\t1.0")
    # vectorized chunk bails (None) so the scalar path owns stringency
    assert parse_bedgraph_chunk(["chr1\t5\t5\t1.0"]) is None
    assert parse_bedgraph_chunk(["chr1\t5\t6\t1.0"]) is not None
