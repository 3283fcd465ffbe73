"""A stream shard is the ``write_*(sharded=True)`` shard of the same rows:
the batch and stream sinks run one part writer per format
(hadoop_bam_spark/sinks.py).

Each case lands a two-partition frame as sharded output, then writes the
rows read back from that landing twice: through the batch sink with
``sharded=True``, and through ``writeStream.format(fmt)`` over the
format's tail source. Both sides must give the same shard bytes, the same
sidecar bytes and the same rows. Inputs come from tests/textgen.py and
inline text."""

import os

import pytest
from pyspark.sql import functions as F

from tests import textgen

_BED = "".join(
    f"chr{1 + i % 2}\t{100 * i}\t{100 * i + 50 + i}\tf{i}\t{i % 1000}\t"
    f"{'+-.'[i % 3]}\n"
    for i in range(300)
)
_BEDGRAPH = "".join(
    f"chr1\t{10 * i}\t{10 * i + 10}\t{(i % 17) / 4 - 1}\n" for i in range(300)
)
_GFF = "##gff-version 3\n" + "".join(
    f"chr1\tsrc\tgene\t{20 * i + 1}\t{20 * i + 15}\t"
    f"{'.' if i % 4 == 0 else i / 8}\t{'+-'[i % 2]}\t{'.' if i % 3 else 0}\t"
    f"{f'ID=g{i};Name=n{i}' if i % 5 else '.'}\n"
    for i in range(300)
)


@pytest.fixture(scope="module")
def fmt_spark(spark):
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.streaming import tail

    register_all(spark)
    for ds in (tail.BAMStreamDataSource, tail.CRAMStreamDataSource,
               tail.BCFStreamDataSource, tail.VCFStreamDataSource,
               tail.BEDStreamDataSource, tail.BedGraphStreamDataSource,
               tail.GFFStreamDataSource):
        spark.dataSource.register(ds)
    return spark


def _case(spark, fmt, tmp_path):
    """(source frame, ``write(df, path)`` sharded, stream options, shard
    suffix) of one format."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.vcf import read_vcf_header

    if fmt in ("bam", "cram"):
        src = tmp_path / "src.bam"
        src.write_bytes(textgen.bam_file(textgen.gen_bam_records(600, seed=3)))
        hdr_path = tmp_path / "h.sam"
        hdr_path.write_text(textgen.gen_bam_header_text())
        hdr, refs = sinks.load_sam_header(str(hdr_path))
        write = {"bam": sinks.write_bam, "cram": sinks.write_cram}[fmt]
        return (spark.read.format("bam").load(str(src)),
                lambda df, p: write(df, p, hdr, refs=refs, sharded=True),
                {"header": str(hdr_path)}, "." + fmt)
    if fmt in ("vcf", "bcf"):
        src = tmp_path / "src.vcf"
        src.write_text(textgen.gen_vcf_text(textgen.gen_vcf_rows(400)))
        vh = read_vcf_header(str(src))
        write = {"vcf": sinks.write_vcf, "bcf": sinks.write_bcf}[fmt]
        return (spark.read.format("vcf").load(str(src)),
                lambda df, p: write(df, p, vh, sharded=True),
                {"header": str(src)}, ".vcf.bgz" if fmt == "vcf" else ".bcf")
    text, ext, write = {
        "bed": (_BED, ".bed", sinks.write_bed),
        "bedgraph": (_BEDGRAPH, ".bedgraph", sinks.write_bedgraph),
        "gff": (_GFF, ".gff3", sinks.write_gff),
    }[fmt]
    src = tmp_path / f"src{ext}"
    src.write_text(text)
    return (spark.read.format(fmt).load(str(src)),
            lambda df, p: write(df, p, sharded=True), {}, ext + ".bgz")


def _null_some_tags(df):
    """SAM frames get null ``tags`` maps on some rows; others pass."""
    if "tags" not in df.columns:
        return df
    return df.withColumn(
        "tags",
        F.when(F.col("qname").endswith("3"), F.lit(None)).otherwise(
            F.col("tags")),
    )


def _shards(d, ext):
    """[(data bytes, {sidecar suffix: bytes})] of the shards in ``d``,
    ordered by data bytes."""
    from hadoop_bam_spark.commit import SIDECARS

    out = []
    for name in os.listdir(d):
        if name.endswith(ext):
            full = os.path.join(d, name)
            side = {s: open(full + s, "rb").read()
                    for s in SIDECARS if os.path.exists(full + s)}
            out.append((open(full, "rb").read(), side))
    return sorted(out, key=lambda t: t[0])


def _plain(v):
    """A collected value with maps as sorted item tuples, so rows sort and
    compare whatever order Spark lists map keys in."""
    if isinstance(v, dict):
        return tuple(sorted((k, _plain(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        return tuple(_plain(x) for x in v)
    return v


def _rows(spark, fmt, path):
    return sorted(_plain(tuple(r))
                  for r in spark.read.format(fmt).load(path).collect())


@pytest.mark.parametrize(
    "fmt", ["bam", "cram", "bcf", "vcf", "bed", "bedgraph", "gff"])
def test_stream_shard_equals_batch_shard(fmt_spark, tmp_path, fmt):
    spark = fmt_spark
    src, write, opts, ext = _case(spark, fmt, tmp_path)
    landing = str(tmp_path / "landing")
    write(src.repartition(2), landing)

    batch_out = str(tmp_path / "batch")
    write(_null_some_tags(spark.read.format(fmt).load(landing)), batch_out)

    stream_out = str(tmp_path / "stream")
    q = (
        _null_some_tags(
            spark.readStream.format(f"{fmt}_stream").load(landing))
        .writeStream.format(fmt)
        .options(**opts)
        .option("path", stream_out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    batch, stream = _shards(batch_out, ext), _shards(stream_out, ext)
    assert len(batch) == len(stream) == 2
    for (b_data, b_side), (s_data, s_side) in zip(batch, stream):
        assert s_data == b_data
        assert s_side == b_side
    if fmt in ("bam", "cram"):
        assert sorted(batch[0][1]) == ([".sbi"] if fmt == "bam" else [])
    want = _rows(spark, fmt, batch_out)
    assert want and _rows(spark, fmt, stream_out) == want
