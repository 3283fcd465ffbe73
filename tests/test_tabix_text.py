"""One extension tuple per tabix-text format: the batch source and the
tail source of BED, bedGraph and GFF3 pick up the same file names
(sources/tabix_text.py, streaming/tail.py)."""

import gzip

import pytest

from tests.textgen import bgzf_compress

CASES = {
    "bed": (
        ("a.bed", "b.bed.gz", "c.bgz"),
        ["chr1\t0\t10\tf1", "chr1\t20\t30\tf2", "chr2\t5\t50\tf3"],
    ),
    "bedgraph": (
        ("a.bedgraph", "b.bedgraph.gz", "c.bgz"),
        ["chr1\t0\t10\t1.5", "chr1\t20\t30\t2", "chr2\t5\t50\t-0.25"],
    ),
    "gff": (
        ("a.gff3", "b.gtf.gz", "c.bgz"),
        ["chr1\tsrc\tgene\t1\t10\t.\t+\t.\tID=g1",
         "chr1\tsrc\texon\t21\t30\t2\t-\t0\tID=g2",
         "chr2\tsrc\tgene\t6\t50\t.\t.\t.\tID=g3"],
    ),
}


def _canon(rows):
    return sorted(
        (tuple(sorted(v.items()) if isinstance(v, dict) else v for v in r)
         for r in rows),
        key=repr,
    )


@pytest.mark.parametrize("fmt", sorted(CASES))
def test_batch_and_stream_read_the_same_spellings(spark, tmp_path, fmt):
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.streaming import tail

    names, lines = CASES[fmt]
    land = tmp_path / f"{fmt}_land"
    land.mkdir()
    plain, gz, bgz = names
    (land / plain).write_text(lines[0] + "\n")
    (land / gz).write_bytes(gzip.compress((lines[1] + "\n").encode()))
    (land / bgz).write_bytes(bgzf_compress((lines[2] + "\n").encode()))

    register_all(spark)
    for ds in (tail.BEDStreamDataSource,
               tail.BedGraphStreamDataSource,
               tail.GFFStreamDataSource):
        spark.dataSource.register(ds)
    batch = spark.read.format(fmt).load(str(land)).collect()
    q = (
        spark.readStream.format(f"{fmt}_stream")
        .load(str(land))
        .writeStream.format("memory")
        .queryName(f"t_ext_{fmt}")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    stream = spark.table(f"t_ext_{fmt}").collect()
    assert len(batch) == 3
    assert _canon(stream) == _canon(batch)
