"""The sinks' commit protocol (hadoop_bam_spark/commit.py) seen by a reader:
overwrites leave no stale shard or sidecar, a failed write leaves the
earlier output byte-identical with nothing staged behind, and a directory
lists the same files for the batch and the tail sources. Inputs come from
the engine-free writers in tests/textgen.py."""

import hashlib
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from tests import textgen


@pytest.fixture(scope="module")
def fmt_spark(spark):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    return spark


@pytest.fixture(scope="module")
def gen_bam(tmp_path_factory):
    path = tmp_path_factory.mktemp("commit") / "gen.bam"
    path.write_bytes(textgen.bam_file(textgen.gen_bam_records(4000, seed=11)))
    return str(path)


def _header():
    from hadoop_bam_spark.formats.sam import parse_header

    return (parse_header(textgen.gen_bam_header_text().splitlines()),
            textgen.GEN_BAM_REFS)


def _digests(root):
    """sha256 of every file in the directory that holds ``root`` (a file or
    a shard directory), keyed by relative path; subdirectories are listed
    too, so a leftover staging directory shows even when empty."""
    parent = os.path.dirname(root)
    out = {}
    for d, dirs, files in os.walk(parent):
        for name in dirs:
            out[os.path.relpath(os.path.join(d, name), parent) + "/"] = None
        for name in files:
            full = os.path.join(d, name)
            with open(full, "rb") as f:
                out[os.path.relpath(full, parent)] = hashlib.sha256(
                    f.read()).hexdigest()
    return out


def _qnames(df):
    return sorted(r.qname for r in df.select("qname").collect())


def test_sharded_overwrite_with_fewer_partitions(fmt_spark, gen_bam, tmp_path):
    from hadoop_bam_spark import sinks

    hdr, refs = _header()
    src = fmt_spark.read.format("bam").load(gen_bam)
    out = str(tmp_path / "shards")
    sinks.write_bam(src.repartition(8), out, hdr, refs=refs, index_bai=True,
                    sharded=True)
    new = src.filter(F.col("qname").endswith("7"))
    sinks.write_bam(new.repartition(3), out, hdr, refs=refs, sharded=True)

    back = fmt_spark.read.format("bam").load(out)
    assert _qnames(back) == _qnames(new)
    man = json.load(open(os.path.join(out, "_manifest.json")))
    assert len(man["shards"]) == 3
    assert man["records"] == new.count()
    assert sorted(os.listdir(out)) == sorted(
        ["_manifest.json"]
        + [m["shard"] + ext for m in man["shards"] for ext in ("", ".sbi")]
    )


@pytest.mark.parametrize("fmt", ["vcf", "sam", "fastq", "qseq", "bed"])
def test_sharded_manifest_counts_records(fmt_spark, gen_bam, tmp_path, fmt):
    """Every sharded write's manifest names its format and counts its
    records, the text sinks' included."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.vcf import read_vcf_header

    src = tmp_path / "src"
    if fmt == "vcf":
        src.write_text(textgen.gen_vcf_text(textgen.gen_vcf_rows(300)))
        df = fmt_spark.read.format("vcf").load(str(src))
        write = lambda p: sinks.write_vcf(  # noqa: E731
            df, p, read_vcf_header(str(src)), compress=False, sharded=True)
    elif fmt == "sam":
        df = fmt_spark.read.format("bam").load(gen_bam)
        write = lambda p: sinks.write_sam(  # noqa: E731
            df, p, _header()[0], sharded=True)
    elif fmt == "bed":
        src.write_text("".join(
            f"chr1\t{10 * i}\t{10 * i + 5}\tf{i}\n" for i in range(250)))
        df = fmt_spark.read.format("bed").load(str(src))
        write = lambda p: sinks.write_bed(df, p, sharded=True)  # noqa: E731
    else:
        src.write_text("".join(
            f"@r{i}/1\nACGTN\n+\nIIIII\n" for i in range(250)))
        df = fmt_spark.read.format("fastq").load(str(src))
        write = lambda p: getattr(sinks, f"write_{fmt}")(  # noqa: E731
            df, p, sharded=True)
    df = df.repartition(3)
    out = str(tmp_path / "out")
    write(out)
    man = json.load(open(os.path.join(out, "_manifest.json")))
    n = df.count()
    assert man["format"] == fmt
    assert man["records"] == n
    assert sum(m["records"] for m in man["shards"]) == n


@pytest.mark.parametrize("stale", ["bai", "csi"])
def test_single_file_overwrite_drops_stale_index(fmt_spark, gen_bam, tmp_path,
                                                 stale):
    """The old file had a ``.bai`` (or only a ``.csi``, the BAM source's
    fallback); the new one has no binning index, so an interval read must
    scan the new data, not seek through the old offsets."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.bai import read_bai
    from hadoop_bam_spark.formats.csi import csi_from_bai, write_csi

    hdr, refs = _header()
    src = fmt_spark.read.format("bam").load(gen_bam)
    out = str(tmp_path / "x.bam")
    sinks.write_bam(src, out, hdr, refs=refs, index_bai=True)
    if stale == "csi":
        write_csi(csi_from_bai(read_bai(out + ".bai")), out + ".csi")
        os.remove(out + ".bai")
    new = src.filter(F.col("qname").endswith("3"))
    sinks.write_bam(new, out, hdr, refs=refs)
    assert not os.path.exists(out + ".bai")
    assert not os.path.exists(out + ".csi")

    fresh = str(tmp_path / "fresh.bam")
    sinks.write_bam(new, fresh, hdr, refs=refs, index_bai=True)

    def itv(path):
        return _qnames(fmt_spark.read.format("bam")
                       .option("intervals", "chr1:1-200000").load(path))

    got = itv(out)
    assert got and got == itv(fresh)


def _raise_in_partition(df, k, n, marks):
    """``df`` with a task fault in partition ``k``: the other ``n - 1``
    partitions drop a marker after passing on their last batch, and
    partition ``k`` raises once they all have, so their parts are already
    staged when the write fails."""
    def boom(batches):
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid != k:
            yield from batches
            open(os.path.join(marks, f"done-{pid}"), "w").close()
            return
        deadline = time.time() + 60
        while len(os.listdir(marks)) < n - 1 and time.time() < deadline:
            time.sleep(0.05)
        time.sleep(0.5)
        raise RuntimeError("injected task fault")

    return df.repartition(n).mapInArrow(boom, df.schema)


@pytest.mark.parametrize("sharded", [False, True])
def test_executor_fault_leaves_earlier_output(fmt_spark, gen_bam, tmp_path,
                                              sharded):
    from hadoop_bam_spark import sinks

    hdr, refs = _header()
    src = fmt_spark.read.format("bam").load(gen_bam)
    out = str(tmp_path / "out" / ("shards" if sharded else "x.bam"))
    os.makedirs(os.path.dirname(out))
    sinks.write_bam(src, out, hdr, refs=refs, index_bai=True, sharded=sharded)
    before = _digests(out)
    marks = str(tmp_path / "marks")
    os.makedirs(marks)
    faulty = _raise_in_partition(src, 2, 4, marks)
    with pytest.raises(Exception, match="injected task fault"):
        sinks.write_bam(faulty, out, hdr, refs=refs, sharded=sharded)
    assert _digests(out) == before


def test_driver_merge_fault_leaves_earlier_output(fmt_spark, gen_bam, tmp_path,
                                                  monkeypatch):
    from hadoop_bam_spark import sinks

    hdr, refs = _header()
    src = fmt_spark.read.format("bam").load(gen_bam)
    out = str(tmp_path / "out" / "x.bam")
    os.makedirs(os.path.dirname(out))
    sinks.write_bam(src, out, hdr, refs=refs, index_bai=True)
    before = _digests(out)
    real = sinks.shutil.copyfileobj
    calls = []

    def copy_then_fail(fsrc, fdst, *a, **k):
        if calls:
            raise OSError("injected merge fault")
        calls.append(1)
        return real(fsrc, fdst, *a, **k)

    monkeypatch.setattr(sinks.shutil, "copyfileobj", copy_then_fail)
    with pytest.raises(OSError, match="injected merge fault"):
        sinks.write_bam(src.repartition(3), out, hdr, refs=refs)
    assert calls
    assert _digests(out) == before


def test_tail_and_batch_list_the_same_files(fmt_spark, tmp_path):
    """Marker files, hidden files and ``_``-prefixed files are no data for
    the batch source and the tail source alike."""
    import copy

    from hadoop_bam_spark.streaming.tail import BEDStreamDataSource
    from tests.test_streaming import tail_rows

    land = tmp_path / "land"
    land.mkdir()
    (land / "a.bed").write_text("chr1\t10\t20\ta\nchr2\t5\t9\tb\n")
    (land / "_SUCCESS").write_text("")
    (land / ".x.bed").write_text("chr1\t1\t2\thidden\n")
    (land / "_x.bed").write_text("chr1\t3\t4\tunderscore\n")

    batch = sorted(
        (r.contig, r.start, r.end, r.name)
        for r in fmt_spark.read.format("bed").load(str(land)).collect()
    )
    rdr = BEDStreamDataSource({"path": str(land)}).streamReader(None)
    rows, _ = tail_rows(rdr, rdr.initialOffset())
    tail = sorted(r[:4] for r in copy.copy(rows))
    assert batch == tail == [("chr1", 11, 20, "a"), ("chr2", 6, 9, "b")]
