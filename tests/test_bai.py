"""BAI binning index: build / binary round-trip / interval chunk queries /
index-driven split pruning and unplaced-unmapped traversal through the BAM
source (mirrors the reference's TestBAMInputFormat.java:143-216 bounded
traversal cases)."""

import io
import json
import os
import random
import subprocess
import sys
import textwrap

import pytest

from hadoop_bam_spark.formats import bai, bam, bgzf
from hadoop_bam_spark.formats.sam import SAMHeader

from tests import writers

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _header(n_refs=2, ln=100_000_000):
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6\tSO:coordinate"]
    for i in range(n_refs):
        hdr.lines.append(f"@SQ\tSN:chr{i + 1}\tLN:{ln}")
        hdr.sequences[f"chr{i + 1}"] = (i, ln)
    return hdr


def _row(qname, rname, pos, flag=0, seq="ACGT"):
    cigar = f"{len(seq)}M" if rname else None
    return (
        qname, flag, rname, pos, 30, cigar, None, 0, 0,
        seq, "I" * len(seq), None,
    )


def _make_bam(path, rows, hdr):
    with open(path, "wb") as f:
        writers.write_bam(f, hdr, rows)


def _sorted_rows(n=20000, seed=7):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        contig = f"chr{rng.randint(1, 2)}"
        pos = rng.randint(1, 5_000_000)
        rows.append(_row(f"q{i}", contig, pos))
    rows.sort(key=lambda r: (r[2], r[3]))
    # unplaced unmapped tail (rname None, flag 4)
    for i in range(25):
        rows.append(_row(f"u{i}", None, 0, flag=4))
    return rows


class TestBAIFormat:
    def test_binary_roundtrip(self, tmp_path):
        p = str(tmp_path / "t.bam")
        _make_bam(p, _sorted_rows(), _header())
        idx = bai.build_bai(p)
        buf = io.BytesIO()
        idx.write(buf)
        buf.seek(0)
        idx2 = bai.BAIIndex.read(buf)
        assert len(idx2.refs) == len(idx.refs)
        assert idx2.n_no_coor == idx.n_no_coor == 25
        for a, b in zip(idx.refs, idx2.refs):
            assert a.bins == b.bins
            assert a.linear == b.linear
            assert (a.n_mapped, a.n_unmapped) == (b.n_mapped, b.n_unmapped)

    def test_chunks_cover_interval_records(self, tmp_path):
        """Every record overlapping the interval must live inside the chunk
        spans the index returns (no false negatives)."""
        p = str(tmp_path / "t.bam")
        rows = _sorted_rows()
        _make_bam(p, rows, _header())
        idx = bai.build_bai(p)
        beg0, end0 = 1_000_000, 1_200_000
        spans = idx.chunks_for(0, beg0, end0)
        assert spans
        # walk the file, record voffsets of chr1 records overlapping
        with open(p, "rb") as fh:
            r = bgzf.BGZFReader(fh)
            _, refs, _ = bam.read_header(r)
            import struct as _s

            while True:
                at = r.tell_voffset()
                head = r.read(4)
                if len(head) < 4:
                    break
                (sz,) = _s.unpack("<i", head)
                body = r.read(sz)
                ref_id, pos0 = _s.unpack_from("<ii", body, 0)
                if ref_id == 0 and pos0 < end0 and pos0 + 4 > beg0:
                    assert any(b <= at < e for b, e in spans), hex(at)

    def test_reg2bins_contains_reg2bin(self):
        for beg, end in [(0, 1), (100, 200), (16383, 16385), (1 << 20, (1 << 20) + 50),
                         (0, 1 << 29), (123456789, 123456790)]:
            assert bam.reg2bin(beg, end) in bai.reg2bins(beg, end)


@pytest.fixture(scope="module")
def indexed_bam(tmp_path_factory):
    d = tmp_path_factory.mktemp("bai_bam")
    p = str(d / "t.bam")
    rows = _sorted_rows()
    _make_bam(p, rows, _header())
    with open(p + ".bai", "wb") as f:
        bai.build_bai(p).write(f)
    return p, rows


class TestBAMSourceIntervalPushdown:
    SPLIT = 8 * 1024

    def _read(self, spark, path, **opts):
        from hadoop_bam_spark.sources import register_all

        register_all(spark)
        r = spark.read.format("bam").option("split_size", str(self.SPLIT))
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(path)

    def test_interval_results_match_full_scan_filter(self, spark, indexed_bam):
        path, rows = indexed_bam
        df = self._read(spark, path, intervals="chr1:1000000-1200000")
        got = sorted(r.qname for r in df.collect())
        want = sorted(
            r[0]
            for r in rows
            if r[2] == "chr1" and r[3] <= 1_200_000 and r[3] + 3 >= 1_000_000
        )
        assert got == want

    def test_index_prunes_partitions(self, spark, indexed_bam):
        """A narrow interval must plan strictly fewer partitions than the
        full scan (the whole point of index pushdown)."""
        path, _ = indexed_bam
        full = self._read(spark, path).rdd.getNumPartitions()
        pruned = self._read(
            spark, path, intervals="chr1:1000000-1010000"
        ).rdd.getNumPartitions()
        assert full > 2
        assert pruned < full

    def test_unmapped_only(self, spark, indexed_bam):
        path, rows = indexed_bam
        df = self._read(spark, path, unmapped="true")
        got = sorted(r.qname for r in df.collect())
        assert got == sorted(r[0] for r in rows if r[2] is None)

    def test_unmapped_plus_intervals(self, spark, indexed_bam):
        path, rows = indexed_bam
        df = self._read(
            spark, path, intervals="chr2:1-100000", unmapped="true"
        )
        got = sorted(r.qname for r in df.collect())
        want = sorted(
            [r[0] for r in rows if r[2] is None]
            + [
                r[0]
                for r in rows
                if r[2] == "chr2" and r[3] <= 100_000 and r[3] + 3 >= 1
            ]
        )
        assert got == want

    def test_unmapped_scan_is_tail_only(self, spark, indexed_bam):
        """Unmapped traversal must start at the last linear bin, not scan
        the whole file: its partition count stays far below the full plan."""
        path, _ = indexed_bam
        full = self._read(spark, path).rdd.getNumPartitions()
        unm = self._read(spark, path, unmapped="true").rdd.getNumPartitions()
        assert unm < full


def test_distributed_bai_equals_post_merge_build(spark, tmp_path):
    """write_bam(index_bai=True) now merges per-part executor stats; the
    result must answer interval queries identically to the sequential
    post-merge builder (build_bai) on the same multi-part file."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.bai import build_bai, read_bai
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader

    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6\tSO:coordinate", "@SQ\tSN:chr1\tLN:2000000",
                 "@SQ\tSN:chr2\tLN:2000000"]
    hdr.sequences = {"chr1": (0, 2000000), "chr2": (1, 2000000)}
    rows = []
    for i in range(4000):
        contig = "chr1" if i < 2500 else "chr2"
        pos = (i % 2500) * 500 + 1
        rows.append((f"r{i}", 0, contig, pos, 30, "100M", None, 0, 0, None, None, {}))
    rows += [(f"u{i}", 5, "chr2", 1249001, 0, None, None, 0, 0, None, None, {})
             for i in range(7)]  # placed unmapped
    rows += [(f"n{i}", 77, None, 0, 0, None, None, 0, 0, None, None, {})
             for i in range(9)]  # unplaced
    df = (
        spark.createDataFrame(rows, SAM_SCHEMA)
        .orderBy("rname", "pos")  # multi-part ordered write
    )
    path = str(tmp_path / "d.bam")
    sinks.write_bam(df, path, hdr, index_granularity=256, index_bai=True)

    dist = read_bai(path + ".bai")
    seq = build_bai(path)

    refs = [("chr1", 2000000), ("chr2", 2000000)]
    assert dist.n_no_coor == seq.n_no_coor == 9
    for r_d, r_s in zip(dist.refs, seq.refs):
        assert r_d.n_mapped == r_s.n_mapped
        assert r_d.n_unmapped == r_s.n_unmapped
        assert r_d.linear == r_s.linear
        assert r_d.off_beg == r_s.off_beg
    assert dist.start_of_last_linear_bin() == seq.start_of_last_linear_bin()
    for iv in [[("chr1", 1, 10000)], [("chr2", 600000, 700000)],
               [("chr1", 1999000, 2000000), ("chr2", 1, 50)]]:
        assert dist.span_for_intervals(refs, iv) == seq.span_for_intervals(refs, iv)


def test_distributed_tbi_equals_post_merge_build(spark, tmp_path):
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.tabix import build_tabix, read_tabix
    from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, VCFHeader

    hdr = VCFHeader(
        lines=["##fileformat=VCFv4.2"]
        + [f"##contig=<ID=c{i},length=5000000>" for i in (1, 2)],
        samples=[],
    )
    rows = []
    for i in range(3000):
        contig = "c1" if i < 2000 else "c2"
        start = (i % 2000) * 700 + 1
        rows.append((contig, start, start, None, "ACG", ["T"], 9.0, ["PASS"],
                     {"DP": "3"}, []))
    df = spark.createDataFrame(rows, VCF_SCHEMA).orderBy("contig", "start")
    path = str(tmp_path / "d.vcf.bgz")
    sinks.write_vcf(df, path, hdr, index_tbi=True)

    dist = read_tabix(path + ".tbi")
    seq = build_tabix(path)
    assert dist.names == seq.names
    for r_d, r_s in zip(dist.refs, seq.refs):
        assert r_d.n_mapped == r_s.n_mapped
        assert r_d.linear == r_s.linear
    for iv in [[("c1", 1, 5000)], [("c2", 300000, 400000)],
               [("c1", 1399000, 1400000), ("c2", 1, 800)]]:
        assert dist.span_for_intervals(iv) == seq.span_for_intervals(iv)


class TestCatalystFilterPushdown:
    """Plain DataFrame filters (no intervals option) must reach the BAI:
    rname equality + pos bounds synthesize an interval at pushFilters time,
    so Catalyst predicates get the same split pruning as option("intervals")
    — with results identical to the unpruned plan (the source enforces the
    filters; tests/test_pushdown_exact.py checks the plan)."""

    SPLIT = 8 * 1024

    def _read(self, spark, path):
        from hadoop_bam_spark.sources import register_all

        register_all(spark)
        return (
            spark.read.format("bam")
            .option("split_size", str(self.SPLIT))
            .load(path)
        )

    def test_filter_results_match(self, spark, indexed_bam):
        from pyspark.sql import functions as F

        path, rows = indexed_bam
        df = self._read(spark, path).filter(
            (F.col("rname") == "chr1")
            & (F.col("pos") >= 1_000_000)
            & (F.col("pos") <= 1_200_000)
        )
        got = sorted(r.qname for r in df.collect())
        want = sorted(
            r[0]
            for r in rows
            if r[2] == "chr1" and 1_000_000 <= r[3] <= 1_200_000
        )
        assert got == want

    def test_filter_prunes_partitions(self, spark, indexed_bam):
        from pyspark.sql import functions as F

        path, _ = indexed_bam
        full = self._read(spark, path).rdd.getNumPartitions()
        pruned = (
            self._read(spark, path)
            .filter(
                (F.col("rname") == "chr1")
                & (F.col("pos") >= 1_000_000)
                & (F.col("pos") <= 1_010_000)
            )
            .rdd.getNumPartitions()
        )
        assert full > 2
        assert pruned < full

    def test_contig_only_filter_matches(self, spark, indexed_bam):
        from pyspark.sql import functions as F

        path, rows = indexed_bam
        df = self._read(spark, path).filter(F.col("rname") == "chr2")
        got = sorted(r.qname for r in df.collect())
        assert got == sorted(r[0] for r in rows if r[2] == "chr2")

    def test_missing_contig_plans_empty(self, spark, indexed_bam):
        from pyspark.sql import functions as F

        path, _ = indexed_bam
        df = self._read(spark, path).filter(F.col("rname") == "chrZ")
        assert df.count() == 0


def test_intervals_option_plus_catalyst_filter(spark, indexed_bam):
    """option('intervals') and DataFrame predicates compose: the option
    drives index pruning, the source enforces the pushed filter too, and
    the result is the intersection."""
    from pyspark.sql import functions as F

    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    path, rows = indexed_bam
    df = (
        spark.read.format("bam")
        .option("split_size", "8192")
        .option("intervals", "chr1:1000000-1200000")
        .load(path)
        .filter(F.col("pos") >= 1_100_000)
    )
    got = sorted(r.qname for r in df.collect())
    want = sorted(
        r[0]
        for r in rows
        if r[2] == "chr1"
        and r[3] <= 1_200_000
        and r[3] + 3 >= 1_000_000
        and r[3] >= 1_100_000
    )
    assert got == want


def _written_records(seed: int, n: int):
    """Coordinate-sorted records with placed-unmapped reads and an unplaced
    tail, written through a BGZFWriter in uneven batches: yields each
    batch's (rid, pos0, end0, mapped, at, end_v) arrays."""
    import numpy as np

    rng = np.random.default_rng(seed)
    rid = np.sort(rng.integers(0, 3, n))
    pos0 = np.concatenate([
        np.sort(rng.integers(0, 3_000_000, int((rid == r).sum())))
        for r in range(3)])
    span = rng.choice([1, 100, 150, 5000, 40000], n,
                      p=[0.05, 0.7, 0.15, 0.07, 0.03])
    mapped = rng.random(n) > 0.05
    end0 = pos0 + np.where(mapped, span, 1)
    tail = n // 20
    rid = np.concatenate([rid, np.full(tail, -1)])
    pos0 = np.concatenate([pos0, np.full(tail, -1)])
    end0 = np.concatenate([end0, np.zeros(tail, np.int64)])
    mapped = np.concatenate([mapped, np.zeros(tail, bool)])
    lens = rng.integers(150, 800, len(rid))
    w = bgzf.BGZFWriter(io.BytesIO())
    i = 0
    while i < len(rid):
        sl = slice(i, i + int(rng.integers(1, 3000)))
        u0 = w.u_total
        w.write(b"\x00" * int(lens[sl].sum()))
        u_starts = u0 + np.concatenate([[0], np.cumsum(lens[sl][:-1])])
        yield (rid[sl], pos0[sl], end0[sl], mapped[sl],
               w.voffsets_of_u(u_starts), w.voffsets_of_u(u_starts + lens[sl]))
        i = sl.stop


@pytest.mark.parametrize("seed, scheme", [
    (0, (14, 5)), (1, (14, 5)), (2, (14, 5)), (3, (12, 4)), (4, (16, 6))],
    ids=["0", "1", "2", "12-4", "16-6"])
def test_part_stats_add_batch_equals_per_record_add(seed, scheme):
    """add_batch over uneven batches (bins carry chunks across batch
    edges) leaves exactly the state per-record add does, in the BAI/tabix
    scheme and in two other CSI schemes."""
    rows, batched = bai.IndexBuilder(*scheme), bai.IndexBuilder(*scheme)
    for rid, pos0, end0, mapped, at, end_v in _written_records(seed, 20000):
        batched.add_batch(rid, pos0, end0, mapped, at, end_v)
        for r, p, e, m, a, ev in zip(rid.tolist(), pos0.tolist(),
                                     end0.tolist(), mapped.tolist(),
                                     at.tolist(), end_v.tolist()):
            if r < 0 or p < 0:
                rows.n_no_coor += 1
            else:
                rows.add(r, p, e, m, a, ev)
    assert list(batched.refs) == list(rows.refs) == [0, 1, 2]
    assert batched.n_no_coor == rows.n_no_coor == 1000
    for key, want in rows.refs.items():
        got = batched.refs[key]
        assert got.bins == want.bins
        assert got.linear == want.linear
        assert (got.off_beg, got.off_end, got.n_mapped, got.n_unmapped) == (
            want.off_beg, want.off_end, want.n_mapped, want.n_unmapped)
    # chunks did cross batch edges: some bins hold several chunks
    assert max(len(c) for r in rows.refs.values() for c in r.bins.values()) > 1


#: The pinned write, run in a fresh interpreter: the Spark session it
#: starts hands its environment to every Python worker it launches.
_PINNED_WRITE = textwrap.dedent("""
    import hashlib, io, json, sys
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats import bam, bgzf
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, parse_header
    from hadoop_bam_spark.session import get_spark
    from tests import textgen

    spark = get_spark("pinned", master="local[2]", extra_conf={
        "spark.sql.execution.arrow.maxRecordsPerBatch": "128"})
    r = bgzf.BGZFReader(io.BytesIO(
        textgen.bam_file(textgen.gen_bam_records(3000, seed=5))))
    _, refs, start = bam.read_header(r)
    rows = list(bam.iter_records(r, refs, start))
    hdr = parse_header(textgen.gen_bam_header_text().splitlines())
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                               SAM_SCHEMA)
    path = sys.argv[1]
    sinks.write_bam(df, path, hdr, index_granularity=64, index_bai=True)
    codecs = spark.sparkContext.parallelize(range(3), 3).map(
        lambda _: bgzf.codec()).collect()
    spark.stop()
    print(json.dumps({
        "codecs": sorted({bgzf.codec(), *codecs}),
        "digest": {ext: hashlib.sha256(open(path + ext, "rb").read()).hexdigest()
                   for ext in ("", ".bai", ".sbi")}}))
""")


def test_write_bam_index_bytes_pinned(tmp_path):
    """write_bam(index_bai=True) with several Arrow batches per partition:
    the .bam, .bai and .sbi bytes are pinned to those of the per-record
    index accumulator the batch path replaced. The pins are zlib-written,
    so the write runs with ``SPARK_GRAFT_NO_NATIVE=1`` in the driver and in
    every worker; what the test checks, that batch and per-record index
    accumulation agree, does not depend on the codec."""
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g",
               SPARK_GRAFT_NO_NATIVE="1")
    r = subprocess.run(
        [sys.executable, "-c", _PINNED_WRITE, str(tmp_path / "pinned.bam")],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["codecs"] == ["zlib"]
    assert out["digest"] == PINNED_WRITE_BAM_SHA256


PINNED_WRITE_BAM_SHA256 = {
    "": "e7a5c1d121db98b4b3d279ef2a0ce0fbbc2501747d0d6f8e2ce6f718a3ce33eb",
    ".bai": "bbc3701fd94f032d4e9f3c6c8660a1f648d9da63e3b5bd77aaa6250ce89df391",
    ".sbi": "88c7d6a73139b95ad230af14d393e25896c97d104b7cf1cc788d3ced0ff28b7d",
}
