"""CSI binning index: binary roundtrip, generalized reg2bin(s) parity with
the fixed BAI scheme at (14,5), chunk coverage, and BGZF split pruning +
Catalyst filter pushdown through the BCF source (CSI is what
htslib/bcftools write for BCF by default)."""

import random

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_bam_spark.formats import bai, bcf, bgzf, csi
from hadoop_bam_spark.formats.bam_venc import reg2bin_vec
from hadoop_bam_spark.formats.vcf import VCFHeader


def _reg2bin(beg, end, min_shift, depth):
    return int(reg2bin_vec(np.array([beg]), np.array([end]), min_shift,
                           depth)[0])


class TestBinningParity:
    @given(st.integers(0, 2**29 - 2), st.integers(1, 10_000))
    @settings(max_examples=200, deadline=None)
    def test_reg2bin_matches_bai_at_14_5(self, beg, ln):
        end = min(beg + ln, 2**29 - 1)
        from hadoop_bam_spark.formats.bam import reg2bin

        assert _reg2bin(beg, end, 14, 5) == reg2bin(beg, end)

    @given(st.integers(0, 2**29 - 2), st.integers(1, 100_000))
    @settings(max_examples=100, deadline=None)
    def test_reg2bins_matches_bai_at_14_5(self, beg, ln):
        end = min(beg + ln, 2**29 - 1)
        # SAM spec §5.3 reg2bins, with its fixed BAI level offsets
        last = end - 1
        want = [0]
        for shift, base in ((26, 1), (23, 9), (20, 73), (17, 585), (14, 4681)):
            want.extend(range(base + (beg >> shift), base + (last >> shift) + 1))
        assert sorted(bai.reg2bins(beg, end, 14, 5)) == want

    @given(st.integers(0, 2**20), st.integers(1, 5000),
           st.sampled_from([(12, 4), (14, 5), (16, 6)]))
    @settings(max_examples=100, deadline=None)
    def test_bin_of_region_in_reg2bins(self, beg, ln, scheme):
        ms, d = scheme
        end = beg + ln
        assert _reg2bin(beg, end, ms, d) in bai.reg2bins(
            beg, end, ms, d
        )


def _bcf_header(n_contigs=2):
    lines = ["##fileformat=VCFv4.2"]
    for i in range(n_contigs):
        lines.append(f"##contig=<ID=chr{i + 1},length=100000000>")
    lines += [
        '##FILTER=<ID=PASS,Description="d">',
        '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">',
        "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO",
    ]
    return "\n".join(lines) + "\n"


def _sorted_variants(n=6000, seed=5):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        contig = f"chr{rng.randint(1, 2)}"
        pos = rng.randint(1, 5_000_000)
        rows.append((contig, pos, pos, f"v{i}", "A", ["T"], 50.0, ["PASS"],
                     {"DP": str(i % 99)}, None))
    rows.sort(key=lambda r: (r[0], r[1]))
    return rows


def _write_bcf(path, rows, hdr_text):
    hdr = bcf.parse_bcf_header_text(hdr_text)
    with open(path, "wb") as fh:
        w = bgzf.BGZFWriter(fh)
        w.write(bcf.encode_header(hdr))
        for r in rows:
            w.write(bcf.encode_record(r, hdr))
        w.close()
    csi.write_csi(csi.build_csi(path), path + ".csi")


@pytest.fixture(scope="module")
def indexed_bcf(tmp_path_factory):
    d = tmp_path_factory.mktemp("csi_bcf")
    p = str(d / "t.bcf")
    rows = _sorted_variants()
    _write_bcf(p, rows, _bcf_header())
    return p, rows


class TestCSIFormat:
    def test_binary_roundtrip(self, indexed_bcf, tmp_path):
        path, _ = indexed_bcf
        idx = csi.read_csi(path + ".csi")
        p2 = str(tmp_path / "copy.csi")
        csi.write_csi(idx, p2)
        idx2 = csi.read_csi(p2)
        assert idx2.min_shift == idx.min_shift and idx2.depth == idx.depth
        assert [r.bins for r in idx2.refs] == [r.bins for r in idx.refs]

    def test_roundtrip_preserves_loffset_and_pseudo_bin(
        self, indexed_bcf, tmp_path
    ):
        """An htslib-written .csi carries per-bin loffset seek hints and a
        pseudo-bin (per-ref voffset span + mapped/unmapped counts read back
        by `bcftools index -s`); a read->write round trip must not drop
        either (ADVICE r4)."""
        path, rows = indexed_bcf
        idx = csi.read_csi(path + ".csi")
        # build_csi populates both on a sorted input
        assert any(r.loffset for r in idx.refs)
        assert any(r.off_beg >= 0 for r in idx.refs)
        per_ref = {}
        for c, *_ in rows:
            per_ref[c] = per_ref.get(c, 0) + 1
        assert sorted(r.n_mapped for r in idx.refs if r.n_mapped >= 0) == (
            sorted(per_ref.values())
        )
        p2 = str(tmp_path / "copy2.csi")
        csi.write_csi(idx, p2)
        idx2 = csi.read_csi(p2)
        assert [r.loffset for r in idx2.refs] == [r.loffset for r in idx.refs]
        for a, b in zip(idx.refs, idx2.refs):
            assert (a.off_beg, a.off_end, a.n_mapped, a.n_unmapped) == (
                b.off_beg, b.off_end, b.n_mapped, b.n_unmapped
            )

    def test_chunks_cover_interval_records(self, indexed_bcf):
        """Every record in the interval must live inside a returned chunk
        span (decode the spans and check)."""
        path, rows = indexed_bcf
        idx = csi.read_csi(path + ".csi")
        lo, hi = 1_000_000, 1_300_000
        span = idx.span_for_intervals([("chr1", lo, hi)], ["chr1", "chr2"])
        assert span
        hdr = bcf.parse_bcf_header_text(_bcf_header())
        got = set()
        with open(path, "rb") as fh:
            r = bgzf.BGZFReader(fh)
            bcf.read_bcf_header(r)
            import struct as _s

            while True:
                at = r.tell_voffset()
                head = r.read(8)
                if len(head) < 8:
                    break
                ls, li = _s.unpack_from("<II", head, 0)
                body = r.read(ls + li)
                row, _ = bcf.decode_record(head + body, 0, hdr)
                if row[0] == "chr1" and lo <= row[1] <= hi:
                    assert any(b <= at < e for b, e in span), (row[1], at)
                    got.add(row[3])
        assert got == {
            r[3] for r in rows if r[0] == "chr1" and lo <= r[1] <= hi
        }


class TestBCFSourceCSIPruning:
    SPLIT = 4096

    def _read(self, spark, path, **opts):
        from hadoop_bam_spark.sources import register_all

        register_all(spark)
        r = spark.read.format("bcf").option("split_size", str(self.SPLIT))
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(path)

    def test_interval_matches_filter(self, spark, indexed_bcf):
        path, rows = indexed_bcf
        df = self._read(spark, path, intervals="chr1:1000001-1500000")
        got = sorted(r.id for r in df.collect())
        want = sorted(
            r[3] for r in rows if r[0] == "chr1" and 1_000_001 <= r[1] <= 1_500_000
        )
        assert got == want

    def test_index_prunes_partitions(self, spark, indexed_bcf):
        path, _ = indexed_bcf
        full = self._read(spark, path).rdd.getNumPartitions()
        pruned = self._read(
            spark, path, intervals="chr1:1000001-1050000"
        ).rdd.getNumPartitions()
        assert full > 2
        assert pruned < full

    def test_catalyst_filter_matches_and_prunes(self, spark, indexed_bcf):
        from pyspark.sql import functions as F

        path, rows = indexed_bcf
        df = self._read(spark, path).filter(
            (F.col("contig") == "chr1")
            & (F.col("start") >= 1_000_001)
            & (F.col("start") <= 1_500_000)
        )
        got = sorted(r.id for r in df.collect())
        want = sorted(
            r[3] for r in rows if r[0] == "chr1" and 1_000_001 <= r[1] <= 1_500_000
        )
        assert got == want
        full = self._read(spark, path).rdd.getNumPartitions()
        pruned = (
            self._read(spark, path)
            .filter((F.col("contig") == "chr1") & (F.col("start") <= 50_000))
            .rdd.getNumPartitions()
        )
        assert pruned < full


def test_sink_writes_csi(spark, tmp_path):
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.vcf import VCF_SCHEMA

    hdr = VCFHeader()
    hdr.lines = [l for l in _bcf_header().strip().split("\n") if l.startswith("##")]
    hdr.contigs = {"chr1": 0, "chr2": 1}
    rows = _sorted_variants(n=800)
    df = spark.createDataFrame(rows, schema=VCF_SCHEMA)
    out = str(tmp_path / "out.bcf")
    sinks.write_bcf(df, out, hdr, index_csi=True)
    idx = csi.read_csi(out + ".csi")
    assert any(r.bins for r in idx.refs)


class TestBAMWithCSI:
    """A BAM indexed only with .csi (samtools index -c) must get the same
    interval pruning the .bai path provides."""

    def _bam_with_csi(self, tmp_path):
        from tests.test_bai import _header, _make_bam, _sorted_rows

        p = str(tmp_path / "c.bam")
        rows = _sorted_rows(n=8000)
        _make_bam(p, rows, _header())
        b = bai.build_bai(p)
        csi.write_csi(csi.csi_from_bai(b), p + ".csi")
        return p, rows

    def test_interval_matches_and_prunes(self, spark, tmp_path):
        from hadoop_bam_spark.sources import register_all

        register_all(spark)
        path, rows = self._bam_with_csi(tmp_path)

        def rd(**opts):
            r = spark.read.format("bam").option("split_size", "8192")
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load(path)

        df = rd(intervals="chr1:1000000-1200000")
        got = sorted(r.qname for r in df.collect())
        want = sorted(
            r[0]
            for r in rows
            if r[2] == "chr1" and r[3] <= 1_200_000 and r[3] + 3 >= 1_000_000
        )
        assert got == want
        full = rd().rdd.getNumPartitions()
        pruned = rd(intervals="chr1:1000000-1010000").rdd.getNumPartitions()
        assert full > 2 and pruned < full

    def test_csi_roundtrip_preserves_bai_chunks(self, tmp_path):
        path, _ = self._bam_with_csi(tmp_path)
        b = bai.build_bai(path)
        c = csi.read_csi(path + ".csi")
        assert [r.bins for r in c.refs] == [r.bins for r in b.refs]
        assert c.n_no_coor == b.n_no_coor


class TestVCFWithCSI:
    """A .vcf.bgz indexed only with tabix-flavored .csi (bcftools index -c)
    must get the same split pruning the .tbi path provides."""

    def test_aux_names_roundtrip(self, spark, tmp_path):
        from hadoop_bam_spark.formats import tabix as tbx
        from tests.test_tabix import _vcf_lines, _write_vcf_bgz

        p = str(tmp_path / "v.vcf.bgz")
        recs = _vcf_lines()
        _write_vcf_bgz(p, recs)
        t = tbx.build_tabix(p)
        c = csi.csi_from_tabix(t)
        assert csi.names_from_aux(c.aux) == t.names
        csi.write_csi(c, p + ".csi")  # only .csi present — no .tbi at all

        from pyspark.sql import functions as F

        from hadoop_bam_spark.sources import register_all

        register_all(spark)

        def rd(**opts):
            r = spark.read.format("vcf").option("split_size", "4096")
            for k, v in opts.items():
                r = r.option(k, v)
            return r.load(p)

        df = rd(intervals="1:1000001-1500000")
        got = sorted(r.id for r in df.collect())
        want = sorted(
            vid for cg, pos, vid in recs if cg == "1" and 1_000_001 <= pos <= 1_500_000
        )
        assert got == want
        full = rd().rdd.getNumPartitions()
        pruned = rd(intervals="1:1000001-1100000").rdd.getNumPartitions()
        assert full > 2 and pruned < full


def test_nondefault_scheme_chunk_coverage(tmp_path):
    """A CSI built at (12,4) — not the BAI-equivalent (14,5) — must still
    cover every interval record (generalized binning end-to-end)."""
    p = str(tmp_path / "s.bcf")
    rows = _sorted_variants(n=2000, seed=9)
    hdr_text = _bcf_header()
    hdr = bcf.parse_bcf_header_text(hdr_text)
    with open(p, "wb") as fh:
        w = bgzf.BGZFWriter(fh)
        w.write(bcf.encode_header(hdr))
        for r in rows:
            w.write(bcf.encode_record(r, hdr))
        w.close()
    idx = csi.build_csi(p, min_shift=12, depth=4)
    assert idx.min_shift == 12 and idx.depth == 4
    lo, hi = 2_000_000, 2_400_000
    span = idx.span_for_intervals([("chr2", lo, hi)], ["chr1", "chr2"])
    import struct as _s

    covered = set()
    with open(p, "rb") as fh:
        r = bgzf.BGZFReader(fh)
        bcf.read_bcf_header(r)
        while True:
            at = r.tell_voffset()
            head = r.read(8)
            if len(head) < 8:
                break
            ls, li = _s.unpack_from("<II", head, 0)
            body = r.read(ls + li)
            row, _ = bcf.decode_record(head + body, 0, hdr)
            if row[0] == "chr2" and lo <= row[1] <= hi:
                assert any(b <= at < e for b, e in span), (row[1], at)
                covered.add(row[3])
    assert covered == {
        r[3] for r in rows if r[0] == "chr2" and lo <= r[1] <= hi
    }
