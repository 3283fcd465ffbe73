"""CRAI index: build/write/read roundtrip, index-driven split planning, and
interval/Catalyst-filter container pruning through the CRAM source (the
reference's CRAMInputFormat plans from this sidecar; mirror of the BAI
pushdown tests in test_bai.py)."""

import random

import pytest

from hadoop_bam_spark.formats import crai, cram
from hadoop_bam_spark.formats.sam import SAMHeader

from tests import writers


def _header(n_refs=2, ln=100_000_000):
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6\tSO:coordinate"]
    for i in range(n_refs):
        hdr.lines.append(f"@SQ\tSN:chr{i + 1}\tLN:{ln}")
        hdr.sequences[f"chr{i + 1}"] = (i, ln)
    return hdr


def _sorted_rows(n=8000, seed=3):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        contig = f"chr{rng.randint(1, 2)}"
        pos = rng.randint(1, 5_000_000)
        rows.append(
            (f"q{i}", 0, contig, pos, 30, "4M", None, 0, 0, "ACGT", "IIII", None)
        )
    rows.sort(key=lambda r: (r[2], r[3]))
    return rows


def _write_cram(path, rows, hdr, per_container=500):
    from hadoop_bam_spark import fs

    refs = [(f"chr{i + 1}", 100_000_000) for i in range(2)]
    with open(path, "wb") as fh:
        cram.write_file_definition(fh)
        fh.write(cram.encode_header_container(hdr.text))
        import io

        buf = io.BytesIO()
        w = writers.CRAMWriter(buf, refs, bare=True,
                            records_per_container=per_container)
        for r in rows:
            w.write(r)
        w.close(write_eof=False)
        fh.write(buf.getvalue())
        fh.write(cram.EOF_CONTAINER_V3)
    crai.write_crai(crai.build_crai(path), path + ".crai")


@pytest.fixture(scope="module")
def indexed_cram(tmp_path_factory):
    d = tmp_path_factory.mktemp("crai_cram")
    p = str(d / "t.cram")
    rows = _sorted_rows()
    _write_cram(p, rows, _header())
    return p, rows


class TestCRAIFormat:
    def test_roundtrip(self, indexed_cram, tmp_path):
        path, _ = indexed_cram
        entries = crai.read_crai(path + ".crai")
        assert entries
        p2 = str(tmp_path / "copy.crai")
        crai.write_crai(entries, p2)
        assert crai.read_crai(p2) == entries

    def test_entries_match_container_walk(self, indexed_cram):
        path, _ = indexed_cram
        offs = [off for off, _ in cram.iter_container_offsets(path)]
        assert crai.container_offsets(crai.read_crai(path + ".crai")) == offs

    def test_entries_carry_sorted_spans(self, indexed_cram):
        path, _ = indexed_cram
        entries = crai.read_crai(path + ".crai")
        # coordinate-sorted input: per-ref entry starts are non-decreasing
        for rid in (0, 1):
            starts = [e.start for e in entries if e.seq_id == rid]
            assert starts == sorted(starts)

    def test_prune_drops_non_overlapping(self, indexed_cram):
        path, _ = indexed_cram
        entries = crai.read_crai(path + ".crai")
        refs = [("chr1", 100_000_000), ("chr2", 100_000_000)]
        all_offs = crai.container_offsets(entries)
        kept = crai.prune_offsets(entries, [("chr1", 1, 50_000)], refs)
        assert set(kept) <= set(all_offs)
        assert len(kept) < len(all_offs)
        # only genuinely multiref containers (the chr1/chr2 boundary one)
        # may survive a no-match query — they are never prunable
        multiref = {e.container_offset for e in entries if e.seq_id == -2}
        assert set(crai.prune_offsets(entries, [("chrZ", 1, 10)], refs)) == multiref


class TestCRAMSourcePruning:
    SPLIT = 4096

    def _read(self, spark, path, **opts):
        from hadoop_bam_spark.sources import register_all

        register_all(spark)
        r = spark.read.format("cram").option("split_size", str(self.SPLIT))
        for k, v in opts.items():
            r = r.option(k, v)
        return r.load(path)

    def test_interval_matches_full_scan_filter(self, spark, indexed_cram):
        path, rows = indexed_cram
        df = self._read(spark, path, intervals="chr1:1000000-1200000")
        got = sorted(r.qname for r in df.collect())
        want = sorted(
            r[0]
            for r in rows
            if r[2] == "chr1" and r[3] <= 1_200_000 and r[3] + 3 >= 1_000_000
        )
        assert got == want

    def test_interval_prunes_partitions(self, spark, indexed_cram):
        path, _ = indexed_cram
        full = self._read(spark, path).rdd.getNumPartitions()
        pruned = self._read(
            spark, path, intervals="chr1:1000000-1050000"
        ).rdd.getNumPartitions()
        assert full > 2
        assert pruned < full

    def test_catalyst_filter_matches_and_prunes(self, spark, indexed_cram):
        from pyspark.sql import functions as F

        path, rows = indexed_cram
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
        full = self._read(spark, path).rdd.getNumPartitions()
        pruned = (
            self._read(spark, path)
            .filter((F.col("rname") == "chr1") & (F.col("pos") <= 50_000))
            .rdd.getNumPartitions()
        )
        assert pruned < full

    def test_plan_without_crai_matches(self, spark, indexed_cram, tmp_path):
        """The header-walk fallback must produce the same rows."""
        import shutil as sh

        path, rows = indexed_cram
        p2 = str(tmp_path / "nocrai.cram")
        sh.copyfile(path, p2)
        df = self._read(spark, p2, intervals="chr2:1-100000")
        got = sorted(r.qname for r in df.collect())
        want = sorted(
            r[0] for r in rows if r[2] == "chr2" and r[3] <= 100_000
        )
        assert got == want


def test_sink_writes_crai(spark, tmp_path):
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    hdr = _header()
    refs = [("chr1", 100_000_000), ("chr2", 100_000_000)]
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA

    rows = _sorted_rows(n=1500)
    df = spark.createDataFrame(rows, schema=SAM_SCHEMA)
    out = str(tmp_path / "out.cram")
    sinks.write_cram(df, out, hdr, refs=refs, records_per_container=300,
                     index_crai=True)
    entries = crai.read_crai(out + ".crai")
    assert crai.container_offsets(entries) == [
        off for off, _ in cram.iter_container_offsets(out)
    ]


def test_sink_crai_is_reproducible(spark, tmp_path):
    """Two writes of the same rows give byte-identical .crai files: the
    gzip member header carries no write time (MTIME, bytes 4-8, is 0)."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA

    refs = [("chr1", 100_000_000), ("chr2", 100_000_000)]
    df = spark.createDataFrame(_sorted_rows(n=600), schema=SAM_SCHEMA)
    crais = []
    for name in ("a.cram", "b.cram"):
        out = str(tmp_path / name)
        sinks.write_cram(df, out, _header(), refs=refs,
                         records_per_container=200, index_crai=True)
        with open(out + ".crai", "rb") as f:
            crais.append(f.read())
    assert crais[0] == crais[1]
    assert crais[0][4:8] == b"\x00\x00\x00\x00"


def test_unmapped_traversal(spark, tmp_path):
    """option('unmapped') plans only the -1/-2 containers and returns only
    unplaced-unmapped records (BAM source parity, queryUnmapped semantics)."""
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    hdr = _header()
    rows = _sorted_rows(n=3000)
    # unplaced-unmapped tail
    tail = [
        (f"u{i}", 4, None, 0, 0, None, None, 0, 0, "ACGT", "IIII", None)
        for i in range(40)
    ]
    p = str(tmp_path / "u.cram")
    _write_cram(p, rows + tail, hdr, per_container=400)
    df = (
        spark.read.format("cram")
        .option("split_size", "4096")
        .option("unmapped", "true")
        .load(p)
    )
    got = sorted(r.qname for r in df.collect())
    assert got == sorted(t[0] for t in tail)
    full = (
        spark.read.format("cram").option("split_size", "4096").load(p)
        .rdd.getNumPartitions()
    )
    pruned = (
        spark.read.format("cram")
        .option("split_size", "4096")
        .option("unmapped", "true")
        .load(p)
        .rdd.getNumPartitions()
    )
    assert pruned < full


def test_unmapped_plus_intervals(spark, tmp_path):
    """Both options together return the union of interval overlaps and
    unplaced-unmapped records (BAM source parity)."""
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    rows = _sorted_rows(n=3000)
    tail = [
        (f"u{i}", 4, None, 0, 0, None, None, 0, 0, "ACGT", "IIII", None)
        for i in range(25)
    ]
    p = str(tmp_path / "b.cram")
    _write_cram(p, rows + tail, _header(), per_container=400)
    df = (
        spark.read.format("cram")
        .option("split_size", "4096")
        .option("unmapped", "true")
        .option("intervals", "chr1:1000000-1200000")
        .load(p)
    )
    got = sorted(r.qname for r in df.collect())
    want = sorted(
        [t[0] for t in tail]
        + [
            r[0]
            for r in rows
            if r[2] == "chr1" and r[3] <= 1_200_000 and r[3] + 3 >= 1_000_000
        ]
    )
    assert got == want


class TestMultiSliceWrite:
    """r5: containers hold multiple ~10k-record slices (samtools/htsjdk
    layout); the .crai indexes per slice and interval pruning uses the
    finer slice spans."""

    def _file(self, tmp_path, records_per_slice):
        import random

        from hadoop_bam_spark.formats import cram

        rng = random.Random(11)
        refs = [("chr1", 10_000_000)]
        rows = []
        pos = 1
        for i in range(900):
            pos += rng.randint(1, 40)
            rows.append((f"r{i}", 0, "chr1", pos, 60, "10M", None, 0, 0,
                         "ACGTACGTAC", "IIIIIIIIII", None))
        p = str(tmp_path / f"ms{records_per_slice}.cram")
        with open(p, "wb") as fh:
            w = writers.CRAMWriter(fh, refs, header_text="@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:10000000\n",
                                records_per_container=900,
                                records_per_slice=records_per_slice)
            for r in rows:
                w.write(r)
            w.close()
        return p, rows, refs

    def test_roundtrip_and_per_slice_entries(self, tmp_path):
        from hadoop_bam_spark.formats import cram, crai

        p, rows, refs = self._file(tmp_path, records_per_slice=300)
        got = list(cram.decode_file(p))
        assert len(got) == 900
        assert [g[0] for g in got] == [r[0] for r in rows]
        assert [g[3] for g in got] == [r[3] for r in rows]
        entries = crai.build_crai(p)
        assert len(entries) == 3  # 900 records / 300 per slice, 1 container
        assert len({e.container_offset for e in entries}) == 1
        # per-slice spans partition the container's alignment range
        assert all(e.seq_id == 0 and e.span > 0 for e in entries)
        starts = [e.start for e in entries]
        assert starts == sorted(starts) and starts[0] < starts[-1]
        # slice offsets/sizes tile the body
        offs = sorted(e.slice_offset for e in entries)
        assert offs[0] > 0 and len(set(offs)) == 3

    def test_single_slice_layout_unchanged(self, tmp_path):
        from hadoop_bam_spark.formats import crai

        p, _rows, _refs = self._file(tmp_path, records_per_slice=10000)
        entries = crai.build_crai(p)
        assert len(entries) == 1

    def test_slice_pruning_finer_than_container(self, tmp_path):
        """prune_offsets keeps the container when ANY slice overlaps; a
        query hitting only the last slice's range must still keep it, and
        a query left of every slice must drop it."""
        from hadoop_bam_spark.formats import crai

        p, rows, refs = self._file(tmp_path, records_per_slice=300)
        entries = crai.build_crai(p)
        last_start = max(e.start for e in entries)
        keep = crai.prune_offsets(entries, [("chr1", last_start, last_start + 5)], refs)
        assert len(keep) == 1
        none = crai.prune_offsets(entries, [("chr2", 1, 10)], refs)
        assert none == []
