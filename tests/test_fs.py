"""Filesystem-seam tests: the built-in memory:// filesystem exercises the
same code paths fsspec-backed object stores take (s3://, gs://, ...), so a
green run here proves planning, codecs, and sidecar index reads hold no
hidden bare open() calls."""

import pytest

from hadoop_bam_spark import fs

from tests import writers


@pytest.fixture(autouse=True)
def _clean_mem():
    fs.mem_clear()
    yield
    fs.mem_clear()


def test_mem_basics():
    with fs.open_file("memory://d/a.bin", "wb") as f:
        f.write(b"hello")
    assert fs.exists("memory://d/a.bin")
    assert not fs.exists("memory://d/b.bin")
    assert fs.file_size("memory://d/a.bin") == 5
    with fs.open_file("memory://d/a.bin", "rb") as f:
        assert f.read() == b"hello"
    assert fs.is_dir("memory://d")
    assert fs.listdir("memory://d") == ["a.bin"]
    assert fs.join("memory://d", "x") == "memory://d/x"
    fs.remove_tree("memory://d")
    assert not fs.exists("memory://d/a.bin")


def test_bam_codec_roundtrip_on_memory_fs():
    """Write a BAM (codec level) to memory://, then run the DRIVER-side
    machinery against it: header read, .sbi planning, record iteration."""
    from hadoop_bam_spark.formats.sam import SAMHeader
    from hadoop_bam_spark.formats.splitting_index import SplittingIndex
    from hadoop_bam_spark.sources.bam_source import BAMReader

    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000"]
    hdr.sequences = {"chr1": (0, 100000)}
    rows = [
        (f"r{i}", 0, "chr1", i + 1, 30, "4M", None, 0, 0, "ACGT", "IIII", {})
        for i in range(500)
    ]
    path = "memory://bams/x.bam"
    with fs.open_file(path, "wb") as f:
        offsets = writers.write_bam(f, hdr, rows, index_granularity=100)
    with fs.open_file(path + ".sbi", "wb") as f:
        SplittingIndex(100, offsets, fs.file_size(path)).write(f)

    reader = BAMReader({"path": path, "split_size": "2048"})
    parts = reader.partitions()
    assert len(parts) >= 1
    got = []
    for p in parts:
        for rb in reader.read(p):
            for rec in rb.to_pylist():
                got.append(
                    (rec["qname"], rec["flag"], rec["rname"], rec["pos"],
                     rec["mapq"], rec["cigar"], rec["rnext"], rec["pnext"],
                     rec["tlen"], rec["seq"], rec["qual"], dict(rec["tags"] or {}))
                )
    assert got == rows


def test_cram_codec_roundtrip_on_memory_fs():
    from hadoop_bam_spark.formats import cram

    refs = [("chr1", 1000)]
    rows = [("r1", 0, "chr1", 10, 60, "4M", None, 0, 0, "ACGT", "IIII", {"NM": "1"})]
    path = "memory://crams/x.cram"
    with fs.open_file(path, "wb") as f:
        w = writers.CRAMWriter(f, refs, header_text="@SQ\tSN:chr1\tLN:1000\n")
        for r in rows:
            w.write(r)
        w.close()
    assert list(cram.decode_file(path, open_fn=fs.open_file)) == rows


def test_anysam_sniff_on_memory_fs():
    from hadoop_bam_spark.sources.anysam_source import sniff_sam_format

    with fs.open_file("memory://m/x.sam", "wb") as f:
        f.write(b"CRAM\x03\x00" + bytes(20))
    assert sniff_sam_format("memory://m/x.sam") == "cram"


def test_list_format_files_on_memory_dir():
    from hadoop_bam_spark.sources import list_format_files

    for name in ("a.bam", "b.bam", "b.bam.sbi", "_hidden.bam"):
        with fs.open_file(f"memory://dir/{name}", "wb") as f:
            f.write(b"x")
    assert list_format_files("memory://dir", ".bam") == [
        "memory://dir/a.bam",
        "memory://dir/b.bam",
    ]
