"""Source-side projection (SURVEY §2.3): ``option("columns", ...)`` prunes
the declared schema and skips decoding unselected fields — the engine's
analog of the reference's lazy decode (LazyBAMRecordFactory.java:53-111,
LazyParsingGenotypesContext.java:28-33). Every pruned read must equal the
full read's ``.select(...)`` of the same columns.

The inputs are written per module under the reference's file names, so
each case keeps its name; their origins (``tests/textgen.py``):

- ``test.bam``: the seeded generator's BAM; ``misnamedBam.sam`` is the
  same bytes under a SAM name;
- ``test.sam``: the SAMv1 spec's example alignment (section 1.1), and
  ``auxf.fa`` its 45-bp reference ``ref``; ``test.cram`` is that alignment
  written against ``auxf.fa`` by ``tests/writers.CRAMWriter``;
- ``test.vcf``: the VCF spec's example file, plain and as BGZF
  (``test.vcf.bgz``); ``test.bgzf.bcf`` is that file encoded per
  VCFv4.3 section 6, in BGZF.

Wherever the reference checkout's test resources hold the same file names,
each read test runs on those cramtools-, htsjdk- and samtools-written files
as well.
"""

import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from tests import textgen

RES = "/root/reference/src/test/resources"


def dirs_holding(res, *names):
    """``res``, and the reference's resource directory wherever it holds
    every one of ``names``."""
    ref = pathlib.Path(RES)
    return [res, *([ref] if all(os.path.exists(ref / n) for n in names)
                   else [])]


@pytest.fixture(scope="module")
def fmt_spark(spark):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    return spark


@pytest.fixture(scope="module")
def res(tmp_path_factory):
    """The directory holding every input of this module."""
    from hadoop_bam_spark.formats import cram
    from hadoop_bam_spark.formats.sam import parse_header, parse_sam_line
    from tests import writers

    d = tmp_path_factory.mktemp("projection")
    (d / "test.bam").write_bytes(textgen.bam_file(textgen.gen_bam_records()))
    shutil.copy(d / "test.bam", d / "misnamedBam.sam")
    (d / "test.sam").write_text(textgen.SAM_SPEC_EXAMPLE)
    (d / "auxf.fa").write_text(f">ref\n{textgen.SAM_SPEC_REF}\n")
    lines = textgen.SAM_SPEC_EXAMPLE.splitlines()
    head = [ln for ln in lines if ln.startswith("@")]
    refs = [(name, n) for name, (_, n) in parse_header(head).sequences.items()]
    with open(d / "test.cram", "wb") as fh:
        w = writers.CRAMWriter(
            fh, refs, header_text="".join(ln + "\n" for ln in head),
            ref_fasta=cram.FastaRef(str(d / "auxf.fa")),
        )
        for ln in lines[len(head):]:
            w.write(parse_sam_line(ln))
        w.close()
    (d / "test.vcf").write_text(textgen.VCF_SPEC_EXAMPLE)
    (d / "test.vcf.bgz").write_bytes(
        textgen.bgzf_compress(textgen.VCF_SPEC_EXAMPLE.encode()))
    (d / "test.bgzf.bcf").write_bytes(
        textgen.bgzf_compress(textgen.bcf_file(textgen.VCF_SPEC_EXAMPLE)))
    return d


def rows(df, *order):
    return sorted(map(tuple, df.select(*df.columns).collect()))


#: (format, input file, pruned columns, options naming an input file)
CASES = [
    ("bam", "test.bam", ["qname", "flag", "rname", "pos"], {}),
    ("sam", "test.sam", ["qname", "flag", "pos", "mapq"], {}),
    (
        "cram",
        "test.cram",
        ["qname", "flag", "rname", "pos"],
        {"reference": "auxf.fa"},
    ),
    ("sam_any", "misnamedBam.sam", ["qname", "rname", "pos"], {}),
    ("vcf", "test.vcf", ["contig", "start", "ref"], {}),
    ("vcf", "test.vcf.bgz", ["contig", "start", "alts"], {}),
    ("bcf", "test.bgzf.bcf", ["contig", "start", "ref"], {}),
    ("fasta", "auxf.fa", ["contig", "seq"], {}),
]


@pytest.mark.parametrize(
    "fmt,name,cols,opts",
    CASES,
    ids=[f"{f}-{p}" for f, p, _, _ in CASES],
)
def test_pruned_read_matches_full_select(fmt_spark, res, fmt, name, cols,
                                         opts):
    for d in dirs_holding(res, name, *opts.values()):
        path = str(d / name)
        named = {k: str(d / v) for k, v in opts.items()}
        full = fmt_spark.read.format(fmt).options(**named).load(path)
        pruned = (
            fmt_spark.read.format(fmt)
            .options(**named)
            .option("columns", ",".join(cols))
            .load(path)
        )
        assert [f.name for f in pruned.schema.fields] == [
            f.name for f in full.schema.fields if f.name in set(cols)
        ]
        assert rows(pruned) == rows(full.select(*pruned.columns))


def test_fastq_pruned(fmt_spark, tmp_path):
    p = tmp_path / "r.fastq"
    p.write_text(
        "".join(
            f"@EAS139:7:FC706VJ:1:1:{i}:{i} 1:N:0:ATCACG\nACGTACGTAC\n+\n"
            f"IIIIIIIII{chr(33 + i % 60)}\n"
            for i in range(50)
        )
    )
    full = fmt_spark.read.format("fastq").load(str(p))
    pruned = (
        fmt_spark.read.format("fastq")
        .option("columns", "name,sequence")
        .load(str(p))
    )
    assert pruned.columns == ["name", "sequence"]
    assert rows(pruned) == rows(full.select("name", "sequence"))


def test_unknown_column_raises(fmt_spark, res):
    with pytest.raises(Exception, match="unknown columns"):
        (
            fmt_spark.read.format("bam")
            .option("columns", "qname,nope")
            .load(str(res / "test.bam"))
            .count()
        )


def test_bam_interval_with_pruned_columns(fmt_spark, res):
    """Interval residual needs cigar internally; projection still drops it."""
    cases = [(res, "chr1:100001-120000")]
    if os.path.exists(os.path.join(RES, "test.bam")):
        cases.append((pathlib.Path(RES), "1:1581001-1600000"))
    for d, interval in cases:
        full = (
            fmt_spark.read.format("bam")
            .option("intervals", interval)
            .load(str(d / "test.bam"))
        )
        pruned = (
            fmt_spark.read.format("bam")
            .option("intervals", interval)
            .option("columns", "qname,pos")
            .load(str(d / "test.bam"))
        )
        assert pruned.columns == ["qname", "pos"]
        assert rows(pruned) == rows(full.select("qname", "pos"))
        assert pruned.count() > 0


def test_vcf_end_without_info(fmt_spark, res):
    """`end` is INFO-derived: pruning info but keeping end still parses END."""
    for d in dirs_holding(res, "test.vcf"):
        full = fmt_spark.read.format("vcf").load(str(d / "test.vcf"))
        pruned = (
            fmt_spark.read.format("vcf")
            .option("columns", "contig,start,end")
            .load(str(d / "test.vcf"))
        )
        assert pruned.columns == ["contig", "start", "end"]
        assert rows(pruned) == rows(full.select("contig", "start", "end"))


def test_bam_lazy_decode_skips_fields(res):
    """decode_record(wanted=...) returns None for skipped expensive fields
    and identical values for kept ones."""
    import struct

    from hadoop_bam_spark.formats import bam, bgzf

    for d in dirs_holding(res, "test.bam"):
        with open(d / "test.bam", "rb") as f:
            r = bgzf.BGZFReader(f)
            _, refs, first = bam.read_header(r)
            full_rows = list(bam.iter_records(r, refs, first))
        assert full_rows
        with open(d / "test.bam", "rb") as f:
            r = bgzf.BGZFReader(f)
            bam.read_header(r)
            r.seek_voffset(first)
            lazy_rows = []
            while True:
                head = r.read(4)
                if len(head) < 4:
                    break
                (n,) = struct.unpack("<i", head)
                body = r.read(n)
                lazy_rows.append(
                    bam.decode_record(body, refs, frozenset({"qname", "flag", "pos"}))
                )
        for fr, lr in zip(full_rows, lazy_rows):
            assert lr[0] == fr[0] and lr[1] == fr[1] and lr[3] == fr[3]
            assert lr[5] is None and lr[9] is None and lr[10] is None and lr[11] is None
