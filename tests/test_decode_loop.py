"""The line-oriented sources' shared decode loop (``sources.decode_chunks``)
and the empty-plan contract of the readers.

A malformed line makes the vectorized parser reject its whole chunk, and
the chunk is re-parsed line by line. Under ``stringency=silent`` that read
must equal the read of the same file without the bad line — with
projection and interval residual — so the fallback changes nothing but
the parser. Missing values ('.' ALT and FILTER, a BCF record without
FORMAT) read as null on either path, VCF text and BCF alike. A reader that
plans nothing must read as empty, not crash."""

import random

import pytest
from pyspark.sql import functions as F

from tests import textgen

#: rejected by every vectorized chunk parser and every scalar line parser
BAD = "chr1\tx\ty"


def _sam_lines(n=400):
    rng = random.Random(3)
    head = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000", "@SQ\tSN:chr2\tLN:100000"]
    data = []
    for i in range(n):
        seq = "".join(rng.choice("ACGT") for _ in range(8))
        mapped = i % 9 != 0
        data.append("\t".join([
            f"r{i}", "0" if mapped else "4",
            rng.choice(["chr1", "chr2"]) if mapped else "*",
            str(rng.randint(1, 90000)) if mapped else "0",
            "30" if mapped else "0", "8M" if mapped else "*", "*", "0", "0",
            seq, "IIIIIIII", f"NM:i:{i % 4}", "RG:Z:g1",
        ]))
    return head, data


#: VCF data-line indices planted with '.' ALT, '.' FILTER, and (BCF only)
#: no FORMAT: missing values mixed among complete rows must read as null
NO_ALT = set(range(0, 400, 7))
NO_FILTER = set(range(3, 400, 11))
NO_FORMAT = set(range(5, 400, 13))


def _vcf_lines():
    lines = textgen.gen_vcf_text(textgen.gen_vcf_rows(400)).splitlines()
    i = next(i for i, l in enumerate(lines) if not l.startswith("#"))
    data = [l.split("\t") for l in lines[i:]]
    for j, f in enumerate(data):
        if j in NO_ALT:
            f[4] = "."
        if j in NO_FILTER:
            f[6] = "."
    return lines[:i], ["\t".join(f) for f in data]


def _intervals_rows(n=400, seed=5):
    rng = random.Random(seed)
    return [
        (rng.choice(["chr1", "chr2"]), s, s + rng.randint(1, 500))
        for s in (rng.randint(0, 90000) for _ in range(n))
    ]


def _bed_lines():
    rng = random.Random(1)
    return ["track name=t"], [
        f"{c}\t{s}\t{e}\tf{i}\t{rng.randint(0, 1000)}\t{rng.choice('+-.')}"
        for i, (c, s, e) in enumerate(_intervals_rows())
    ]


def _bedgraph_lines():
    rng = random.Random(2)
    return [], [
        f"{c}\t{s}\t{e}\t{rng.uniform(-5, 5):.4f}"
        for c, s, e in _intervals_rows()
    ]


def _gff_lines():
    rng = random.Random(4)
    return ["##gff-version 3"], [
        f"{c}\tsrc\t{rng.choice(['gene', 'exon'])}\t{s + 1}\t{e}\t"
        f"{rng.choice(['.', '0.5'])}\t{rng.choice('+-')}\t"
        f"{rng.choice(['.', '0', '2'])}\tID=g{i};Name=n{i % 7}"
        for i, (c, s, e) in enumerate(_intervals_rows())
    ]


def _qseq_lines(n=400):
    rng = random.Random(6)
    return [], [
        "\t".join([
            "M1", "7", str(1 + i % 4), str(rng.randint(1, 120)),
            str(rng.randint(0, 2000)), str(rng.randint(0, 2000)),
            rng.choice(["0", "ACGT"]), "1",
            "".join(rng.choice("ACGT.") for _ in range(10)),
            "".join(chr(rng.randint(66, 104)) for _ in range(10)),
            rng.choice("01"),
        ])
        for i in range(n)
    ]


def _chunk_parser(fmt):
    from hadoop_bam_spark.formats import sam_vec, vcf_vec
    from hadoop_bam_spark.sources import qseq_source, tabix_text

    return {
        "sam": sam_vec.parse_sam_chunk,
        "vcf": lambda l: vcf_vec.parse_vcf_chunk(l, textgen.GEN_SAMPLES),
        "bed": tabix_text.BED.parse_chunk,
        "bedgraph": tabix_text.BEDGRAPH.parse_chunk,
        "gff": tabix_text.GFF.parse_chunk,
        "qseq": lambda l: qseq_source.parse_qseq_chunk(l, True),
    }[fmt]


#: fmt -> (file suffix, (header, data lines), columns, intervals)
FORMATS = {
    "sam": (".sam", _sam_lines, "qname,rname,pos,tags", None),
    "vcf": (".vcf", _vcf_lines, "start,qual,info",
            "1:1-2000000,2:1000000-1500000"),
    "bed": (".bed", _bed_lines, "start,name,rest",
            "chr1:1-40000,chr2:50000-60000"),
    "bedgraph": (".bedgraph", _bedgraph_lines, "value",
                 "chr1:1-40000,chr2:50000-60000"),
    "gff": (".gff3", _gff_lines, "end,attributes",
            "chr1:1-40000,chr2:50000-60000"),
    "qseq": (".qseq", _qseq_lines, "name,quality,filter_passed", None),
}

CASES = [
    (fmt, variant)
    for fmt, (_, _, _, intervals) in FORMATS.items()
    for variant in (
        ("plain", "columns", "intervals", "columns+intervals")
        if intervals else ("plain", "columns")
    )
] + [("qseq", "filter_failed_qc")]


@pytest.fixture(scope="module")
def text_inputs(tmp_path_factory):
    """fmt -> (clean path, path with BAD planted mid-file)."""
    d = tmp_path_factory.mktemp("decode_loop")
    out = {}
    for fmt, (ext, gen, _, _) in FORMATS.items():
        head, data = gen()
        bad = data[: len(data) // 2] + [BAD] + data[len(data) // 2:]
        assert _chunk_parser(fmt)(data) is not None
        assert _chunk_parser(fmt)(bad) is None
        paths = []
        for name, lines in (("clean", data), ("bad", bad)):
            p = d / f"{fmt}_{name}{ext}"
            p.write_text("\n".join(head + lines) + "\n")
            paths.append(str(p))
        out[fmt] = tuple(paths)
    return out


@pytest.mark.parametrize("fmt,variant", CASES)
def test_fallback_matches_clean_read(spark, text_inputs, fmt, variant):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    _, _, columns, intervals = FORMATS[fmt]
    opts = {"stringency": "silent"}
    if "columns" in variant:
        opts["columns"] = columns
    if "intervals" in variant:
        opts["intervals"] = intervals
    if variant == "filter_failed_qc":
        opts["filter_failed_qc"] = "true"
    clean, bad = (
        spark.read.format(fmt).options(**opts).load(p)
        for p in text_inputs[fmt]
    )
    want = clean.collect()
    assert want
    assert bad.dtypes == clean.dtypes
    assert bad.collect() == want


@pytest.fixture(scope="module")
def empty_inputs(spark, tmp_path_factory):
    """A CSI-indexed BGZF BCF of textgen rows, an empty directory, and an
    empty ``.sam``, ``.fastq`` and ``.qseq`` file."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, VCFHeader

    d = tmp_path_factory.mktemp("empty_plan")
    bcf = str(d / "gen.bcf")
    df = spark.createDataFrame(textgen.gen_vcf_rows(300), VCF_SCHEMA)
    hdr = VCFHeader(lines=textgen.gen_vcf_header_lines(),
                    samples=list(textgen.GEN_SAMPLES))
    sinks.write_bcf(df.coalesce(1), bcf, hdr, index_csi=True)
    (d / "empty_dir").mkdir()
    for ext in ("sam", "fastq", "qseq"):
        (d / f"empty.{ext}").write_bytes(b"")
    return {"bcf": bcf, "dir": str(d / "empty_dir"),
            **{ext: str(d / f"empty.{ext}") for ext in ("sam", "fastq", "qseq")}}


EMPTY_PLANS = {
    "bcf-csi-absent-contig": lambda r, p: r.format("bcf").option(
        "intervals", "nosuch:1-100").load(p["bcf"]),
    "bcf-csi-past-last-record": lambda r, p: r.format("bcf").option(
        "intervals", "2:50000000-50000100").load(p["bcf"]),
    "bcf-filter-absent-contig": lambda r, p: r.format("bcf").load(
        p["bcf"]).filter(F.col("contig") == "nosuch"),
    "bcf-empty-dir": lambda r, p: r.format("bcf").load(p["dir"]),
    "sam-empty-file": lambda r, p: r.format("sam").load(p["sam"]),
    "fastq-empty-file": lambda r, p: r.format("fastq").load(p["fastq"]),
    "qseq-empty-file": lambda r, p: r.format("qseq").load(p["qseq"]),
}


@pytest.mark.parametrize("case", list(EMPTY_PLANS))
def test_empty_plan_reads_nothing(spark, empty_inputs, case):
    """Spark calls ``read(None)`` when ``partitions()`` is empty, so a
    reader that plans nothing returns ``[EmptyPartition()]``."""
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    assert EMPTY_PLANS[case](spark.read, empty_inputs).count() == 0


def test_to_batch_keeps_null_lists_and_structs():
    """A column whose type differs from Spark's Arrow type in nested
    nullability is rebuilt from its children by ``to_batch``: a null list
    and a null struct element must stay null, not become [] or a struct
    of nulls. (vcf_vec's genotypes column has a nullable ``sample``.)"""
    import pyarrow as pa

    from hadoop_bam_spark.formats.vcf import VCF_SCHEMA
    from hadoop_bam_spark.sources import arrow_schema, to_batch

    field = arrow_schema(VCF_SCHEMA).field("genotypes")
    gt = pa.struct([("sample", pa.string()), ("gt", pa.string()),
                    ("fields", pa.map_(pa.string(), pa.string()))])
    call = [{"sample": "s1", "gt": "0/1", "fields": [("GT", "0/1")]}]
    values = [call, None, [], [None] + call]
    arr = pa.array(values, type=pa.list_(gt))
    assert not arr.type.equals(field.type)
    for a, want in ((arr, values), (arr.slice(1), values[1:])):
        got = to_batch({"genotypes": a}, pa.schema([field])).column(0)
        assert got.type.equals(field.type)
        assert got.to_pylist() == want


def _assert_missing_null(rows, no_format=()):
    assert len(rows) == 400
    for i, r in enumerate(rows):
        assert (r["alts"] is None) == (i in NO_ALT), i
        assert (r["filters"] is None) == (i in NO_FILTER), i
        assert (r["genotypes"] is None) == (i in no_format), i


def test_vcf_missing_alt_filter_read_null(spark, text_inputs):
    """'.' ALT and '.' FILTER read as null on the vectorized chunk parser
    (clean file) and on the scalar fallback (file with BAD planted)."""
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    for p in text_inputs["vcf"]:
        _assert_missing_null(
            spark.read.format("vcf").option("stringency", "silent")
            .load(p).collect()
        )


@pytest.fixture(scope="module")
def missing_bcf(tmp_path_factory):
    """Uncompressed BCF of the VCF rows, with NO_FORMAT rows also missing
    their genotypes."""
    from hadoop_bam_spark.formats import bcf
    from hadoop_bam_spark.formats.vcf import parse_vcf_header

    head, _ = _vcf_lines()
    hdr = bcf.parse_bcf_header_text(parse_vcf_header(head).text)
    rows = [
        (c, s, e, vid, ref, None if i in NO_ALT else alts, qual,
         None if i in NO_FILTER else filters, info,
         None if i in NO_FORMAT else gts)
        for i, (c, s, e, vid, ref, alts, qual, filters, info, gts)
        in enumerate(textgen.gen_vcf_rows(400))
    ]
    path = tmp_path_factory.mktemp("missing") / "gen.bcf"
    path.write_bytes(
        bcf.encode_header(hdr)
        + b"".join(bcf.encode_record(r, hdr) for r in rows)
    )
    return str(path)


def _bcf_read(path):
    import pyarrow as pa

    from hadoop_bam_spark.sources.bcf_source import BCFReader

    reader = BCFReader({"path": path})
    return pa.Table.from_batches([
        b for p in reader.partitions() for b in reader.read(p)
    ]).to_pylist()


def test_bcf_missing_alt_filter_read_null(spark, missing_bcf, monkeypatch):
    """Missing ALT, FILTER and FORMAT read as null on the vectorized BCF
    decoder and on its scalar fallback, in process and through Spark."""
    import hadoop_bam_spark.sources as sources
    from hadoop_bam_spark.formats import bcf_vec

    def no_rows(*a, **k):
        raise AssertionError("vectorized decode fell back to row tuples")

    with monkeypatch.context() as m:
        m.setattr(sources, "row_batches", no_rows)
        vec = _bcf_read(missing_bcf)
    _assert_missing_null(vec, NO_FORMAT)

    def unsupported(*a, **k):
        raise bcf_vec.VecUnsupported("forced")

    with monkeypatch.context() as m:
        m.setattr(bcf_vec.BCFBatchDecoder, "decode", unsupported)
        scalar = _bcf_read(missing_bcf)
    assert scalar == vec

    sources.register_all(spark)
    _assert_missing_null(
        spark.read.format("bcf").load(missing_bcf).collect(), NO_FORMAT
    )
