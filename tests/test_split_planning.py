"""Split sizing: ``sources.split_size`` gives an unbounded scan one split per
core (never under 1 MiB, never over ``split_size``), keeps bounded plans on
``split_size``, and no plan changes the rows a scan returns.

The planner tests call ``reader.partitions()`` and ``reader.read()`` directly
(no Spark) under ``SPARK_GRAFT_CPUS`` set to 1, 2, 4 and 8, on ``textgen``
inputs of about 4 MiB, so 4 cores get at least 4 splits of 1 MiB or more."""

from __future__ import annotations

import ast
import collections
import itertools
import math
import os
import random

import pytest

from tests import textgen

CPUS = (1, 2, 4, 8)
MIB = 1 << 20
SOURCES_DIR = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "hadoop_bam_spark", "sources")


def _write(path, data: bytes) -> str:
    with open(path, "wb") as fh:
        fh.write(data)
    return str(path)


@pytest.fixture(scope="module")
def inputs(tmp_path_factory):
    """``{name: (format, path)}``: every file over 3 MiB."""
    from hadoop_bam_spark.formats.bai import build_bai
    from hadoop_bam_spark.tools.index import build_sbi

    root = tmp_path_factory.mktemp("splits")
    bam = textgen.bam_file(textgen.gen_bam_records(36000))
    out = {}
    for name in ("bam_bare", "bam_sbi", "bam_bai"):
        d = root / name
        d.mkdir()
        out[name] = ("bam", _write(d / "x.bam", bam))
    p = out["bam_sbi"][1]
    with open(p + ".sbi", "wb") as fh:
        build_sbi(p, granularity=256).write(fh)
    p = out["bam_bai"][1]
    with open(p + ".bai", "wb") as fh:
        build_bai(p).write(fh)
    vcf = textgen.gen_vcf_text(textgen.gen_vcf_rows(60000))
    # stored BGZF blocks: the same block and line edges at 4x the bytes
    out["bcf"] = ("bcf", _write(
        root / "x.bcf", textgen.bgzf_compress(textgen.bcf_file(vcf), level=0)))
    out["vcf_gz"] = ("vcf", _write(
        root / "x.vcf.gz", textgen.bgzf_compress(vcf.encode(), level=0)))
    out["sam"] = ("sam", _write(root / "x.sam", textgen.gen_sam_text(22000).encode()))
    out["fastq"] = ("fastq", _write(
        root / "x.fastq", textgen.gen_fastq_text(22000).encode()))
    for fmt, path in out.values():
        assert os.path.getsize(path) > 3 * MIB
    return out


def _reader(fmt: str, options: dict):
    from hadoop_bam_spark.sources.bam_source import BAMReader
    from hadoop_bam_spark.sources.bcf_source import BCFReader
    from hadoop_bam_spark.sources.fastq_source import FastqReader
    from hadoop_bam_spark.sources.sam_source import SAMReader
    from hadoop_bam_spark.sources.vcf_source import VCFReader

    return {"bam": BAMReader, "bcf": BCFReader, "vcf": VCFReader,
            "sam": SAMReader, "fastq": FastqReader}[fmt](options)


def _scan(rd):
    """(partitions, every row as a table) of one reader."""
    import pyarrow as pa

    parts = rd.partitions()
    batches = [b for p in parts for b in rd.read(p)]
    return parts, pa.Table.from_batches(batches)


@pytest.mark.parametrize(
    "name", ["bam_bare", "bam_sbi", "bam_bai", "bcf", "vcf_gz", "sam", "fastq"])
def test_unbounded_plans_split_per_core_and_keep_rows(inputs, name, monkeypatch):
    fmt, path = inputs[name]
    size = os.path.getsize(path)
    plans = {}
    for cpus in CPUS:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
        plans[cpus] = _scan(_reader(fmt, {"path": path}))
    counts = {cpus: len(parts) for cpus, (parts, _) in plans.items()}
    assert counts[1] == 1, counts
    assert counts[4] >= 4, counts
    # never more splits than whole MiB allow
    assert max(counts.values()) <= math.ceil(size / MIB), counts
    _, rows = plans[1]
    assert rows.num_rows > 20000
    for cpus in CPUS[1:]:
        # the splits tile the file in order, so equal tables (a stronger
        # check than equal multisets) mean every row is read exactly once
        assert plans[cpus][1].equals(rows), cpus


def _bounded_plans(fmt, path, options, filters=()):
    from hadoop_bam_spark.sources import EmptyPartition

    rd = _reader(fmt, dict(options, path=path))
    if filters:
        rd.pushFilters(list(filters))
    parts = rd.partitions()
    assert not all(isinstance(p, EmptyPartition) for p in parts)
    return parts


BOUNDED = [
    ("bam_bare", {"intervals": "chr1:1000-200000"}, ()),
    ("bam_sbi", {"intervals": "chr1:1000-200000"}, ()),
    ("bam_bai", {"intervals": "chr1:1000-200000,chr2:5-90000"}, ()),
    ("bam_bai", {}, (("rname", "chr2"),)),
    ("bam_sbi", {}, (("rname", "chr1"),)),
    ("bam_bai", {"unmapped": "true"}, ()),
    ("bam_bare", {"unmapped": "true"}, ()),
    ("bcf", {"intervals": "1:1-2000000"}, ()),
    ("vcf_gz", {"intervals": "2:1-2000000"}, ()),
]


@pytest.mark.parametrize("name,options,eq", BOUNDED)
def test_bounded_plans_ignore_core_count(inputs, name, options, eq, monkeypatch):
    """Index-driven and filtered scans plan on ``split_size`` alone."""
    from pyspark.sql.datasource import EqualTo

    fmt, path = inputs[name]
    filters = [EqualTo((col,), v) for col, v in eq]
    plans = []
    for cpus in CPUS:
        monkeypatch.setenv("SPARK_GRAFT_CPUS", str(cpus))
        plans.append(_bounded_plans(fmt, path, options, filters))
    assert all(p == plans[0] for p in plans[1:])


def test_split_size_caps_the_per_core_split(inputs, monkeypatch):
    from hadoop_bam_spark.sources import split_size

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "4")
    assert split_size({}, 100 * MIB) == 25 * MIB
    assert split_size({}, 1000 * MIB) == 32 * MIB
    assert split_size({}, 2 * MIB) == MIB
    assert split_size({"split_size": "4096"}, 100 * MIB) == 4096
    assert split_size({"split_size": "4096"}, None) == 4096
    assert split_size({}, None) == 32 * MIB
    # an explicit split_size still caps a raw unbounded plan
    _, path = inputs["bam_bare"]
    parts = _reader("bam", {"path": path, "split_size": str(MIB // 2)}).partitions()
    assert len(parts) == math.ceil(os.path.getsize(path) / (MIB // 2))


def test_bai_read_once_per_file(tmp_path, monkeypatch):
    """A bounded scan of BAMs with a ``.bai`` but no ``.sbi`` parses each
    index once per planning call, not once for pruning and again for the
    linear-index splits."""
    from hadoop_bam_spark.formats import bai
    from hadoop_bam_spark.sources.bam_source import BAMReader

    for i in range(2):
        p = _write(tmp_path / f"p{i}.bam", textgen.bam_file(
            textgen.gen_bam_records(2000, seed=i)))
        with open(p + ".bai", "wb") as fh:
            bai.build_bai(p).write(fh)
    calls = collections.Counter()
    real = bai.read_bai

    def counting(path, *a, **k):
        calls[path] += 1
        return real(path, *a, **k)

    monkeypatch.setattr(bai, "read_bai", counting)
    rd = BAMReader({"path": str(tmp_path), "intervals": "chr1:1-300000",
                    "split_size": "8192"})
    parts = rd.partitions()
    assert len(parts) > 2
    assert calls == {str(tmp_path / f"p{i}.bam.bai"): 1 for i in range(2)}


def test_split_size_rule_lives_in_one_module():
    """No source module but ``sources/__init__.py`` defines a split-size
    default or reads the ``split_size`` option itself."""
    offenders = []
    for fn in sorted(os.listdir(SOURCES_DIR)):
        if not fn.endswith(".py") or fn == "__init__.py":
            continue
        tree = ast.parse(open(os.path.join(SOURCES_DIR, fn)).read())
        docs = {
            id(node.body[0].value) for node in ast.walk(tree)
            if isinstance(node, (ast.Module, ast.ClassDef, ast.FunctionDef))
            and node.body and isinstance(node.body[0], ast.Expr)
            and isinstance(node.body[0].value, ast.Constant)
        }
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and node.value == "split_size"
                    and id(node) not in docs):
                offenders.append(f"{fn}:{node.lineno} reads 'split_size'")
            if isinstance(node, (ast.Assign, ast.AnnAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                for t in targets:
                    if isinstance(t, ast.Name) and "SPLIT_SIZE" in t.id.upper():
                        offenders.append(f"{fn}:{node.lineno} defines {t.id}")
    assert offenders == []


def test_spark_scan_splits_per_core_and_sorts_the_same(spark, tmp_path):
    """Through Spark: an unsorted 3 MB BAM with no sidecars plans
    ``min(cpus, ceil(bytes / 1 MiB))`` partitions, with or without
    ``split_size`` 4 MiB; its coordinate sort and indexed write is a valid
    BAM holding the same ordered records as a write from 512 KiB splits."""
    from pyspark.sql import functions as F

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats import bam, bgzf
    from hadoop_bam_spark.session import local_cpus
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.tools.bgzf_bam_validator import validate_file

    register_all(spark)
    bodies = textgen.gen_bam_records(26000, seed=11)
    random.Random(11).shuffle(bodies)
    path = _write(tmp_path / "unsorted.bam", textgen.bam_file(bodies))
    size = os.path.getsize(path)
    assert 2 * MIB < size <= 4 * MIB
    with open(path, "rb") as fh:
        hdr, refs, _ = bam.read_header(bgzf.BGZFReader(fh))
    hdr = hdr.with_sort_order("coordinate")

    def sort_write(out, **options):
        df = spark.read.format("bam").options(**options).load(path)
        sinks.write_bam(
            df.orderBy(F.col("rname").asc_nulls_last(), F.col("pos")),
            out, hdr, refs=refs, index_bai=True)
        return df.rdd.getNumPartitions()

    per_core = min(local_cpus(), math.ceil(size / MIB))
    outs = {
        # split_size is only a cap: perfbench's 4 MiB plans per core too
        (): per_core,
        (("split_size", str(4 * MIB)),): per_core,
        (("split_size", str(MIB // 2)),): math.ceil(size / (MIB // 2)),
    }
    streams = []
    for i, (options, n_parts) in enumerate(outs.items()):
        out = str(tmp_path / f"sorted{i}.bam")
        assert sort_write(out, **dict(options)) == n_parts, options
        assert validate_file(out) == []
        assert os.path.exists(out + ".bai")
        rows = [tuple(r) for r in spark.read.format("bam").load(out).collect()]
        assert len(rows) == len(bodies)
        streams.append(rows)

    def by_key(rows):
        """Runs of one (rname, pos) sort key, each as a sorted multiset:
        the order within a run follows the input partitions."""
        return [(k, sorted(map(repr, g)))
                for k, g in itertools.groupby(rows, key=lambda r: (r[2], r[3]))]

    first = by_key(streams[0])
    assert all(by_key(rows) == first for rows in streams[1:])
