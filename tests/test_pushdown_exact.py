"""Exact ``rname``/``pos`` pushdown in the BAM source.

The BAM source enforces ``rname`` EqualTo/In and integer ``pos`` bounds
itself and hands back to Spark only the filters it cannot enforce, so a
filtered region query plans no residual ``Filter``. Every query here is
checked against a brute-force answer computed in Python from a full scan of
a seeded ``tests/textgen.py`` BAM with a ``.bai``."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql.datasource import (
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
)

from hadoop_bam_spark.formats import bai
from hadoop_bam_spark.sources import INT32_MAX, INT32_MIN, pushed_intervals
from tests import textgen

S, E = 100_000, 200_000
#: small splits, so index pruning shows in the partition count
SPLIT = "4096"


@pytest.fixture(scope="module")
def gen_bam(tmp_path_factory):
    """(path, {qname: (rname, pos, end)}) of an indexed textgen BAM, with
    1-based inclusive ``pos``/``end`` (``end`` as the overlap residual
    computes it: one base for a record without reference-consuming ops)."""
    bodies = textgen.gen_bam_records(3000, seed=5)
    path = str(tmp_path_factory.mktemp("exact") / "gen.bam")
    with open(path, "wb") as fh:
        fh.write(textgen.bam_file(bodies))
    with open(path + ".bai", "wb") as fh:
        bai.build_bai(path).write(fh)
    names = [n for n, _ in textgen.GEN_BAM_REFS]
    spans = {}
    for i, body in enumerate(bodies):
        rid, pos0, end0 = textgen.bam_span(body)
        spans[f"gen5:{i}"] = (names[rid] if rid >= 0 else None, pos0 + 1, end0)
    return path, spans


def _bam(spark, path, **opts):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    r = spark.read.format("bam").option("split_size", SPLIT)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load(path)


def _qnames(df):
    return sorted(r.qname for r in df.select("qname").collect())


def _brute(spans, keep):
    return sorted(q for q, (rname, pos, end) in spans.items()
                  if keep(rname, pos, end))


def _filter_nodes(df) -> list:
    """The ``Filter`` nodes of the executed plan, one line each."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return [ln.strip() for ln in plan.splitlines() if "Filter (" in ln]


def test_full_scan_is_the_generator(spark, gen_bam):
    """The brute-force answers below come from the generator's spans; this
    ties them to what a full scan of the file returns."""
    path, spans = gen_bam
    rows = _bam(spark, path).select("qname", "rname", "pos").collect()
    assert sorted((r.qname, r.rname, r.pos) for r in rows) == sorted(
        (q, rname, pos) for q, (rname, pos, _) in spans.items())


POS_CASES = {
    "gt": (lambda c: c > S, lambda p: p > S),
    "ge": (lambda c: c >= S, lambda p: p >= S),
    "lt": (lambda c: c < E, lambda p: p < E),
    "le": (lambda c: c <= E, lambda p: p <= E),
    "both": (lambda c: (c >= S) & (c <= E), lambda p: S <= p <= E),
}


@pytest.mark.parametrize("case", sorted(POS_CASES))
def test_rname_eq_with_pos_bounds(spark, gen_bam, case):
    path, spans = gen_bam
    col_pred, py_pred = POS_CASES[case]
    df = _bam(spark, path).filter(
        (F.col("rname") == "chr1") & col_pred(F.col("pos")))
    want = _brute(spans, lambda r, p, _: r == "chr1" and py_pred(p))
    assert want
    assert _qnames(df) == want
    assert df.count() == len(want)


def test_isin_two_contigs(spark, gen_bam):
    path, spans = gen_bam
    df = _bam(spark, path).filter(
        F.col("rname").isin("chr1", "chr2") & (F.col("pos") <= 50_000))
    want = _brute(spans, lambda r, p, _: r in ("chr1", "chr2") and p <= 50_000)
    assert {spans[q][0] for q in want} == {"chr1", "chr2"}
    assert _qnames(df) == want


def test_contig_missing_from_header(spark, gen_bam):
    path, spans = gen_bam
    base = _bam(spark, path)
    assert base.filter(F.col("rname") == "chrZ").count() == 0
    df = base.filter(F.col("rname").isin("chr2", "chrZ"))
    assert _qnames(df) == _brute(spans, lambda r, p, _: r == "chr2")


def test_two_contig_equalities(spark, gen_bam):
    """``rname == a AND rname == b`` selects nothing, whether Catalyst
    folds it away or the source receives both filters."""
    from hadoop_bam_spark.sources.bam_source import BAMReader

    path, _ = gen_bam
    df = _bam(spark, path).filter(
        (F.col("rname") == "chr1") & (F.col("rname") == "chr2"))
    assert df.count() == 0
    for opts in ({}, {"intervals": "chr1:1-1000000"}):
        rd = BAMReader({"path": path, "split_size": SPLIT, **opts})
        flts = [EqualTo(("rname",), "chr1"), EqualTo(("rname",), "chr2")]
        assert rd.pushFilters(flts) == []
        assert sum(b.num_rows for p in rd.partitions() for b in rd.read(p)) == 0


def test_read_starting_before_region_is_excluded(spark, gen_bam):
    """A read that starts one base before the region and overlaps it is in
    the index's chunk spans, so only the source's start-range mask can
    drop it (the parent plan dropped it in Catalyst's residual)."""
    path, spans = gen_bam
    q, (_, p0, _) = min(
        (q, v) for q, v in spans.items()
        if v[0] == "chr1" and v[2] - v[1] >= 2 and v[1] > 1000)
    s, e = p0 + 1, p0 + 1000
    df = _bam(spark, path).filter(
        (F.col("rname") == "chr1") & (F.col("pos") >= s) & (F.col("pos") <= e))
    got = _qnames(df)
    assert q not in got
    assert got == _brute(spans, lambda r, p, _: r == "chr1" and s <= p <= e)
    assert q in _qnames(_bam(spark, path, intervals=f"chr1:{s}-{e}"))


def test_intervals_option_plus_filter(spark, gen_bam):
    """Both masks apply: records overlap an option interval AND start in
    the pushed range."""
    path, spans = gen_bam
    ivs = [("chr1", 100_000, 300_000), ("chr2", 1, 100_000)]
    df = _bam(spark, path,
              intervals="chr1:100000-300000,chr2:1-100000").filter(
        (F.col("rname") == "chr1") & (F.col("pos") <= 200_000))
    want = _brute(spans, lambda r, p, end: r == "chr1" and p <= 200_000 and any(
        r == c and p <= hi and end >= lo for c, lo, hi in ivs))
    assert want
    assert _qnames(df) == want


def test_unmapped_option_plus_rname(spark, gen_bam):
    """``unmapped=true`` plans the unplaced tail too; ``rname ==`` drops
    every one of its records (their rname is null)."""
    path, spans = gen_bam
    assert any(v[0] is None for v in spans.values())
    base = _bam(spark, path, unmapped="true")
    df = base.filter(F.col("rname") == "chr2")
    assert _qnames(df) == _brute(spans, lambda r, p, _: r == "chr2")
    df = base.filter((F.col("rname") == "chr2") & (F.col("pos") > S))
    assert _qnames(df) == _brute(spans, lambda r, p, _: r == "chr2" and p > S)


def test_unmapped_tail_not_planned_under_rname(spark, gen_bam):
    """No unplaced read passes a pushed ``rname`` filter, so ``unmapped=true``
    plans no ``unmapped_only`` partition for it; without the filter it does."""
    from hadoop_bam_spark.sources.bam_source import BAMReader

    path, spans = gen_bam
    opts = {"path": path, "split_size": SPLIT, "unmapped": "true"}
    assert any(getattr(p, "unmapped_only", False)
               for p in BAMReader(opts).partitions())
    rd = BAMReader(opts)
    rd.pushFilters([EqualTo(("rname",), "chr2")])
    parts = rd.partitions()
    assert parts and not any(getattr(p, "unmapped_only", False) for p in parts)
    want = _brute(spans, lambda r, p, _: r == "chr2")
    got = sorted(q for p in parts for b in rd.read(p)
                 for q in b.column("qname").to_pylist())
    assert got == want
    df = _bam(spark, path, unmapped="true").filter(F.col("rname") == "chr2")
    assert df.count() == len(want)


def test_isin_with_null_bam(spark, gen_bam):
    """A null in ``isin`` never equals a contig: it is dropped at
    pushdown, where sorting it with the names used to crash planning."""
    path, spans = gen_bam
    base = _bam(spark, path)
    want = _brute(spans, lambda r, p, _: r == "chr1")
    assert base.where(F.col("rname").isin("chr1", None)).count() == len(want)
    assert base.where(F.col("rname") == "chr1").count() == len(want)


def test_isin_with_null_vcf(spark, tmp_path):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    rows = textgen.gen_vcf_rows(400)
    path = tmp_path / "gen.vcf"
    path.write_text(textgen.gen_vcf_text(rows))
    df = spark.read.format("vcf").load(str(path))
    want = sum(1 for r in rows if r[0] == "2")
    assert want
    assert df.where(F.col("contig").isin("2", None)).count() == want
    assert df.where(F.col("contig") == "2").count() == want


# --- plans and residuals ----------------------------------------------


def test_pushed_query_plans_no_filter(spark, gen_bam):
    path, _ = gen_bam
    for df in (
        _bam(spark, path).filter((F.col("rname") == "chr1")
                                 & (F.col("pos") >= S) & (F.col("pos") <= E)),
        _bam(spark, path).filter(F.col("rname").isin("chr1", "chr2")),
        _bam(spark, path).filter((F.col("rname") == "chr1")
                                 & F.col("rname").isNotNull()),
    ):
        assert _filter_nodes(df) == []


@pytest.mark.parametrize("residual", ["pos", "mapq"])
def test_unenforced_filters_stay_residual(spark, gen_bam, residual):
    """A ``pos`` bound with no contig, and a filter on another column, stay
    with Spark: the plan keeps a ``Filter`` on exactly those."""
    path, spans = gen_bam
    cond = (F.col("pos") > S if residual == "pos"
            else (F.col("rname") == "chr1") & (F.col("mapq") > 20))
    df = _bam(spark, path).filter(cond)
    filters = _filter_nodes(df)
    assert len(filters) == 1, filters
    assert residual in filters[0]
    assert "rname" not in filters[0]
    if residual == "mapq":
        assert "pos" not in filters[0]
    rows = df.select("qname", "mapq").collect()
    if residual == "pos":
        assert sorted(r.qname for r in rows) == _brute(
            spans, lambda r, p, _: p > S)
    else:
        assert rows and all(r.mapq > 20 for r in rows)
        assert {spans[r.qname][0] for r in rows} == {"chr1"}


def test_push_filters_is_eager(gen_bam):
    """``anysam`` and the benchmark call ``pushFilters`` and drop its
    result: the pruning and the start ranges must not wait for the caller
    to consume it."""
    from hadoop_bam_spark.sources.bam_source import BAMReader

    path, spans = gen_bam
    opts = {"path": path, "split_size": SPLIT}
    full = len(BAMReader(opts).partitions())
    rd = BAMReader(opts)
    mapq = GreaterThan(("mapq",), 20)
    out = rd.pushFilters([EqualTo(("rname",), "chr1"),
                          GreaterThanOrEqual(("pos",), S),
                          LessThanOrEqual(("pos",), S + 5000), mapq])
    assert isinstance(out, list) and len(out) == 1 and out[0] is mapq
    rd2 = BAMReader(opts)
    rd2.pushFilters([EqualTo(("rname",), "chr1"),
                     GreaterThanOrEqual(("pos",), S),
                     LessThanOrEqual(("pos",), S + 5000)])
    parts = rd2.partitions()
    assert 0 < len(parts) < full
    got = sorted(q for p in parts for b in rd2.read(p)
                 for q in b.column("qname").to_pylist())
    assert got == _brute(
        spans, lambda r, p, _: r == "chr1" and S <= p <= S + 5000)


def test_anysam_union_counts(spark, gen_bam):
    """``sam_any`` forwards the filters to its BAM reader but keeps
    returning all of them, so Spark re-applies them over the union."""
    path, spans = gen_bam
    base = spark.read.format("sam_any").load(path)
    for cond, keep in (
        ((F.col("rname") == "chr1") & (F.col("pos") >= S) & (F.col("pos") <= E),
         lambda r, p, _: r == "chr1" and S <= p <= E),
        (F.col("rname") == "chr2", lambda r, p, _: r == "chr2"),
    ):
        assert base.filter(cond).count() == len(_brute(spans, keep))


def test_pushed_intervals_exact_set():
    """Which filters the start ranges fully express, by reference."""
    name = EqualTo(("rname",), "c")
    gt, le = GreaterThan(("pos",), 10), LessThanOrEqual(("pos",), 20)
    nn_name, nn_pos = IsNotNull(("rname",)), IsNotNull(("pos",))
    frac = LessThan(("pos",), 30.5)
    other = GreaterThan(("mapq",), 5)
    pd = pushed_intervals([name, gt, le, nn_name, nn_pos, frac, other],
                          "rname", "pos")
    assert pd.names == {"c"}
    assert pd.starts == [("c", 11, 20)]
    assert pd.intervals == [("c", 11, 20)]
    assert [id(f) for f in pd.exact] == [id(f) for f in (name, gt, le,
                                                         nn_name, nn_pos)]
    # no name: nothing is exact, nothing is pushed
    pd = pushed_intervals([gt, nn_pos], "rname", "pos")
    assert (pd.names, pd.intervals, pd.starts, pd.exact) == (None, None, None, [])
    # unbounded start ranges span the int32 column; pruning clamps
    isin = In(("rname",), ("b", None, "a"))
    pd = pushed_intervals([isin], "rname", "pos")
    assert pd.names == {"a", "b"}
    assert pd.starts == [("a", INT32_MIN, INT32_MAX), ("b", INT32_MIN, INT32_MAX)]
    assert pd.intervals[0][1:] == (0, (1 << 31) - 2)
    assert pd.exact == [isin]
    # a contradiction is exact and empty
    pd = pushed_intervals([name, EqualTo(("rname",), "d")], "rname", "pos")
    assert pd.names == set() and pd.starts == [] and pd.intervals is None
    assert len(pd.exact) == 2
