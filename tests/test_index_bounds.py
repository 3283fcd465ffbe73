"""Brute-force safety of the two-sided interval -> chunk query
(``bai.ref_chunks``) over BAI, tabix and CSI.

Each index is built over a coordinate-sorted file with long records that
cross many 16 kb windows and coarse bin edges, a stretch with no record
starts, and contigs queried up to and past their last record. For every
query, every record overlapping an interval must start at a voffset inside
a returned span, and every span must lie inside a span of the query as it
was before it had a right bound (``_unbounded_spans``): the bound only
prunes. The planning test shows the bound keeping a 1 kb query on the one
split that holds its reads.

CSI indexes are also checked against htslib's query left bound, the
``loffset`` of a bin at the query start (``_min_off``), and tabix indexes of
a headerless file against a record at voffset 0."""

import random
import struct

import numpy as np
import pytest

from hadoop_bam_spark.formats import bai, bam, bcf, bgzf, csi, tabix
from hadoop_bam_spark.formats.sam import SAMHeader

from tests import textgen, writers

CONTIGS = [("chr1", 3_000_000), ("chr2", 1_200_000), ("chr3", 400_000)]
#: no record starts in this stretch of chr1; long reads still cross it
GAP = (1_000_000, 1_400_000)
#: reference span of every n-th read: long ones cross many 16 kb windows,
#: and 1 Mb-plus ones cross coarse bin edges
LONG_SPANS = (20_000, 70_000, 300_000, 1_500_000)


def _reg2bins(beg, end, min_shift, depth):
    """Bins that may hold records overlapping [beg, end) (hts-specs CSI
    reg2bins; the SAM spec's for BAI at (14, 5))."""
    end = min(end, 1 << (min_shift + 3 * depth))
    end = max(end, beg + 1) - 1
    bins, t = [], 0
    for level in range(depth + 1):
        s = min_shift + 3 * (depth - level)
        bins.extend(range(t + (beg >> s), t + (end >> s) + 1))
        t += 1 << 3 * level
    return bins


def _unbounded_spans(refs, name_to_id, intervals, min_shift=14, depth=5):
    """The query with only its left bound, the linear-index entry of the
    start's window (none for CSI, whose refs carry no linear index)."""
    chunks = []
    for contig, start, stop in intervals:
        rid = name_to_id.get(contig)
        if rid is None:
            continue
        r, beg0 = refs[rid], max(start - 1, 0)
        min_off = (r.linear[min(beg0 >> min_shift, len(r.linear) - 1)]
                   if r.linear else 0)
        chunks += [(b, e)
                   for bin_ in _reg2bins(beg0, stop, min_shift, depth)
                   for b, e in r.bins.get(bin_, ()) if e > min_off]
    return bai.merge_chunks(chunks)


def _check_spans(spans, parent, recs, name_to_id, intervals):
    """Every record overlapping an interval starts inside ``spans``, and
    every span lies inside one of ``parent``."""
    rid, pos0, end0, voff = recs
    begs = np.array([b for b, _ in spans] or [0], dtype=np.uint64)
    ends = np.array([e for _, e in spans] or [0], dtype=np.uint64)
    for contig, start, stop in intervals:
        want = name_to_id.get(contig)
        if want is None:
            continue
        hit = (rid == want) & (pos0 < stop) & (end0 > start - 1)
        v = voff[hit]
        i = np.searchsorted(begs, v, side="right") - 1
        inside = (i >= 0) & (v < ends[np.maximum(i, 0)]) if spans else v < 0
        assert inside.all(), (
            f"{contig}:{start}-{stop}: record at voffset "
            f"{int(v[~inside][0]):#x} outside {spans}")
    for b, e in spans:
        assert any(pb <= b and e <= pe for pb, pe in parent), (b, e, parent)


def _min_off(r, beg0, min_shift, depth):
    """htslib's lower bound for a CSI query starting at ``beg0``
    (``hts_itr_query``): the ``loffset`` of the nearest present bin at or
    left of beg0's finest bin, moving left among siblings and up to the
    parent from a first child; 0 when none is present."""
    bin_ = ((1 << 3 * depth) - 1) // 7 + (beg0 >> min_shift)
    while bin_ and bin_ not in r.bins:
        parent = (bin_ - 1) >> 3
        bin_ = bin_ - 1 if bin_ > (parent << 3) + 1 else parent
    return r.loffset.get(bin_, 0)


def _check_min_off(refs, recs, name_to_id, intervals, min_shift=14, depth=5):
    """Every record overlapping an interval starts at or after
    ``_min_off``."""
    rid, pos0, end0, voff = recs
    for contig, start, stop in intervals:
        want = name_to_id.get(contig)
        if want is None:
            continue
        hit = (rid == want) & (pos0 < stop) & (end0 > start - 1)
        lo = _min_off(refs[want], max(start - 1, 0), min_shift, depth)
        early = voff[hit] < np.uint64(lo)
        assert not early.any(), (
            f"{contig}:{start}-{stop}: record at voffset "
            f"{int(voff[hit][early][0]):#x} before loffset {lo:#x}")


def _queries(contigs, last_pos, seed=11):
    """Interval lists: random 1 kb to 100 kb intervals, the ends of every
    contig, past its last record, inside the gap, multi-interval lists and
    an unknown contig."""
    rng = random.Random(seed)
    single = []
    for name, ln in contigs:
        single += [(name, 1, 1), (name, 1, 1000), (name, ln - 999, ln),
                   (name, last_pos[name] + 1, last_pos[name] + 20_000),
                   (name, ln + 1, ln + 50_000)]
        for width in (1000, 10_000, 100_000):
            for _ in range(25):
                s = rng.randint(1, ln)
                single.append((name, s, s + width - 1))
    single += [("chr1", GAP[0] + 1, GAP[0] + 1000),
               ("chr1", GAP[0] + 150_000, GAP[0] + 160_000),
               ("chr1", GAP[1] - 1000, GAP[1]), ("chrZ", 1, 10_000)]
    lists = [[q] for q in single]
    for _ in range(40):
        lists.append(rng.sample(single, rng.randint(2, 4)))
    return lists


def _rows(n=12_000, seed=3):
    """SAM_SCHEMA rows: 100 bp reads, every 9th read long (LONG_SPANS, as an
    N-skip cigar), every 23rd placed but unmapped, none starting in GAP,
    then an unplaced tail."""
    rng = random.Random(seed)
    placed = []
    for _ in range(n):
        name, ln = rng.choice(CONTIGS)
        pos = rng.randint(1, ln - 100)
        if name == "chr1" and GAP[0] <= pos < GAP[1]:
            pos -= GAP[0] // 2
        placed.append((name, pos))
    order = {name: i for i, (name, _) in enumerate(CONTIGS)}
    placed.sort(key=lambda c: (order[c[0]], c[1]))
    rows = []
    for i, (name, pos) in enumerate(placed):
        if i % 23 == 0:
            rows.append((f"u{i}", 4, name, pos, 0, None, None, 0, 0,
                         "ACGT", "IIII", {}))
            continue
        cigar = "100M"
        if i % 9 == 0:
            span = LONG_SPANS[i // 9 % len(LONG_SPANS)]
            cigar = f"50M{span - 100}N50M"
        rows.append((f"r{i}", 0, name, pos, 60, cigar, None, 0, 0,
                     "ACGT" * 25, "I" * 100, {"NM": "i:0"}))
    rows += [(f"t{i}", 4, None, 0, 0, None, None, 0, 0, "ACGT", "IIII", {})
             for i in range(30)]
    return rows


def _header():
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6\tSO:coordinate"] + [
        f"@SQ\tSN:{name}\tLN:{ln}" for name, ln in CONTIGS]
    hdr.sequences = {name: (i, ln) for i, (name, ln) in enumerate(CONTIGS)}
    return hdr


def _walk_bam(path):
    """(rid, pos0, end0, voffset) arrays of every placed record, with the
    index builders' one-base span for unmapped reads."""
    out = []
    with open(path, "rb") as fh:
        r = bgzf.BGZFReader(fh)
        _, refs, _ = bam.read_header(r)
        while True:
            at = r.tell_voffset()
            head = r.read(4)
            if len(head) < 4:
                break
            body = r.read(struct.unpack("<i", head)[0])
            rid, pos0 = struct.unpack_from("<ii", body, 0)
            if rid < 0:
                continue
            cigar = bam.decode_record(body, refs)[5]
            ln = bam.cigar_ref_length(cigar) if cigar else 1
            out.append((rid, pos0, pos0 + max(ln, 1), at))
    a = np.array(out, dtype=np.int64)
    return a[:, 0], a[:, 1], a[:, 2], a[:, 3].astype(np.uint64)


def _last_pos(recs, names):
    rid, pos0 = recs[0], recs[1]
    return {n: int(pos0[rid == i].max()) + 1 for i, n in enumerate(names)}


def _check_bai(idx, path):
    recs = _walk_bam(path)
    names = [n for n, _ in CONTIGS]
    name_to_id = {n: i for i, n in enumerate(names)}
    for intervals in _queries(CONTIGS, _last_pos(recs, names)):
        spans = idx.span_for_intervals(CONTIGS, intervals)
        parent = _unbounded_spans(idx.refs, name_to_id, intervals)
        _check_spans(spans, parent, recs, name_to_id, intervals)


@pytest.fixture(scope="module")
def sorted_bam(tmp_path_factory):
    path = str(tmp_path_factory.mktemp("bounds") / "long.bam")
    with open(path, "wb") as f:
        writers.write_bam(f, _header(), _rows())
    return path


def test_bai_spans_hold_every_overlapping_record(sorted_bam):
    _check_bai(bai.build_bai(sorted_bam), sorted_bam)


def test_bai_bound_prunes_long_read_chunks(sorted_bam):
    """The long reads' coarse-bin chunks give the right bound something to
    drop: over all the query lists, the bounded spans reach over fewer
    compressed bytes."""
    idx = bai.build_bai(sorted_bam)
    name_to_id = {n: i for i, (n, _) in enumerate(CONTIGS)}
    ours = theirs = 0
    for intervals in _queries(CONTIGS, {n: 0 for n, _ in CONTIGS}):
        for b, e in idx.span_for_intervals(CONTIGS, intervals):
            ours += (e >> 16) - (b >> 16)
        for b, e in _unbounded_spans(idx.refs, name_to_id, intervals):
            theirs += (e >> 16) - (b >> 16)
    assert ours < theirs


def test_csi_from_bai_spans_hold_every_overlapping_record(sorted_bam):
    """A BAM's .csi (``samtools index -c`` shape): no linear index, so only
    the right bound applies. Its ``loffset``s, filled from the BAI linear
    index, hold as htslib's left bound."""
    idx = csi.csi_from_bai(bai.build_bai(sorted_bam))
    _check_bai(csi.BAMIndexView(idx), sorted_bam)
    recs = _walk_bam(sorted_bam)
    names = [n for n, _ in CONTIGS]
    name_to_id = {n: i for i, n in enumerate(names)}
    for intervals in _queries(CONTIGS, _last_pos(recs, names)):
        _check_min_off(idx.refs, recs, name_to_id, intervals)


def test_written_bai_spans_hold_every_overlapping_record(spark, tmp_path):
    """The .bai write_bam merges from per-part executor stats."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA

    rows = _rows(n=6000, seed=8)
    # the contig names sort in dictionary order, so this is coordinate order
    df = spark.createDataFrame(rows, SAM_SCHEMA).orderBy(
        "rname", "pos", "qname")
    path = str(tmp_path / "w.bam")
    sinks.write_bam(df, path, _header(), index_bai=True)
    _check_bai(bai.read_bai(path + ".bai"), path)


def test_bam_source_plans_hold_every_matching_record(sorted_bam):
    """Through the planner, in both query modes: every record overlapping an
    ``intervals`` query, or starting in a pushed rname/pos range, starts
    inside a planned partition's chunk list."""
    from pyspark.sql.datasource import (EqualTo, GreaterThanOrEqual,
                                        LessThanOrEqual)

    from hadoop_bam_spark.sources.bam_source import BAMPartition, BAMReader

    with open(sorted_bam + ".bai", "wb") as f:
        bai.build_bai(sorted_bam).write(f)
    rid, pos0, end0, voff = _walk_bam(sorted_bam)
    names = [n for n, _ in CONTIGS]
    rng = random.Random(5)
    for k in range(120):
        c = rng.randrange(len(CONTIGS))
        width = (1000, 10_000)[k % 2]
        s = rng.randint(1, CONTIGS[c][1] - width)
        e = s + width - 1
        for mode in ("intervals", "pushdown"):
            opts = {"path": sorted_bam, "split_size": str(64 * 1024)}
            if mode == "intervals":
                opts["intervals"] = f"{names[c]}:{s}-{e}"
                hit = (rid == c) & (pos0 < e) & (end0 > s - 1)
            else:
                hit = (rid == c) & (pos0 >= s - 1) & (pos0 < e)
            rd = BAMReader(opts)
            if mode == "pushdown":
                rd.pushFilters([EqualTo(("rname",), names[c]),
                                GreaterThanOrEqual(("pos",), s),
                                LessThanOrEqual(("pos",), e)])
            spans = [ch for p in rd.partitions() if isinstance(p, BAMPartition)
                     for ch in (p.chunks or ((p.vstart, p.vend),))]
            for v in voff[hit].tolist():
                assert any(b <= v < ce for b, ce in spans), (mode, s, e, v)


def _bed_text(seed=4):
    """Sorted BED lines with long features; none start in GAP."""
    rng = random.Random(seed)
    lines = []
    for name, ln in CONTIGS:
        starts = sorted(rng.randrange(ln - 200) for _ in range(3000))
        for i, s in enumerate(starts):
            if name == "chr1" and GAP[0] <= s < GAP[1]:
                continue
            width = LONG_SPANS[i // 7 % 4] if i % 7 == 0 else 150
            lines.append(f"{name}\t{s}\t{s + width}\tf{i}")
    return "\n".join(lines) + "\n"


def _walk_text(path, fields):
    """(rid, pos0, end0, voffset) arrays of every line; ``fields`` maps the
    split line to (contig, beg0, end0)."""
    names, out = {}, []
    with open(path, "rb") as fh:
        for at, _, line in tabix._iter_lines_with_voffsets(fh):
            if not line or line.startswith("#"):
                continue
            contig, beg0, end0 = fields(line.split("\t"))
            out.append((names.setdefault(contig, len(names)), beg0, end0, at))
    a = np.array(out, dtype=np.int64)
    return (a[:, 0], a[:, 1], a[:, 2], a[:, 3].astype(np.uint64)), list(names)


@pytest.mark.parametrize("kind", ["bed", "vcf"])
def test_tabix_spans_hold_every_overlapping_record(tmp_path, kind):
    path = str(tmp_path / f"t.{kind}.gz")
    if kind == "bed":
        text = _bed_text()
        idx_args = dict(fmt=tabix.FMT_GENERIC | tabix.FMT_ZERO_BASED,
                        col_seq=1, col_beg=2, col_end=3)

        def fields(cols):
            return cols[0], int(cols[1]), int(cols[2])
    else:
        rows = textgen.gen_vcf_rows(4000, seed=6)
        text = textgen.gen_vcf_text(rows)
        idx_args = {}

        def fields(cols):
            return cols[0], int(cols[1]) - 1, int(cols[1]) - 1 + len(cols[3])
    with open(path, "wb") as f:
        f.write(textgen.bgzf_compress(text.encode(), block_payload=8192))
    idx = tabix.build_tabix(path, **idx_args)
    recs, names = _walk_text(path, fields)
    assert names == idx.names
    name_to_id = {n: i for i, n in enumerate(names)}
    contigs = [(n, int(recs[2][recs[0] == i].max()) + 1000)
               for i, n in enumerate(names)]
    for intervals in _queries(contigs, _last_pos(recs, names)):
        spans = idx.span_for_intervals(intervals)
        parent = _unbounded_spans(idx.refs, name_to_id, intervals)
        _check_spans(spans, parent, recs, name_to_id, intervals)


def _bcf_variants(seed=2):
    """Sorted VCF_SCHEMA rows; every 11th a structural variant whose END
    lies LONG_SPANS away. None start in GAP."""
    rng = random.Random(seed)
    rows = []
    for name, ln in CONTIGS:
        starts = sorted(rng.randrange(1, ln - 10) for _ in range(2500))
        for i, s in enumerate(starts):
            if name == "chr1" and GAP[0] <= s < GAP[1]:
                continue
            end = s + (LONG_SPANS[i // 11 % 4] if i % 11 == 0 else 0)
            rows.append((name, s, end, f"v{i}", "A", ["T"], 50.0, ["PASS"],
                         {"DP": str(i % 50)}, None))
    return rows


@pytest.mark.parametrize("scheme", [(14, 5), (12, 4), (16, 6)])
def test_csi_bcf_spans_hold_every_overlapping_record(tmp_path, scheme):
    """Through a written .csi: the two-sided spans, and the ``loffset``
    left bound, which the 1.5 Mb variants reaching into later windows
    test."""
    min_shift, depth = scheme
    hdr_text = "\n".join(
        ["##fileformat=VCFv4.2"]
        + [f"##contig=<ID={n},length={ln}>" for n, ln in CONTIGS]
        + ['##FILTER=<ID=PASS,Description="d">',
           '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">',
           "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"]) + "\n"
    hdr = bcf.parse_bcf_header_text(hdr_text)
    path = str(tmp_path / "t.bcf")
    with open(path, "wb") as fh:
        w = bgzf.BGZFWriter(fh)
        w.write(bcf.encode_header(hdr))
        rows = _bcf_variants()
        for r in rows:
            w.write(bcf.encode_record(r, hdr))
        w.close()
    idx = csi.CSIIndex.from_bytes(
        csi.build_csi(path, min_shift=min_shift, depth=depth).to_bytes())
    names = [n for n, _ in CONTIGS]
    name_to_id = {n: i for i, n in enumerate(names)}
    voffs = []
    with open(path, "rb") as fh:
        r = bgzf.BGZFReader(fh)
        bcf.read_bcf_header(r)
        for row in rows:
            voffs.append(r.tell_voffset())
            ls, li = struct.unpack("<II", r.read(8))
            r.read(ls + li)
    recs = (np.array([name_to_id[row[0]] for row in rows]),
            np.array([row[1] - 1 for row in rows]),
            np.array([row[2] for row in rows]),
            np.array(voffs, dtype=np.uint64))
    for intervals in _queries(CONTIGS, _last_pos(recs, names)):
        spans = idx.span_for_intervals(intervals, names)
        parent = _unbounded_spans(idx.refs, name_to_id, intervals,
                                  min_shift, depth)
        _check_spans(spans, parent, recs, name_to_id, intervals)
        _check_min_off(idx.refs, recs, name_to_id, intervals, min_shift,
                       depth)


#: a headerless BED: its first line, at voffset 0, is a 100 kb feature
#: alone in its bin; short features in the same 16 kb window follow
_LONG_FIRST = ["chr1\t0\t100000\tlong" + "x" * 300] + [
    f"chr1\t{s}\t{s + 50}\tf{s}" for s in range(2000, 16000, 7)]
_BED_PRESET = dict(fmt=tabix.FMT_GENERIC | tabix.FMT_ZERO_BASED, col_seq=1,
                   col_beg=2, col_end=3)


def _check_voffset_zero(idx):
    """Window 0 keeps the first line's voffset 0, and a query over that
    line's first kilobase plans a span holding it."""
    assert idx.refs[0].linear[0] == 0
    spans = idx.span_for_intervals([("chr1", 1, 1000)])
    assert spans and spans[0][0] == 0, spans


def _interval_lines(path, intervals):
    """Lines the tabix-text planner reads for ``intervals``, one BGZF block
    per split."""
    from hadoop_bam_spark.sources import tabix_text

    return [line for part in tabix_text.plan_text_partitions(
                [path], {"split_size": "64"}, intervals)
            for chunk in tabix_text.partition_line_chunks(part)
            for line in chunk]


def test_tabix_keeps_a_record_at_voffset_zero(tmp_path):
    """build_tabix over a headerless BGZF BED whose first line spans
    several blocks: an interval read over it still returns that line."""
    path = str(tmp_path / "first.bed.gz")
    with open(path, "wb") as f:
        f.write(textgen.bgzf_compress(
            ("\n".join(_LONG_FIRST) + "\n").encode(), block_payload=64))
    idx = tabix.build_tabix(path, **_BED_PRESET)
    _check_voffset_zero(idx)
    tabix.write_tabix(idx, path + ".tbi")
    assert _LONG_FIRST[0] in _interval_lines(path, [("chr1", 1, 1000)])


def test_written_tbi_keeps_a_record_at_voffset_zero(spark, tmp_path):
    """write_bed(index_tbi=True) with an empty header over several parts
    that all reach window 0: the merged .tbi keeps the first line's 0."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.bed import BED_SCHEMA

    rows = [(c, int(b) + 1, int(e), n, None, None, None)
            for c, b, e, n in (ln.split("\t") for ln in _LONG_FIRST)]
    # in order, four parts
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4),
                               BED_SCHEMA)
    path = str(tmp_path / "w.bed.bgz")
    sinks.write_bed(df, path, index_tbi=True)
    _check_voffset_zero(tabix.read_tabix(path + ".tbi"))
    assert _LONG_FIRST[0] in _interval_lines(path, [("chr1", 1, 1000)])


def _blocks(coffsets, spans):
    """BGZF blocks a reader inflates for ``spans``."""
    return {c for b, e in spans for c in coffsets
            if b >> 16 <= c and (c < e >> 16 or (c == e >> 16 and e & 0xFFFF))}


def test_one_kb_query_plans_only_the_split_holding_its_reads(tmp_path):
    """A sorted textgen BAM cut into 32 KiB splits: for a 1 kb interval
    whose reads all lie in one split, but whose coarse-bin chunks reach into
    the next split to the right, the right bound keeps the plan to one partition and to fewer
    BGZF blocks than the left-bounded chunk list."""
    from hadoop_bam_spark.sources.bam_source import BAMPartition, BAMReader

    path = str(tmp_path / "gen.bam")
    with open(path, "wb") as f:
        f.write(textgen.bam_file(textgen.gen_bam_records(3000, seed=5)))
    idx = bai.build_bai(path)
    with open(path + ".bai", "wb") as f:
        idx.write(f)
    with open(path, "rb") as fh:
        coffsets = [c for c, _ in bgzf.iter_blocks(fh, 0)]
    opts = {"path": path, "split_size": str(32 * 1024)}
    splits = [(p.vstart, p.vend) for p in BAMReader(
        dict(opts, intervals="chr1,chr2")).partitions()]
    assert len(splits) > 4
    rid, pos0, end0, voff = _walk_bam(path)
    name_to_id = {n: i for i, (n, _) in enumerate(textgen.GEN_BAM_REFS)}

    def split_of(v):
        return next(i for i, (b0, b1) in enumerate(splits) if b0 <= v < b1)

    def clamp(spans):
        return [(max(cb, b0), min(ce, b1)) for b0, b1 in splits
                for cb, ce in spans if cb < b1 and ce > b0]

    for s in range(1, 500_000, 997):
        iv = [("chr1", s, s + 999)]
        hit = (rid == 0) & (pos0 < s + 999) & (end0 > s - 1)
        holding = {split_of(v) for v in voff[hit].tolist()}
        unbounded = clamp(_unbounded_spans(idx.refs, name_to_id, iv))
        touched = {split_of(b) for b, _ in unbounded}
        if len(holding) == 1 and touched == {min(holding), min(holding) + 1}:
            break
    else:
        pytest.fail("no 1 kb interval with coarse-bin chunks in a second split")
    parts = [p for p in BAMReader(
        dict(opts, intervals=f"chr1:{s}-{s + 999}")).partitions()
        if isinstance(p, BAMPartition)]
    assert len(parts) == 1
    assert split_of(parts[0].vstart) in holding
    planned = [c for p in parts for c in p.chunks]
    assert len(_blocks(coffsets, planned)) < len(_blocks(coffsets, unbounded))
