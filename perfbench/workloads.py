"""The benchmark workloads.

Each workload builds its seeded inputs (``build``, no Spark needed), then
runs one operation at a time through the engine's public API (``op``) and
checks every result against an oracle from ``oracle.py`` (``check``). ``op``
returns (reads processed, output); the caller times it, and then passes the
output to ``check``, which is not timed. ``tr`` is the span recorder, a no-op
unless the run is traced.
"""

from __future__ import annotations

import itertools
import os

import numpy as np

import gen
import oracle

#: reads per input file, per workload (sized so one run of a few seconds
#: holds enough operations for stable medians on a 4-core box)
N_READS = {
    "region_queries": 200_000,
    "sort_write": 100_000,
}
N_QUERIES = 4000
#: compressed bytes per BAM split: the inputs are 5-10x smaller than a
#: 105 MB BAM read with the default 32 MiB, so the split size is too, which
#: keeps a similar handful of splits for the cores to share
SPLIT_SIZE = 4 * 1024 * 1024
HOT_WINDOWS = 16
HOT_WIDTH = 20_000
#: query size and mode cycle, the same in every run
CYCLE = ((1000, "intervals"), (10_000, "pushdown"), (1000, "pushdown"),
         (10_000, "intervals"))
#: spacing of the genome-tiling queries behind region_queries' bytes_per_read
GRID_STEP = 10_000


def span_bytes(fh, vbeg: int, vend: int) -> int:
    """Compressed bytes a reader inflates for voffset span [vbeg, vend):
    every BGZF block from vbeg's up to vend's, and vend's own block when
    the span ends inside it."""
    c0, c1 = vbeg >> 16, vend >> 16
    if vend & 0xFFFF:
        fh.seek(c1 + 16)
        c1 += int.from_bytes(fh.read(2), "little") + 1  # BSIZE field
    return c1 - c0


def region_queries(seed: int, n: int) -> list[tuple[str, int, int, str]]:
    """Seeded (contig, start, stop, mode) queries. Size and mode follow a
    fixed 4-cycle (1 kb/10 kb x intervals/pushdown) so every run has the same
    mix; starts alternate between 16 hot windows and uniform positions."""
    rng = np.random.default_rng(seed + 104729)
    lens = np.array([ln for _, ln in gen.CONTIGS], dtype=np.int64)
    p = lens / lens.sum()
    hot_c = rng.choice(len(lens), HOT_WINDOWS, p=p)
    hot_s = (rng.random(HOT_WINDOWS) * (lens[hot_c] - 2 * HOT_WIDTH)).astype(np.int64)
    out = []
    for i in range(n):
        width, mode = CYCLE[i % len(CYCLE)]
        if (i // len(CYCLE)) % 2 == 0:  # alternate hot and uniform cycles
            h = rng.integers(HOT_WINDOWS)
            c = int(hot_c[h])
            s = int(hot_s[h] + rng.integers(HOT_WIDTH))
        else:
            c = int(rng.choice(len(lens), p=p))
            s = int(rng.integers(1, lens[c] - 2 * width))
        out.append((gen.CONTIGS[c][0], s, s + width - 1, mode))
    return out


def grid_queries() -> list[tuple[str, int, int, str]]:
    """Queries tiling every contig at GRID_STEP, sizes and modes from CYCLE.
    Seeded queries cluster in 16 hot windows, so the bytes they plan move
    with the seed; a tiling averages over the whole file."""
    starts = [(c, s) for c, ln in gen.CONTIGS
              for s in range(GRID_STEP // 2, ln - 2 * GRID_STEP, GRID_STEP)]
    return [(c, s, s + width - 1, mode)
            for (c, s), (width, mode) in zip(starts, itertools.cycle(CYCLE))]


def by_coordinate(df):
    """Coordinate order: by contig, unplaced reads (null rname) last."""
    from pyspark.sql import functions as F

    return df.orderBy(F.col("rname").asc_nulls_last(), F.col("pos"))


class Workload:
    name = ""
    #: files the Spark read uses; also the input of the traced layer probes
    input_name = "sorted.bam"
    #: operations run once before timing, so that every query shape has
    #: been planned and compiled
    warmup_ops = 1
    #: the timed operations stop at a multiple of this, so every run holds
    #: the same mix of operations
    round_ops = 1

    def __init__(self, seed: int, cpus: int):
        self.spark = None
        self.seed = seed
        self.cpus = cpus
        self.dir = ""
        self.reads: gen.Reads | None = None
        self.queries = region_queries(seed, N_QUERIES)

    @property
    def input_path(self) -> str:
        return os.path.join(self.dir, self.input_name)

    def build(self, directory: str) -> None:
        """Generate and index this workload's inputs into ``directory``."""
        os.makedirs(directory)
        self.dir = directory
        self.reads = gen.make_reads(self.seed, N_READS[self.name])
        self.write_inputs()
        self.positions = oracle.Positions(self.reads)

    def write_inputs(self) -> None:
        r = self.reads
        gen.write_bam(self.input_path, r, r.sorted_order(), "coordinate",
                      self.cpus, index=True)

    def reader(self, **options):
        rd = self.spark.read.format("bam").option("split_size", str(SPLIT_SIZE))
        for k, v in options.items():
            rd = rd.option(k, v)
        return rd

    def op(self, i: int, tr) -> tuple[int, object]:
        raise NotImplementedError

    def check(self, i: int, out) -> list[str]:
        """Problems with operation ``i``'s output; empty when it is right."""
        raise NotImplementedError

    def bytes_per_read(self) -> float:
        """The run's ``bytes_per_read`` metric."""
        raise NotImplementedError


class RegionQueries(Workload):
    """One indexed region query per operation: half ``intervals`` option,
    half rname/pos filter pushdown."""

    name = "region_queries"
    warmup_ops = round_ops = len(CYCLE)  # one of each size x mode

    def build(self, directory):
        super().build(directory)
        self.expected = [self.count(q) for q in self.queries]

    def count(self, query) -> int:
        """Brute-force answer to one query."""
        c, s, e, mode = query
        if mode == "intervals":
            return self.positions.count_overlapping(c, s, e)
        return self.positions.count_starting(c, s, e)

    def query_df(self, i):
        from pyspark.sql import functions as F

        c, s, e, mode = self.queries[i % len(self.queries)]
        if mode == "intervals":
            return self.reader(intervals=f"{c}:{s}-{e}").load(self.input_path)
        df = self.reader().load(self.input_path)
        return df.filter((F.col("rname") == c) & (F.col("pos") >= s)
                         & (F.col("pos") <= e))

    def options(self, query) -> tuple[dict, list]:
        """The reader options and pushed filters a query plans with."""
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

        c, s, e, mode = query
        opts = {"path": self.input_path, "split_size": str(SPLIT_SIZE)}
        if mode == "intervals":
            return dict(opts, intervals=f"{c}:{s}-{e}"), []
        return opts, [EqualTo(("rname",), c), GreaterThanOrEqual(("pos",), s),
                      LessThanOrEqual(("pos",), e)]

    def op(self, i, tr):
        with tr.span("sources.bam.load", "sources"):
            df = self.query_df(i)
        with tr.span("session.count", "session"):
            n = df.count()
        return n, n

    def check(self, i, n):
        want = self.expected[i % len(self.expected)]
        return [] if n == want else [
            f"query {self.queries[i % len(self.queries)]}: {n} reads, expected {want}"]

    def bytes_per_read(self):
        """Compressed bytes in the spans the source plans for the grid
        queries, per read they return: set by the index and the planner,
        not by the clock."""
        from hadoop_bam_spark.sources.bam_source import BAMPartition, BAMReader

        grid = grid_queries()
        planned = 0
        with open(self.input_path, "rb") as fh:
            for q in grid:
                opts, filters = self.options(q)
                rd = BAMReader(opts)
                rd.pushFilters(filters)
                for p in rd.partitions():
                    if isinstance(p, BAMPartition):  # not the empty sentinel
                        for vb, ve in p.chunks or ((p.vstart, p.vend),):
                            planned += span_bytes(fh, vb, ve)
        return planned / sum(map(self.count, grid))


class SortWrite(Workload):
    """Coordinate-sort an unsorted BAM and write one merged, indexed BAM."""

    name = "sort_write"
    input_name = "unsorted.bam"
    warmup_ops = 2  # the second sort+write is still ~40% slower than a warm one

    def write_inputs(self):
        r = self.reads
        order = np.random.default_rng(self.seed + 1).permutation(r.n)
        gen.write_bam(self.input_path, r, order, "unsorted", self.cpus, index=False)
        self.out_path = os.path.join(self.dir, "out.bam")

    def header(self):
        from hadoop_bam_spark.formats import bam, bgzf

        with open(self.input_path, "rb") as fh:
            hdr, refs, _ = bam.read_header(bgzf.BGZFReader(fh))
        return hdr.with_sort_order("coordinate"), refs

    def op(self, i, tr):
        from hadoop_bam_spark import sinks

        hdr, refs = self.header()
        for ext in ("", ".bai", ".sbi"):
            if os.path.exists(self.out_path + ext):
                os.remove(self.out_path + ext)
        with tr.span("sources.bam.load", "sources"):
            df = self.reader().load(self.input_path)
        # orderBy only plans (Spark is lazy): the shuffle sort runs inside
        # the sink's write, which is why the traced run also times it alone
        with tr.span("session.orderBy", "session"):
            df = by_coordinate(df)
        with tr.span("sinks.write_bam", "sinks"):
            sinks.write_bam(df, self.out_path, hdr, refs=refs, index_bai=True)
        return self.reads.n, None

    def check(self, i, out):
        c, s, e, _ = self.queries[i % len(self.queries)]
        return oracle.check_sorted_output(self.out_path, self.reads,
                                          self.positions, (c, s, e))

    def bytes_per_read(self):
        return os.path.getsize(self.out_path) / self.reads.n


WORKLOADS = {w.name: w for w in (RegionQueries, SortWrite)}
