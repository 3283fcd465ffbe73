"""``spark.read.format("bam")`` — splittable parallel BAM scan.

Split planning reproduces the reference's fallback chain
(BAMInputFormat.java:255-269): sidecar splitting index when present
(``<file>.sbi``), else heuristic record-boundary guessing
(BAMSplitGuesser semantics; see formats/bam.py). Interval predicates
(``option("intervals", "chr1:100-200,chr2:...")`` — the reference's ``-L``
conf, util/IntervalUtil.java:27-53) use the BAI index when ``<file>.bai``
exists: intervals → merged chunk voffset spans → splits without overlap are
dropped at plan time and survivors iterate only their chunk spans (the
reference's filterByInterval + createIndexIterator,
BAMInputFormat.java:542-644, BAMRecordReader.java:170-175). Without an
index the scan degrades to contig-dictionary pruning plus a fixed-field
pre-check before full record decode. ``option("unmapped", "true")`` adds
the unplaced-unmapped traversal (splits after the index's last linear bin,
refID==-1 filter — BAMInputFormat.java:586-641); with no intervals it
returns ONLY unmapped records, matching the reference's bounded-traversal
contract.

Options:
  path            file or directory of .bam files
  split_size      most compressed bytes per partition (default 32 MiB); an
                  unbounded scan plans at least one split per core, down
                  to 1 MiB splits (``sources.split_size``)
  intervals       "contig:start-stop,..." index-pushdown + residual intervals
  unmapped        "true" to (also) traverse unplaced-unmapped records
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.formats import bam, bgzf
from hadoop_bam_spark.formats.sam import SAM_SCHEMA
from hadoop_bam_spark.formats.splitting_index import SplittingIndex
from hadoop_bam_spark.sources import (
    EmptyPartition,
    list_format_files,
    pushed_intervals,
    split_size,
)


def parse_intervals(spec: str) -> list[tuple[str, int, int]]:
    """'contig:start-stop,...' -> [(contig, start, stop)] 1-based inclusive
    (reference util/IntervalUtil.java:27-61). A bare 'contig' means the
    whole sequence."""
    out = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if ":" in part:
            contig, rng = part.rsplit(":", 1)
            start_s, _, stop_s = rng.partition("-")
            out.append((contig, int(start_s), int(stop_s) if stop_s else 1 << 40))
        else:
            out.append((part, 1, 1 << 40))
    return out


@dataclass
class BAMPartition(InputPartition):
    path: str
    vstart: int
    vend: int
    #: index-derived voffset chunk spans clamped to this split (None = scan
    #: the whole [vstart, vend) range). The read-time analog of htsjdk's
    #: createIndexIterator chunk pointers (reference BAMRecordReader.java:170-175).
    chunks: Optional[tuple] = None
    #: unplaced-unmapped traversal: scan [vstart, vend) keeping only
    #: refID==-1 records (reference queryUnmapped, BAMRecordReader.java:176-178).
    unmapped_only: bool = False


@dataclass
class RawBAMPartition(InputPartition):
    """Unaligned compressed byte range; the EXECUTOR realigns both edges to
    record boundaries with the split guesser on first read. Planning with no
    index therefore costs the driver zero data reads (only headers), where
    the reference runs the guesser at plan time on the driver
    (BAMInputFormat.addProbabilisticSplits). Both neighbors compute the same
    deterministic alignment for a shared edge, so each record is owned by
    exactly one partition."""

    path: str
    start: int  # raw compressed byte offset
    end: int


class BAMDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "bam"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(SAM_SCHEMA, self.options)[0]

    def reader(self, schema) -> "BAMReader":
        return BAMReader(self.options)

    def streamWriter(self, schema, overwrite):
        from hadoop_bam_spark.sinks import stream_writer

        return stream_writer("bam", self.options)


class BAMReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("bam source requires a path")
        self._options = options
        self._intervals = (
            parse_intervals(options["intervals"]) if options.get("intervals") else None
        )
        self._unmapped = str(options.get("unmapped", "false")).lower() == "true"
        from hadoop_bam_spark.sources import pruned_schema

        # Projection: the columnar decoder builds ONLY the pruned schema's
        # columns (the Spark-side analog of the reference's lazy decode,
        # LazyBAMRecordFactory.java:53-111); interval residuals evaluate on
        # cigar OPS arrays without ever building cigar strings.
        self._schema = pruned_schema(SAM_SCHEMA, options)[0]
        # set by pushFilters: the pushed contigs, the pruning intervals
        # they synthesize when no intervals option was given, and the
        # (contig, lo, hi) start ranges read() enforces
        self._rname_eq: Optional[set] = None
        self._pushed: Optional[list] = None
        self._starts: Optional[list] = None
        # header/refs per file, read once on the driver
        # (reference util/SAMHeaderReader.java:48-75)
        self._files: list[tuple[str, list[tuple[str, int]], int, int]] = []
        for f in list_format_files(self._path, ".bam"):
            with fs.open_file(f, "rb") as fh:
                r = bgzf.BGZFReader(fh)
                _, refs, first_voffset = bam.read_header(r)
            size = fs.file_size(f)
            self._files.append((f, refs, first_voffset, size))

    def pushFilters(self, filters):
        """Enforce the ``rname``/``pos`` filters in the scan and return the
        rest, by reference, for Spark to apply (``sources.pushed_intervals``
        decides which are exact).

        - rname EqualTo/In prunes whole files missing the contig;
        - rname + optional pos bounds synthesize an interval when the user
          passed none, so a plain ``.filter(col("rname") == ...)`` gets the
          same BAI chunk-span split pruning as ``option("intervals", ...)``.
          The interval selects every record whose alignment overlaps it, a
          superset of the rows the filters select;
        - ``read`` keeps only records that start in a pushed
          ``(contig, lo, hi)`` range, which closes that gap, so Spark plans
          no residual ``Filter`` for the exact filters.

        Eager on purpose: callers may discard the result and still get the
        pruning and the start ranges."""
        pd = pushed_intervals(filters, "rname", "pos")
        self._rname_eq, self._pushed, self._starts = pd.names, pd.intervals, pd.starts
        done = {id(f) for f in pd.exact}
        return [f for f in filters if id(f) not in done]

    @staticmethod
    def _bounds(p) -> tuple[int, int]:
        """Virtual-offset view of a planned partition's range (raw byte
        ranges map to block-boundary voffsets; exact for span clamping
        because voffset order is dominated by the compressed offset)."""
        if isinstance(p, RawBAMPartition):
            return p.start << 16, p.end << 16
        return p.vstart, p.vend

    def partitions(self) -> list[InputPartition]:
        parts: list[InputPartition] = []
        plans: dict[str, list] = {}
        intervals = self._intervals if self._intervals is not None else self._pushed
        bounded = intervals is not None or self._unmapped
        split = split_size(
            self._options,
            None if bounded else sum(size for *_, size in self._files),
        )

        def plan(path, first_voffset, size, idx=None):
            if path not in plans:
                plans[path] = self._plan_file(path, first_voffset, size, split, idx)
            return plans[path]

        for path, refs, first_voffset, size in self._files:
            contigs = {name for name, _ in refs}
            if not bounded:
                if self._rname_eq is not None and not (self._rname_eq & contigs):
                    continue  # pushed contig not in this file's dictionary
                parts.extend(plan(path, first_voffset, size))
                continue
            idx = None
            if fs.exists(path + ".bai"):
                from hadoop_bam_spark.formats.bai import read_bai

                idx = read_bai(path + ".bai", open_fn=fs.open_file)
            elif fs.exists(path + ".csi"):
                # samtools index -c output (mandatory past the 512 Mbp BAI
                # coordinate limit): same chunk-span pruning, no linear index
                from hadoop_bam_spark.formats.csi import BAMIndexView, read_csi

                idx = BAMIndexView(read_csi(path + ".csi", open_fn=fs.open_file))
            if intervals is not None and any(c in contigs for c, _, _ in intervals):
                if idx is not None:
                    # Index-driven bounded traversal: intervals -> merged
                    # chunk spans -> drop splits with no overlap, clamp the
                    # chunk list into each survivor (reference
                    # BAMInputFormat.filterByInterval, BAMInputFormat.java:542-644).
                    span = idx.span_for_intervals(refs, intervals)
                    for p in plan(path, first_voffset, size, idx):
                        b0, b1 = self._bounds(p)
                        cl = tuple(
                            (max(cb, b0), min(ce, b1))
                            for cb, ce in span
                            if cb < b1 and ce > b0
                        )
                        if cl:
                            parts.append(BAMPartition(path, b0, b1, chunks=cl))
                else:
                    # No index: full scan, residual overlap filter at read
                    # time (the reference instead raises; we degrade gracefully).
                    parts.extend(plan(path, first_voffset, size, idx))
            # a pushed rname excludes every unplaced read (its rname is null)
            if self._unmapped and self._rname_eq is None:
                vstart = None
                if idx is not None:
                    if idx.n_no_coor == 0:
                        continue  # indexed and provably no unplaced reads
                    vstart = idx.start_of_last_linear_bin()
                if vstart is None:
                    vstart = first_voffset
                for p in plan(path, first_voffset, size, idx):
                    b0, b1 = self._bounds(p)
                    if b1 > vstart:
                        parts.append(
                            BAMPartition(
                                path, max(b0, vstart), b1, unmapped_only=True
                            )
                        )
        return parts or [EmptyPartition()]

    def _plan_file(self, path, first_voffset, size, raw, idx) -> list[InputPartition]:
        """Splits of about ``raw`` compressed bytes. Index-aligned voffset
        splits when a splitting index or a ``.bai`` exists (cheap
        driver-side lookups, zero data reads); otherwise raw byte ranges
        that executors realign on first read (RawBAMPartition) — at 100 TB
        the driver must not run the guesser per split. ``idx`` is the
        file's index when the caller has read it already, else None."""
        end_voffset = bgzf.make_voffset(size, 0)
        sbi = None
        if fs.exists(path + ".sbi"):
            with fs.open_file(path + ".sbi", "rb") as fh:
                sbi = SplittingIndex.read(fh)
        elif fs.exists(path + ".splitting-bai"):
            # reference Hadoop-BAM/htsjdk sidecar layout
            # (SplittingBAMIndex.java:53-73)
            with fs.open_file(path + ".splitting-bai", "rb") as fh:
                sbi = SplittingIndex.read_reference_layout(fh)
        if sbi is None and fs.exists(path + ".bai"):
            # BAI-based split calculation (reference BAMInputFormat.java:
            # 333-477): linear-index entries are real record voffsets, so
            # raw edges snap to the first entry at-or-after each boundary —
            # driver-side lookups only, no guessing.
            import bisect

            if idx is None:
                from hadoop_bam_spark.formats.bai import read_bai

                idx = read_bai(path + ".bai", open_fn=fs.open_file)
            lin = sorted(
                {v for r in idx.refs for v in r.linear if v > 0}
            )
            if lin:
                boundaries = [first_voffset]
                pos = (first_voffset >> 16) + raw
                while pos < size:
                    i = bisect.bisect_left(lin, pos << 16)
                    if i < len(lin) and boundaries[-1] < lin[i] < end_voffset:
                        boundaries.append(lin[i])
                    pos += raw
                boundaries.append(end_voffset)
                return [
                    BAMPartition(path, boundaries[i], boundaries[i + 1])
                    for i in range(len(boundaries) - 1)
                    if boundaries[i] < boundaries[i + 1]
                ]
        if sbi is None:
            start = first_voffset >> 16
            bounds = [start]
            pos = start + raw
            while pos < size:
                bounds.append(pos)
                pos += raw
            bounds.append(size)
            return [
                RawBAMPartition(path, bounds[i], bounds[i + 1])
                for i in range(len(bounds) - 1)
            ]
        boundaries = [first_voffset]
        pos = (first_voffset >> 16) + raw
        while pos < size:
            v = sbi.next_record(pos)
            if v is not None and boundaries[-1] < v < end_voffset:
                boundaries.append(v)
            pos += raw
        boundaries.append(end_voffset)
        return [
            BAMPartition(path, boundaries[i], boundaries[i + 1])
            for i in range(len(boundaries) - 1)
            if boundaries[i] < boundaries[i + 1]
        ]

    def _realign(self, fh, offset: int, n_ref: int, first_voffset: int,
                 size: int) -> Optional[int]:
        """First record voffset at or after raw ``offset`` (executor-side
        guesser run; deterministic, so both sides of a shared edge agree —
        the reference's record reader does the same at split start,
        BAMRecordReader.java:122-175)."""
        if offset <= first_voffset >> 16:
            return first_voffset
        if offset >= size:
            return None
        fh.seek(offset)
        window = fh.read((bam.BLOCKS_NEEDED_FOR_GUESS + 2) * 0x10000)
        return bam.guess_next_record_voffset(window, offset, n_ref)

    #: record bodies per columnar decode batch (one Arrow batch out).
    BATCH_RECORDS = 8192

    def read(self, partition):
        """Columnar scan: bodies are batched and vector-decoded straight
        into Arrow RecordBatches (formats/bam_vec.py) — no per-record
        Python tuples on the hot path."""
        if not isinstance(partition, (BAMPartition, RawBAMPartition)):
            return
        from hadoop_bam_spark.formats import bam_vec
        from hadoop_bam_spark.sources import arrow_schema, to_batch

        refs, first_voffset, size = next(
            (r, fv, sz) for p, r, fv, sz in self._files if p == partition.path
        )
        name_to_id = {name: i for i, (name, _) in enumerate(refs)}

        def by_rid(ranges):
            if ranges is None:
                return None
            return [(name_to_id[c], lo, hi) for c, lo, hi in ranges
                    if c in name_to_id]

        # the intervals option keeps overlapping records; pushed filters
        # keep records that start in their range (both when both are set)
        intervals_by_rid = by_rid(self._intervals)
        start_ranges = by_rid(self._starts)
        decoder = bam_vec.BAMBatchDecoder(
            refs, fields=[f.name for f in self._schema.fields]
        )
        target = arrow_schema(self._schema)
        with fs.open_file(partition.path, "rb") as fh:
            if isinstance(partition, RawBAMPartition):
                # executor-side realignment of both edges (deterministic;
                # the neighbor computes the same right edge)
                vbeg = self._realign(fh, partition.start, len(refs),
                                     first_voffset, size)
                if vbeg is None:
                    return
                vend = self._realign(fh, partition.end, len(refs),
                                     first_voffset, size)
                if vend is None:
                    vend = bgzf.make_voffset(size, 0)
                partition = BAMPartition(partition.path, vbeg, vend)
            if partition.unmapped_only:
                # queryUnmapped semantics: only unplaced (refID==-1)
                # records (reference BAMRecordReader.java:176-178).
                spans = ((partition.vstart, partition.vend),)
                flt = dict(unmapped_only=True, start_ranges=start_ranges)
            else:
                spans = partition.chunks or ((partition.vstart, partition.vend),)
                flt = dict(intervals_by_rid=intervals_by_rid,
                           start_ranges=start_ranges)
            for vbeg, vend in spans:
                for span_buf, starts, lens in bam_vec.iter_body_batches(
                    fh, vbeg, vend, self.BATCH_RECORDS
                ):
                    cols = decoder.decode_span(span_buf, starts, lens, **flt)
                    if cols is not None:
                        yield to_batch(cols, target)
