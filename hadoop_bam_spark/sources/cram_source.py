"""``spark.read.format("cram")`` — splittable parallel CRAM scan.

Split planning walks container headers on the driver (header-only reads)
and aligns byte-range splits to container boundaries — the Spark-native
equivalent of the reference's ``CRAMInputFormat.getSplits``
(CRAMInputFormat.java:31-80: each split is [first container at-or-after
start, first container at-or-after end)). Executors decode whole containers
in their range with the pure-Python codec (formats/cram.py) — the
reference delegates this to htsjdk (CRAMRecordReader.java:33-56); no JVM
sidecar is needed here.

When a ``.crai`` sidecar exists (the public CRAM index the reference's
CRAMInputFormat plans from), the driver never touches the data file at
all: the index's distinct container offsets are the split-alignment
points, and its (seq_id, start, span) entries prune containers that
cannot overlap a query interval — the CRAM analog of BAI chunk-span
pruning. Catalyst rname/pos filters prune the same way as in the BAM
source (interval synthesized at pushFilters time), but all filters are
returned as residual.

Options:
  path         file or directory of .cram files
  split_size   most compressed bytes per partition (default 32 MiB); an
               unbounded scan plans at least one split per core, down to
               1 MiB splits (``sources.split_size``)
  records_per_split  target records per partition (default 200k). CRAM
               compresses so hard that byte-based sizing alone misplans
               dense files — a 9 MB file can hold 2M records, and 1 MiB
               splits would still give one task 200k+ records (the reference's
               CRAMInputFormat.java:31-80 has the same byte-only
               weakness). The planner probes the first container header
               for record density; only when the byte plan would exceed
               this record budget does it walk the remaining container
               headers (bounded 64-byte reads — exactly what dense files
               keep cheap: high density means few containers) and adds
               record-count split boundaries.
  intervals    "chr1:100-200,chr2" — bounded traversal with row-level
               overlap residual (reference semantics)
  reference    FASTA path (with optional .fai) for reference-compressed
               files (RR=true); files our sink writes need none (RR=false)
"""

from __future__ import annotations

from dataclasses import dataclass
from struct import error as struct_error
from typing import Iterator, Optional

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.formats import cram
from hadoop_bam_spark.formats.bam import cigar_ref_length
from hadoop_bam_spark.formats.sam import SAM_SCHEMA
from hadoop_bam_spark.sources import EmptyPartition, list_format_files, split_size

#: compressed container-body read-ahead per rANS batch-decode call —
#: sized to swallow a whole default 32 MB split in one batch (peak task
#: memory stays bounded: bodies + decoded blocks, well under typical
#: executor headroom even at 32 concurrent tasks)
_READAHEAD_BYTES = 48 << 20

DEFAULT_RECORDS_PER_SPLIT = 200_000
#: ceiling on plan-time header walks (a denser file has FEWER containers,
#: so the walk is cheap exactly when the record budget matters; a huge
#: sparse file never reaches here because its byte plan is already fine)
_MAX_COUNT_WALK = 65_536


@dataclass
class CRAMPartition(InputPartition):
    path: str
    start: int  # container-boundary byte offset
    end: int    # exclusive; containers starting in [start, end) belong here


class CRAMDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "cram"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(SAM_SCHEMA, self.options)[0]

    def reader(self, schema) -> "CRAMReader":
        return CRAMReader(self.options)

    def streamWriter(self, schema, overwrite):
        from hadoop_bam_spark.sinks import stream_writer

        return stream_writer("cram", self.options)


class CRAMReader(DataSourceReader):
    def __init__(self, options):
        self._path = options.get("path")
        if not self._path:
            raise ValueError("cram source requires a path")
        from hadoop_bam_spark.sources import pruned_schema

        self._schema = pruned_schema(SAM_SCHEMA, options)[0]
        self._options = options
        self._records_per_split = int(
            options.get("records_per_split", DEFAULT_RECORDS_PER_SPLIT)
        )
        self._reference = options.get("reference")
        from hadoop_bam_spark.sources.bam_source import parse_intervals

        #: option-provided intervals carry the reference's row-level overlap
        #: residual; pushed filters (below) prune only, Catalyst closes.
        self._intervals = (
            parse_intervals(options["intervals"]) if options.get("intervals") else None
        )
        self._pushed: Optional[list] = None
        #: unplaced-unmapped traversal (reference queryUnmapped semantics):
        #: plan only containers that may hold unmapped records, row-filter
        #: the rest
        self._unmapped = options.get("unmapped", "false").lower() == "true"
        # driver-side: header + container-boundary walk per file
        # (reference CRAMInputFormat.getSplits, CRAMInputFormat.java:31-80)
        self._files: list[tuple[str, int, list[tuple[str, int]], list[str]]] = []
        for f in list_format_files(self._path, ".cram"):
            major, _text, refs, rgs, _pos = cram.read_cram_file_header(
                f, open_fn=fs.open_file
            )
            self._files.append((f, major, refs, rgs))

    def pushFilters(self, filters):
        """rname/pos predicates -> container pruning (pruning only, every
        filter returned as residual; the BAM source enforces them)."""
        from hadoop_bam_spark.sources import pushed_intervals

        pushed = pushed_intervals(filters, "rname", "pos").intervals
        if pushed and self._intervals is None:
            self._pushed = pushed
        return filters

    def _entries(self, path: str):
        """CRAI entries: sidecar when present (zero data reads), else the
        container-header walk building the identical view."""
        from hadoop_bam_spark.formats import crai

        if fs.exists(path + ".crai"):
            return crai.read_crai(path + ".crai", open_fn=fs.open_file)
        return crai.build_crai(path, open_fn=fs.open_file)

    def partitions(self) -> list[CRAMPartition]:
        from hadoop_bam_spark.formats import crai

        bounding = self._intervals if self._intervals is not None else self._pushed
        bounded = bounding is not None or self._unmapped
        split = split_size(
            self._options,
            None if bounded else sum(fs.file_size(f) for f, *_ in self._files),
        )
        parts: list[CRAMPartition] = []
        for path, _major, refs, _rgs in self._files:
            entries = self._entries(path)
            offsets = crai.container_offsets(entries)
            if not offsets:
                continue
            if self._unmapped:
                # containers that can hold unmapped records: the -1
                # (unmapped) and -2 (mixed) ones; with intervals also given,
                # the union with interval-overlapping containers (BAM source
                # parity: unmapped+intervals returns both row sets)
                keep = {
                    e.container_offset for e in entries if e.seq_id in (-1, -2)
                }
                if bounding is not None:
                    keep |= set(crai.prune_offsets(entries, bounding, refs))
                if not keep:
                    continue
                run_start = None
                prev_end = None
                for i, off in enumerate(offsets):
                    nxt = offsets[i + 1] if i + 1 < len(offsets) else off + 1
                    if off in keep:
                        if run_start is None:
                            run_start = off
                        prev_end = nxt
                    elif run_start is not None:
                        parts.append(CRAMPartition(path, run_start, prev_end))
                        run_start = None
                if run_start is not None:
                    parts.append(CRAMPartition(path, run_start, prev_end))
                continue
            if bounding is not None:
                keep = set(crai.prune_offsets(entries, bounding, refs))
                if not keep:
                    continue
                # runs of consecutive kept containers -> one partition span
                # each (end = offset after the run, so nothing skipped is
                # read); oversized runs still split at ~split_size
                run_start = None
                prev_end = None
                for i, off in enumerate(offsets):
                    nxt = offsets[i + 1] if i + 1 < len(offsets) else off + 1
                    if off in keep:
                        if run_start is None:
                            run_start = off
                        elif off - run_start >= split:
                            parts.append(CRAMPartition(path, run_start, off))
                            run_start = off
                        prev_end = nxt
                    elif run_start is not None:
                        parts.append(CRAMPartition(path, run_start, prev_end))
                        run_start = None
                if run_start is not None:
                    parts.append(CRAMPartition(path, run_start, prev_end))
                continue
            # greedy container grouping to ~split_size compressed bytes,
            # AND ~records_per_split records when the file is dense enough
            # for the byte plan alone to overload single tasks
            counts = self._density_counts(path, _major, offsets, split)
            bounds = [offsets[0]]
            recs = 0
            for i, off in enumerate(offsets[1:], start=1):
                if counts is not None:
                    recs += counts[i - 1]
                if off - bounds[-1] >= split or (
                    counts is not None and recs >= self._records_per_split
                ):
                    bounds.append(off)
                    recs = 0
            # end sentinel: past the last container start; the executor stops
            # at the EOF container by itself
            bounds.append(offsets[-1] + 1)
            parts.extend(
                CRAMPartition(path, bounds[i], bounds[i + 1])
                for i in range(len(bounds) - 1)
            )
        return parts or [EmptyPartition()]

    def _density_counts(
        self, path: str, major: int, offsets: list[int], split: int
    ) -> Optional[list[int]]:
        """Per-container record counts, or None when byte sizing suffices.

        One 64-byte probe of the first container header estimates record
        density; only if the resulting byte-based splits would exceed
        ``records_per_split`` does the planner walk every container header
        (bounded small reads — the same cost class as the reference's own
        getSplits walk, and cheap precisely for the dense files that need
        it: high density means few containers). Any parse problem degrades
        to byte-based planning, never an error."""
        if len(offsets) < 2 or len(offsets) > _MAX_COUNT_WALK:
            return None
        try:
            data_bytes = fs.file_size(path) - offsets[0]
            with fs.open_file(path, "rb") as fh:

                def hdr_at(off: int) -> cram.ContainerHeader:
                    fh.seek(off)
                    return cram.ContainerHeader.parse(fh.read(64), 0, major)

                first = hdr_at(offsets[0])
                clen = first.header_size + first.length
                density = first.n_records / max(clen, 1)
                byte_splits = max(1, data_bytes // split)
                if (
                    density * data_bytes / byte_splits
                    <= self._records_per_split
                ):
                    return None
                return [hdr_at(off).n_records for off in offsets]
        except (OSError, ValueError, struct_error):
            return None

    def read(self, partition: CRAMPartition):
        if isinstance(partition, EmptyPartition):
            return iter(())
        from hadoop_bam_spark.sources import row_batches

        return row_batches(self._rows(partition), SAM_SCHEMA, self._schema)

    def _rows(self, partition: CRAMPartition) -> Iterator[tuple]:
        major, refs, rgs = next(
            (m, r, g) for p, m, r, g in self._files if p == partition.path
        )
        ref_fasta = (cram.FastaRef(self._reference, open_fn=fs.open_file)
                     if self._reference else None)
        dec = cram.ContainerDecoder(major, refs, ref_fasta=ref_fasta, read_groups=rgs)
        intervals = self._intervals  # option only; pushed filters are
        # pruning hints with Catalyst as the residual
        with fs.open_file(partition.path, "rb") as fh:
            pos = partition.start
            done = False
            while not done and pos < partition.end:
                # bounded container read-ahead: every rANS block in the
                # batch decodes in ONE rans_vec.decode_batch call
                # (native kernel per block, or numpy lockstep across
                # blocks) instead of a per-byte scalar loop per block
                batch: list[tuple] = []
                total = 0
                while pos < partition.end and total < _READAHEAD_BYTES:
                    fh.seek(pos)
                    head = fh.read(64)
                    if len(head) < 8:
                        done = True
                        break
                    hdr = cram.ContainerHeader.parse(head, 0, major)
                    if (hdr.ref_seq_id == -1 and hdr.n_records == 0
                            and hdr.start in (0, 0x454F46)):
                        done = True
                        break  # EOF container
                    fh.seek(pos + hdr.header_size)
                    batch.append((hdr, fh.read(hdr.length)))
                    total += hdr.length
                    pos += hdr.header_size + hdr.length
                if not batch:
                    return
                caches = cram.batch_rans_caches(
                    [b for _, b in batch], major
                )
                for (hdr, body), cache in zip(batch, caches):
                    if self._unmapped:
                        for row in dec.decode(body, hdr, cache):
                            # unplaced-unmapped, plus interval overlaps
                            # when both options are set (BAM parity)
                            if row[2] is None or (
                                intervals is not None
                                and _overlaps_intervals(row, intervals)
                            ):
                                yield row
                    elif intervals is None:
                        yield from dec.decode(body, hdr, cache)
                    else:
                        for row in dec.decode(body, hdr, cache):
                            if _overlaps_intervals(row, intervals):
                                yield row


def _overlaps_intervals(row: tuple, intervals) -> bool:
    """Row-level overlap residual (reference bounded-traversal semantics:
    alignment span [pos, pos + ref-consumed - 1] vs interval; unmapped rows
    never match a coordinate interval)."""
    rname, pos = row[2], row[3]
    if rname is None or pos <= 0:
        return False
    span = cigar_ref_length(row[5])
    end = pos + span - 1
    return any(
        c == rname and pos <= stop and start <= end
        for c, start, stop in intervals
    )
