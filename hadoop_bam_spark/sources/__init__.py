"""Python DataSource V2 sources: ``spark.read.format("bam"|"sam"|...)``.

Planning (driver): list files, align byte-range splits to record boundaries
via sidecar index or heuristic guesser — the Spark-native equivalent of the
reference's ``getSplits`` planners (BAMInputFormat.java:227-271). A reader
that plans nothing returns ``[EmptyPartition()]``.
Execution (executors): each InputPartition re-opens its file and iterates
records in its virtual-offset span (BAMRecordReader.java:122-235).

Shared here: the one decode loop of the line-oriented readers
(:func:`decode_chunks`: vectorized chunk parse, scalar fallback under
``option("stringency")``, residual mask), the one Arrow batch builder
(:func:`to_batch`, and :func:`row_batches` for row tuples), projection
(:func:`pruned_schema`), split sizing (:func:`split_size`), the interval
residual (:func:`interval_mask`) and Catalyst interval pushdown
(:func:`pushed_intervals`).

Register with :func:`register_all`.
"""

from __future__ import annotations

from dataclasses import dataclass
from itertools import chain, islice
from typing import NamedTuple, Optional

from pyspark.sql import SparkSession
from pyspark.sql.datasource import InputPartition


@dataclass
class EmptyPartition(InputPartition):
    """What a reader plans when it finds nothing to read: Spark calls
    ``read(None)`` when ``partitions()`` returns ``[]``. Reading it yields
    no rows."""


def register_all(spark: SparkSession) -> None:
    """Register every engine data source on this session.

    Also flips ``spark.sql.python.filterPushdown.enabled`` on: sources here
    implement ``pushFilters`` and Spark refuses to plan them when the conf is
    false. The conf is runtime-settable, so this covers externally-built
    sessions too (not just hadoop_bam_spark.session ones)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    from hadoop_bam_spark.sources.anysam_source import AnySAMDataSource
    from hadoop_bam_spark.sources.bam_source import BAMDataSource
    from hadoop_bam_spark.sources.cram_source import CRAMDataSource
    from hadoop_bam_spark.sources.sam_source import SAMDataSource
    from hadoop_bam_spark.sources.vcf_source import VCFDataSource
    from hadoop_bam_spark.sources.bcf_source import BCFDataSource
    from hadoop_bam_spark.sources.fastq_source import FastqDataSource
    from hadoop_bam_spark.sources.qseq_source import QseqDataSource
    from hadoop_bam_spark.sources.fasta_source import FastaDataSource
    from hadoop_bam_spark.sources.tabix_text import (
        BEDDataSource,
        BedGraphDataSource,
        GFFDataSource,
    )

    for ds in (
        AnySAMDataSource,
        BAMDataSource,
        CRAMDataSource,
        SAMDataSource,
        VCFDataSource,
        BCFDataSource,
        FastqDataSource,
        QseqDataSource,
        FastaDataSource,
        BEDDataSource,
        BedGraphDataSource,
        GFFDataSource,
    ):
        spark.dataSource.register(ds)


#: Malformed-record policies (the reference's htsjdk ValidationStringency,
#: applied in VCFRecordReader.java:77-92,180-196: STRICT raises, LENIENT
#: warns and skips, SILENT skips). FAILFAST/PERMISSIVE accepted as aliases.
STRINGENCIES = ("strict", "lenient", "silent")


def stringency_option(options) -> str:
    s = str(options.get("stringency", "strict")).lower()
    s = {"failfast": "strict", "permissive": "lenient"}.get(s, s)
    if s not in STRINGENCIES:
        raise ValueError(
            f"stringency must be one of {STRINGENCIES} (or FAILFAST/PERMISSIVE)"
        )
    return s


def apply_stringency(stringency: str, exc: Exception, context: str) -> None:
    """Re-raise, warn, or swallow a malformed-record error per policy."""
    if stringency == "strict":
        raise exc
    if stringency == "lenient":
        import logging

        logging.getLogger("hadoop_bam_spark").warning(
            "skipping malformed record (%s): %s", context, exc
        )


#: ``split_size`` when the option is absent: the most compressed bytes one
#: split of any source holds.
DEFAULT_SPLIT_SIZE = 32 * 1024 * 1024

#: the smallest split the per-core rule of :func:`split_size` plans: 16
#: full BGZF blocks. An executor realigns a raw BAM split edge by reading
#: ``(BLOCKS_NEEDED_FOR_GUESS + 2) * 64 KiB`` = 320 KiB, so a smaller split
#: would spend most of its read on guessing.
MIN_SPLIT_SIZE = 1 << 20


def split_size(options, total_bytes: Optional[int]) -> int:
    """Bytes per split for one scan; every source plans with this.

    ``option("split_size")`` (default :data:`DEFAULT_SPLIT_SIZE`) is an upper
    bound, as ``spark.sql.files.maxPartitionBytes`` is for Spark's file
    sources. An unbounded scan passes the ``total_bytes`` of its files and
    gets at most ``ceil(total_bytes / cpus)``, but never less than
    :data:`MIN_SPLIT_SIZE`, so a scan smaller than ``split_size * cpus``
    still keeps every core busy (Spark's ``FilePartition.maxSplitBytes``).
    A bounded scan (intervals, a pushed contig, the unmapped traversal)
    passes None and gets ``split_size`` itself, so its index-driven plan
    does not depend on the core count. ``cpus`` is
    :func:`hadoop_bam_spark.session.local_cpus`."""
    cap = int(options.get("split_size", DEFAULT_SPLIT_SIZE))
    if total_bytes is None:
        return cap
    from hadoop_bam_spark.session import local_cpus

    per_core = -(-total_bytes // local_cpus())
    return min(cap, max(MIN_SPLIT_SIZE, per_core))


def pruned_schema(full_schema, options):
    """Resolve ``option("columns", "a,b,c")`` -> (schema, keep_indices).

    The engine's projection operator (SURVEY §2.3): the reference defers
    field decode until touched (LazyBAMRecordFactory.java:53-111,
    LazyParsingGenotypesContext.java:28-33); here the source narrows its
    declared schema so unrequested columns are never decoded, built, or
    shipped through Arrow at all. Column order follows the full schema, not
    the option string. Returns (full_schema, None) when the option is absent.
    """
    spec = options.get("columns")
    if not spec:
        return full_schema, None
    wanted = {c.strip() for c in spec.split(",") if c.strip()}
    names = [f.name for f in full_schema.fields]
    unknown = sorted(wanted - set(names))
    if unknown:
        raise ValueError(f"unknown columns {unknown}; available: {names}")
    from pyspark.sql.types import StructType

    keep = [i for i, n in enumerate(names) if n in wanted]
    return StructType([full_schema.fields[i] for i in keep]), keep


#: Rows per Arrow batch built from row tuples. Large enough to amortize
#: the Python->JVM transfer, small enough to keep per-batch memory modest.
ARROW_BATCH_ROWS = 4096

#: Data items (text lines, FASTQ records) per vectorized parse: big enough
#: to amortize per-chunk kernel dispatch, one Arrow batch out.
CHUNK_LINES = 16384

_ARROW_SCHEMA_CACHE: dict = {}


def arrow_schema(spark_schema):
    """Cached ``pyarrow.Schema`` for a Spark schema (keyed by content, not
    id(): pruned schemas are per-reader instances)."""
    key = spark_schema.json()
    cached = _ARROW_SCHEMA_CACHE.get(key)
    if cached is None:
        from pyspark.sql.pandas.types import to_arrow_schema

        cached = _ARROW_SCHEMA_CACHE[key] = to_arrow_schema(spark_schema)
    return cached


def _conform(arr, t):
    """Cast to the exact Spark-bridge type, tolerating nullability-only
    mismatches in nested fields (Arrow refuses nullable->non-nullable casts
    even when no value is null, e.g. the genotype struct's sample field).
    Lists and structs are rebuilt from their children, so their own
    validity is carried over: a null list or struct stays null."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if arr.type.equals(t):
        return arr
    if arr.null_count == len(arr):
        return pa.nulls(len(arr), t)
    nulls = arr.is_null() if arr.null_count else None
    if pa.types.is_list(t) and pa.types.is_list(arr.type):
        # rebased to 0: Arrow takes no validity mask with sliced offsets
        offsets = arr.offsets
        first = offsets[0].as_py()
        values = arr.values.slice(first, offsets[-1].as_py() - first)
        out = pa.ListArray.from_arrays(
            pc.subtract(offsets, first), _conform(values, t.value_type),
            mask=nulls,
        )
        return out if out.type.equals(t) else out.cast(t)
    if pa.types.is_struct(t) and pa.types.is_struct(arr.type):
        children = [
            _conform(arr.field(i), t.field(i).type) for i in range(t.num_fields)
        ]
        return pa.StructArray.from_arrays(children, fields=list(t), mask=nulls)
    return arr.cast(t)


def to_batch(arrays, target, mask=None):
    """``{column: pyarrow.Array}`` -> the ``target`` (pruned) RecordBatch,
    keeping the rows where the boolean ``mask`` is true.

    Python DataSource readers that yield Arrow batches move data to the JVM
    via Arrow IPC instead of per-row pickling. Each column is cast to the
    exact field type Spark's Arrow bridge expects (list/map child field
    names differ between kernels' output and ``to_arrow_schema``); columns
    the target does not name are ignored."""
    import pyarrow as pa

    cols = [_conform(arrays[f.name], f.type) for f in target]
    batch = pa.RecordBatch.from_arrays(cols, schema=target)
    if mask is not None:
        batch = batch.filter(pa.array(mask))
    return batch


def interval_mask(intervals):
    """Residual overlap filter over the (contig, start, end) columns: a
    ``mask(arrays, n)`` that is true where the row overlaps any 1-based
    inclusive ``(contig, lo, hi)``; None when ``intervals`` is None."""
    if intervals is None:
        return None
    import numpy as np
    import pyarrow.compute as pc

    def mask(arrays, n: int):
        contig = arrays["contig"]
        start = arrays["start"].to_numpy(zero_copy_only=False)
        end = arrays["end"].to_numpy(zero_copy_only=False)
        keep = np.zeros(n, dtype=bool)
        for c, s, stop in intervals:
            cm = pc.equal(contig, c).to_numpy(zero_copy_only=False)
            keep |= cm & (start <= stop) & (s <= end)
        return keep

    return mask


class _RowColumns(dict):
    """``{column: pyarrow.Array}`` over full-schema row tuples; a column is
    built the first time it is read, so unprojected fields cost nothing."""

    def __init__(self, rows, schema):
        super().__init__()
        self._rows, self._schema = rows, schema

    def __missing__(self, name):
        import pyarrow as pa

        i = self._schema.get_field_index(name)
        col = self[name] = pa.array(
            [r[i] for r in self._rows], type=self._schema.field(i).type
        )
        return col


def row_batches(rows, full_schema, schema, mask=None):
    """Full-schema row tuples -> Arrow batches of ``schema`` (``full_schema``
    pruned by :func:`pruned_schema`), ``ARROW_BATCH_ROWS`` rows at a time,
    filtered by ``mask(arrays, n)`` when given. Nested structs may be
    tuples, maps dicts (pyarrow converts both)."""
    full = arrow_schema(full_schema)
    target = arrow_schema(schema)
    rows = iter(rows)
    while buf := list(islice(rows, ARROW_BATCH_ROWS)):
        arrays = _RowColumns(buf, full)
        yield to_batch(
            arrays, target, None if mask is None else mask(arrays, len(buf))
        )


def _rechunk(chunks, size: int):
    """Lists of any length -> lists of ``size`` items (the last shorter)."""
    items = chain.from_iterable(chunks)
    return iter(lambda: list(islice(items, size)), [])


def decode_chunks(chunks, full_schema, schema, parse_chunk, parse_line,
                  stringency: str, what: str, mask=None):
    """The one decode loop of the line-oriented sources: lists of data
    items (lines, or FASTQ record tuples) -> Arrow batches of ``schema``.

    Items are re-chunked to :data:`CHUNK_LINES` and handed to the vectorized
    ``parse_chunk(items) -> {column: Array} | None``. On None (something in
    the chunk is irregular) each item goes through the scalar
    ``parse_line(item) -> full-schema tuple | None``, and a ``ValueError``
    there follows the ``stringency`` policy; the surviving rows become
    columns. Both paths then run the same ``mask(arrays, n)`` residual
    (interval overlap, QC filter) and the same :func:`to_batch`, so the
    fallback swaps only the parser."""
    target = arrow_schema(schema)
    for items in _rechunk(chunks, CHUNK_LINES):
        arrays = parse_chunk(items)
        if arrays is not None:
            yield to_batch(
                arrays, target,
                None if mask is None else mask(arrays, len(items)),
            )
            continue
        rows = []
        for item in items:
            try:
                row = parse_line(item)
            except ValueError as e:
                apply_stringency(stringency, e, what)
                continue
            if row is not None:
                rows.append(row)
        yield from row_batches(rows, full_schema, schema, mask)


def local_path(path: str) -> str:
    """Strip a file:// scheme (see hadoop_bam_spark.fs for the filesystem
    seam — schemed paths route through fsspec when installed)."""
    if path.startswith("file://"):
        return path[7:]
    return path


def list_format_files(path: str, *exts: str) -> list[str]:
    """A path is one file, a comma-joined list, or a directory of files with
    the given suffixes. A directory a sink wrote lists through its
    manifests (:func:`hadoop_bam_spark.commit.committed_shards`): only
    committed shards, never a staged, half-committed or superseded one.
    Any other directory lists raw. Names starting with ``_`` or ``.``
    (manifests, markers, staging, hidden files) are never data, and index
    sidecars are skipped by suffix (reference BAMInputFormat.java:201-209).
    Listing goes through the filesystem seam, so s3://... directories work
    when fsspec is present."""
    from hadoop_bam_spark import fs
    from hadoop_bam_spark.commit import committed_shards

    if "," in path:
        return [f for p in path.split(",") for f in list_format_files(p, *exts)]
    p = local_path(path)
    if not fs.is_dir(p):
        return [p]
    committed = committed_shards(p, exts)
    if committed is not None:
        # a replay or overwrite may delete a shard between the manifest
        # read and here
        return sorted(q for n in committed if fs.exists(q := fs.join(p, n)))
    return sorted(
        fs.join(p, f)
        for f in fs.listdir(p)
        if f.endswith(exts) and not f.startswith(("_", "."))
    )


#: max 1-based coordinate the genomic binning schemes support (int32 bound)
MAX_COORD = (1 << 31) - 2


#: the int32 range of a position column: a start range with no pushed
#: bound on one side runs to that end of it.
INT32_MIN, INT32_MAX = -(1 << 31), (1 << 31) - 1


class Pushdown(NamedTuple):
    """What :func:`pushed_intervals` makes of a source's Catalyst filters.

    - ``names``: the contigs the name filters allow; None when no name was
      filtered, empty when the filters exclude every name.
    - ``intervals``: one ``(name, lo, hi)`` pruning interval per name,
      sorted; None when no name was pushed.
    - ``starts``: one ``(name, lo, hi)`` start range per name: a row
      passes when its name is ``name`` and ``lo <= position <= hi``.
      Empty when no name is allowed, None when no name was filtered.
    - ``exact``: the input filters (by reference) that ``starts`` fully
      expresses. A source that keeps only the rows in ``starts`` need not
      hand these back to Spark."""

    names: Optional[set]
    intervals: Optional[list]
    starts: Optional[list]
    exact: list


def pushed_intervals(filters, name_attr: str, pos_attr: str) -> Pushdown:
    """Shared Catalyst-filter pushdown of the genomic sources (see
    :class:`Pushdown`). EqualTo/In on ``name_attr`` name the contigs, and
    integer range predicates on ``pos_attr`` bound the positions.

    Exact, once a name is pushed: EqualTo/In on ``name_attr`` with string
    values, GreaterThan/GreaterThanOrEqual/LessThan/LessThanOrEqual with an
    ``int`` value on ``pos_attr``, and IsNotNull on either column. A null
    in EqualTo/In never equals a contig, so it is dropped. Everything else
    (position bounds with no name, any other filter) must stay with Spark.

    ``intervals`` select rows that overlap the region, a superset of the
    rows that start in it; sources that only prune keep returning every
    filter so Catalyst re-applies them. Their ``lo`` starts at 0, not 1:
    when no lower bound is pushed the synthesized interval must admit
    coordinate-unset rows (VCF telomeric POS=0, BAM RNAME-set/POS-unset)
    that a bare name-equality filter selects — the interval also drives
    the row-level overlap residual in the readers, so a [1, MAX] floor
    would silently drop those spec-legal rows. Index queries clamp to
    0-based ``max(lo - 1, 0)`` so pruning is unchanged. ``starts`` are not
    clamped: without a bound they run over the whole int32 range."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        IsNotNull,
        LessThan,
        LessThanOrEqual,
    )

    names = None
    lo, hi = INT32_MIN, INT32_MAX
    exact = []
    for f in filters:
        attr = getattr(f, "attribute", None)  # Not/composites have none
        if attr == (name_attr,) and isinstance(f, (EqualTo, In)):
            vals = set(f.value) if isinstance(f, In) else {f.value}
            vals.discard(None)
            names = vals if names is None else names & vals
            if all(isinstance(v, str) for v in vals):
                exact.append(f)
        elif attr == (pos_attr,) and type(getattr(f, "value", None)) is int:
            if isinstance(f, GreaterThan):
                lo = max(lo, f.value + 1)
            elif isinstance(f, GreaterThanOrEqual):
                lo = max(lo, f.value)
            elif isinstance(f, LessThan):
                hi = min(hi, f.value - 1)
            elif isinstance(f, LessThanOrEqual):
                hi = min(hi, f.value)
            else:
                continue
            exact.append(f)
        elif isinstance(f, IsNotNull) and attr in ((name_attr,), (pos_attr,)):
            exact.append(f)
    if names is None:
        return Pushdown(None, None, None, [])
    starts = [(n, lo, hi) for n in sorted(names)]
    intervals = [(n, max(lo, 0), min(hi, MAX_COORD)) for n, _, _ in starts]
    return Pushdown(names, intervals or None, starts, exact)
