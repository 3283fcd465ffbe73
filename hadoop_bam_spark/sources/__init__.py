"""Python DataSource V2 sources: ``spark.read.format("bam"|"sam"|...)``.

Planning (driver): list files, align byte-range splits to record boundaries
via sidecar index or heuristic guesser — the Spark-native equivalent of the
reference's ``getSplits`` planners (BAMInputFormat.java:227-271).
Execution (executors): each InputPartition re-opens its file and iterates
records in its virtual-offset span (BAMRecordReader.java:122-235).

Register with :func:`register_all`.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


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


def project_rows(rows, keep):
    """Prune full-width row tuples down to the kept schema positions."""
    if keep is None:
        return rows
    return (tuple(row[i] for i in keep) for row in rows)


#: Rows per Arrow batch handed to Spark. Large enough to amortize the
#: Python->JVM transfer, small enough to keep per-batch memory modest.
ARROW_BATCH_ROWS = 4096

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


def arrow_batches(rows, spark_schema, batch_rows: int = ARROW_BATCH_ROWS):
    """Pack a tuple iterator into ``pyarrow.RecordBatch``es.

    Python DataSource readers that yield Arrow batches move data to the JVM
    via Arrow IPC instead of per-row pickling — the hottest path of every
    source at scale (SURVEY.md §4: 'Arrow record batches mandatory'). Rows
    must match ``spark_schema`` positionally; nested structs may be tuples,
    maps dicts (pyarrow converts both)."""
    import pyarrow as pa

    cached = arrow_schema(spark_schema)
    types = [f.type for f in cached]

    def make(buf):
        arrays = [pa.array(list(c), type=t) for c, t in zip(zip(*buf), types)]
        return pa.RecordBatch.from_arrays(arrays, schema=cached)

    buf = []
    for row in rows:
        buf.append(row)
        if len(buf) >= batch_rows:
            yield make(buf)
            buf = []
    if buf:
        yield make(buf)


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


def pushed_intervals(filters, name_attr: str, pos_attr: str):
    """Shared Catalyst-filter pushdown of the genomic sources: returns
    (names | None, intervals | None) from EqualTo/In on ``name_attr`` and
    range predicates on ``pos_attr``. ``intervals`` is one
    ``(name, lo, hi)`` per pushed name, sorted, and None when no name was
    pushed. Sources use it for pruning only — every filter is re-applied
    by Catalyst as the residual, so this can never change semantics.

    ``lo`` starts at 0, not 1: when no lower bound is pushed the synthesized
    interval must admit coordinate-unset rows (VCF telomeric POS=0, BAM
    RNAME-set/POS-unset) that a bare name-equality filter selects — the
    interval also drives the row-level overlap residual in the readers, so
    a [1, MAX] floor would silently drop those spec-legal rows. Index
    queries clamp to 0-based ``max(lo - 1, 0)`` so pruning is unchanged."""
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThan,
        GreaterThanOrEqual,
        In,
        LessThan,
        LessThanOrEqual,
    )

    names = None
    lo, hi = 0, MAX_COORD
    for f in filters:
        attr = getattr(f, "attribute", None)  # Not/composites have none
        if isinstance(f, EqualTo) and attr == (name_attr,):
            names = {f.value} if names is None else names & {f.value}
        elif isinstance(f, In) and attr == (name_attr,):
            vals = set(f.value)
            names = vals if names is None else names & vals
        elif attr == (pos_attr,):
            if isinstance(f, GreaterThan):
                lo = max(lo, f.value + 1)
            elif isinstance(f, GreaterThanOrEqual):
                lo = max(lo, f.value)
            elif isinstance(f, LessThan):
                hi = min(hi, f.value - 1)
            elif isinstance(f, LessThanOrEqual):
                hi = min(hi, f.value)
    if not names:
        return names, None
    return names, [(n, lo, hi) for n in sorted(names)]
