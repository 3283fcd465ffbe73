"""Format-layer queries inside the correctness gate.

Each query derives records from the synthetic tables, writes them through a
REAL sink (distributed part files + driver merge), reads them back through
the REAL source (split planning + codecs), and aggregates. The DuckDB
oracle aggregates the derived view directly — so a mismatch anywhere in
encode -> part merge -> split planning -> decode fails the value hash.

This is the engine-level analog of the reference round-trip suites
(TestBAMOutputFormat.java:92-237, TestVCFRoundTrip.java:103-113), executed
on every driver round rather than only in unit tests.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hadoop_bam_spark.queries.genomics import READS_CTE, reads_view
from hadoop_bam_spark.queries.registry import query

#: Small split size so the read-back side exercises multi-split planning
#: even at sf0.001.
_SPLIT = 256 * 1024


def _workdir(sf_dir: str, tag: str) -> str:
    """Deterministic per-(sf, tag) scratch dir, recreated on every call."""
    d = os.path.join(
        tempfile.gettempdir(), f"hbs_gate_{tag}_{abs(hash(sf_dir)) % 10**8}"
    )
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    return d


#: (sf_dir, tag) -> workdir for artifacts already written THIS session.
#: Gate queries sharing an artifact (e.g. the four bam_* rows) write it once
#: and read it many times — the driver's correctness sweep runs every
#: registered query in one session, and repeated distributed writes of the
#: same derived file were the dominant gate cost (bam_file_roundtrip alone
#: was ~10 s/query at sf0.01). Process-fresh: a new session rebuilds.
_ARTIFACTS: dict = {}


def _artifact(sf_dir: str, tag: str, build) -> str:
    """Return the workdir for (sf_dir, tag), running ``build(workdir)``
    exactly once per session."""
    key = (sf_dir, tag)
    d = _ARTIFACTS.get(key)
    if d is not None and os.path.isdir(d):
        return d
    d = _workdir(sf_dir, tag)
    build(d)
    _ARTIFACTS[key] = d
    return d


def _sam_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """reads_view projected onto the SAM schema (deterministic derivation)."""
    reads = reads_view(spark, sf_dir)
    rname = F.when(F.col("ref_idx") < 0, F.lit(None).cast("string")).otherwise(
        F.concat(F.lit("chr"), (F.col("ref_idx") + 1).cast("string"))
    )
    return reads.select(
        F.col("qname"),
        F.col("flag").cast("int").alias("flag"),
        rname.alias("rname"),
        F.col("pos").cast("int").alias("pos"),
        F.col("mapq").cast("int").alias("mapq"),
        F.when(
            F.col("ref_idx") >= 0,
            F.concat(F.col("read_len").cast("string"), F.lit("M")),
        ).alias("cigar"),
        F.lit(None).cast("string").alias("rnext"),
        F.lit(0).cast("int").alias("pnext"),
        F.lit(0).cast("int").alias("tlen"),
        F.lit(None).cast("string").alias("seq"),
        F.lit(None).cast("string").alias("qual"),
        F.create_map(
            F.lit("NM"), (F.col("l_orderkey") % 5).cast("string")
        ).alias("tags"),
    )


_BAM_ORACLE = f"""
    WITH {READS_CTE}
    SELECT CASE WHEN ref_idx < 0 THEN NULL
                ELSE 'chr' || (ref_idx + 1)::VARCHAR END AS rname,
           count(*) AS n,
           sum(pos)::BIGINT AS sum_pos,
           sum(flag)::BIGINT AS sum_flag,
           sum(mapq)::BIGINT AS sum_mapq,
           sum(l_orderkey % 5)::BIGINT AS sum_nm
    FROM reads
    GROUP BY 1
"""


def _sam_header():
    from hadoop_bam_spark.formats.sam import SAMHeader

    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6\tSO:unsorted"]
    for i in range(4):
        hdr.lines.append(f"@SQ\tSN:chr{i + 1}\tLN:1050000")
        hdr.sequences[f"chr{i + 1}"] = (i, 1050000)
    return hdr


def _write_sorted_bam(spark: SparkSession, sf_dir: str, d: str) -> None:
    from hadoop_bam_spark import sinks

    sorted_df = _sam_df(spark, sf_dir).orderBy(
        F.col("rname").asc_nulls_last(), "pos", "qname"
    )
    sinks.write_bam(sorted_df, os.path.join(d, "sorted.bam"), _sam_header(),
                    index_granularity=1024, index_bai=True)


def _agg_back(back: DataFrame) -> DataFrame:
    return back.groupBy("rname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum("flag").alias("sum_flag"),
        F.sum("mapq").alias("sum_mapq"),
        F.sum(F.element_at("tags", "NM").cast("long")).alias("sum_nm"),
    )


@query(
    "bam_file_roundtrip",
    oracle=_BAM_ORACLE,
    doc="End-to-end BAM I/O inside the gate: derive reads, write a real BAM "
    "(distributed headerless BGZF parts + driver merge + .sbi index), read "
    "it back with spark.read.format('bam') using index-aligned small splits, "
    "aggregate. Oracle aggregates the derivation directly.",
)
def bam_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bam", lambda d: sinks.write_bam(
        _sam_df(spark, sf_dir), os.path.join(d, "reads.bam"), _sam_header(),
        index_granularity=1024))
    path = os.path.join(d, "reads.bam")
    back = spark.read.format("bam").option("split_size", str(_SPLIT)).load(path)
    return _agg_back(back)


@query(
    "bam_sharded_roundtrip",
    oracle=_BAM_ORACLE,
    doc="Sharded BAM I/O (the 100 TB write path): write a DIRECTORY of "
    "complete standalone BAMs with per-shard .sbi/.bai — no driver-side "
    "byte merge, commit by rename — then read the directory back with "
    "small splits and aggregate. Same oracle as the single-file "
    "round trip: shard layout must never change content.",
)
def bam_sharded_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bam_sharded", lambda d: sinks.write_bam(
        _sam_df(spark, sf_dir).repartition(4), os.path.join(d, "reads_bam"),
        _sam_header(), index_granularity=1024, index_bai=True, sharded=True))
    path = os.path.join(d, "reads_bam")
    back = spark.read.format("bam").option("split_size", str(_SPLIT)).load(path)
    return _agg_back(back)


_BAM_PROJECTION_ORACLE = f"""
    WITH {READS_CTE}
    SELECT CASE WHEN ref_idx < 0 THEN NULL
                ELSE 'chr' || (ref_idx + 1)::VARCHAR END AS rname,
           count(*) AS n,
           sum(pos)::BIGINT AS sum_pos,
           sum(flag)::BIGINT AS sum_flag
    FROM reads
    GROUP BY 1
"""


@query(
    "bam_lazy_projection",
    oracle=_BAM_PROJECTION_ORACLE,
    doc="Source-side projection (SURVEY §2.3): read the BAM back with "
    "option('columns', 'flag,rname,pos') so the source prunes its declared "
    "schema and skips decoding cigar/seq/qual/tags entirely — the Spark "
    "analog of the reference's lazy decode "
    "(LazyBAMRecordFactory.java:53-111). Oracle aggregates the derivation.",
)
def bam_lazy_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    # shares the "bam" artifact with bam_file_roundtrip (one write, two reads)
    d = _artifact(sf_dir, "bam", lambda d: sinks.write_bam(
        _sam_df(spark, sf_dir), os.path.join(d, "reads.bam"), _sam_header(),
        index_granularity=1024))
    path = os.path.join(d, "reads.bam")
    back = (
        spark.read.format("bam")
        .option("split_size", str(_SPLIT))
        .option("columns", "flag,rname,pos")
        .load(path)
    )
    return back.groupBy("rname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum("flag").alias("sum_flag"),
    )


_BAM_INTERVAL_ORACLE = f"""
    WITH {READS_CTE}
    SELECT 'chr' || (ref_idx + 1)::VARCHAR AS rname,
           count(*) AS n,
           sum(pos)::BIGINT AS sum_pos,
           sum(l_orderkey % 5)::BIGINT AS sum_nm
    FROM reads
    WHERE ref_idx = 1 AND pos <= 400000 AND stop >= 100001
    GROUP BY 1
"""


@query(
    "bam_interval_pushdown",
    oracle=_BAM_INTERVAL_ORACLE,
    doc="Index-driven bounded traversal: write a coordinate-sorted BAM with "
    "a .bai binning index, read it back with an interval option so planning "
    "maps the interval through the index to chunk spans, drops "
    "non-overlapping splits, and iterates only the surviving chunks "
    "(reference BAMInputFormat.filterByInterval + createIndexIterator). "
    "Oracle filters the derivation by the same overlap predicate.",
)
def bam_interval_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bam_sorted", lambda d: _write_sorted_bam(spark, sf_dir, d))
    path = os.path.join(d, "sorted.bam")
    back = (
        spark.read.format("bam")
        .option("split_size", str(_SPLIT))
        .option("intervals", "chr2:100001-400000")
        .load(path)
    )
    return back.groupBy("rname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum(F.element_at("tags", "NM").cast("long")).alias("sum_nm"),
    )


_BAM_UNMAPPED_ORACLE = f"""
    WITH {READS_CTE}
    SELECT count(*) AS n,
           sum(flag)::BIGINT AS sum_flag,
           sum(l_orderkey % 5)::BIGINT AS sum_nm
    FROM reads
    WHERE ref_idx < 0
"""


@query(
    "bam_unmapped_traversal",
    oracle=_BAM_UNMAPPED_ORACLE,
    doc="Unplaced-unmapped traversal: option('unmapped','true') with no "
    "intervals returns only refID==-1 records, planned from the index's "
    "last linear bin to EOF instead of a full scan (reference "
    "BAMInputFormat.java:586-641, queryUnmapped semantics).",
)
def bam_unmapped_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    # shares the sorted+.bai artifact with bam_interval_pushdown
    d = _artifact(sf_dir, "bam_sorted", lambda d: _write_sorted_bam(spark, sf_dir, d))
    path = os.path.join(d, "sorted.bam")
    back = (
        spark.read.format("bam")
        .option("split_size", str(_SPLIT))
        .option("unmapped", "true")
        .load(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("flag").alias("sum_flag"),
        F.sum(F.element_at("tags", "NM").cast("long")).alias("sum_nm"),
    )


@query(
    "cram_file_roundtrip",
    oracle=_BAM_ORACLE,
    doc="End-to-end CRAM I/O inside the gate: derive reads, write a real "
    "CRAM 3.0 file (distributed bare-container parts + driver merge behind "
    "file definition/header/EOF), read it back with format('cram') planning "
    "container-boundary splits, aggregate. Oracle aggregates the derivation "
    "directly (reference CRAMInputFormat/CRAMRecordWriter contract).",
)
def cram_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "cram", lambda d: sinks.write_cram(
        _sam_df(spark, sf_dir), os.path.join(d, "reads.cram"), _sam_header(),
        records_per_container=500))
    path = os.path.join(d, "reads.cram")
    back = spark.read.format("cram").option("split_size", str(_SPLIT)).load(path)
    return _agg_back(back)


@query(
    "cram_sharded_roundtrip",
    oracle=_BAM_ORACLE,
    doc="Sharded CRAM I/O (the 100 TB write path): a directory of complete "
    "standalone CRAMs with per-shard .crai, no driver byte merge, read "
    "back as a directory. Same oracle as the single-file round trip.",
)
def cram_sharded_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "cram_sharded", lambda d: sinks.write_cram(
        _sam_df(spark, sf_dir).repartition(4), os.path.join(d, "reads_cram"),
        _sam_header(), records_per_container=500, index_crai=True,
        sharded=True))
    path = os.path.join(d, "reads_cram")
    back = spark.read.format("cram").option("split_size", str(_SPLIT)).load(path)
    return _agg_back(back)


@query(
    "cram_interval_pushdown",
    oracle=_BAM_INTERVAL_ORACLE,
    doc="CRAI-driven bounded CRAM traversal: write a coordinate-sorted CRAM "
    "with a .crai sidecar (single-reference containers stamped with real "
    "alignment spans), read it back with an interval option so planning "
    "prunes non-overlapping containers from the index alone (zero data "
    "reads on the driver) and the surviving rows pass the overlap "
    "residual — the CRAM analog of bam_interval_pushdown (reference "
    "CRAMInputFormat plans from this sidecar).",
)
def cram_interval_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d):
        sorted_df = _sam_df(spark, sf_dir).orderBy(
            F.col("rname").asc_nulls_last(), "pos", "qname"
        )
        sinks.write_cram(
            sorted_df, os.path.join(d, "sorted.cram"), _sam_header(),
            records_per_container=500, index_crai=True,
        )

    d = _artifact(sf_dir, "cram_sorted", build)
    path = os.path.join(d, "sorted.cram")
    back = (
        spark.read.format("cram")
        .option("split_size", str(_SPLIT))
        .option("intervals", "chr2:100001-400000")
        .load(path)
    )
    return back.groupBy("rname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum(F.element_at("tags", "NM").cast("long")).alias("sum_nm"),
    )


@query(
    "cram_unmapped_traversal",
    oracle=_BAM_UNMAPPED_ORACLE,
    doc="CRAM unplaced-unmapped traversal: option('unmapped') plans only "
    "the unmapped/mixed containers from the CRAI view and row-filters to "
    "records without a reference — the CRAM analog of "
    "bam_unmapped_traversal (queryUnmapped semantics). Shares the sorted "
    "CRAM artifact with cram_interval_pushdown.",
)
def cram_unmapped_traversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d):
        sorted_df = _sam_df(spark, sf_dir).orderBy(
            F.col("rname").asc_nulls_last(), "pos", "qname"
        )
        sinks.write_cram(
            sorted_df, os.path.join(d, "sorted.cram"), _sam_header(),
            records_per_container=500, index_crai=True,
        )

    d = _artifact(sf_dir, "cram_sorted", build)
    path = os.path.join(d, "sorted.cram")
    back = (
        spark.read.format("cram")
        .option("split_size", str(_SPLIT))
        .option("unmapped", "true")
        .load(path)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("flag").alias("sum_flag"),
        F.sum(F.element_at("tags", "NM").cast("long")).alias("sum_nm"),
    )


# --- reference-compressed (RR=true) CRAM, r8 -------------------------------

#: 64-base period of the synthetic reference contigs — both engines
#: recompute read sequences from it, so the whole RR encode/decode chain
#: (implicit matches, X substitution codes, inexpressible-'b' bases) is
#: value-gated, not just row-counted.
_RR_PAT64 = (
    "ACGTTGCAGGATCCTAAGCTTCGACATGGTACGACTGCTAAGGCATCGTTCAGCTAGCATGGCA"
)
_RR_PAT3 = _RR_PAT64 * 3  # >= 100+63 chars: covers any read at any phase

#: deterministic read sequence, portable Spark-SQL == DuckDB-SQL.
#: Base layer matches the periodic reference exactly; two planted
#: overlays make features: position 1 cycles A/C/G/'a' (the lowercase
#: is outside the substitution matrix -> verbatim 'b' feature), and the
#: mid-read base cycles T/N/G (N substitutes via the matrix -> 'X').
_RR_SEQ_SQL = f"""
    CASE WHEN ref_idx < 0 THEN
        substr('{_RR_PAT3}', CAST(l_orderkey % 64 AS INT) + 1,
               CAST(read_len AS INT))
    ELSE
        CASE WHEN l_orderkey % 4 = 0 THEN 'A'
             WHEN l_orderkey % 4 = 1 THEN 'C'
             WHEN l_orderkey % 4 = 2 THEN 'G' ELSE 'a' END
        || substr(substr('{_RR_PAT3}', CAST((pos - 1) % 64 AS INT) + 1,
                         CAST(read_len AS INT)),
                  2, CAST(FLOOR(read_len / 2) AS INT) - 2)
        || CASE WHEN l_linenumber % 3 = 0 THEN 'T'
                WHEN l_linenumber % 3 = 1 THEN 'N' ELSE 'G' END
        || substr(substr('{_RR_PAT3}', CAST((pos - 1) % 64 AS INT) + 1,
                         CAST(read_len AS INT)),
                  CAST(FLOOR(read_len / 2) AS INT) + 1)
    END
"""

_CRAM_RR_ORACLE = f"""
    WITH {{reads_cte}},
    seqs AS (
        SELECT CASE WHEN ref_idx < 0 THEN NULL
                    ELSE 'chr' || (ref_idx + 1)::VARCHAR END AS rname,
               pos,
               {_RR_SEQ_SQL} AS seq
        FROM reads
    )
    SELECT rname, count(*) AS n, sum(pos)::BIGINT AS sum_pos,
           sum(length(seq))::BIGINT AS sum_len,
           min(md5(seq)) AS min_md5, max(md5(seq)) AS max_md5
    FROM seqs GROUP BY 1
"""


@query(
    "cram_rr_roundtrip",
    oracle=_CRAM_RR_ORACLE.format(reads_cte=READS_CTE),
    doc="Reference-compressed CRAM I/O (RR=true, the shape real archives "
    "use): derive reads whose sequences mostly MATCH a periodic synthetic "
    "FASTA with two planted per-read edits (one matrix-substitutable, one "
    "inexpressible lowercase base), write through the r8 vectorized "
    "column encoder (write_cram(reference=)), read back with "
    "option('reference') so matched bases reconstruct FROM the FASTA, "
    "and md5-aggregate the sequences per contig. The oracle recomputes "
    "the identical sequences arithmetically — any corruption in the "
    "substitution codes, feature positions, or reference windows breaks "
    "the value hash.",
)
def cram_rr_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.queries.genomics import reads_view
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d):
        contig = (_RR_PAT64 * (1_050_000 // 64 + 1))[:1_050_000]
        with open(os.path.join(d, "ref.fa"), "w") as f:
            for i in range(4):
                f.write(f">chr{i + 1}\n")
                for j in range(0, len(contig), 70):
                    f.write(contig[j:j + 70] + "\n")
        reads = reads_view(spark, sf_dir)
        rname = F.when(
            F.col("ref_idx") < 0, F.lit(None).cast("string")
        ).otherwise(
            F.concat(F.lit("chr"), (F.col("ref_idx") + 1).cast("string"))
        )
        df = reads.select(
            F.col("qname"),
            F.col("flag").cast("int").alias("flag"),
            rname.alias("rname"),
            F.col("pos").cast("int").alias("pos"),
            F.col("mapq").cast("int").alias("mapq"),
            F.when(
                F.col("ref_idx") >= 0,
                F.concat(F.col("read_len").cast("string"), F.lit("M")),
            ).alias("cigar"),
            F.lit(None).cast("string").alias("rnext"),
            F.lit(0).cast("int").alias("pnext"),
            F.lit(0).cast("int").alias("tlen"),
            F.expr(_RR_SEQ_SQL).alias("seq"),
            F.lit(None).cast("string").alias("qual"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        sinks.write_cram(
            df, os.path.join(d, "reads.cram"), _sam_header(),
            reference=os.path.join(d, "ref.fa"),
            records_per_container=500,
        )

    d = _artifact(sf_dir, "cram_rr", build)
    back = (
        spark.read.format("cram")
        .option("split_size", str(_SPLIT))
        .option("reference", os.path.join(d, "ref.fa"))
        .load(os.path.join(d, "reads.cram"))
    )
    return back.groupBy("rname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum(F.length("seq")).alias("sum_len"),
        F.min(F.md5("seq")).alias("min_md5"),
        F.max(F.md5("seq")).alias("max_md5"),
    )


@query(
    "cram_embed_roundtrip",
    oracle=_CRAM_RR_ORACLE.format(reads_cte=READS_CTE),
    doc="Self-contained reference-compressed CRAM: same derivation as "
    "cram_rr_roundtrip but written with embed_reference=True (every "
    "single-ref slice carries its reference window as an embedded block, "
    "spec 8.5; multiref slices demote to verbatim) and read back with NO "
    "reference option — matched bases must reconstruct from the embedded "
    "windows alone. Same value oracle: the archive layout must never "
    "change content.",
)
def cram_embed_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.queries.genomics import reads_view
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d):
        contig = (_RR_PAT64 * (1_050_000 // 64 + 1))[:1_050_000]
        with open(os.path.join(d, "ref.fa"), "w") as f:
            for i in range(4):
                f.write(f">chr{i + 1}\n")
                for j in range(0, len(contig), 70):
                    f.write(contig[j:j + 70] + "\n")
        reads = reads_view(spark, sf_dir)
        rname = F.when(
            F.col("ref_idx") < 0, F.lit(None).cast("string")
        ).otherwise(
            F.concat(F.lit("chr"), (F.col("ref_idx") + 1).cast("string"))
        )
        df = reads.select(
            F.col("qname"),
            F.col("flag").cast("int").alias("flag"),
            rname.alias("rname"),
            F.col("pos").cast("int").alias("pos"),
            F.col("mapq").cast("int").alias("mapq"),
            F.when(
                F.col("ref_idx") >= 0,
                F.concat(F.col("read_len").cast("string"), F.lit("M")),
            ).alias("cigar"),
            F.lit(None).cast("string").alias("rnext"),
            F.lit(0).cast("int").alias("pnext"),
            F.lit(0).cast("int").alias("tlen"),
            F.expr(_RR_SEQ_SQL).alias("seq"),
            F.lit(None).cast("string").alias("qual"),
            F.create_map().cast("map<string,string>").alias("tags"),
        ).orderBy(F.col("rname").asc_nulls_last(), "pos", "qname")
        # coordinate-grouped input -> single-ref slices -> every slice
        # embeds; the file needs no FASTA to read
        sinks.write_cram(
            df, os.path.join(d, "reads.cram"), _sam_header(),
            reference=os.path.join(d, "ref.fa"), embed_reference=True,
            records_per_container=500,
        )

    d = _artifact(sf_dir, "cram_embed", build)
    back = (
        spark.read.format("cram")
        .option("split_size", str(_SPLIT))
        .load(os.path.join(d, "reads.cram"))  # NO reference option
    )
    return back.groupBy("rname").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum(F.length("seq")).alias("sum_len"),
        F.min(F.md5("seq")).alias("min_md5"),
        F.max(F.md5("seq")).alias("max_md5"),
    )


@query(
    "anysam_scan",
    oracle=_BAM_ORACLE,
    doc="Multi-format dispatch inside the gate: the derived reads are split "
    "three ways and written as one BAM, one SAM, and one CRAM (the CRAM "
    "deliberately misnamed .sam) into one directory; format('sam_any') "
    "sniffs each file's magic, plans per-format splits, and unions them "
    "(reference AnySAMInputFormat.java:126-156, SAMFormat.java:38-62). "
    "Aggregate equals the whole derivation.",
)
def anysam_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d):
        df = _sam_df(spark, sf_dir)
        key = F.abs(F.xxhash64("qname")) % 3
        sinks.write_any_sam(df.where(key == 0), os.path.join(d, "a.bam"), _sam_header())
        sinks.write_any_sam(df.where(key == 1), os.path.join(d, "b.sam"), _sam_header())
        # misnamed on purpose: content sniff must beat the extension
        sinks.write_any_sam(
            df.where(key == 2), os.path.join(d, "misnamed.sam.x"), _sam_header(),
            format="cram",
        )
        os.rename(os.path.join(d, "misnamed.sam.x"), os.path.join(d, "misnamed.sam"))

    d = _artifact(sf_dir, "anysam", build)
    back = spark.read.format("sam_any").option("split_size", str(_SPLIT)).load(d)
    return _agg_back(back)


@query(
    "sam_file_roundtrip",
    oracle=_BAM_ORACLE,
    doc="Same gate check through the SAM text sink/source (line codec + "
    "byte-range split ownership).",
)
def sam_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "sam", lambda d: sinks.write_sam(
        _sam_df(spark, sf_dir), os.path.join(d, "reads.sam"), _sam_header()))
    path = os.path.join(d, "reads.sam")
    back = spark.read.format("sam").option("split_size", str(_SPLIT)).load(path)
    return _agg_back(back)


_FASTQ_ORACLE = """
    SELECT (event_id % 8 + 1)::BIGINT AS lane,
           count(*) AS n,
           sum(event_id * 17 % 20000)::BIGINT AS sum_x,
           sum(len(md5(event_id::VARCHAR)))::BIGINT AS sum_seq_len
    FROM events
    GROUP BY 1
"""


@query(
    "fastq_file_roundtrip",
    oracle=_FASTQ_ORACLE,
    doc="End-to-end FASTQ I/O inside the gate: synthesize Casava-1.8 reads "
    "from events, write via the fastq sink, read back with the 4-line "
    "boundary-heuristic source at small splits, aggregate per lane.",
)
def fastq_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.queries.relational import load_events
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    ev = load_events(spark, sf_dir)
    name = F.concat(
        F.lit("SIM01:1:FCX:"),
        (F.col("event_id") % 8 + 1).cast("string"),
        F.lit(":1:"),
        ((F.col("event_id") * 17) % 20000).cast("string"),
        F.lit(":"),
        ((F.col("event_id") * 23) % 20000).cast("string"),
        F.lit(" 1:N:0:ACGT"),
    )
    seq = F.upper(F.translate(F.md5(F.col("event_id").cast("string")),
                              "0123456789abcdef", "ACGTACGTACGTACGT"))
    df = ev.select(
        name.alias("name"),
        seq.alias("sequence"),
        F.repeat(F.lit("I"), 32).alias("quality"),
        F.lit(None).cast("string").alias("instrument"),
        F.lit(None).cast("int").alias("run_number"),
        F.lit(None).cast("string").alias("flowcell_id"),
        F.lit(None).cast("int").alias("lane"),
        F.lit(None).cast("int").alias("tile"),
        F.lit(None).cast("int").alias("xpos"),
        F.lit(None).cast("int").alias("ypos"),
        F.lit(None).cast("int").alias("read"),
        F.lit(None).cast("boolean").alias("filter_passed"),
        F.lit(None).cast("int").alias("control_number"),
        F.lit(None).cast("string").alias("index_sequence"),
    )
    d = _artifact(sf_dir, "fastq",
                  lambda d: sinks.write_fastq(df, os.path.join(d, "reads.fastq")))
    path = os.path.join(d, "reads.fastq")
    back = spark.read.format("fastq").option("split_size", str(_SPLIT)).load(path)
    return back.groupBy(F.col("lane").cast("long").alias("lane")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xpos").alias("sum_x"),
        F.sum(F.length("sequence")).alias("sum_seq_len"),
    )


_QSEQ_ORACLE = """
    SELECT (event_id % 8 + 1)::BIGINT AS lane,
           count(*) AS n,
           sum(event_id * 17 % 20000)::BIGINT AS sum_x,
           sum(CASE WHEN event_id % 50 <> 0 THEN 1 ELSE 0 END)::BIGINT AS n_pass,
           sum(len(md5(event_id::VARCHAR)))::BIGINT AS sum_seq_len
    FROM events
    GROUP BY 1
"""


@query(
    "qseq_file_roundtrip",
    oracle=_QSEQ_ORACLE,
    doc="End-to-end QSEQ I/O inside the gate: synthesize fragments from "
    "events, write 11-column qseq lines via the sink (Sanger->Illumina "
    "quality, N->'.'), read back with format('qseq') at small splits "
    "(Illumina->Sanger recode, '.'->N), aggregate per lane incl. the "
    "QC-filter flag (reference QseqInputFormat.java:344-426).",
)
def qseq_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.queries.relational import load_events
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    ev = load_events(spark, sf_dir)
    seq = F.upper(F.translate(F.md5(F.col("event_id").cast("string")),
                              "0123456789abcdef", "ACGTACGTACGTACGT"))
    df = ev.select(
        F.lit(None).cast("string").alias("name"),
        seq.alias("sequence"),
        F.repeat(F.lit("I"), 32).alias("quality"),
        F.lit("SIM01").alias("instrument"),
        F.lit(1).cast("int").alias("run_number"),
        F.lit(None).cast("string").alias("flowcell_id"),
        (F.col("event_id") % 8 + 1).cast("int").alias("lane"),
        F.lit(1).cast("int").alias("tile"),
        ((F.col("event_id") * 17) % 20000).cast("int").alias("xpos"),
        ((F.col("event_id") * 23) % 20000).cast("int").alias("ypos"),
        F.lit(1).cast("int").alias("read"),
        (F.col("event_id") % 50 != 0).alias("filter_passed"),
        F.lit(None).cast("int").alias("control_number"),
        F.lit("ACGT").alias("index_sequence"),
    )
    d = _artifact(sf_dir, "qseq",
                  lambda d: sinks.write_qseq(df, os.path.join(d, "reads.qseq")))
    path = os.path.join(d, "reads.qseq")
    back = spark.read.format("qseq").option("split_size", str(_SPLIT)).load(path)
    return back.groupBy(F.col("lane").cast("long").alias("lane")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("xpos").alias("sum_x"),
        F.sum(F.col("filter_passed").cast("long")).alias("n_pass"),
        F.sum(F.length("sequence")).alias("sum_seq_len"),
    )


_FASTA_ORACLE = """
    WITH f AS (
        SELECT 'chr' || (n_nationkey % 2 + 1)::VARCHAR AS contig,
               (row_number() OVER (PARTITION BY n_nationkey % 2
                                   ORDER BY n_nationkey) - 1) * 32 + 1 AS pos
        FROM nation
    )
    SELECT contig, count(*) AS n, sum(pos)::BIGINT AS sum_pos,
           count(*) * 32 AS total_bases
    FROM f GROUP BY contig
"""


@query(
    "fasta_scan",
    oracle=_FASTA_ORACLE,
    doc="End-to-end FASTA I/O inside the gate: derive fixed-width reference "
    "lines from nation, write via the fasta sink (per-contig sections, "
    "driver concat, .fai sidecar), read back with format('fasta') planning "
    "one split per contig from the faidx, aggregate per contig "
    "(reference ReferenceFragment.java:36-41, FastaInputFormat.java:334-372).",
)
def fasta_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    w = Window.partitionBy(F.col("n_nationkey") % 2).orderBy("n_nationkey")
    df = nation.select(
        F.concat(F.lit("chr"), (F.col("n_nationkey") % 2 + 1).cast("string")).alias("contig"),
        ((F.row_number().over(w) - 1) * 32 + 1).cast("long").alias("pos"),
        F.upper(F.translate(F.md5(F.col("n_nationkey").cast("string")),
                            "0123456789abcdef", "ACGTACGTACGTACGT")).alias("seq"),
    )
    d = _artifact(sf_dir, "fasta", lambda d: sinks.write_fasta(
        df, os.path.join(d, "ref.fa"), index_fai=True))
    path = os.path.join(d, "ref.fa")
    back = spark.read.format("fasta").load(path)
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("pos").alias("sum_pos"),
        F.sum(F.length("seq")).alias("total_bases"),
    )


@query(
    "interval_getfasta_regions",
    bench=True,
    oracle="""
        WITH r AS (
            SELECT n_nationkey AS region_id,
                   n_nationkey % 4 AS c,
                   (n_nationkey * 137) % 4500 + 1 AS s,
                   (n_nationkey * 137) % 4500 + 26 + (n_nationkey % 50) AS e
            FROM nation
        ),
        bases AS (
            SELECT region_id, c, s, e, unnest(generate_series(s, e)) AS p
            FROM r
        )
        SELECT region_id, 'chr' || c::VARCHAR AS contig,
               s::BIGINT AS start, e::BIGINT AS stop,
               count(*)::BIGINT AS seq_len,
               sum(CASE WHEN (7*p + 3*c) % 4 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN (7*p + 3*c) % 4 = 1 THEN 1 ELSE 0 END)::BIGINT AS n_c,
               sum(CASE WHEN (7*p + 3*c) % 4 = 2 THEN 1 ELSE 0 END)::BIGINT AS n_g,
               sum(CASE WHEN (7*p + 3*c) % 4 = 3 THEN 1 ELSE 0 END)::BIGINT AS n_t
        FROM bases GROUP BY region_id, c, s, e
    """,
    doc="bedtools getfasta: extract each region's reference sequence by "
    "joining intervals against the splittable FASTA scan's chunk rows "
    "and stitching the sliced pieces in coordinate order "
    "(operators/interval_join.py interval_getfasta — one binned tile "
    "join + one regroup; a whole-genome extraction never materializes "
    "a contig in one task). The fixture FASTA is written position-"
    "deterministic (base(p) = 'ACGT'[(7p + 3*contig) mod 4], 60-char "
    "lines, auto-faidx on read), so the oracle re-derives per-region "
    "base counts arithmetically without ever touching the file.",
)
def interval_getfasta_regions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.interval_join import interval_getfasta
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d: str) -> None:
        with open(os.path.join(d, "ref.fa"), "w") as fh:
            for c in range(4):
                fh.write(f">chr{c}\n")
                seq = "".join(
                    "ACGT"[(7 * p + 3 * c) % 4] for p in range(1, 5001)
                )
                for i in range(0, len(seq), 60):
                    fh.write(seq[i:i + 60] + "\n")

    d = _artifact(sf_dir, "getfasta", build)
    fasta = spark.read.format("fasta").load(os.path.join(d, "ref.fa"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    start = (F.col("n_nationkey") * 137) % 4500 + 1
    regions = nation.select(
        F.col("n_nationkey").cast("long").alias("region_id"),
        F.concat(F.lit("chr"), (F.col("n_nationkey") % 4).cast("string")).alias("contig"),
        start.cast("long").alias("start"),
        (start + 25 + F.col("n_nationkey") % 50).cast("long").alias("stop"),
    )
    seqs = interval_getfasta(regions, fasta)

    def n_base(b: str):
        return (
            F.length("seq") - F.length(F.translate(F.col("seq"), b, ""))
        ).cast("long")

    return seqs.select(
        "region_id", "contig", "start", "stop",
        F.length("seq").cast("long").alias("seq_len"),
        n_base("A").alias("n_a"),
        n_base("C").alias("n_c"),
        n_base("G").alias("n_g"),
        n_base("T").alias("n_t"),
    )


@query(
    "fasta_consensus_snps",
    bench=True,
    oracle="""
        WITH ctg AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(c)),
        pos AS (
            SELECT c, unnest(generate_series(1, 5000)) AS p FROM ctg
        ),
        vr AS (
            SELECT n_nationkey % 4 AS c,
                   (n_nationkey * 97) % 4990 + 1 AS p
            FROM nation
        ),
        cons AS (
            SELECT pos.c, pos.p,
                   CASE WHEN vr.p IS NOT NULL
                        THEN (7 * pos.p + 3 * pos.c + 1) % 4
                        ELSE (7 * pos.p + 3 * pos.c) % 4 END AS k
            FROM pos LEFT JOIN vr ON vr.c = pos.c AND vr.p = pos.p
        )
        SELECT 'chr' || c::VARCHAR AS contig, count(*) AS n_bases,
               sum(CASE WHEN k = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
               sum(CASE WHEN k = 1 THEN 1 ELSE 0 END)::BIGINT AS n_c,
               sum(CASE WHEN k = 2 THEN 1 ELSE 0 END)::BIGINT AS n_g,
               sum(CASE WHEN k = 3 THEN 1 ELSE 0 END)::BIGINT AS n_t
        FROM cons GROUP BY c
    """,
    doc="bcftools consensus (SNP scope): apply one substitution per "
    "variant site to the reference through the splittable FASTA chunk "
    "scan (operators/consensus.py fasta_consensus — binned join + one "
    "JVM-side aggregate string splice per chunk; untouched chunks pass "
    "through, no contig in one task). Every variant's alt is the "
    "position formula rotated by one base, so a silent no-op diverges "
    "on every site; the oracle re-derives post-consensus base counts "
    "arithmetically.",
)
def fasta_consensus_snps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.consensus import fasta_consensus
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d: str) -> None:
        with open(os.path.join(d, "ref.fa"), "w") as fh:
            for c in range(4):
                fh.write(f">chr{c}\n")
                seq = "".join(
                    "ACGT"[(7 * p + 3 * c) % 4] for p in range(1, 5001)
                )
                for i in range(0, len(seq), 60):
                    fh.write(seq[i:i + 60] + "\n")

    d = _artifact(sf_dir, "getfasta", build)
    fasta = spark.read.format("fasta").load(os.path.join(d, "ref.fa"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    cidx = F.col("n_nationkey") % 4
    vpos = (F.col("n_nationkey") * 97) % 4990 + 1
    variants = nation.select(
        F.concat(F.lit("chr"), cidx.cast("string")).alias("contig"),
        vpos.cast("long").alias("start"),
        F.lit(None).cast("string").alias("ref"),
        F.substring(
            F.lit("ACGT"), ((7 * vpos + 3 * cidx + 1) % 4 + 1).cast("int"), 1
        ).alias("alt"),
    )
    cons = fasta_consensus(fasta, variants)

    def n_base(b: str):
        return F.sum(
            F.length("seq") - F.length(F.translate(F.col("seq"), b, ""))
        ).cast("long")

    return cons.groupBy("contig").agg(
        F.sum(F.length("seq")).alias("n_bases"),
        n_base("A").alias("n_a"),
        n_base("C").alias("n_c"),
        n_base("G").alias("n_g"),
        n_base("T").alias("n_t"),
    )


@query(
    "fasta_consensus_indels",
    oracle="""
        WITH ctg AS (SELECT * FROM (VALUES (0), (1), (2), (3)) t(c)),
        pos AS (
            SELECT c, unnest(generate_series(1, 5000)) AS p FROM ctg
        ),
        v AS (
            SELECT n_nationkey % 4 AS c,
                   n_nationkey * 190 + 7 AS vp,
                   n_nationkey % 3 AS t
            FROM nation
        ),
        kept AS (
            SELECT pos.c, pos.p,
                   CASE WHEN s.vp IS NOT NULL
                        THEN (7 * pos.p + 3 * pos.c + 1) % 4
                        ELSE (7 * pos.p + 3 * pos.c) % 4 END AS k
            FROM pos
            LEFT JOIN (SELECT c, vp FROM v WHERE t = 0) s
                   ON s.c = pos.c AND s.vp = pos.p
            WHERE NOT EXISTS (
                SELECT 1 FROM v d
                 WHERE d.t = 1 AND d.c = pos.c
                   AND pos.p IN (d.vp + 1, d.vp + 2)
            )
        ),
        insadd AS (
            SELECT c, count(*) AS n_ins FROM v WHERE t = 2 GROUP BY c
        )
        SELECT 'chr' || kept.c::VARCHAR AS contig,
               (count(*) + 2 * coalesce(min(i.n_ins), 0))::BIGINT AS n_bases,
               (sum(CASE WHEN k = 0 THEN 1 ELSE 0 END)
                + coalesce(min(i.n_ins), 0))::BIGINT AS n_a,
               (sum(CASE WHEN k = 1 THEN 1 ELSE 0 END)
                + coalesce(min(i.n_ins), 0))::BIGINT AS n_c,
               sum(CASE WHEN k = 2 THEN 1 ELSE 0 END)::BIGINT AS n_g,
               sum(CASE WHEN k = 3 THEN 1 ELSE 0 END)::BIGINT AS n_t,
               TRUE AS tiling_ok
        FROM kept LEFT JOIN insadd i ON i.c = kept.c
        GROUP BY kept.c
    """,
    doc="bcftools consensus, INDEL scope (r15): SNPs, 2-base deletions "
    "and 2-base insertions derived from the nation table applied to the "
    "formula reference through fasta_consensus(on_indel='apply') — the "
    "length-delta prefix scan (operators/sweep.py chunked_scan) "
    "re-anchors every chunk to consensus coordinates. The oracle "
    "re-derives the post-edit base counts arithmetically (deleted "
    "positions excluded, inserted 'AC' pairs added, SNP sites rotated), "
    "and tiling_ok asserts the re-anchored chunks tile [1, len] "
    "contiguously — a wrong offset anywhere breaks it.",
)
def fasta_consensus_indels(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.consensus import fasta_consensus
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d: str) -> None:
        with open(os.path.join(d, "ref.fa"), "w") as fh:
            for c in range(4):
                fh.write(f">chr{c}\n")
                seq = "".join(
                    "ACGT"[(7 * p + 3 * c) % 4] for p in range(1, 5001)
                )
                for i in range(0, len(seq), 60):
                    fh.write(seq[i:i + 60] + "\n")

    d = _artifact(sf_dir, "getfasta", build)
    fasta = spark.read.format("fasta").load(os.path.join(d, "ref.fa"))
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    cidx = F.col("n_nationkey") % 4
    vp = F.col("n_nationkey") * 190 + 7
    vt = F.col("n_nationkey") % 3

    def base(p):
        return F.substring(
            F.lit("ACGT"), ((7 * p + 3 * cidx) % 4 + 1).cast("int"), 1
        )

    rot = F.substring(
        F.lit("ACGT"), ((7 * vp + 3 * cidx + 1) % 4 + 1).cast("int"), 1
    )
    # t=0: SNP (rotate); t=1: delete the 2 bases after the anchor;
    # t=2: insert 'AC' after the anchor. Spans are 190 apart per contig
    # step, so always disjoint.
    variants = nation.select(
        F.concat(F.lit("chr"), cidx.cast("string")).alias("contig"),
        vp.cast("long").alias("start"),
        F.when(vt == 1, F.concat(base(vp), base(vp + 1), base(vp + 2)))
        .otherwise(base(vp))
        .alias("ref"),
        F.when(vt == 0, rot)
        .when(vt == 1, base(vp))
        .otherwise(F.concat(base(vp), F.lit("AC")))
        .alias("alt"),
    )
    cons = fasta_consensus(fasta, variants, on_indel="apply")

    def n_base(b: str):
        return F.sum(
            F.length("seq") - F.length(F.translate(F.col("seq"), b, ""))
        ).cast("long")

    return cons.groupBy("contig").agg(
        F.sum(F.length("seq")).alias("n_bases"),
        n_base("A").alias("n_a"),
        n_base("C").alias("n_c"),
        n_base("G").alias("n_g"),
        n_base("T").alias("n_t"),
        (
            (F.min("pos") == 1)
            & (
                F.max(F.col("pos") + F.length("seq") - 1)
                == F.sum(F.length("seq"))
            )
        ).alias("tiling_ok"),
    )


_VCF_ORACLE = """
    WITH v AS (
        SELECT (n_nationkey % 4 + 1)::VARCHAR AS contig,
               (n_nationkey * 1000 + 1)::BIGINT AS start,
               n_name AS vid,
               (n_nationkey % 100)::DOUBLE + 0.25 AS qual,
               n_regionkey AS depth
        FROM nation
    )
    SELECT contig, count(*) AS n, sum(start)::BIGINT AS sum_start,
           round(sum(qual), 6) AS sum_qual, sum(depth)::BIGINT AS sum_dp
    FROM v GROUP BY contig
"""


def _variants_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    return nation.select(
        (F.col("n_nationkey") % 4 + 1).cast("string").alias("contig"),
        (F.col("n_nationkey") * 1000 + 1).cast("long").alias("start"),
        (F.col("n_nationkey") * 1000 + 1).cast("long").alias("end"),
        F.col("n_name").alias("id"),
        F.lit("A").alias("ref"),
        F.array(F.lit("T")).alias("alts"),
        ((F.col("n_nationkey") % 100).cast("double") + 0.25).alias("qual"),
        F.array(F.lit("PASS")).alias("filters"),
        F.create_map(
            F.lit("DP"), F.col("n_regionkey").cast("string")
        ).alias("info"),
        F.array(
            F.struct(
                F.lit("S1").alias("sample"),
                F.lit("0/1").alias("gt"),
                F.create_map(F.lit("GT"), F.lit("0/1")).alias("fields"),
            )
        ).alias("genotypes"),
    )


def _vcf_header():
    from hadoop_bam_spark.formats.vcf import VCFHeader

    return VCFHeader(
        lines=["##fileformat=VCFv4.2"]
        + [
            '##FILTER=<ID=PASS,Description="pass">',
            '##INFO=<ID=DP,Number=1,Type=Integer,Description="depth">',
            '##FORMAT=<ID=GT,Number=1,Type=String,Description="genotype">',
        ]
        + [f"##contig=<ID={i + 1},length=10000000>" for i in range(4)],
        samples=["S1"],
    )


@query(
    "bcf_file_roundtrip",
    oracle=_VCF_ORACLE,
    doc="End-to-end binary-VCF I/O inside the gate: derive variants, encode "
    "BCF2 typed records into headerless BGZF parts + driver merge, read back "
    "with spark.read.format('bcf') at small block-aligned splits realigned "
    "by the BCF split guesser, aggregate typed INFO per contig.",
)
def bcf_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bcf", lambda d: sinks.write_bcf(
        _variants_df(spark, sf_dir), os.path.join(d, "v.bcf"), _vcf_header()))
    path = os.path.join(d, "v.bcf")
    back = spark.read.format("bcf").option("split_size", "4096").load(path)
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.round(F.sum("qual"), 6).alias("sum_qual"),
        F.sum(F.element_at("info", "DP").cast("long")).alias("sum_dp"),
    )


@query(
    "bcf_sharded_roundtrip",
    oracle=_VCF_ORACLE,
    doc="Sharded BCF I/O (the 100 TB write path): a directory of complete "
    "standalone .bcf shards — own header block, BGZF EOF, per-shard .csi "
    "sidecar — no driver byte merge, read back as a directory. Same "
    "oracle as the single-file round trip: shard layout must never "
    "change content. Completes the sharded-batch gate matrix "
    "(BAM/CRAM/VCF had rows; BCF only had a streaming sink).",
)
def bcf_sharded_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d: str) -> None:
        out = os.path.join(d, "v_bcf")
        sinks.write_bcf(
            _variants_df(spark, sf_dir).repartition(4), out, _vcf_header(),
            index_csi=True, sharded=True,
        )
        shards = [f for f in os.listdir(out) if f.endswith(".bcf")]
        missing = [f for f in shards if not os.path.exists(
            os.path.join(out, f + ".csi"))]
        if not shards or missing:
            raise AssertionError(
                f"sharded BCF write: shards={shards} missing_csi={missing}"
            )

    d = _artifact(sf_dir, "bcf_sharded", build)
    path = os.path.join(d, "v_bcf")
    back = spark.read.format("bcf").option("split_size", "4096").load(path)
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.round(F.sum("qual"), 6).alias("sum_qual"),
        F.sum(F.element_at("info", "DP").cast("long")).alias("sum_dp"),
    )


_VCF_INTERVAL_ORACLE = """
    WITH v AS (
        SELECT (n_nationkey % 4 + 1)::VARCHAR AS contig,
               (n_nationkey * 1000 + 1)::BIGINT AS start,
               n_regionkey AS depth
        FROM nation
    )
    SELECT contig, count(*) AS n, sum(start)::BIGINT AS sum_start,
           sum(depth)::BIGINT AS sum_dp
    FROM v
    WHERE contig = '2' AND start BETWEEN 5000 AND 20000
    GROUP BY contig
"""


@query(
    "vcf_interval_pushdown",
    oracle=_VCF_INTERVAL_ORACLE,
    doc="Tabix bounded traversal: write a coordinate-sorted .vcf.bgz with a "
    ".tbi index, read back with an interval option so planning prunes BGZF "
    "splits via the index chunk spans (reference VCFInputFormat.java:388-472) "
    "and the reader residual-filters rows. Oracle filters the derivation.",
)
def vcf_interval_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "vcf_iv", lambda d: sinks.write_vcf(
        _variants_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "sorted.vcf.bgz"), _vcf_header(), index_tbi=True))
    path = os.path.join(d, "sorted.vcf.bgz")
    back = (
        spark.read.format("vcf")
        .option("split_size", "4096")
        .option("intervals", "2:5000-20000")
        .load(path)
    )
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.sum(F.element_at("info", "DP").cast("long")).alias("sum_dp"),
    )


@query(
    "bcf_interval_pushdown",
    oracle=_VCF_INTERVAL_ORACLE,
    doc="CSI bounded traversal: write a coordinate-sorted BCF with a .csi "
    "binning index (what bcftools index emits), read back with an interval "
    "option so planning prunes BGZF splits via the generalized-binning "
    "chunk spans and the reader residual-filters rows — the binary-VCF "
    "analog of vcf_interval_pushdown.",
)
def bcf_interval_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bcf_iv", lambda d: sinks.write_bcf(
        _variants_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "sorted.bcf"), _vcf_header(), index_csi=True))
    path = os.path.join(d, "sorted.bcf")
    back = (
        spark.read.format("bcf")
        .option("split_size", "4096")
        .option("intervals", "2:5000-20000")
        .load(path)
    )
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.sum(F.element_at("info", "DP").cast("long")).alias("sum_dp"),
    )


@query(
    "vcf_file_roundtrip",
    oracle=_VCF_ORACLE,
    doc="End-to-end VCF I/O inside the gate: derive variants with INFO map "
    "and genotypes, write BGZF-compressed via the vcf sink, read back with "
    "block-aligned splits, aggregate typed INFO values per contig.",
)
def vcf_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "vcf", lambda d: sinks.write_vcf(
        _variants_df(spark, sf_dir), os.path.join(d, "v.vcf.bgz"), _vcf_header()))
    path = os.path.join(d, "v.vcf.bgz")
    back = spark.read.format("vcf").option("split_size", "4096").load(path)
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.round(F.sum("qual"), 6).alias("sum_qual"),
        F.sum(F.element_at("info", "DP").cast("long")).alias("sum_dp"),
    )


@query(
    "vcf_sharded_roundtrip",
    oracle=_VCF_ORACLE,
    doc="Sharded VCF I/O (the 100 TB write path): a directory of complete "
    "standalone .vcf.bgz shards with per-shard .tbi, no driver byte "
    "merge, read back as a directory. Same oracle as the single-file "
    "round trip: shard layout must never change content.",
)
def vcf_sharded_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "vcf_sharded", lambda d: sinks.write_vcf(
        _variants_df(spark, sf_dir).repartition(4),
        os.path.join(d, "v_vcf"), _vcf_header(), index_tbi=True,
        sharded=True))
    path = os.path.join(d, "v_vcf")
    back = spark.read.format("vcf").option("split_size", "4096").load(path)
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.round(F.sum("qual"), 6).alias("sum_qual"),
        F.sum(F.element_at("info", "DP").cast("long")).alias("sum_dp"),
    )


# ---------------------------------------------------------------------------
# BED (tabix-indexable interval text — not a reference format, but the
# tabix/BGZF text machinery is format-agnostic; sources/tabix_text.py)
# ---------------------------------------------------------------------------

_BED_ORACLE_CTE = """
    WITH b AS (
        SELECT 'chr' || ((l_orderkey % 4) + 1)::VARCHAR AS contig,
               ((l_orderkey * 37 + l_linenumber * 101) % 1000000 + 1)::BIGINT
                   AS start,
               ((l_orderkey * 37 + l_linenumber * 101) % 1000000
                   + l_quantity::INT + 1)::BIGINT AS "end",
               l_orderkey::VARCHAR || '_' || l_linenumber::VARCHAR AS name,
               ((l_linenumber * 137) % 1001)::INT AS score,
               CASE WHEN l_orderkey % 2 = 0 THEN '+' ELSE '-' END AS strand
        FROM lineitem
    )
"""

_BED_ORACLE = _BED_ORACLE_CTE + """
    SELECT contig, count(*) AS n, sum(start)::BIGINT AS sum_start,
           sum("end")::BIGINT AS sum_end, sum(score)::BIGINT AS sum_score,
           sum(CASE WHEN strand = '+' THEN 1 ELSE 0 END)::BIGINT AS n_plus
    FROM b GROUP BY contig
"""


def _bed_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    start = (F.col("l_orderkey") * 37 + F.col("l_linenumber") * 101) % 1000000 + 1
    return li.select(
        F.concat(F.lit("chr"), ((F.col("l_orderkey") % 4) + 1).cast("string"))
        .alias("contig"),
        start.cast("long").alias("start"),
        (start + F.col("l_quantity").cast("int")).cast("long").alias("end"),
        F.concat(
            F.col("l_orderkey").cast("string"), F.lit("_"),
            F.col("l_linenumber").cast("string"),
        ).alias("name"),
        ((F.col("l_linenumber") * 137) % 1001).cast("int").alias("score"),
        F.when(F.col("l_orderkey") % 2 == 0, "+").otherwise("-").alias("strand"),
        F.lit(None).cast("array<string>").alias("rest"),
    )


def _bed_agg(back: DataFrame) -> DataFrame:
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.sum("end").alias("sum_end"),
        F.sum("score").alias("sum_score"),
        F.sum(F.when(F.col("strand") == "+", 1).otherwise(0)).alias("n_plus"),
    )


@query(
    "bed_file_roundtrip",
    oracle=_BED_ORACLE,
    doc="End-to-end BED I/O: derive intervals, write coordinate-sorted "
    "BGZF .bed.bgz with an executor-accumulated .tbi via the bed sink, "
    "read back with block-aligned splits through the bed source (0-based "
    "half-open converts to the engine's 1-based inclusive on the rim), "
    "aggregate per contig.",
)
def bed_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bed", lambda d: sinks.write_bed(
        _bed_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "b.bed.bgz"), index_tbi=True))
    back = spark.read.format("bed").option("split_size", "65536").load(
        os.path.join(d, "b.bed.bgz"))
    return _bed_agg(back)


@query(
    "bed_interval_pushdown",
    oracle=_BED_ORACLE_CTE + """
    SELECT contig, count(*) AS n, sum(start)::BIGINT AS sum_start,
           sum("end")::BIGINT AS sum_end, sum(score)::BIGINT AS sum_score,
           sum(CASE WHEN strand = '+' THEN 1 ELSE 0 END)::BIGINT AS n_plus
    FROM b
    WHERE contig = 'chr2' AND start <= 250000 AND 120000 <= "end"
    GROUP BY contig
    """,
    doc="Tabix split pruning on BED: option('intervals', "
    "'chr2:120000-250000') drops BGZF splits whose block range cannot "
    "overlap per the .tbi chunk spans, and the per-row residual keeps "
    "semantics exact (reference tabix filtering, "
    "VCFInputFormat.java:388-472, applied format-agnostically).",
)
def bed_interval_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bed", lambda d: sinks.write_bed(
        _bed_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "b.bed.bgz"), index_tbi=True))
    back = (
        spark.read.format("bed")
        .option("split_size", "65536")
        .option("intervals", "chr2:120000-250000")
        .load(os.path.join(d, "b.bed.bgz"))
    )
    return _bed_agg(back)


@query(
    "bed_annotate_reads",
    oracle=_BED_ORACLE_CTE + f""", {READS_CTE}
    SELECT b.contig, b.strand, count(*) AS n_pairs,
           sum(reads.mapq)::BIGINT AS sum_mapq,
           sum(b.score)::BIGINT AS sum_score
    FROM reads, b
    WHERE reads.ref_idx >= 0
      AND b.contig = 'chr' || (reads.ref_idx + 1)::VARCHAR
      AND reads.pos <= b."end" AND b.start <= reads.stop
    GROUP BY b.contig, b.strand
    """,
    doc="Cross-format integration: BED features read back THROUGH the "
    "bed source (BGZF scan, 0-based conversion on the rim) drive the "
    "binned interval-overlap join (16 kb tiles) against the reads view "
    "— the annotate-reads-by-region shape. Large-by-large, no "
    "broadcast, exact-once pair emission.",
)
def bed_annotate_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.queries.genomics import reads_view
    from hadoop_bam_spark.operators.interval_join import interval_join_binned
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bed", lambda d: sinks.write_bed(
        _bed_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "b.bed.bgz"), index_tbi=True))
    feats = (
        spark.read.format("bed")
        .option("columns", "contig,start,end,score,strand")
        .load(os.path.join(d, "b.bed.bgz"))
        .withColumnRenamed("start", "f_start")
        .withColumnRenamed("end", "f_end")
        .withColumnRenamed("contig", "f_contig")
    )
    reads = (
        reads_view(spark, sf_dir)
        .filter(F.col("ref_idx") >= 0)
        .withColumn(
            "contig",
            F.concat(F.lit("chr"), (F.col("ref_idx") + 1).cast("string")),
        )
    )
    pairs = interval_join_binned(
        reads, feats,
        left_keys=("contig", "pos", "stop"),
        right_keys=("f_contig", "f_start", "f_end"),
    )
    return pairs.groupBy(
        F.col("f_contig").alias("contig"), "strand"
    ).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("mapq").alias("sum_mapq"),
        F.sum("score").alias("sum_score"),
    )


# ---------------------------------------------------------------------------
# GFF3 (second interval-text binding; sources/tabix_text.py)
# ---------------------------------------------------------------------------

_GFF_ORACLE_CTE = """
    WITH g AS (
        SELECT 'chr' || ((l_orderkey % 3) + 1)::VARCHAR AS contig,
               ((l_orderkey * 11 + l_linenumber * 7) % 500000 + 1)::BIGINT
                   AS start,
               ((l_orderkey * 11 + l_linenumber * 7) % 500000 + 1
                   + l_quantity::INT)::BIGINT AS "end",
               CASE l_linenumber % 3 WHEN 0 THEN 'gene' WHEN 1 THEN 'exon'
                    ELSE 'cds' END AS type,
               CASE WHEN l_orderkey % 5 = 0 THEN NULL
                    ELSE (l_orderkey % 97) * 0.25 END AS score,
               CASE WHEN l_orderkey % 2 = 0 THEN '+' ELSE '-' END AS strand,
               (l_orderkey % 1000)::BIGINT AS nm
        FROM lineitem
    )
"""

_GFF_AGG = """
    SELECT contig, type, count(*) AS n, sum(start)::BIGINT AS sum_start,
           sum("end")::BIGINT AS sum_end,
           round(sum(score), 6) AS sum_score,
           sum(nm)::BIGINT AS sum_nm
    FROM g GROUP BY contig, type
"""


def _gff_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    start = (F.col("l_orderkey") * 11 + F.col("l_linenumber") * 7) % 500000 + 1
    return li.select(
        F.concat(F.lit("chr"), ((F.col("l_orderkey") % 3) + 1).cast("string"))
        .alias("contig"),
        F.lit("tpch").alias("source"),
        F.when(F.col("l_linenumber") % 3 == 0, "gene")
        .when(F.col("l_linenumber") % 3 == 1, "exon")
        .otherwise("cds").alias("type"),
        start.cast("long").alias("start"),
        (start + F.col("l_quantity").cast("int")).cast("long").alias("end"),
        F.when(F.col("l_orderkey") % 5 == 0, None)
        .otherwise((F.col("l_orderkey") % 97) * 0.25)
        .cast("double").alias("score"),
        F.when(F.col("l_orderkey") % 2 == 0, "+").otherwise("-")
        .alias("strand"),
        (F.col("l_linenumber") % 3).cast("int").alias("phase"),
        F.create_map(
            F.lit("id"),
            F.concat(F.col("l_orderkey").cast("string"), F.lit("_"),
                     F.col("l_linenumber").cast("string")),
            F.lit("nm"), (F.col("l_orderkey") % 1000).cast("string"),
        ).alias("attributes"),
    )


def _gff_agg(back: DataFrame) -> DataFrame:
    return back.groupBy("contig", "type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.sum("end").alias("sum_end"),
        F.round(F.sum("score"), 6).alias("sum_score"),
        F.sum(F.element_at("attributes", "nm").cast("long")).alias("sum_nm"),
    )


@query(
    "gff_file_roundtrip",
    oracle=_GFF_ORACLE_CTE + _GFF_AGG,
    doc="End-to-end GFF3 I/O: derive annotation features (typed score/"
    "phase, k=v attributes map), write coordinate-sorted BGZF .gff3.bgz "
    "with a GFF-preset .tbi via the gff sink, read back with block-"
    "aligned splits, aggregate per (contig, type) incl. a value pulled "
    "back OUT of the attributes map.",
)
def gff_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "gff", lambda d: sinks.write_gff(
        _gff_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "g.gff3.bgz"), index_tbi=True))
    back = spark.read.format("gff").option("split_size", "65536").load(
        os.path.join(d, "g.gff3.bgz"))
    return _gff_agg(back)


@query(
    "gff_interval_pushdown",
    oracle=_GFF_ORACLE_CTE + """
    SELECT contig, type, count(*) AS n, sum(start)::BIGINT AS sum_start,
           sum("end")::BIGINT AS sum_end,
           round(sum(score), 6) AS sum_score,
           sum(nm)::BIGINT AS sum_nm
    FROM g
    WHERE contig = 'chr3' AND start <= 120000 AND 60000 <= "end"
    GROUP BY contig, type
    """,
    doc="Tabix split pruning on GFF3 (1-based preset, columns 1/4/5): "
    "option('intervals', 'chr3:60000-120000') drops non-overlapping "
    "BGZF splits per the .tbi; the per-row residual keeps semantics "
    "exact.",
)
def gff_interval_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "gff", lambda d: sinks.write_gff(
        _gff_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "g.gff3.bgz"), index_tbi=True))
    back = (
        spark.read.format("gff")
        .option("split_size", "65536")
        .option("intervals", "chr3:60000-120000")
        .load(os.path.join(d, "g.gff3.bgz"))
    )
    return _gff_agg(back)


@query(
    "bed_interval_merge",
    # DuckDB 1.0 computes a windowed MAX over a VARCHAR-partitioned
    # ROWS frame incorrectly for one frame in this data (verified
    # against a sequential reference; Spark agrees with the
    # reference), so the oracle folds the contigs onto ONE disjoint
    # numeric axis (contig_idx << 34 + pos; cross-contig gaps can
    # never merge) and uses a single UNPARTITIONED window, which
    # DuckDB evaluates correctly.
    oracle=_BED_ORACLE_CTE + """
    , axis AS (
        SELECT contig, name,
               substr(contig, 4)::BIGINT * 17179869184 + start AS s2,
               substr(contig, 4)::BIGINT * 17179869184 + "end" AS e2
        FROM b
    ), flagged AS (
        SELECT contig, s2, e2, name,
               CASE WHEN s2 > max(e2) OVER (
                        ORDER BY s2, e2, name
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) + 1 OR max(e2) OVER (
                        ORDER BY s2, e2, name
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                    ) IS NULL THEN 1 ELSE 0 END AS opens
        FROM axis
    ), grouped AS (
        SELECT contig, s2, e2,
               sum(opens) OVER (ORDER BY s2, e2, name
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS grp
        FROM flagged
    ), merged AS (
        SELECT min(contig) AS contig, min(s2) AS m_start,
               max(e2) AS m_end, count(*) AS n_merged
        FROM grouped GROUP BY grp
    )
    SELECT contig, count(*) AS n_regions,
           sum(m_end - m_start + 1)::BIGINT AS covered_bases,
           max(n_merged)::BIGINT AS max_cluster,
           sum(n_merged)::BIGINT AS n_input
    FROM merged GROUP BY contig
    """,
    doc="bedtools-merge as a distributed operator: flatten the BED-"
    "derived intervals (overlapping or book-ended regions coalesce) "
    "with the two-phase range-partitioned sweep — local running-max "
    "merge per (contig, 8 Mb chunk), chunk-granularity stitch, ONE "
    "data shuffle, no per-contig parallelism ceiling — then report "
    "region count / covered bases per contig.",
)
def bed_interval_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.operators.interval_join import interval_merge

    feats = _bed_df(spark, sf_dir).select(
        "contig", "start", F.col("end").alias("stop"))
    merged = interval_merge(feats, keys=("contig", "start", "stop"))
    return merged.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_regions"),
        F.sum(F.col("stop") - F.col("start") + 1).alias("covered_bases"),
        F.max("n_merged").alias("max_cluster"),
        F.sum("n_merged").alias("n_input"),
    )


# ---------------------------------------------------------------------------
# UCSC chain file roundtrip + strand-aware liftover (formats/chain.py,
# operators/interval_join.py interval_liftover). The oracle derives the
# block geometry straight from nation arithmetic — never from the file —
# so a parse/format bug anywhere in the chain codec fails the hash.
# ---------------------------------------------------------------------------

@query(
    "chain_liftover_roundtrip",
    bench=True,
    oracle=f"""
        WITH {READS_CTE},
        dreads AS (
            SELECT DISTINCT qname, ref_idx, pos, stop
            FROM reads WHERE flag & 4 = 0
        ),
        blocks AS (
            SELECT 'chr' || (n_nationkey % 4)::VARCHAR AS src_contig,
                   n_nationkey * 25000 + 1 AS ss,
                   n_nationkey * 25000 + 20000 AS se,
                   'chr' || (n_nationkey % 4)::VARCHAR || '_new'
                       AS dst_contig,
                   7000000 + n_nationkey * 1000 + 1 AS ds,
                   CASE WHEN n_nationkey % 2 = 0 THEN '+' ELSE '-' END
                       AS strand
            FROM nation
        ),
        pairs AS (
            SELECT b.dst_contig, b.strand, r.qname,
                   CASE WHEN b.strand = '+'
                        THEN b.ds + greatest(b.ss, r.pos) - b.ss
                        ELSE b.ds + (b.se - b.ss)
                             - (least(b.se, r.stop) - b.ss) END AS lo,
                   CASE WHEN b.strand = '+'
                        THEN b.ds + least(b.se, r.stop) - b.ss
                        ELSE b.ds + (b.se - b.ss)
                             - (greatest(b.ss, r.pos) - b.ss) END AS hi
            FROM dreads r JOIN blocks b
              ON 'chr' || r.ref_idx::VARCHAR = b.src_contig
             AND r.pos <= b.se AND b.ss <= r.stop
        )
        SELECT dst_contig, strand AS dst_strand,
               count(*) AS n_segments,
               sum(hi - lo + 1)::BIGINT AS lifted_bases,
               count(DISTINCT qname) AS n_reads,
               min(lo)::BIGINT AS min_pos,
               max(hi)::BIGINT AS max_pos
        FROM pairs GROUP BY dst_contig, strand
    """,
    doc="UCSC chain-file roundtrip feeding liftOver: derive mixed-strand "
    "chain blocks, WRITE a real .chain file (format_chain), parse it back "
    "(read_chain — 0-based half-open strand-relative header coords → the "
    "engine's 1-based closed plus-strand blocks), then remap every read "
    "through interval_liftover with minus-strand positions MIRRORING "
    "inside their block. The oracle rebuilds the geometry from nation "
    "arithmetic without touching the file, so the whole "
    "format→parse→join→mirror pipeline is hash-checked.",
)
def chain_liftover_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.formats.chain import format_chain, read_chain
    from hadoop_bam_spark.operators.interval_join import interval_liftover

    def build(d: str) -> None:
        keys = sorted(
            r[0]
            for r in spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
            .select("n_nationkey")
            .collect()
        )
        blocks = [
            (
                f"chr{k % 4}", k * 25000 + 1, k * 25000 + 20000,
                f"chr{k % 4}_new", 7000000 + k * 1000 + 1,
                "+" if k % 2 == 0 else "-", k, 100 + k,
            )
            for k in keys
        ]
        with open(os.path.join(d, "gate.chain"), "w") as fh:
            fh.write(format_chain(blocks, t_size=2_000_000, q_size=9_000_000))

    d = _artifact(sf_dir, "chain", build)
    chain = read_chain(spark, os.path.join(d, "gate.chain"))
    reads = (
        reads_view(spark, sf_dir)
        .filter(F.col("flag").bitwiseAND(4) == 0)
        .select("qname", "ref_idx", "pos", "stop")
        .distinct()
        .select(
            F.concat(F.lit("chr"), F.col("ref_idx").cast("string")).alias("contig"),
            "pos", "stop", "qname",
        )
    )
    lifted = interval_liftover(
        reads, chain, keys=("contig", "pos", "stop"), strand_col="dst_strand"
    )
    return lifted.groupBy(
        F.col("contig").alias("dst_contig"), "dst_strand"
    ).agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.col("stop") - F.col("pos") + 1).alias("lifted_bases"),
        F.count_distinct("qname").alias("n_reads"),
        F.min("pos").alias("min_pos"),
        F.max("stop").alias("max_pos"),
    )


# ---------------------------------------------------------------------------
# bedGraph — the numeric coverage-track binding of the tabix text stack
# (formats/bedgraph.py). Values are quarter-steps (k/4): exact binary
# fractions, so double sums are order-independent and hash-stable across
# engines.
# ---------------------------------------------------------------------------

_BEDGRAPH_ORACLE_CTE = """
    WITH g AS (
        SELECT 'chr' || ((l_orderkey % 4) + 1)::VARCHAR AS contig,
               ((l_orderkey * 37 + l_linenumber * 101) % 1000000 + 1)::BIGINT
                   AS start,
               ((l_orderkey * 37 + l_linenumber * 101) % 1000000
                   + l_quantity::INT + 1)::BIGINT AS "end",
               ((l_linenumber * 137) % 1001) / 4.0 AS value
        FROM lineitem
    )
"""

_BEDGRAPH_ORACLE = _BEDGRAPH_ORACLE_CTE + """
    SELECT contig, count(*) AS n, sum(start)::BIGINT AS sum_start,
           sum("end")::BIGINT AS sum_end, sum(value) AS sum_value,
           max(value) AS max_value
    FROM g GROUP BY contig
"""


def _bedgraph_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
    start = (F.col("l_orderkey") * 37 + F.col("l_linenumber") * 101) % 1000000 + 1
    return li.select(
        F.concat(F.lit("chr"), ((F.col("l_orderkey") % 4) + 1).cast("string"))
        .alias("contig"),
        start.cast("long").alias("start"),
        (start + F.col("l_quantity").cast("int")).cast("long").alias("end"),
        (((F.col("l_linenumber") * 137) % 1001) / 4.0).alias("value"),
    )


def _bedgraph_agg(back: DataFrame) -> DataFrame:
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("start").alias("sum_start"),
        F.sum("end").alias("sum_end"),
        F.sum("value").alias("sum_value"),
        F.max("value").alias("max_value"),
    )


@query(
    "bedgraph_file_roundtrip",
    oracle=_BEDGRAPH_ORACLE,
    doc="End-to-end bedGraph I/O: derive a coverage track, write "
    "coordinate-sorted BGZF .bedgraph.bgz with an executor-accumulated "
    ".tbi via the bedgraph sink, read back with block-aligned splits "
    "(0-based half-open converts on the rim; whole values render "
    "without a decimal point and reparse exactly), aggregate per "
    "contig including the float value sums.",
)
def bedgraph_file_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bedgraph", lambda d: sinks.write_bedgraph(
        _bedgraph_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "g.bedgraph.bgz"), index_tbi=True))
    back = spark.read.format("bedgraph").option("split_size", "65536").load(
        os.path.join(d, "g.bedgraph.bgz"))
    return _bedgraph_agg(back)


@query(
    "bedgraph_interval_pushdown",
    oracle=_BEDGRAPH_ORACLE_CTE + """
    SELECT contig, count(*) AS n, sum(start)::BIGINT AS sum_start,
           sum("end")::BIGINT AS sum_end, sum(value) AS sum_value,
           max(value) AS max_value
    FROM g
    WHERE contig = 'chr3' AND start <= 300000 AND 150000 <= "end"
    GROUP BY contig
    """,
    doc="Tabix split pruning on bedGraph: option('intervals', "
    "'chr3:150000-300000') drops BGZF splits whose block range cannot "
    "overlap per the .tbi chunk spans; the per-row residual keeps "
    "semantics exact (reference tabix filtering, "
    "VCFInputFormat.java:388-472, format-agnostic).",
)
def bedgraph_interval_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    d = _artifact(sf_dir, "bedgraph", lambda d: sinks.write_bedgraph(
        _bedgraph_df(spark, sf_dir).orderBy("contig", "start"),
        os.path.join(d, "g.bedgraph.bgz"), index_tbi=True))
    back = (
        spark.read.format("bedgraph")
        .option("split_size", "65536")
        .option("intervals", "chr3:150000-300000")
        .load(os.path.join(d, "g.bedgraph.bgz"))
    )
    return _bedgraph_agg(back)


@query(
    "coverage_track_roundtrip",
    oracle=f"""
        WITH {READS_CTE},
        bins AS (
            SELECT 'chr' || (ref_idx + 1)::VARCHAR AS contig,
                   unnest(generate_series((pos - 1) // 1000,
                                          (stop - 1) // 1000)) AS bin
            FROM reads WHERE flag & 4 = 0
        ),
        depths AS (
            SELECT contig, bin, count(*) AS depth
            FROM bins GROUP BY contig, bin
        )
        SELECT contig, count(*) AS n_bins,
               sum(depth)::DOUBLE AS sum_depth,
               max(depth)::DOUBLE AS max_depth,
               min(bin * 1000 + 1)::BIGINT AS first_start,
               max(bin * 1000 + 1000)::BIGINT AS last_end
        FROM depths GROUP BY contig
    """,
    doc="The engine consumes its own analysis output: per-1kb read depth "
    "(the coverage_histogram shape) becomes a bedGraph coverage track — "
    "written through the bedgraph sink as BGZF + .tbi, read back through "
    "the bedgraph source — and the aggregate is checked against depths "
    "derived directly from the reads. Exercises analysis → track sink → "
    "splittable re-scan as one pipeline, the genome-browser handoff "
    "every coverage tool supports.",
)
def coverage_track_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)

    def build(d: str) -> None:
        reads = reads_view(spark, sf_dir).filter(
            F.col("flag").bitwiseAND(4) == 0)
        depths = (
            reads.select(
                F.concat(F.lit("chr"), (F.col("ref_idx") + 1).cast("string"))
                .alias("contig"),
                F.explode(
                    F.sequence(
                        ((F.col("pos") - 1) / 1000).cast("long"),
                        ((F.col("stop") - 1) / 1000).cast("long"),
                    )
                ).alias("bin"),
            )
            .groupBy("contig", "bin")
            .agg(F.count(F.lit(1)).alias("depth"))
            .select(
                "contig",
                (F.col("bin") * 1000 + 1).alias("start"),
                (F.col("bin") * 1000 + 1000).alias("end"),
                F.col("depth").cast("double").alias("value"),
            )
        )
        sinks.write_bedgraph(
            depths.orderBy("contig", "start"),
            os.path.join(d, "cov.bedgraph.bgz"), index_tbi=True)

    d = _artifact(sf_dir, "covtrack", build)
    back = spark.read.format("bedgraph").option("split_size", "65536").load(
        os.path.join(d, "cov.bedgraph.bgz"))
    return back.groupBy("contig").agg(
        F.count(F.lit(1)).alias("n_bins"),
        F.sum("value").alias("sum_depth"),
        F.max("value").alias("max_depth"),
        F.min("start").alias("first_start"),
        F.max("end").alias("last_end"),
    )


# ---------------------------------------------------------------------------
# Cross-format conversion: BAM -> FASTQ (the samtools-fastq workflow) —
# two sinks and two sources chained in one gate query.
# ---------------------------------------------------------------------------

_HEX16 = "0123456789abcdef"
_BASE16 = "ACGTACGTACGTACGT"
_SANGER16_G = "()*+,-./01234567"


@query(
    "bam_to_fastq_conversion",
    oracle=f"""
        WITH {READS_CTE},
        conv AS (
            SELECT qname,
                   translate(md5(qname), '{_HEX16}', '{_BASE16}') AS seq,
                   translate(md5(qname), '{_HEX16}', '{_SANGER16_G}') AS q
            FROM reads
        )
        SELECT count(*) AS n_records,
               count(DISTINCT qname) AS n_distinct_names,
               sum(length(seq))::BIGINT AS sum_seq_len,
               sum(length(seq) - length(replace(seq, 'A', '')))::BIGINT
                   AS n_a_bases,
               sum(ascii(substr(q, 1, 1)) - 33)::BIGINT AS sum_q1
        FROM conv
    """,
    doc="samtools-fastq as a distributed pipeline: the shared BAM artifact "
    "is read back THROUGH the bam source (BGZF splits, vectorized "
    "decode), every record converts to a FASTQ read (deterministic "
    "md5-derived bases/qualities keyed on the round-tripped qname), the "
    "fastq sink writes it, and the fastq source re-reads it at small "
    "splits. The aggregate is content-sensitive on the name, base, and "
    "quality channels, so corruption at ANY of the four format hops "
    "(BAM write, BAM read, FASTQ write, FASTQ read) fails the hash. "
    "Reference analog: the BAM->FASTQ conversion path users run via "
    "htsjdk SamToFastq on top of the reference's record I/O.",
)
def bam_to_fastq_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    bam_dir = _artifact(sf_dir, "bam", lambda d: sinks.write_bam(
        _sam_df(spark, sf_dir), os.path.join(d, "reads.bam"), _sam_header(),
        index_granularity=1024))

    def build(d: str) -> None:
        reads_back = (
            spark.read.format("bam")
            .option("split_size", str(_SPLIT))
            .load(os.path.join(bam_dir, "reads.bam"))
        )
        fq = reads_back.select(
            F.col("qname").alias("name"),
            F.translate(F.md5("qname"), _HEX16, _BASE16).alias("sequence"),
            F.translate(F.md5("qname"), _HEX16, _SANGER16_G).alias("quality"),
            F.lit(None).cast("string").alias("instrument"),
            F.lit(None).cast("int").alias("run_number"),
            F.lit(None).cast("string").alias("flowcell_id"),
            F.lit(None).cast("int").alias("lane"),
            F.lit(None).cast("int").alias("tile"),
            F.lit(None).cast("int").alias("xpos"),
            F.lit(None).cast("int").alias("ypos"),
            F.lit(None).cast("int").alias("read"),
            F.lit(None).cast("boolean").alias("filter_passed"),
            F.lit(None).cast("int").alias("control_number"),
            F.lit(None).cast("string").alias("index_sequence"),
        )
        sinks.write_fastq(fq, os.path.join(d, "conv.fastq"))

    d = _artifact(sf_dir, "bam2fastq", build)
    back = spark.read.format("fastq").option(
        "split_size", str(_SPLIT)).load(os.path.join(d, "conv.fastq"))
    return back.agg(
        F.count(F.lit(1)).alias("n_records"),
        F.count_distinct("name").alias("n_distinct_names"),
        F.sum(F.length("sequence")).alias("sum_seq_len"),
        F.sum(
            F.length("sequence")
            - F.length(F.regexp_replace("sequence", "A", ""))
        ).alias("n_a_bases"),
        F.sum(F.ascii(F.substring("quality", 1, 1)) - 33).alias("sum_q1"),
    )


@query(
    "bam_idxstats",
    oracle=f"""
        WITH {READS_CTE}
        SELECT rname, sum(n_mapped)::BIGINT AS n_mapped,
               sum(n_unmapped)::BIGINT AS n_unmapped
        FROM (
            SELECT 'chr' || (ref_idx + 1)::VARCHAR AS rname,
                   1 AS n_mapped, 0 AS n_unmapped
            FROM reads WHERE ref_idx >= 0
            UNION ALL
            SELECT '*', 0, 1 FROM reads WHERE ref_idx < 0
            UNION ALL
            SELECT 'chr' || i::VARCHAR, 0, 0
            FROM (SELECT unnest(generate_series(1, 4)) AS i)
            UNION ALL
            SELECT '*', 0, 0
        )
        GROUP BY rname
    """,
    doc="samtools idxstats WITHOUT scanning a single record: per-contig "
    "mapped/unmapped read counts pulled from the .bai's metadata "
    "pseudo-bins (bin 37450) plus the trailing n_no_coor counter — the "
    "index the engine's own BAM writer emitted. The oracle recounts from "
    "the derivation, so the pseudo-bin accounting in the distributed "
    "write + index merge is what is actually being checked. At 100 TB "
    "this query reads a few KB of index per file, never the data "
    "(reference analog: htsjdk BAMIndexMetaData over the reference's "
    "BAI split machinery, BAMInputFormat.java:357-373).",
)
def bam_idxstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from hadoop_bam_spark.formats.bai import read_bai

    d = _artifact(sf_dir, "bam_sorted", lambda d: _write_sorted_bam(spark, sf_dir, d))
    idx = read_bai(os.path.join(d, "sorted.bam.bai"))
    rows = []
    for i, ref in enumerate(idx.refs):
        rows.append((f"chr{i + 1}", max(ref.n_mapped, 0), max(ref.n_unmapped, 0)))
    rows.append(("*", 0, int(idx.n_no_coor or 0)))
    from hadoop_bam_spark.session import local_df

    return local_df(spark, rows, "rname string, n_mapped long, n_unmapped long")
