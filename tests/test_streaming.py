"""Structured Streaming tests: batch/stream parity via availableNow."""

import os
import time

import pytest
from pyspark.sql import functions as F

from tests import writers

SF = "/root/testdata/sf0.001"


def tail_rows(rdr, start):
    """One micro-batch of a tail reader from offset ``start``, run as
    Spark runs it: ``latestOffset`` and ``partitions`` on ``rdr``, then
    ``read`` of each pickled partition. Returns (row tuples, end offset)."""
    import pickle

    import pyarrow as pa
    from pyspark import cloudpickle

    end = rdr.latestOffset()
    rows = []
    for p in rdr.partitions(start, end):
        for item in rdr.read(pickle.loads(cloudpickle.dumps(p))):
            if isinstance(item, pa.RecordBatch):
                rows.extend(zip(*(c.to_pylist() for c in item.columns)))
            else:
                rows.append(tuple(item))
    return rows, end


class TestEventsStreaming:
    def test_hourly_rollup_matches_batch(self, spark):
        from hadoop_bam_spark.streaming import (
            hourly_rollup_stream,
            read_events_stream,
        )
        from hadoop_bam_spark.streaming.events import run_available_now

        stream = hourly_rollup_stream(read_events_stream(spark, SF))
        got = run_available_now(stream, "t_rollup", "complete")

        from hadoop_bam_spark.queries.relational import load_events

        ev = load_events(spark, SF).withColumn(
            "event_time", F.timestamp_micros(F.col("ts_us"))
        )
        want = (
            ev.groupBy(F.window("event_time", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("value_sum"))
            .select(F.col("w.start").alias("hour_start"), "event_type", "n", "value_sum")
        )
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_sessionize_stateful(self, spark):
        from hadoop_bam_spark.streaming import read_events_stream, sessionize_stream
        from hadoop_bam_spark.streaming.events import run_available_now

        out = run_available_now(
            sessionize_stream(read_events_stream(spark, SF)), "t_sessions", "append"
        )
        # closed sessions only (open ones wait for the timeout); all emitted
        # sessions must respect the 30-minute gap invariant
        rows = out.collect()
        for r in rows:
            assert r.session_end_us >= r.session_start_us
            assert r.n_events >= 1


    def test_asof_join_matches_batch(self, spark):
        """Streaming as-of (stateful, one timestamp per user) must equal the
        batch union-trick asof row-for-row on an availableNow drain."""
        from hadoop_bam_spark.queries.relational import events_asof_join
        from hadoop_bam_spark.streaming import asof_join_stream, read_events_stream
        from hadoop_bam_spark.streaming.events import run_available_now

        got = run_available_now(
            asof_join_stream(read_events_stream(spark, SF)), "t_asof", "append"
        )
        want = events_asof_join(spark, SF)
        assert got.count() == want.count()
        assert got.exceptAll(want).count() == 0
        assert want.exceptAll(got).count() == 0

    def test_funnel_matches_batch(self, spark):
        """Latest-per-user streaming funnel stages aggregate to the batch
        funnel counts."""
        from hadoop_bam_spark.queries.relational import events_funnel
        from hadoop_bam_spark.streaming import funnel_stream, read_events_stream
        from hadoop_bam_spark.streaming.events import run_available_now

        stages = run_available_now(
            funnel_stream(read_events_stream(spark, SF)), "t_funnel", "append"
        )
        # changelog -> latest row per user (highest stage completion wins)
        from pyspark.sql import Window

        w = (
            Window.partitionBy("user_id")
            .orderBy(
                F.col("p").asc_nulls_first(),
                F.col("c").asc_nulls_first(),
                F.col("v").asc_nulls_first(),
            )
            .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
        )
        latest = (
            stages.withColumn("v", F.last("v", ignorenulls=True).over(w))
            .withColumn("c", F.last("c", ignorenulls=True).over(w))
            .withColumn("p", F.last("p", ignorenulls=True).over(w))
            .dropDuplicates(["user_id"])
        )
        got = latest.agg(
            F.count(F.lit(1)).alias("n_users"),
            F.count("v").alias("n_viewed"),
            F.count("c").alias("n_clicked"),
            F.count("p").alias("n_purchased"),
        ).collect()[0]
        want = events_funnel(spark, SF).collect()[0]
        assert (got.n_users, got.n_viewed, got.n_clicked, got.n_purchased) == (
            want.n_users, want.n_viewed, want.n_clicked, want.n_purchased,
        )


class TestFastqStreaming:
    def test_directory_tail(self, spark, tmp_path):
        from hadoop_bam_spark.streaming.tail import FastqStreamDataSource

        spark.dataSource.register(FastqStreamDataSource)
        land = tmp_path / "landing"
        land.mkdir()
        rec = "@r{i}/1\nACGT\n+\nIIII\n"
        (land / "a.fastq").write_text("".join(rec.format(i=i) for i in range(10)))
        (land / "b.fastq").write_text("".join(rec.format(i=i) for i in range(10, 25)))

        q = (
            spark.readStream.format("fastq_stream")
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_fastq_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert spark.table("t_fastq_stream").count() == 25

    def test_read_is_lazy_and_copy_safe(self, spark, tmp_path):
        """The driver only plans a delivery, it never iterates its rows: a
        multi-GB sequencer drop is decoded on executors, split for split
        as the batch source would read it."""
        from hadoop_bam_spark.sources.fastq_source import FastqDataSource
        from hadoop_bam_spark.streaming.tail import FastqStreamDataSource

        land = tmp_path / "lz"
        land.mkdir()
        rec = "@r{i}/1\nACGT\n+\nIIII\n"
        (land / "a.fastq").write_text("".join(rec.format(i=i) for i in range(7)))
        reader = FastqStreamDataSource({"path": str(land)}).streamReader(None)
        rows, end = tail_rows(reader, {"processed": []})
        batch = FastqDataSource({"path": str(land)}).reader(None).partitions()
        assert [p.part for p in reader.partitions({"processed": []}, end)] == batch
        assert end == {"processed": ["a.fastq"]}
        assert len(rows) == 7

    def test_replay_missing_file_raises(self, spark, tmp_path):
        """A file recorded in the offset log but deleted from disk must
        RAISE at replay, not silently drop its rows (exactly-once-per-file
        contract; parity with vcf_stream)."""
        import pytest

        from hadoop_bam_spark.streaming.tail import FastqStreamDataSource

        land = tmp_path / "rp"
        land.mkdir()
        (land / "a.fastq").write_text("@r1/1\nACGT\n+\nIIII\n")
        reader = FastqStreamDataSource({"path": str(land)}).streamReader(None)
        ok, _ = tail_rows(reader, {"processed": []})
        assert len(ok) == 1
        (land / "a.fastq").unlink()
        with pytest.raises(FileNotFoundError, match="exactly-once"):
            reader.partitions({"processed": []}, {"processed": ["a.fastq"]})


class TestDocumentStreaming:
    def test_stream_dedup_first_seen_wins(self, spark):
        from hadoop_bam_spark.streaming import dedup_exact_stream, read_documents_stream
        from hadoop_bam_spark.streaming.events import run_available_now

        out = run_available_now(
            dedup_exact_stream(read_documents_stream(spark, SF)),
            "t_docdedup",
            "append",
        )
        docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
        # the documents table has no duplicate texts, so dedup must be a
        # no-op pass-through of every doc exactly once
        assert out.count() == docs.count()
        assert out.select("doc_id").distinct().count() == docs.count()

    def test_stream_dedup_drops_replayed_duplicates(self, spark, tmp_path):
        from hadoop_bam_spark.streaming import dedup_exact_stream
        from hadoop_bam_spark.streaming.documents import DOCUMENTS_SCHEMA
        from hadoop_bam_spark.streaming.events import run_available_now

        docs = spark.read.parquet(os.path.join(SF, "documents.parquet")).limit(50)
        land = str(tmp_path / "docs")
        # two files with identical texts under different doc_ids: the second
        # micro-batch's rows are all within-watermark duplicates
        docs.coalesce(1).write.parquet(os.path.join(land, "batch1"))
        docs.withColumn("doc_id", F.col("doc_id") + 10_000).coalesce(1).write.parquet(
            os.path.join(land, "batch2")
        )
        stream = (
            spark.readStream.schema(DOCUMENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(land + "/*")
            .withColumn(
                "ingest_time",
                F.timestamp_micros(F.col("doc_id") * 1_000_000 + 86_400_000_000),
            )
        )
        out = run_available_now(dedup_exact_stream(stream), "t_docdedup2", "append")
        n = docs.count()
        assert out.count() == n
        # first-seen wins: all surviving ids are from the original batch
        assert out.filter(F.col("doc_id") >= 10_000).count() == 0

    def test_quality_filter_matches_batch(self, spark):
        from hadoop_bam_spark.operators.text import quality_score
        from hadoop_bam_spark.streaming import (
            quality_filter_stream,
            read_documents_stream,
        )
        from hadoop_bam_spark.streaming.events import run_available_now

        got = run_available_now(
            quality_filter_stream(read_documents_stream(spark, SF)),
            "t_quality",
            "append",
        )
        docs = spark.read.parquet(os.path.join(SF, "documents.parquet"))
        want = docs.withColumn(
            "quality", F.round(quality_score(F.col("text")), 6)
        ).filter(F.col("quality") >= 0.5)
        assert got.count() == want.count()
        assert {r.doc_id for r in got.select("doc_id").collect()} == {
            r.doc_id for r in want.select("doc_id").collect()
        }


class TestVCFStreaming:
    def test_directory_tail(self, spark, tmp_path):
        from hadoop_bam_spark.streaming.tail import VCFStreamDataSource

        spark.dataSource.register(VCFStreamDataSource)
        land = tmp_path / "vland"
        land.mkdir()
        hdr = (
            "##fileformat=VCFv4.2\n"
            "##contig=<ID=1,length=1000000>\n"
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        )
        body_a = "".join(
            f"1\t{100 + i}\tva{i}\tA\tT\t50\tPASS\tDP={i}\tGT\t0/1\n"
            for i in range(8)
        )
        body_b = "".join(
            f"1\t{500 + i}\tvb{i}\tC\tG\t40\tPASS\tDP={i}\tGT\t1/1\n"
            for i in range(5)
        )
        (land / "a.vcf").write_text(hdr + body_a)
        import gzip as _gz

        (land / "b.vcf.gz").write_bytes(_gz.compress((hdr + body_b).encode()))

        q = (
            spark.readStream.format("vcf_stream")
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_vcf_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        out = spark.table("t_vcf_stream")
        assert out.count() == 13
        row = out.filter("id = 'vb2'").collect()[0]
        assert row.contig == "1" and row.start == 502
        assert row.genotypes[0]["gt"] == "1/1"

    def test_interval_pushdown_parity_with_batch(self, spark, tmp_path):
        """option("intervals", ...) on the stream source: row results must
        equal the BATCH vcf source with the same intervals over the same
        files, and a .tbi that proves a file empty skips it whole
        (VERDICT r4 item 10)."""
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.vcf import VCF_SCHEMA, VCFHeader
        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.sources import EmptyPartition
        from hadoop_bam_spark.streaming.tail import VCFStreamDataSource

        register_all(spark)
        spark.dataSource.register(VCFStreamDataSource)
        land = tmp_path / "vland2"
        land.mkdir()
        hdr = VCFHeader()
        hdr.lines = [
            "##fileformat=VCFv4.2",
            "##contig=<ID=c1,length=1000000>",
            "##contig=<ID=c2,length=1000000>",
        ]
        hdr.contigs = {"c1": 0, "c2": 1}
        rows_a = [
            ("c1", p, p, f"a{p}", "A", ["T"], 9.0, ["PASS"], {}, [])
            for p in range(100, 5000, 100)
        ]
        rows_b = [
            ("c2", p, p, f"b{p}", "C", ["G"], 9.0, ["PASS"], {}, [])
            for p in range(100, 5000, 100)
        ]
        dfa = spark.createDataFrame(rows_a, VCF_SCHEMA)
        dfb = spark.createDataFrame(rows_b, VCF_SCHEMA)
        sinks.write_vcf(dfa, str(land / "a.vcf.bgz"), hdr, index_tbi=True)
        sinks.write_vcf(dfb, str(land / "b.vcf.bgz"), hdr, index_tbi=True)

        iv = "c1:1000-2000"
        q = (
            spark.readStream.format("vcf_stream")
            .option("intervals", iv)
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_vcf_stream_iv")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.contig, r.start, r.id)
            for r in spark.table("t_vcf_stream_iv").collect()
        )
        want = sorted(
            (r.contig, r.start, r.id)
            for r in spark.read.format("vcf")
            .option("intervals", iv)
            .load(str(land))
            .collect()
        )
        assert got == want and len(got) == 11

        # .tbi proves b.vcf.bgz has no c1 rows: nothing is planned for it
        rdr = VCFStreamDataSource(
            {"path": str(land), "intervals": "c1:1000-2000"}
        ).streamReader(None)
        parts = rdr.partitions(
            {"processed": ["a.vcf.bgz"]},
            {"processed": ["a.vcf.bgz", "b.vcf.bgz"]},
        )
        assert [p.part for p in parts] == [EmptyPartition()]


class TestBamStreaming:
    """bam_stream: tail a directory of complete BAMs — the consumer of the
    sharded BAM sink (write_bam(sharded=True))."""

    def _mk_shards(self, spark, out):
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader

        rows = [
            (f"r{i}", 0, "chr1", 1 + i, 60, "4M", None, 0, 0, "ACGT", "IIII", {})
            for i in range(60)
        ]
        hdr = SAMHeader()
        hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000"]
        hdr.sequences = {"chr1": (0, 5000)}
        df = spark.createDataFrame(rows, SAM_SCHEMA).repartition(3)
        sinks.write_bam(df, out, hdr, sharded=True)
        return rows

    def test_tail_sharded_sink_output(self, spark, tmp_path):
        from hadoop_bam_spark.streaming.tail import BAMStreamDataSource

        spark.dataSource.register(BAMStreamDataSource)
        out = str(tmp_path / "landing_bam")
        rows = self._mk_shards(spark, out)
        q = (
            spark.readStream.format("bam_stream")
            .load(out)
            .writeStream.format("memory")
            .queryName("t_bam_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.qname, r.pos, r.seq) for r in spark.table("t_bam_stream").collect()
        )
        assert got == sorted((r[0], r[3], r[9]) for r in rows)

    def test_exactly_once_and_replay_raises(self, spark, tmp_path):
        import copy
        import os as _os

        from hadoop_bam_spark.sources.bam_source import BAMDataSource
        from hadoop_bam_spark.streaming.tail import BAMStreamDataSource

        out = str(tmp_path / "landing2")
        self._mk_shards(spark, out)
        rdr = BAMStreamDataSource({"path": out}).streamReader(None)
        rows, off = tail_rows(rdr, rdr.initialOffset())
        # planned as the batch source plans the same shards
        parts = rdr.partitions(rdr.initialOffset(), off)
        assert [p.part for p in parts] == (
            BAMDataSource({"path": out}).reader(None).partitions())
        n1 = sum(1 for _ in copy.copy(rows))
        assert n1 == 60
        # second read from the new offset: nothing new
        rows2, off2 = tail_rows(rdr, off)
        assert sum(1 for _ in copy.copy(rows2)) == 0
        assert off2 == off
        # manifest/dotfiles never enter offsets
        assert all(not f.startswith("_") for f in off["processed"])
        # replay with a deleted shard must raise, not silently drop rows
        victim = _os.path.join(out, off["processed"][0])
        _os.remove(victim)
        import pytest as _pytest

        with _pytest.raises(FileNotFoundError):
            rdr.partitions(rdr.initialOffset(), off)


class TestBamStreamSink:
    """writeStream.format('bam'): each micro-batch lands as complete BAM
    shards committed by rename — the producer side of bam_stream."""

    def test_stream_fastq_to_bam_shards(self, spark, tmp_path):
        import json

        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import FastqStreamDataSource

        register_all(spark)
        spark.dataSource.register(FastqStreamDataSource)
        land = tmp_path / "fq_landing"
        land.mkdir()
        rec = "@r{i}/1\nACGTACGT\n+\nIIIIIIII\n"
        (land / "a.fastq").write_text("".join(rec.format(i=i) for i in range(30)))

        hdr_path = tmp_path / "hdr.sam"
        hdr_path.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:5000\n")

        out = tmp_path / "bam_out"
        ck = tmp_path / "ck"
        from pyspark.sql import functions as F

        src = spark.readStream.format("fastq_stream").load(str(land))
        sam = src.select(
            F.col("name").alias("qname"),
            F.lit(4).cast("int").alias("flag"),
            F.lit(None).cast("string").alias("rname"),
            F.lit(0).cast("int").alias("pos"),
            F.lit(0).cast("int").alias("mapq"),
            F.lit(None).cast("string").alias("cigar"),
            F.lit(None).cast("string").alias("rnext"),
            F.lit(0).cast("int").alias("pnext"),
            F.lit(0).cast("int").alias("tlen"),
            F.col("sequence").alias("seq"),
            F.col("quality").alias("qual"),
            F.create_map().cast("map<string,string>").alias("tags"),
        )
        q = (
            sam.writeStream.format("bam")
            .option("path", str(out))
            .option("header", str(hdr_path))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shards = sorted(f for f in os.listdir(out) if f.endswith(".bam"))
        assert shards, "no shards written"
        assert all(f.startswith("batch-") for f in shards)
        # manifest records every shard with counts
        from hadoop_bam_spark.commit import read_manifest
        lines = read_manifest(str(out))
        assert sum(e["records"] for e in lines) == 30
        assert sorted(e["shard"] for e in lines) == shards
        # the output is a readable BAM directory (batch source)
        back = spark.read.format("bam").load(str(out))
        assert back.count() == 30
        assert back.filter("seq = 'ACGTACGT'").count() == 30
        # no stragglers in staging
        staging = out / ".staging"
        assert not staging.exists() or not any(staging.iterdir())


class TestVcfStreamSink:
    def test_stream_vcf_shards(self, spark, tmp_path):
        import json

        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import VCFStreamDataSource

        register_all(spark)
        spark.dataSource.register(VCFStreamDataSource)
        from tests import textgen

        gen_vcf = tmp_path / "gen.vcf"
        gen_vcf.write_text(textgen.gen_vcf_text(textgen.gen_vcf_rows(500)))
        land = tmp_path / "vcf_landing"
        land.mkdir()
        import shutil as _sh

        _sh.copy(str(gen_vcf), land / "a.vcf")

        out = tmp_path / "vcf_out"
        ck = tmp_path / "ck_vcf"
        q = (
            spark.readStream.format("vcf_stream")
            .load(str(land))
            .writeStream.format("vcf")
            .option("path", str(out))
            .option("header", str(gen_vcf))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shards = sorted(f for f in os.listdir(out) if f.endswith(".vcf.bgz"))
        assert shards
        from hadoop_bam_spark.commit import read_manifest
        lines = read_manifest(str(out))
        src = spark.read.format("vcf").load(str(gen_vcf))
        assert sum(e["records"] for e in lines) == src.count()
        back = spark.read.format("vcf").load(str(out))
        assert back.count() == src.count()
        got = sorted((r.contig, r.start, r.ref) for r in back.collect())
        want = sorted((r.contig, r.start, r.ref) for r in src.collect())
        assert got == want


class TestManifestDrivenTail:
    """r9: stream sources tail a sink-output directory THROUGH its
    per-batch manifests — never a half-committed batch, never a mix of
    two attempts' shard sets (r8 VERDICT #5: the raw listing could
    consume an attempt-1 shard that a replay later superseded with a
    different record split, duplicating or dropping rows)."""

    def _bam_bytes(self, tmp_path, name, rows):
        from hadoop_bam_spark.formats.sam import SAMHeader

        hdr = SAMHeader()
        hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000"]
        hdr.sequences = {"chr1": (0, 5000)}
        p = tmp_path / name
        with open(p, "wb") as f:
            writers.write_bam(f, hdr, rows)
        return p.read_bytes()

    def test_replay_supersedes_mid_tail_total_exact(self, tmp_path):
        import copy

        from hadoop_bam_spark.commit import ShardCommit as M
        from hadoop_bam_spark.sources.bam_source import BAMDataSource
        from hadoop_bam_spark.streaming.tail import BAMStreamDataSource

        rows = [
            (f"r{i}", 0, "chr1", 1 + i, 60, "4M", None, 0, 0, "ACGT",
             "IIII", {})
            for i in range(6)
        ]
        hdr = tmp_path / "h.sam"
        hdr.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:5000\n")
        out = tmp_path / "landing"
        out.mkdir()
        staging = out / ".staging"
        staging.mkdir()
        w = BAMDataSource(
            {"path": str(out), "header": str(hdr)}).streamWriter(None, False)
        rdr = BAMStreamDataSource({"path": str(out)}).streamReader(None)

        # attempt 1 of batch 0 is MID-COMMIT: one shard already renamed
        # final, the second still staging, manifest not yet written. A raw
        # lister would consume the visible shard; the manifest tail must
        # see an empty directory.
        (out / "batch-00000-00000.bam").write_bytes(
            self._bam_bytes(tmp_path, "a1.bam", rows[:4])
        )
        r0, off0 = tail_rows(rdr, rdr.initialOffset())
        assert sum(1 for _ in copy.copy(r0)) == 0
        assert off0.get("processed", []) == []

        # the driver dies mid-commit; the replay of batch 0 lands a
        # DIFFERENT record split (3+3 instead of 4+2) and commits fully
        (staging / "attempt-5-p0.bam").write_bytes(
            self._bam_bytes(tmp_path, "b1.bam", rows[:3])
        )
        (staging / "attempt-6-p1.bam").write_bytes(
            self._bam_bytes(tmp_path, "b2.bam", rows[3:])
        )
        w.commit(
            [M(staged="attempt-5-p0.bam", records=3),
             M(staged="attempt-6-p1.bam", records=3)],
            batchId=0,
        )
        r1, off1 = tail_rows(rdr, off0)
        got = [t for t in copy.copy(r1)]
        qnames = sorted(t[0] for t in got)
        # total exact: every record exactly once, no attempt-1 leftovers
        assert qnames == sorted(r[0] for r in rows)
        # nothing new on the next tick
        r2, off2 = tail_rows(rdr, off1)
        assert sum(1 for _ in copy.copy(r2)) == 0
        assert off2 == off1

    @pytest.mark.parametrize("fmt", ["vcf", "bcf", "fastq", "cram"])
    def test_manifest_gate_all_sources(self, tmp_path, fmt):
        """Every tail source honors the manifest gate: in a sink dir
        (.staging present) an orphan shard without its manifest is
        invisible; once a manifest names it, it lists."""
        import json as _json

        from hadoop_bam_spark.streaming.tail import (
            BCFStreamDataSource,
            CRAMStreamDataSource,
            FastqStreamDataSource,
            VCFStreamDataSource,
        )

        ds_cls, ext = {
            "vcf": (VCFStreamDataSource, ".vcf"),
            "bcf": (BCFStreamDataSource, ".bcf"),
            "fastq": (FastqStreamDataSource, ".fastq"),
            "cram": (CRAMStreamDataSource, ".cram"),
        }[fmt]
        d = tmp_path / f"sink_{fmt}"
        d.mkdir()
        (d / ".staging").mkdir()
        shard = f"batch-00000-00000{ext}"
        (d / shard).write_bytes(b"xx")  # listing-level test: content unread
        rdr = ds_cls({"path": str(d)}).streamReader(None)
        assert rdr._list() == []
        (d / "_manifest-00000.jsonl").write_text(
            _json.dumps({"shard": shard, "records": 1, "batch": 0}) + "\n"
        )
        assert rdr._list() == [shard]

    def test_plain_drop_directory_keeps_raw_listing(self, tmp_path):
        """A directory of loose BAMs (no manifests, no .staging) is not a
        sink output; the tail falls back to the raw listing."""
        import copy

        from hadoop_bam_spark.streaming.tail import BAMStreamDataSource

        out = tmp_path / "drop"
        out.mkdir()
        rows = [("q1", 0, "chr1", 5, 60, "4M", None, 0, 0, "ACGT",
                 "IIII", {})]
        (out / "delivery.bam").write_bytes(
            self._bam_bytes(tmp_path, "d.bam", rows)
        )
        rdr = BAMStreamDataSource({"path": str(out)}).streamReader(None)
        r, off = tail_rows(rdr, rdr.initialOffset())
        assert sum(1 for _ in copy.copy(r)) == 1
        assert off["processed"] == ["delivery.bam"]


class TestStreamSinkCommitProtocol:
    """Driver-side commit/abort semantics, unit-tested without Spark:
    visibility is the rename, abort leaves nothing half-visible."""

    def _writer(self, tmp_path):
        from hadoop_bam_spark.sources.bam_source import BAMDataSource

        hdr = tmp_path / "h.sam"
        hdr.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100\n")
        out = tmp_path / "out"
        out.mkdir()
        return BAMDataSource(
            {"path": str(out), "header": str(hdr)}).streamWriter(None, False), out

    def _stage(self, out, name, data=b"x"):
        staging = out / ".staging"
        staging.mkdir(exist_ok=True)
        (staging / name).write_bytes(data)

    def test_commit_renames_and_manifests(self, tmp_path):
        import json

        from hadoop_bam_spark.commit import ShardCommit

        w, out = self._writer(tmp_path)
        self._stage(out, "attempt-1-p00000.bam", b"A")
        self._stage(out, "attempt-2-p00001.bam", b"B")
        msgs = [
            ShardCommit(staged="attempt-1-p00000.bam", records=3),
            None,  # lost task slot
            ShardCommit(staged=None, records=0),  # empty partition
            ShardCommit(staged="attempt-2-p00001.bam", records=4),
        ]
        w.commit(msgs, batchId=7)
        files = sorted(os.listdir(out))
        assert "batch-00007-00000.bam" in files
        assert "batch-00007-00001.bam" in files
        assert not any((out / ".staging").iterdir())
        from hadoop_bam_spark.commit import read_manifest
        man = read_manifest(str(out))
        assert sum(e["records"] for e in man) == 7
        assert all(e["batch"] == 7 for e in man)
        # a later batch adds its OWN per-batch manifest (union grows)
        self._stage(out, "attempt-9-p00000.bam", b"C")
        from hadoop_bam_spark.commit import ShardCommit as M

        w.commit([M(staged="attempt-9-p00000.bam", records=1)], batchId=8)
        man2 = read_manifest(str(out))
        assert len(man2) == len(man) + 1

    def test_abort_discards_staged_only(self, tmp_path):
        from hadoop_bam_spark.commit import ShardCommit

        w, out = self._writer(tmp_path)
        (out / "batch-00001-00000.bam").write_bytes(b"KEEP")
        self._stage(out, "attempt-5-p00000.bam")
        w.abort(
            [ShardCommit(staged="attempt-5-p00000.bam", records=2), None],
            batchId=2,
        )
        assert not (out / ".staging" / "attempt-5-p00000.bam").exists()
        assert (out / "batch-00001-00000.bam").read_bytes() == b"KEEP"

    def test_replay_supersedes_first_attempt(self, tmp_path):
        """Driver crash between commit and checkpoint advance → Spark
        replays the SAME batchId. A replay with FEWER non-empty
        partitions must not strand the first attempt's extra shard or
        duplicate manifest lines (VERDICT r7 #1b)."""
        from hadoop_bam_spark.commit import ShardCommit as M
        from hadoop_bam_spark.commit import read_manifest

        w, out = self._writer(tmp_path)
        self._stage(out, "attempt-1-p00000.bam", b"A")
        self._stage(out, "attempt-2-p00001.bam", b"B")
        w.commit(
            [M(staged="attempt-1-p00000.bam", records=3),
             M(staged="attempt-2-p00001.bam", records=4)],
            batchId=3,
        )
        # replay of batch 3: only ONE non-empty partition this time
        self._stage(out, "attempt-7-p00000.bam", b"C")
        w.commit([M(staged="attempt-7-p00000.bam", records=5)], batchId=3)
        shards = sorted(f for f in os.listdir(out) if f.endswith(".bam"))
        assert shards == ["batch-00003-00000.bam"]
        assert (out / "batch-00003-00000.bam").read_bytes() == b"C"
        assert read_manifest(str(out)) == [
            {"shard": "batch-00003-00000.bam", "records": 5, "batch": 3}
        ]
        assert not any((out / ".staging").iterdir())

    def test_replay_empty_batch_supersedes(self, tmp_path):
        """A replay that yields NO rows must remove the first attempt's
        shards and its manifest."""
        from hadoop_bam_spark.commit import ShardCommit as M
        from hadoop_bam_spark.commit import read_manifest

        w, out = self._writer(tmp_path)
        self._stage(out, "attempt-1-p00000.bam", b"A")
        w.commit([M(staged="attempt-1-p00000.bam", records=2)], batchId=4)
        w.commit([M(staged=None, records=0), None], batchId=4)
        assert not [f for f in os.listdir(out) if f.endswith(".bam")]
        assert read_manifest(str(out)) == []

    def test_crash_mid_rename_then_replay(self, tmp_path, monkeypatch):
        """fs.rename dies after k renames (crash mid-commit); the NEXT
        replay of the same batchId must converge to a consistent state —
        no duplicate shards, manifest matching the directory."""
        import pytest as _pytest

        from hadoop_bam_spark import fs as fsmod
        from hadoop_bam_spark.commit import ShardCommit as M
        from hadoop_bam_spark.commit import read_manifest

        w, out = self._writer(tmp_path)
        self._stage(out, "attempt-1-p00000.bam", b"A")
        self._stage(out, "attempt-2-p00001.bam", b"B")
        real = fsmod.rename
        calls = {"n": 0}

        def flaky(src, dst):
            calls["n"] += 1
            if calls["n"] == 2:
                raise OSError("injected crash")
            real(src, dst)

        monkeypatch.setattr(fsmod, "rename", flaky)
        with _pytest.raises(OSError):
            w.commit(
                [M(staged="attempt-1-p00000.bam", records=3),
                 M(staged="attempt-2-p00001.bam", records=4)],
                batchId=1,
            )
        monkeypatch.setattr(fsmod, "rename", real)
        # batch-00001-00000.bam exists (first rename), attempt-2 stranded
        # in staging, no manifest. Spark replays batch 1 with fresh tasks:
        self._stage(out, "attempt-8-p00000.bam", b"A2")
        self._stage(out, "attempt-9-p00001.bam", b"B2")
        w.commit(
            [M(staged="attempt-8-p00000.bam", records=3),
             M(staged="attempt-9-p00001.bam", records=4)],
            batchId=1,
        )
        shards = sorted(f for f in os.listdir(out) if f.endswith(".bam"))
        assert shards == ["batch-00001-00000.bam", "batch-00001-00001.bam"]
        assert (out / "batch-00001-00000.bam").read_bytes() == b"A2"
        man = read_manifest(str(out))
        assert sorted(e["shard"] for e in man) == shards
        assert sum(e["records"] for e in man) == 7
        # the crashed attempt's stranded staging file was swept
        assert not any((out / ".staging").iterdir())

    @pytest.mark.parametrize(
        "fmt", ["bam", "vcf", "cram", "bcf"],
    )
    def test_replay_safe_all_four_sinks(self, tmp_path, fmt):
        """Every member of the sink family delegates to the shared
        replay-safe protocol with its own extension."""
        from hadoop_bam_spark.commit import ShardCommit as Msg
        from hadoop_bam_spark.commit import read_manifest

        sam_hdr = tmp_path / "h.sam"
        sam_hdr.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:100\n")
        vcf_hdr = tmp_path / "h.vcf"
        vcf_hdr.write_text(
            "##fileformat=VCFv4.2\n"
            "##contig=<ID=chr1,length=100>\n"
            "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\n"
        )
        out = tmp_path / f"out_{fmt}"
        out.mkdir()
        if fmt == "bam":
            from hadoop_bam_spark.sources.bam_source import BAMDataSource as W

            hdr, ext = sam_hdr, ".bam"
        elif fmt == "vcf":
            from hadoop_bam_spark.sources.vcf_source import VCFDataSource as W

            hdr, ext = vcf_hdr, ".vcf.bgz"
        elif fmt == "cram":
            from hadoop_bam_spark.sources.cram_source import CRAMDataSource as W

            hdr, ext = sam_hdr, ".cram"
        else:
            from hadoop_bam_spark.sources.bcf_source import BCFDataSource as W

            hdr, ext = vcf_hdr, ".bcf"
        w = W({"path": str(out), "header": str(hdr)}).streamWriter(None, False)
        self._stage(out, f"attempt-1-p00000{ext}", b"A")
        self._stage(out, f"attempt-2-p00001{ext}", b"B")
        w.commit(
            [Msg(staged=f"attempt-1-p00000{ext}", records=1),
             Msg(staged=f"attempt-2-p00001{ext}", records=2)],
            batchId=5,
        )
        self._stage(out, f"attempt-3-p00000{ext}", b"C")
        w.commit([Msg(staged=f"attempt-3-p00000{ext}", records=3)], batchId=5)
        shards = sorted(
            f for f in os.listdir(out)
            if f.startswith("batch-") and f.endswith(ext)
        )
        assert shards == [f"batch-00005-00000{ext}"]
        assert read_manifest(str(out)) == [
            {"shard": f"batch-00005-00000{ext}", "records": 3, "batch": 5}
        ]
        assert not any((out / ".staging").iterdir())


class TestMidFlightCommitWindow:
    """r11 (r9 #5 carried): a reader polls WHILE ``commit_shards`` is in
    flight — probes fire before and after EVERY filesystem mutation the
    commit performs (supersede removes, shard renames, manifest rename,
    staging sweep). At every probe the tail must observe either NOTHING
    of the in-flight batch or, from the manifest rename onward, exactly
    the complete batch: zero partial reads, exact totals, monotonic
    visibility."""

    @staticmethod
    def _probe_fs(monkeypatch, probe):
        """Wrap the commit module's fs.rename/fs.remove so ``probe(tag)``
        runs before and after each mutation. A reentrancy flag keeps
        the polling reader's own fs traffic from recursing."""
        from hadoop_bam_spark import fs as fsmod

        real = {"rename": fsmod.rename, "remove": fsmod.remove}
        busy = {"v": False}

        def wrap(name):
            orig = real[name]

            def inner(*a, **k):
                if busy["v"]:
                    return orig(*a, **k)
                busy["v"] = True
                try:
                    probe(f"pre-{name}:{os.path.basename(str(a[-1]))}")
                finally:
                    busy["v"] = False
                out = orig(*a, **k)
                busy["v"] = True
                try:
                    probe(f"post-{name}:{os.path.basename(str(a[-1]))}")
                finally:
                    busy["v"] = False
                return out

            return inner

        monkeypatch.setattr(fsmod, "rename", wrap("rename"))
        monkeypatch.setattr(fsmod, "remove", wrap("remove"))

    def test_bam_rows_never_partial_mid_commit(self, tmp_path, monkeypatch):
        """Row-level: poll a bam_stream reader from a fixed offset at every
        mutation inside a live commit. Every poll yields [] or the FULL
        6-record batch — never a subset — and visibility is monotonic
        (once full, stays full through the staging sweep)."""
        import copy

        from hadoop_bam_spark.formats.sam import SAMHeader
        from hadoop_bam_spark.commit import ShardCommit as M
        from hadoop_bam_spark.sources.bam_source import BAMDataSource
        from hadoop_bam_spark.streaming.tail import BAMStreamDataSource

        def bam_bytes(rows):
            hdr = SAMHeader()
            hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000"]
            hdr.sequences = {"chr1": (0, 5000)}
            import io as _io

            buf = _io.BytesIO()
            writers.write_bam(buf, hdr, rows)
            return buf.getvalue()

        rows = [
            (f"r{i}", 0, "chr1", 1 + i, 60, "4M", None, 0, 0, "ACGT",
             "IIII", {})
            for i in range(10)
        ]
        hdr_p = tmp_path / "h.sam"
        hdr_p.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:5000\n")
        out = tmp_path / "landing"
        out.mkdir()
        staging = out / ".staging"
        staging.mkdir()
        w = BAMDataSource(
            {"path": str(out), "header": str(hdr_p)}).streamWriter(None, False)
        rdr = BAMStreamDataSource({"path": str(out)}).streamReader(None)

        # batch 0 committed cleanly; the reader has consumed it
        (staging / "attempt-1-p0.bam").write_bytes(bam_bytes(rows[:4]))
        w.commit([M(staged="attempt-1-p0.bam", records=4)], batchId=0)
        r0, off0 = tail_rows(rdr, rdr.initialOffset())
        assert sum(1 for _ in copy.copy(r0)) == 4

        # batch 1 (rows 4-9, split 3+3) commits WHILE we poll
        (staging / "attempt-5-p0.bam").write_bytes(bam_bytes(rows[4:7]))
        (staging / "attempt-6-p1.bam").write_bytes(bam_bytes(rows[7:]))
        want = sorted(r[0] for r in rows[4:])
        observations = []

        def probe(tag):
            got, _ = tail_rows(rdr, off0)
            qnames = sorted(t[0] for t in copy.copy(got))
            observations.append((tag, qnames))
            assert qnames in ([], want), (tag, qnames)

        self._probe_fs(monkeypatch, probe)
        w.commit(
            [M(staged="attempt-5-p0.bam", records=3),
             M(staged="attempt-6-p1.bam", records=3)],
            batchId=1,
        )
        monkeypatch.undo()
        # the window was actually exercised: some probes before the
        # manifest rename saw nothing, some after saw everything, and
        # visibility never regressed
        states = [bool(q) for _, q in observations]
        assert False in states and True in states
        assert states == sorted(states), observations  # monotonic
        # exact totals after commit, nothing new on the next tick
        r1, off1 = tail_rows(rdr, off0)
        assert sorted(t[0] for t in copy.copy(r1)) == want
        r2, off2 = tail_rows(rdr, off1)
        assert sum(1 for _ in copy.copy(r2)) == 0
        assert off2 == off1

    @pytest.mark.parametrize("fmt", ["vcf", "bcf", "fastq", "cram"])
    def test_window_listing_all_tail_sources(self, tmp_path, monkeypatch,
                                             fmt):
        """Listing-level, all four tail sources: during a live 2-shard
        commit every ``_list()`` poll returns [] or the full committed
        shard set — a lone renamed shard is never visible without its
        manifest."""
        from hadoop_bam_spark.commit import commit_shards
        from hadoop_bam_spark.streaming.tail import (
            BCFStreamDataSource,
            CRAMStreamDataSource,
            FastqStreamDataSource,
            VCFStreamDataSource,
        )

        ds_cls, ext = {
            "vcf": (VCFStreamDataSource, ".vcf"),
            "bcf": (BCFStreamDataSource, ".bcf"),
            "fastq": (FastqStreamDataSource, ".fastq"),
            "cram": (CRAMStreamDataSource, ".cram"),
        }[fmt]
        d = tmp_path / f"sink_{fmt}"
        d.mkdir()
        (d / ".staging").mkdir()
        (d / ".staging" / f"attempt-1-p0{ext}").write_bytes(b"A")
        (d / ".staging" / f"attempt-2-p1{ext}").write_bytes(b"BB")
        rdr = ds_cls({"path": str(d)}).streamReader(None)
        full = [f"batch-00000-00000{ext}", f"batch-00000-00001{ext}"]
        observations = []

        def probe(tag):
            got = sorted(rdr._list())
            observations.append((tag, got))
            assert got in ([], full), (tag, got)

        class Msg:
            def __init__(self, staged, records):
                self.staged = staged
                self.records = records

        self._probe_fs(monkeypatch, probe)
        commit_shards(
            str(d),
            [Msg(f"attempt-1-p0{ext}", 1), Msg(f"attempt-2-p1{ext}", 2)],
            0,
            ext,
        )
        monkeypatch.undo()
        states = [bool(g) for _, g in observations]
        assert False in states and True in states
        assert states == sorted(states), observations
        assert sorted(rdr._list()) == full


class TestFsRenameRemove:
    def test_local(self, tmp_path):
        from hadoop_bam_spark import fs

        a = tmp_path / "a.bin"
        a.write_bytes(b"xyz")
        b = tmp_path / "b.bin"
        fs.rename(str(a), str(b))
        assert not a.exists() and b.read_bytes() == b"xyz"
        fs.remove(str(b))
        assert not b.exists()
        fs.remove(str(b))  # idempotent on missing

    def test_memory(self):
        from hadoop_bam_spark import fs

        with fs.open_file("memory://t/a", "wb") as f:
            f.write(b"m")
        fs.rename("memory://t/a", "memory://t/b")
        with fs.open_file("memory://t/b", "rb") as f:
            assert f.read() == b"m"
        assert not fs.exists("memory://t/a")
        fs.remove("memory://t/b")
        assert not fs.exists("memory://t/b")


class TestCramStreamSink:
    def test_stream_cram_shards(self, spark, tmp_path):
        import json

        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import BAMStreamDataSource

        register_all(spark)
        spark.dataSource.register(BAMStreamDataSource)
        # produce a landing dir of BAM shards, tail it, land CRAM shards
        rows = [
            (f"c{i}", 0, "chr1", 1 + i, 60, "6M", None, 0, 0, "ACGTAC",
             "IIIIII", {})
            for i in range(80)
        ]
        hdr = SAMHeader()
        hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000"]
        hdr.sequences = {"chr1": (0, 5000)}
        land = str(tmp_path / "bam_landing")
        df = spark.createDataFrame(rows, SAM_SCHEMA).repartition(2)
        sinks.write_bam(df, land, hdr, sharded=True)
        hdr_path = tmp_path / "h.sam"
        hdr_path.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:5000\n")

        out = tmp_path / "cram_out"
        q = (
            spark.readStream.format("bam_stream")
            .load(land)
            .writeStream.format("cram")
            .option("path", str(out))
            .option("header", str(hdr_path))
            .option("checkpointLocation", str(tmp_path / "ck_cram"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shards = sorted(f for f in os.listdir(out) if f.endswith(".cram"))
        assert shards
        from hadoop_bam_spark.commit import read_manifest
        man = read_manifest(str(out))
        assert sum(e["records"] for e in man) == 80
        back = spark.read.format("cram").load(str(out))
        got = sorted((r.qname, r.pos, r.seq) for r in back.collect())
        assert got == sorted((r[0], r[3], r[9]) for r in rows)

        # r9: the cram_stream tail source closes the loop — it consumes
        # the streaming CRAM sink's own output THROUGH the manifests
        from hadoop_bam_spark.streaming.tail import (
            CRAMStreamDataSource,
        )

        spark.dataSource.register(CRAMStreamDataSource)
        q2 = (
            spark.readStream.format("cram_stream")
            .load(str(out))
            .writeStream.format("memory")
            .queryName("t_cram_stream")
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        tailed = sorted(
            (r.qname, r.pos, r.seq)
            for r in spark.table("t_cram_stream").collect()
        )
        assert tailed == got

    def test_cram_stream_exactly_once_and_manifest_gate(self, spark,
                                                        tmp_path):
        """Direct reader contract: batch planning, exactly-once offsets, and
        manifest-gated listing (a visible shard without its manifest is
        not consumed)."""
        import copy

        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
        from hadoop_bam_spark.sources.cram_source import CRAMDataSource
        from hadoop_bam_spark.streaming.tail import CRAMStreamDataSource

        rows = [
            (f"x{i}", 0, "chr1", 1 + i, 60, "4M", None, 0, 0, "ACGT",
             "IIII", {})
            for i in range(30)
        ]
        hdr = SAMHeader()
        hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000"]
        hdr.sequences = {"chr1": (0, 5000)}
        land = str(tmp_path / "cram_landing")
        df = spark.createDataFrame(rows, SAM_SCHEMA).repartition(2)
        sinks.write_cram(df, land, hdr, sharded=True)
        rdr = CRAMStreamDataSource({"path": land}).streamReader(None)
        got, off = tail_rows(rdr, rdr.initialOffset())
        parts = rdr.partitions(rdr.initialOffset(), off)
        assert [p.part for p in parts] == (
            CRAMDataSource({"path": land}).reader(None).partitions())
        assert sum(1 for _ in copy.copy(got)) == 30
        again, off2 = tail_rows(rdr, off)
        assert sum(1 for _ in copy.copy(again)) == 0 and off2 == off
        # manifest gate: a sink dir (.staging present) with an orphan
        # shard and no manifest reads as empty
        gated = tmp_path / "gated"
        gated.mkdir()
        (gated / ".staging").mkdir()
        import shutil

        src = next(
            f for f in os.listdir(land) if f.endswith(".cram")
        )
        shutil.copy(os.path.join(land, src), gated / "batch-00000-00000.cram")
        r2 = CRAMStreamDataSource({"path": str(gated)}).streamReader(None)
        empty, _ = tail_rows(r2, r2.initialOffset())
        assert sum(1 for _ in copy.copy(empty)) == 0

    def test_stream_cram_reference_compressed(self, spark, tmp_path):
        """option('reference') makes the streamed shards RR=true: smaller
        than verbatim shards of the same rows, unreadable without the
        FASTA, value-identical with it."""
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats import cram
        from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import BAMStreamDataSource

        register_all(spark)
        spark.dataSource.register(BAMStreamDataSource)
        contig = ("ACGT" * 1500)[:5000]
        fasta = tmp_path / "ref.fa"
        with open(fasta, "w") as f:
            f.write(">chr1\n")
            for i in range(0, len(contig), 60):
                f.write(contig[i:i + 60] + "\n")
        rows = [
            (f"c{i}", 0, "chr1", 1 + (i % 100), 60, "40M", None, 0, 0,
             contig[i % 100: i % 100 + 40], "I" * 40, {})
            for i in range(400)
        ]
        hdr = SAMHeader()
        hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000"]
        hdr.sequences = {"chr1": (0, 5000)}
        land = str(tmp_path / "bam_landing")
        df = spark.createDataFrame(rows, SAM_SCHEMA).repartition(2)
        sinks.write_bam(df, land, hdr, sharded=True)
        hdr_path = tmp_path / "h.sam"
        hdr_path.write_text("@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:5000\n")

        def run(out, ck, with_ref):
            ws = (
                spark.readStream.format("bam_stream")
                .load(land)
                .writeStream.format("cram")
                .option("path", str(out))
                .option("header", str(hdr_path))
                .option("checkpointLocation", str(ck))
            )
            if with_ref:
                ws = ws.option("reference", str(fasta))
                if with_ref == "embed":
                    ws = ws.option("embed_reference", "true")
            q = ws.trigger(availableNow=True).start()
            q.awaitTermination()
            return sum(
                os.path.getsize(out / f)
                for f in os.listdir(out)
                if f.endswith(".cram")
            )

        rr_size = run(tmp_path / "rr_out", tmp_path / "ck_rr", True)
        nr_size = run(tmp_path / "nr_out", tmp_path / "ck_nr", False)
        assert rr_size < nr_size  # matching bases are implicit
        # a reader without the FASTA must refuse the RR=true shards
        shard = next(
            f for f in os.listdir(tmp_path / "rr_out") if f.endswith(".cram")
        )
        with pytest.raises(ValueError, match="reference"):
            list(cram.decode_file(str(tmp_path / "rr_out" / shard)))
        back = (
            spark.read.format("cram")
            .option("reference", str(fasta))
            .load(str(tmp_path / "rr_out"))
        )
        got = sorted((r.qname, r.pos, r.seq) for r in back.collect())
        want = sorted((r[0], r[3], r[9]) for r in rows)
        assert got == want
        # embed_reference: self-contained shards, read with NO fasta
        run(tmp_path / "em_out", tmp_path / "ck_em", "embed")
        back = spark.read.format("cram").load(str(tmp_path / "em_out"))
        got = sorted((r.qname, r.pos, r.seq) for r in back.collect())
        assert got == want


class TestBcfStreaming:
    """bcf_stream tail source + writeStream.format('bcf') shard sink:
    4-format streaming symmetry, chained end-to-end."""

    def test_tail_and_stream_bcf(self, spark, tmp_path):
        import json

        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import BCFStreamDataSource

        register_all(spark)
        spark.dataSource.register(BCFStreamDataSource)
        from tests import textgen

        gen_vcf = tmp_path / "gen.vcf"
        gen_vcf.write_text(textgen.gen_vcf_text(textgen.gen_vcf_rows(500)))
        src = spark.read.format("vcf").load(str(gen_vcf))
        from hadoop_bam_spark.formats.vcf import read_vcf_header

        hdr = read_vcf_header(str(gen_vcf))
        # land a sharded BCF directory (the batch sink), tail it, and land
        # the stream back out through the streaming BCF sink
        land = str(tmp_path / "bcf_landing")
        sinks.write_bcf(src.repartition(2), land, hdr, sharded=True)
        out = tmp_path / "bcf_out"
        q = (
            spark.readStream.format("bcf_stream")
            .load(land)
            .writeStream.format("bcf")
            .option("path", str(out))
            .option("header", str(gen_vcf))
            .option("checkpointLocation", str(tmp_path / "ck_bcf"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shards = sorted(f for f in os.listdir(out) if f.endswith(".bcf"))
        assert shards
        from hadoop_bam_spark.commit import read_manifest
        man = read_manifest(str(out))
        assert sum(e["records"] for e in man) == src.count()
        back = spark.read.format("bcf").load(str(out))
        assert back.count() == src.count()
        # value spot-check through the full chain (BCF float32 qual both
        # hops, so compare against the batch BCF read of the landing dir)
        base = spark.read.format("bcf").load(land)
        got = sorted((r.contig, r.start, r.ref, r.qual) for r in back.collect())
        want = sorted((r.contig, r.start, r.ref, r.qual) for r in base.collect())
        assert got == want


def test_bcf_stream_plain_uncompressed(spark, tmp_path):
    """The tail source must decode plain (non-BGZF) BCF2 files too — the
    sniff routes both kinds (reference VCFFormat content sniff)."""
    import gzip

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.vcf import read_vcf_header
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.streaming.tail import BCFStreamDataSource
    from tests import textgen

    register_all(spark)
    spark.dataSource.register(BCFStreamDataSource)
    gen_vcf = tmp_path / "gen.vcf"
    gen_vcf.write_text(textgen.gen_vcf_text(textgen.gen_vcf_rows(300)))
    bgzf_bcf = tmp_path / "gen.bcf"
    sinks.write_bcf(spark.read.format("vcf").load(str(gen_vcf)),
                    str(bgzf_bcf), read_vcf_header(str(gen_vcf)))
    land = tmp_path / "plain_bcf"
    land.mkdir()
    # BGZF is multi-member gzip: decompressing it whole gives plain BCF2
    (land / "a.bcf").write_bytes(gzip.decompress(bgzf_bcf.read_bytes()))
    q = (
        spark.readStream.format("bcf_stream")
        .load(str(land))
        .writeStream.format("memory")
        .queryName("t_bcf_plain")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("t_bcf_plain").collect()
    want = spark.read.format("bcf").load(str(bgzf_bcf)).count()
    assert len(rows) == want > 0


class TestBEDStream:
    def test_tail_bed_landing_with_interval_pruning(self, spark, tmp_path):
        """bed_stream tails a landing dir exactly-once per file; the
        intervals option prunes whole .tbi-indexed deliveries before
        any byte parses and row-filters the rest."""
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.bed import BED_SCHEMA
        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import BEDStreamDataSource

        register_all(spark)
        spark.dataSource.register(BEDStreamDataSource)
        land = tmp_path / "bed_landing"
        land.mkdir()
        # delivery 1: plain text, two features in/one out of range
        (land / "a.bed").write_text(
            "track name=x\n"
            "chr1\t99\t200\tin1\n"
            "chr1\t150\t220\tin2\n"
            "chr2\t100\t200\tother\n")
        # delivery 2: BGZF + .tbi wholly OUTSIDE the interval (pruned)
        far = spark.createDataFrame(
            [("chr1", 900001, 900100, "far", None, None, None)],
            schema=BED_SCHEMA)
        sinks.write_bed(far, str(land / "b.bed.bgz"), index_tbi=True)

        ck = tmp_path / "ck_bed"
        q = (
            spark.readStream.format("bed_stream")
            .option("intervals", "chr1:120-400")
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_bed_stream")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(r.name for r in spark.table("t_bed_stream").collect())
        assert got == ["in1", "in2"]


class TestBedGraphStream:
    def test_tail_bedgraph_landing_with_interval_pruning(self, spark, tmp_path):
        """bedgraph_stream (the shared text-tail machinery's second
        binding) tails a landing dir exactly-once per file with .tbi
        whole-delivery pruning and per-row residual filtering."""
        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.formats.bedgraph import BEDGRAPH_SCHEMA
        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import (
            BedGraphStreamDataSource,
        )

        register_all(spark)
        spark.dataSource.register(BedGraphStreamDataSource)
        land = tmp_path / "bg_landing"
        land.mkdir()
        (land / "a.bedgraph").write_text(
            "track type=bedGraph\n"
            "chr1\t99\t200\t1.5\n"
            "chr1\t150\t220\t2\n"
            "chr2\t100\t200\t9\n")
        far = spark.createDataFrame(
            [("chr1", 900001, 900100, 7.0)], schema=BEDGRAPH_SCHEMA)
        sinks.write_bedgraph(far, str(land / "b.bedgraph.bgz"), index_tbi=True)

        ck = tmp_path / "ck_bg"
        q = (
            spark.readStream.format("bedgraph_stream")
            .option("intervals", "chr1:120-400")
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_bg_stream")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.contig, r.start, r.end, r.value)
            for r in spark.table("t_bg_stream").collect()
        )
        assert got == [("chr1", 100, 200, 1.5), ("chr1", 151, 220, 2.0)]

    def test_tail_stringency_skips_bad_rows(self, spark, tmp_path):
        """A malformed row in a tailed delivery must not wedge a lenient
        stream; silent skips it and the rest of the file lands."""
        from hadoop_bam_spark.streaming.tail import (
            BedGraphStreamDataSource,
        )

        spark.dataSource.register(BedGraphStreamDataSource)
        land = tmp_path / "bg_bad"
        land.mkdir()
        (land / "a.bedgraph").write_text(
            "chr1\t0\t10\t1.5\nchr1\tBAD\t20\t2\nchr1\t30\t40\t3\n")
        ck = tmp_path / "ck_bad"
        q = (
            spark.readStream.format("bedgraph_stream")
            .option("stringency", "silent")
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_bg_bad")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.contig, r.start, r.end) for r in spark.table("t_bg_bad").collect()
        )
        assert got == [("chr1", 1, 10), ("chr1", 31, 40)]

    def test_tail_bg_extension_spellings(self, spark, tmp_path):
        """.bg and .bedGraph deliveries (the batch source's spellings)
        must be picked up too."""
        from hadoop_bam_spark.streaming.tail import (
            BedGraphStreamDataSource,
        )

        spark.dataSource.register(BedGraphStreamDataSource)
        land = tmp_path / "bg_ext"
        land.mkdir()
        (land / "a.bg").write_text("chr1\t0\t10\t1\n")
        (land / "b.bedGraph").write_text("chr2\t0\t10\t2\n")
        ck = tmp_path / "ck_ext"
        q = (
            spark.readStream.format("bedgraph_stream")
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_bg_ext")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        assert sorted(
            r.contig for r in spark.table("t_bg_ext").collect()
        ) == ["chr1", "chr2"]


class TestStreamStaticIntervalJoin:
    def test_bed_tail_annotated_by_static_regions(self, spark, tmp_path):
        """Stream-static interval join: tailed BED deliveries annotate
        against a STATIC region table through the binned tile join
        (explode + equi-join — fully streamable; no stream-stream state).
        Each micro-batch's features get their overlapping region ids."""
        from pyspark.sql import functions as F

        from hadoop_bam_spark.operators.interval_join import (
            interval_join_binned,
        )
        from hadoop_bam_spark.streaming.tail import BEDStreamDataSource

        spark.dataSource.register(BEDStreamDataSource)
        land = tmp_path / "bed_land_join"
        land.mkdir()
        (land / "d1.bed").write_text(
            "chr1\t99\t200\tf1\n"      # overlaps rA
            "chr1\t5000\t5100\tf2\n"   # overlaps nothing
            "chr2\t150\t250\tf3\n")    # overlaps rB and rC
        regions = spark.createDataFrame(
            [("chr1", 150, 300, "rA"), ("chr2", 100, 180, "rB"),
             ("chr2", 200, 220, "rC")],
            "contig string, r_start long, r_stop long, region_id string",
        )
        feats = (
            spark.readStream.format("bed_stream")
            .load(str(land))
            .select("contig", "start", F.col("end").alias("stop"), "name")
        )
        annotated = interval_join_binned(
            feats, regions,
            left_keys=("contig", "start", "stop"),
            right_keys=("contig", "r_start", "r_stop"),
            bin_size=256,  # small bins so the tile explode really fans out
        ).select("name", "region_id")
        ck = tmp_path / "ck_join"
        q = (
            annotated.writeStream.format("memory")
            .queryName("t_bed_join")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        got = sorted(
            (r.name, r.region_id) for r in spark.table("t_bed_join").collect()
        )
        # exactly-once incremental pickup across deliveries is pinned by
        # the tail-source tests; the memory sink cannot recover from a
        # checkpoint, so this test pins the JOIN semantics on one batch
        assert got == [("f1", "rA"), ("f3", "rB"), ("f3", "rC")]


class TestTextStreamSinks:
    def test_bedgraph_tail_transform_land(self, spark, tmp_path):
        """Full interval-text streaming loop: tail a bedGraph landing dir,
        transform (scale the values), land as rename-committed BGZF
        shards via writeStream.format('bedgraph'), read the output back
        through the batch source."""
        import os

        from pyspark.sql import functions as F

        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import (
            BedGraphStreamDataSource,
        )

        register_all(spark)
        spark.dataSource.register(BedGraphStreamDataSource)
        land = tmp_path / "bg_in"
        land.mkdir()
        (land / "a.bedgraph").write_text(
            "chr1\t0\t100\t1.5\nchr1\t100\t200\t2\nchr2\t0\t50\t-0.25\n")
        out = tmp_path / "bg_out"
        ck = tmp_path / "ck_sink"
        q = (
            spark.readStream.format("bedgraph_stream")
            .load(str(land))
            .withColumn("value", F.col("value") * 2)
            .writeStream.format("bedgraph")
            .option("path", str(out))
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        shards = [f for f in os.listdir(out) if f.endswith(".bedgraph.bgz")]
        assert shards and all(f.startswith("batch-") for f in shards)
        from hadoop_bam_spark.commit import read_manifest

        assert sum(e["records"] for e in read_manifest(str(out))) == 3
        back = spark.read.format("bedgraph").load(str(out))
        got = sorted((r.contig, r.start, r.end, r.value) for r in back.collect())
        assert got == [("chr1", 1, 100, 3.0), ("chr1", 101, 200, 4.0),
                       ("chr2", 1, 50, -0.5)]
        staging = out / ".staging"
        assert not staging.exists() or not any(staging.iterdir())

    def test_bed_and_gff_stream_sinks(self, spark, tmp_path):
        """BED and GFF shard sinks land standalone readable shards
        (GFF shards carry the ##gff-version header)."""
        import os

        from pyspark.sql import functions as F

        from hadoop_bam_spark.formats.bed import BED_SCHEMA
        from hadoop_bam_spark.formats.gff import GFF_SCHEMA
        from hadoop_bam_spark.sources import register_all
        from hadoop_bam_spark.streaming.tail import BEDStreamDataSource

        register_all(spark)
        spark.dataSource.register(BEDStreamDataSource)
        land = tmp_path / "bed_in"
        land.mkdir()
        (land / "a.bed").write_text("chr1\t0\t100\tf1\t7\t+\nchr2\t5\t50\tf2\t0\t-\n")

        out_bed = tmp_path / "bed_out"
        q = (
            spark.readStream.format("bed_stream")
            .load(str(land))
            .writeStream.format("bed")
            .option("path", str(out_bed))
            .option("checkpointLocation", str(tmp_path / "ck_bed_sink"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        back = spark.read.format("bed").load(str(out_bed))
        assert sorted((r.contig, r.start, r.end, r.name) for r in back.collect()) == [
            ("chr1", 1, 100, "f1"), ("chr2", 6, 50, "f2")]

        # GFF: static-frame writeStream via a tailed bed feed transformed
        # to the GFF schema
        out_gff = tmp_path / "gff_out"
        gff = (
            spark.readStream.format("bed_stream")
            .load(str(land))
            .select(
                "contig",
                F.lit("test").alias("source"),
                F.lit("region").alias("type"),
                "start",
                "end",
                F.col("score").cast("double").alias("score"),
                "strand",
                F.lit(None).cast("int").alias("phase"),
                F.create_map(F.lit("ID"), F.col("name")).alias("attributes"),
            )
        )
        q2 = (
            gff.writeStream.format("gff")
            .option("path", str(out_gff))
            .option("checkpointLocation", str(tmp_path / "ck_gff_sink"))
            .trigger(availableNow=True)
            .start()
        )
        q2.awaitTermination()
        back2 = spark.read.format("gff").load(str(out_gff))
        rows = sorted(
            (r.contig, r.start, r.end, dict(r.attributes)["ID"])
            for r in back2.collect()
        )
        assert rows == [("chr1", 1, 100, "f1"), ("chr2", 6, 50, "f2")]
        # shards carry the version directive
        import gzip as _gz

        shard = next(f for f in os.listdir(out_gff) if f.endswith(".gff3.bgz"))
        with _gz.open(os.path.join(out_gff, shard), "rt") as fh:
            assert fh.readline().startswith("##gff-version 3")


class TestGFFStream:
    def test_tail_gff_landing_with_intervals(self, spark, tmp_path):
        """gff_stream (third text-tail binding; interval coords live at
        tuple indexes 3/4) tails deliveries with per-row residual
        filtering and can tail the gff shard sink's output."""
        from hadoop_bam_spark.streaming.tail import GFFStreamDataSource

        spark.dataSource.register(GFFStreamDataSource)
        land = tmp_path / "gff_land"
        land.mkdir()
        (land / "a.gff3").write_text(
            "##gff-version 3\n"
            "chr1\tsrc\tgene\t100\t200\t1.5\t+\t.\tID=g1\n"
            "chr1\tsrc\tgene\t5000\t5100\t.\t-\t.\tID=g2\n"
            "chr2\tsrc\texon\t150\t250\t.\t+\t1\tID=g3\n")
        ck = tmp_path / "ck_gff_tail"
        q = (
            spark.readStream.format("gff_stream")
            .option("intervals", "chr1:150-400")
            .load(str(land))
            .writeStream.format("memory")
            .queryName("t_gff_tail")
            .option("checkpointLocation", str(ck))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        rows = spark.table("t_gff_tail").collect()
        assert [(r.contig, r.start, r.end, dict(r.attributes)["ID"])
                for r in rows] == [("chr1", 100, 200, "g1")]


#: stream format -> (batch format, a ``columns`` projection)
TAIL_FORMATS = {
    "bam_stream": ("bam", "qname,rname,pos"),
    "bcf_stream": ("bcf", "contig,start,id"),
    "cram_stream": ("cram", "qname,rname,pos"),
    "fastq_stream": ("fastq", "name,sequence,lane"),
    "vcf_stream": ("vcf", "contig,start,id"),
    "bed_stream": ("bed", "contig,start,name"),
    "bedgraph_stream": ("bedgraph", "contig,end,value"),
    "gff_stream": ("gff", "contig,type,attributes"),
}


@pytest.fixture(scope="module")
def tail_landings(spark, tmp_path_factory):
    """A two-file landing directory per tail format, built from
    tests/textgen.py and the engine's sinks."""
    import random

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.bed import BED_SCHEMA
    from hadoop_bam_spark.formats.bedgraph import BEDGRAPH_SCHEMA
    from hadoop_bam_spark.formats.sam import parse_header
    from hadoop_bam_spark.formats.vcf import read_vcf_header
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.sources.tabix_text import GFF
    from hadoop_bam_spark.streaming import tail
    from tests import textgen

    register_all(spark)
    for name in dir(tail):
        if name.endswith("StreamDataSource"):
            spark.dataSource.register(getattr(tail, name))
    root = tmp_path_factory.mktemp("tail_parity")
    land = {fmt: root / fmt for fmt in TAIL_FORMATS}
    for d in land.values():
        d.mkdir()
    src = root / "src"
    src.mkdir()

    sam_hdr = parse_header(textgen.gen_bam_header_text().splitlines())
    for seed, name in ((1, "a"), (2, "b")):
        bam = land["bam_stream"] / f"{name}.bam"
        bam.write_bytes(textgen.bam_file(textgen.gen_bam_records(600, seed)))
        sinks.write_cram(spark.read.format("bam").load(str(bam)),
                         str(land["cram_stream"] / f"{name}.cram"), sam_hdr,
                         refs=textgen.GEN_BAM_REFS)

    vcf_text = [textgen.gen_vcf_text(textgen.gen_vcf_rows(300, seed))
                for seed in (1, 2)]
    (land["vcf_stream"] / "a.vcf").write_text(vcf_text[0])
    (land["vcf_stream"] / "b.vcf.bgz").write_bytes(
        textgen.bgzf_compress(vcf_text[1].encode()))
    vcf_hdr = read_vcf_header(str(land["vcf_stream"] / "a.vcf"))
    for i, name in enumerate("ab"):
        (src / f"{name}.vcf").write_text(vcf_text[i])
        sinks.write_bcf(spark.read.format("vcf").load(str(src / f"{name}.vcf")),
                        str(land["bcf_stream"] / f"{name}.bcf"), vcf_hdr)

    rng = random.Random(3)
    for name, ext in (("a", ".fastq"), ("b", ".fq")):
        (land["fastq_stream"] / f"{name}{ext}").write_text("".join(
            f"@M1:7:FC{name}:{rng.randint(1, 8)}:1101:{i}:{rng.randint(1, 999)}"
            f" 1:N:0:ACGT\n{seq}\n+\n{'I' * len(seq)}\n"
            for i in range(200)
            for seq in ["".join(rng.choice("ACGTN") for _ in range(30))]
        ))

    feats = textgen.gen_vcf_rows(400, seed=4)
    halves = {"a": feats[::2], "b": feats[1::2]}
    for name, ext, idx in (("a", "", False), ("b", ".bgz", True)):
        rows = halves[name]
        sinks.write_bed(spark.createDataFrame(
            [(r[0], r[1], r[2] + 20, r[3], int(r[6]), "+-"[i % 2], [])
             for i, r in enumerate(rows)], BED_SCHEMA),
            str(land["bed_stream"] / f"{name}.bed{ext}"), index_tbi=idx)
        sinks.write_bedgraph(spark.createDataFrame(
            [(r[0], r[1], r[1] + 5, r[6] / 4) for r in rows], BEDGRAPH_SCHEMA),
            str(land["bedgraph_stream"] / f"{name}.bedgraph{ext}"),
            index_tbi=idx)
        sinks.write_gff(spark.createDataFrame(
            [(r[0], "gen", "gene" if i % 3 else "exon", r[1], r[2] + 50,
              r[6], "+", None if i % 3 else 0, {"ID": f"{name}{i}"})
             for i, r in enumerate(rows)], GFF.schema),
            str(land["gff_stream"] / f"{name}.gff3{ext}"), index_tbi=idx)
    return land


def _canon(rows):
    import json

    return sorted(json.dumps(r.asDict(recursive=True), sort_keys=True,
                             default=str) for r in rows)


@pytest.mark.parametrize("projected", [False, True], ids=["all", "columns"])
@pytest.mark.parametrize("fmt", sorted(TAIL_FORMATS))
def test_tail_matches_batch_read(spark, tail_landings, tmp_path, fmt,
                                 projected):
    """Every tail source returns what its batch source reads from the same
    landing directory: the same rows and the same columns, with and
    without the batch source's ``columns`` option."""
    batch_fmt, columns = TAIL_FORMATS[fmt]
    opts = {"columns": columns} if projected else {}
    land = str(tail_landings[fmt])
    name = f"t_parity_{batch_fmt}_{int(projected)}"
    q = (
        spark.readStream.format(fmt).options(**opts).load(land)
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table(name)
    want = spark.read.format(batch_fmt).options(**opts).load(land)
    assert got.dtypes == want.dtypes
    want_rows = want.collect()
    assert len(want_rows) > 0
    assert _canon(got.collect()) == _canon(want_rows)
