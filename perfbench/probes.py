"""Per-layer metrics for the traced run.

After the traced operation loop, every layer's public functions are called
directly on the workload's own inputs, each call inside a span. Every traced
run reports the same metric set; on workloads where a layer does little its
numbers are still measured on that workload's files, and the benchmark
predicts no change there (see README.md for the metric -> layer -> workload
map).
"""

from __future__ import annotations

import io
import os
import shutil
import statistics
import time

import pyarrow as pa

#: records fed to the direct format-layer probes
PROBE_RECORDS = 65536
#: region lookups timed against the BAI
BAI_LOOKUPS = 200
#: partitions read directly per full-scan workload
READ_SPLITS = 2
#: seeded 1 kb targets for the interval_coverage probe
N_TARGETS = 2000
#: Spark SQL end coordinate of an alignment from its CIGAR
END_EXPR = (
    "pos + greatest(aggregate(transform(regexp_extract_all(cigar, "
    "'(\\\\d+)[MDN=X]', 1), x -> cast(x as int)), 0, (a, x) -> a + x), 1) - 1"
)


def _timed(tracer, name, layer, fn):
    with tracer.span(name, layer):
        t0 = time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0


def _header(path):
    from hadoop_bam_spark.formats import bam, bgzf

    with open(path, "rb") as fh:
        return bam.read_header(bgzf.BGZFReader(fh))


def format_metrics(w, tracer) -> dict:
    from hadoop_bam_spark.formats import bam_vec, bgzf
    from hadoop_bam_spark.formats.bam_venc import BAMBatchEncoder

    tracer.probe("formats")
    path = w.input_path
    _, refs, first = _header(path)
    end = bgzf.make_voffset(os.path.getsize(path), 0)
    with open(path, "rb") as fh:
        payload, t_inflate = _timed(
            tracer, "formats.bgzf.iter_blocks", "formats",
            lambda: sum(len(p) for _, p in bgzf.iter_blocks(fh, 0)))
        batches, n = [], 0
        for buf, starts, lens in bam_vec.iter_body_batches(fh, first, end, 8192):
            batches.append((buf, starts, lens))
            n += len(starts)
            if n >= PROBE_RECORDS:
                break

    def decode(fields):
        dec = bam_vec.BAMBatchDecoder(refs, fields=fields)
        return [dec.decode_span(*b) for b in batches]

    cols, t_dec = _timed(tracer, "formats.bam_vec.decode_span", "formats",
                         lambda: decode(None))
    _, t_proj = _timed(tracer, "formats.bam_vec.decode_span.projected", "formats",
                       lambda: decode(["rname", "pos", "cigar", "flag"]))

    names = ["qname", "flag", "rname", "pos", "mapq", "cigar", "rnext", "pnext",
             "tlen", "seq", "qual"]
    record_batches = []
    for c in cols:
        tags = c["tags"]
        arrays = [c[k] for k in names] + [
            pa.ListArray.from_arrays(tags.offsets, tags.keys),
            pa.ListArray.from_arrays(tags.offsets, tags.items),
        ]
        record_batches.append(pa.RecordBatch.from_arrays(arrays, names + ["tag_keys", "tag_vals"]))
    enc = BAMBatchEncoder(refs)
    blobs, t_enc = _timed(tracer, "formats.bam_venc.encode_batch", "formats",
                          lambda: [enc.encode_batch(rb)[0] for rb in record_batches])

    def deflate():
        writer = bgzf.BGZFWriter(io.BytesIO())
        for blob in blobs:
            writer.write(blob)
        writer.close()

    _, t_def = _timed(tracer, "formats.bgzf.BGZFWriter", "formats", deflate)
    return {
        "formats.bgzf.inflate_mb_per_s": (payload / t_inflate / 1e6, "MB/s"),
        "formats.bam_vec.decode_reads_per_s": (n / t_dec, "1/s"),
        "formats.bam_vec.decode_proj_reads_per_s": (n / t_proj, "1/s"),
        "formats.bam_venc.encode_reads_per_s": (n / t_enc, "1/s"),
        "formats.bgzf.deflate_mb_per_s": (sum(map(len, blobs)) / t_def / 1e6, "MB/s"),
    }


def bai_metrics(w, tracer) -> dict:
    from hadoop_bam_spark.formats.bai import read_bai

    tracer.probe("bai")
    path = getattr(w, "out_path", None) or w.input_path
    _, refs, _ = _header(path)
    idx = read_bai(path + ".bai")
    times = []
    for c, s, e, _ in w.queries[:BAI_LOOKUPS]:
        _, dt = _timed(tracer, "formats.bai.span_for_intervals", "formats",
                       lambda: idx.span_for_intervals(refs, [(c, s, e)]))
        times.append(dt)
    return {"formats.bai.lookup_us": (statistics.median(times) * 1e6, "us")}


def _plan_and_read(tracer, opts, filters, max_parts=None):
    """Direct BAMReader planning and reading of the first ``max_parts``
    partitions -> (plan s, read s, records decoded in their spans, records
    returned, partitions planned)."""
    from hadoop_bam_spark.formats import bam_vec
    from hadoop_bam_spark.sources.bam_source import BAMPartition, BAMReader

    def plan():
        rd = BAMReader(opts)
        rd.pushFilters(filters)
        return rd, rd.partitions()

    (rd, parts), t_plan = _timed(tracer, "sources.bam.plan", "sources", plan)
    n_planned = len(parts)
    parts = parts[:max_parts] if max_parts else parts
    returned, t_read = _timed(
        tracer, "sources.bam.read", "sources",
        lambda: sum(b.num_rows for p in parts for b in rd.read(p)))
    decoded = 0
    with open(opts["path"], "rb") as fh:
        for p in parts:
            if isinstance(p, BAMPartition):
                for vb, ve in p.chunks or ((p.vstart, p.vend),):
                    decoded += sum(len(s) for _, s, _ in
                                   bam_vec.iter_body_batches(fh, vb, ve, 8192))
            else:  # unaligned raw split: every record in it is returned
                decoded = returned
    return t_plan, t_read, decoded, returned, n_planned


def source_metrics(w, tracer, traced_walls) -> dict:
    from workloads import SPLIT_SIZE, RegionQueries

    analyze = tracer.durations("sources.bam.load", lambda run: isinstance(run, int))
    tracer.probe("sources")
    if isinstance(w, RegionQueries):
        op_ids = sorted({s["run"] for s in tracer.spans if s["name"] == "op"})
        plans, reads, decoded, returned = [], [], 0, 0
        for i in op_ids:
            opts, filters = w.options(w.queries[i % len(w.queries)])
            tp, trd, d, r, _ = _plan_and_read(tracer, opts, filters)
            plans.append(tp)
            reads.append(trd)
            decoded += d
            returned += r
        plan, read = statistics.mean(plans), statistics.mean(reads)
        overhead = statistics.mean(traced_walls) - statistics.mean(analyze) - plan - read
    else:
        opts = {"path": w.input_path, "split_size": str(SPLIT_SIZE)}
        plan, t_read, decoded, returned, n_parts = _plan_and_read(
            tracer, opts, [], max_parts=READ_SPLITS)
        read = t_read / min(n_parts, READ_SPLITS)
        # Spark reads the splits in parallel: charge the source one core's share
        per_core = read * n_parts / min(n_parts, w.cpus)
        overhead = statistics.mean(traced_walls) - statistics.mean(analyze) - plan - per_core
    return {
        "sources.bam.analyze_ms": (statistics.mean(analyze) * 1e3, "ms"),
        "sources.bam.plan_ms": (plan * 1e3, "ms"),
        "sources.bam.read_ms": (read * 1e3, "ms"),
        "sources.bam.decoded_per_returned": (decoded / max(returned, 1), "ratio"),
        "sources.spark_overhead_ms": (overhead * 1e3, "ms"),
    }


def spark_metrics(w, tracer) -> dict:
    """Session sort, sink writes and the coverage operator on the
    workload's input, each timed on cached inputs where the layer allows."""
    from pyspark.sql import functions as F

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.operators.interval_join import interval_coverage

    import gen
    from workloads import by_coordinate

    tracer.probe("spark")
    out = {}
    by_coord = by_coordinate(w.reader().load(w.input_path))
    _, t_sort = _timed(tracer, "session.orderBy.noop", "session",
                       lambda: by_coord.write.format("noop").mode("overwrite").save())
    out["session.sort_s"] = (t_sort, "s")

    hdr, refs, _ = _header(w.input_path)
    hdr = hdr.with_sort_order("coordinate")
    cached = by_coord.cache()
    cached.count()
    single = os.path.join(w.dir, "probe-single.bam")
    sharded = os.path.join(w.dir, "probe-sharded")
    _, t_single = _timed(tracer, "sinks.write_bam", "sinks",
                         lambda: sinks.write_bam(cached, single, hdr, refs=refs,
                                                 index_bai=True))
    _, t_sharded = _timed(tracer, "sinks.write_bam.sharded", "sinks",
                          lambda: sinks.write_bam(cached, sharded, hdr, refs=refs,
                                                  index_bai=True, sharded=True))
    cached.unpersist()
    out["sinks.write_bam_s"] = (t_single, "s")
    out["sinks.single_file_merge_s"] = (t_single - t_sharded, "s")
    out["sinks.bytes_written_per_input_byte"] = (
        os.path.getsize(single) / os.path.getsize(w.input_path), "ratio")
    for p in (single, single + ".bai", single + ".sbi"):
        os.remove(p)
    shutil.rmtree(sharded)

    bed = os.path.join(w.dir, "probe-targets.bed")
    gen.write_bed(bed, gen.make_targets(w.seed, N_TARGETS))
    targets = w.spark.read.format("bed").load(bed).select("contig", "start", "end").cache()
    targets.count()
    reads = (
        w.reader(columns="rname,pos,cigar,flag").load(w.input_path)
        .where("rname is not null and (flag & 4) = 0")
        .select("rname", F.col("pos").cast("long").alias("pos"),
                F.expr(END_EXPR).cast("long").alias("end_pos"))
        .cache()
    )
    reads.count()
    _, t_cov = _timed(
        tracer, "operators.interval_coverage", "operators",
        lambda: interval_coverage(targets, reads, keys=("contig", "start", "end"),
                                  right_keys=("rname", "pos", "end_pos")).collect())
    reads.unpersist()
    targets.unpersist()
    out["operators.interval_coverage_s"] = (t_cov, "s")
    return out


def layer_metrics(w, tracer, traced_walls, untraced_walls) -> dict:
    metrics = {"trace.overhead_ms": (
        (statistics.median(traced_walls) - statistics.median(untraced_walls)) * 1e3, "ms")}
    metrics.update(source_metrics(w, tracer, traced_walls))
    metrics.update(format_metrics(w, tracer))
    metrics.update(bai_metrics(w, tracer))
    metrics.update(spark_metrics(w, tracer))
    return metrics
