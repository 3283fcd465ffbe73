"""Distributed sinks: executors write part files, the driver publishes them
— the reference's sharded-writer + merger contract
(KeyIgnoringBAMOutputFormat.java:48-93, util/SAMFileMerger.java:46-149,
util/VCFFileMerger.java:45-135, util/SAMOutputPreparer.java:61-128).

Every sink commits through :mod:`hadoop_bam_spark.commit`:

- Each task attempt writes its part under an attempt-unique name in a
  dot-prefixed staging directory; nothing a task writes is visible to
  readers, and a task that raises removes its file.
- ``sharded=True``: ``path`` is a directory of complete standalone files
  (``part-NNNNN<ext>``, own header and terminator, per-shard sidecars)
  listed by ``_manifest.json``. The commit renames the shards in,
  replaces the manifest, then deletes every earlier ``part-*`` shard and
  sidecar the new manifest does not name. The sources read a directory
  through its manifest. No output byte moves after the executor write,
  so write throughput is not capped by one process.
- Single file: the driver byte-concatenates the headerless parts behind
  a fresh header and appends the format terminator (BGZF streams
  concatenate when writers suppress the EOF block,
  BAMRecordWriter.java:128-140). It writes a hidden temporary file next
  to ``path`` and builds the sidecar indexes from that file or from
  per-part stats. The commit deletes every sidecar of ``path``, renames
  the data file over ``path``, then renames the new sidecars: a reader
  can meet new data with no index, never new data with an old index.
- On any failure the staging directory and the temporary files are
  removed and the earlier output is left as it was.

BAM sinks also build the ``.sbi`` splitting index inline during the write
(one voffset every G records, reference SplittingBAMIndexer piggyback mode
SplittingBAMIndexer.java:232-274) and merge the per-part indexes by offset
shifting (SAMFileMerger.mergeSplittingBaiFiles, SAMFileMerger.java:105-149)
— so files we write are re-readable with index-aligned splits, no guessing.
"""

from __future__ import annotations

import io
import posixpath
import shutil
from typing import Optional

from pyspark.sql import DataFrame

from hadoop_bam_spark import fs
from hadoop_bam_spark.commit import (
    STAGING,
    ShardCommit,
    commit_shards,
    publish_file,
    staged_part,
)
from hadoop_bam_spark.formats import bam, bgzf
from hadoop_bam_spark.formats.sam import SAMHeader
from hadoop_bam_spark.formats.splitting_index import DEFAULT_GRANULARITY, SplittingIndex
from hadoop_bam_spark.formats.vcf import VCFHeader, format_vcf_line

SAM_COLS = [
    "qname", "flag", "rname", "pos", "mapq", "cigar",
    "rnext", "pnext", "tlen", "seq", "qual", "tags",
]
VCF_COLS = [
    "contig", "start", "end", "id", "ref", "alts",
    "qual", "filters", "info", "genotypes",
]


def _run_parts(df: DataFrame, staging: str, ext: str, write_part,
               arrow: bool = True) -> list:
    """Executor side of every sink: ``write_part(part_path, it)`` runs once
    per partition on its attempt-staged path and returns a picklable
    result. ``it`` is Arrow batches through ``mapInArrow`` when ``arrow``
    (no Row materialization; the result comes back as one pickled binary
    cell), else Rows. Returns ``[(part_path, result)]`` in partition
    order."""
    import pickle

    import pyarrow as pa

    fs.makedirs(staging)  # also the parents of ``path``, before any task

    def run(it):
        from pyspark import TaskContext

        with staged_part(staging, ext) as part:
            return TaskContext.get().partitionId(), part, write_part(part, it)

    if arrow:
        def fn(batches):
            yield pa.RecordBatch.from_arrays(
                [pa.array([pickle.dumps(run(batches))], pa.binary())], ["res"]
            )

        out = [pickle.loads(bytes(r["res"]))
               for r in df.mapInArrow(fn, "res binary").collect()]
    else:
        out = df.rdd.mapPartitions(lambda it: [run(it)]).collect()
    return [(part, res) for _, part, res in sorted(out, key=lambda t: t[0])]


def _publish(df: DataFrame, path: str, sharded: bool, ext: str, write_part,
             merge, arrow: bool = True, fmt: str = "") -> None:
    """Run ``write_part`` on every partition and commit the result.

    Sharded: every part is a complete shard and ``write_part`` returns its
    record count (None when the sink does not count), which goes to the
    manifest. Single file: ``merge(tmp, parts)`` writes the merged file and
    its sidecars at ``tmp`` from the ``_run_parts`` results."""
    if not sharded:
        with publish_file(path) as (staging, tmp):
            merge(tmp, _run_parts(df, staging, "", write_part, arrow))
        return
    staging = fs.join(path, STAGING)
    try:
        parts = _run_parts(df, staging, ext, write_part, arrow)
        commit_shards(
            path, [ShardCommit(posixpath.basename(p), n) for p, n in parts],
            None, ext, fmt=fmt,
        )
    finally:
        fs.remove_tree(staging)


def _merge_parts(dst: str, head: bytes, parts, tail: bytes) -> None:
    """Write ``dst`` as ``head``, the part files' bytes in order, then
    ``tail``."""
    with fs.open_file(dst, "wb") as out:
        out.write(head)
        for part, _ in parts:
            with fs.open_file(part, "rb") as f:
                shutil.copyfileobj(f, out)
        out.write(tail)


def _bgzf(data: bytes) -> bytes:
    """``data`` as terminator-less BGZF blocks (empty for empty data)."""
    buf = io.BytesIO()
    w = bgzf.BGZFWriter(buf, write_terminator=False)
    w.write(data)
    w.close()
    return buf.getvalue()


def write_bam(
    df: DataFrame,
    path: str,
    header: SAMHeader,
    refs: Optional[list[tuple[str, int]]] = None,
    index_granularity: int = DEFAULT_GRANULARITY,
    index_bai: bool = False,
    index_splitting_bai: bool = False,
    sharded: bool = False,
) -> None:
    """Write a SAM_SCHEMA DataFrame as one valid BAM file + ``.sbi`` index.

    ``index_bai=True`` additionally builds a ``.bai`` binning index from
    per-part stats accumulated during the executor writes (no post-merge
    re-read; meaningful when ``df`` is coordinate-sorted) so interval reads
    plan index-driven splits (formats/bai.py).
    ``index_splitting_bai=True`` also emits the reference's
    ``.splitting-bai`` layout (big-endian i64 voffsets) so Hadoop-BAM /
    htsjdk can plan splits on our output.

    ``sharded=True`` writes ``path`` as a DIRECTORY of independent,
    complete BAM files (``part-NNNNN.bam`` — own header, own BGZF EOF,
    own per-shard indexes) plus a ``_manifest.json``. This is the 100 TB
    write path: the single-file mode's driver-side byte concatenation —
    the reference's own contract (util/SAMFileMerger.java:46-103) —
    funnels every output byte through one process, which caps write
    throughput at one machine's bandwidth no matter how many executors
    ran. Sharded output never moves data after the executor write (the
    commit step is a same-filesystem rename), and the sources read a
    directory of format files natively, so
    ``spark.read.format("bam").load(dir)`` round-trips with per-shard
    index pruning intact."""
    if refs is None:
        ordered = sorted(header.sequences.items(), key=lambda kv: kv[1][0])
        refs = [(name, ln) for name, (_, ln) in ordered]

    def sidecars(dst: str, parts, header_len: int) -> None:
        """``.sbi`` (+ ``.splitting-bai``, ``.bai``) of ``dst`` from the
        ``(size, offsets, stats)`` of its parts, shifted past the header."""
        sbi = SplittingIndex.merge(
            [(offs, size) for size, offs, _ in parts], header_len,
            index_granularity,
        )
        with fs.open_file(dst + ".sbi", "wb") as f:
            sbi.write(f)
        if index_splitting_bai:
            with fs.open_file(dst + ".splitting-bai", "wb") as f:
                sbi.write_reference_layout(f)
        if index_bai:
            from hadoop_bam_spark.formats.bai import bai_from_part_stats

            bai = bai_from_part_stats(
                [(stats, size) for size, _, stats in parts], header_len,
                len(refs),
            )
            with fs.open_file(dst + ".bai", "wb") as f:
                bai.write(f)

    def write_part(part_path: str, batches):
        """Columnar part write: Arrow batches -> bam_venc blobs -> BGZF.

        Record voffsets (splitting-index granularity anchors, BAI chunk
        spans) are recovered analytically AFTER each bulk write via the
        writer's block table (BGZFWriter.voffsets_of_u), and the BAI stats
        accumulate once per batch (PartIndexStats.add_batch): no per-record
        Python on the hot path."""
        import numpy as np

        from hadoop_bam_spark.formats.bam_venc import BAMBatchEncoder

        stats = None
        if index_bai:
            from hadoop_bam_spark.formats.bai import PartIndexStats

            stats = PartIndexStats()
        enc = BAMBatchEncoder(refs)
        offsets: list[int] = []
        nrec = 0
        with fs.open_file(part_path, "wb") as f:
            w = bgzf.BGZFWriter(f, write_terminator=sharded)
            if sharded:
                # a shard is a complete standalone BAM: header first,
                # through the same writer so every recorded voffset is
                # already file-absolute (no merge-time shifting)
                w.write(bam.encode_header(header, refs))
            for batch in batches:
                blob, rec_lens, (rid, pos0, end0, mapped) = enc.encode_batch(batch)
                if not len(rec_lens):
                    continue
                u0 = w.u_total
                w.write(blob)
                u_starts = u0 + np.concatenate(
                    [[0], np.cumsum(rec_lens[:-1])]
                )
                if index_granularity:
                    first = (-nrec) % index_granularity
                    offsets.extend(w.voffsets_of_u(
                        u_starts[first::index_granularity]).tolist())
                if stats is not None:
                    stats.add_batch(
                        rid, pos0, end0, mapped, w.voffsets_of_u(u_starts),
                        w.voffsets_of_u(u_starts + rec_lens),
                    )
                nrec += len(rec_lens)
            w.close()
        info = (fs.file_size(part_path), offsets, stats)
        if sharded:
            sidecars(part_path, [info], 0)
            return nrec
        return info

    def merge(tmp: str, parts) -> None:
        head = _bgzf(bam.encode_header(header, refs))
        _merge_parts(tmp, head, parts, bgzf.BGZF_EOF)
        sidecars(tmp, [info for _, info in parts], len(head))

    pre = df.selectExpr(
        *SAM_COLS[:-1],
        "map_keys(tags) as tag_keys",
        "map_values(tags) as tag_vals",
    )
    _publish(pre, path, sharded, ".bam", write_part, merge, fmt="bam")


def write_cram(
    df: DataFrame,
    path: str,
    header: SAMHeader,
    refs: Optional[list[tuple[str, int]]] = None,
    records_per_container: int = 30000,
    reference: Optional[str] = None,
    index_crai: bool = False,
    records_per_slice: int = 10000,
    sharded: bool = False,
    embed_reference: bool = False,
    codecs: str = "gzip",
) -> None:
    """Write a SAM_SCHEMA DataFrame as one valid CRAM 3.0 file.

    ``sharded=True``: ``path`` becomes a DIRECTORY of complete standalone
    CRAMs (``part-NNNNN.cram`` — own file definition, header container and
    EOF; per-shard ``.crai`` when ``index_crai``) plus ``_manifest.json``
    — same no-driver-byte-funnel rationale as ``write_bam(sharded=True)``.

    Containers hold up to ``records_per_container`` records in slices of
    ``records_per_slice`` (the samtools/htsjdk multi-slice layout); the
    ``.crai`` indexes per SLICE, so interval pruning stays fine-grained.

    Executors emit bare container shards (no file definition / header /
    EOF); the driver concatenates them behind one file definition + SAM
    header container and appends the fixed EOF container — the reference's
    sharded CRAM write + merge contract (CRAMRecordWriter.java:74-121 with
    writeHeader=false, util/SAMFileMerger.java:92-103).

    ``reference``: path to a FASTA (visible to every executor). When given,
    containers are reference-compressed (RR=true, htsjdk's default — only
    mismatching bases are stored) and reading the output requires the same
    reference. Without it, sequences go verbatim (RR=false, htslib's
    ``no_ref`` shape) and no FASTA is needed to read.

    ``embed_reference`` (with ``reference``): each single-reference slice
    additionally carries its [aln_min, aln_max] reference window as an
    embedded block (spec §8.5), so READERS need no FASTA — the
    self-contained archive shape. Multiref slices (records spanning
    contigs — unsorted input) have no single window, so their records
    encode verbatim instead; the self-contained guarantee holds either
    way, reference compression just degrades where the input isn't
    coordinate-grouped. Costs the window bytes per slice
    (gzip-compressed; cheap for coordinate-sorted data where slices are
    dense).

    ``codecs="auto"``: quality/flag-class data series are additionally
    offered to the rANS-4x8 order-0 codec (what htsjdk emits for these
    series) and each block keeps whichever measures smaller — typically
    10-20% off the qual-dominated file size, at a write-throughput cost
    (the pure-Python rANS encoder runs ~3.5 MB/s/task; see
    FORMAT_BENCH.md r9). Readers need htslib-compatible rANS decode
    (this engine's reader, samtools, htsjdk all qualify). Default stays
    gzip: write speed is the sink's headline contract."""
    from hadoop_bam_spark.formats import cram

    if refs is None:
        ordered = sorted(header.sequences.items(), key=lambda kv: kv[1][0])
        refs = [(name, ln) for name, (_, ln) in ordered]
    ref_index = {name: i for i, (name, _) in enumerate(refs)}

    def crai_sidecar(dst: str) -> None:
        """``.crai`` from a header-only container walk of ``dst`` (the
        public CRAM index; the source plans splits and prunes intervals
        from it without touching the data file)."""
        from hadoop_bam_spark.formats import crai as crai_mod

        crai_mod.write_crai(
            crai_mod.build_crai(dst, open_fn=fs.open_file),
            dst + ".crai",
            open_fn=fs.open_file,
        )

    def write_part(part_path: str, batches):
        """Columnar part write (both reference modes): Arrow batches
        accumulate to ``records_per_container`` rows, each container
        encodes through the vectorized cram_venc column encoder — RR=true
        when ``reference`` is set (whole-contig numpy compare, r8),
        RR=false verbatim otherwise; a container whose batch shape falls
        outside the fast path (VecUnsupported) degrades to the scalar
        ``cram.encode_container`` for that container only — byte parity
        between the two is property-tested (tests/test_cram_venc.py),
        so the fallback changes speed, never bytes."""
        import pyarrow as pa

        from hadoop_bam_spark.formats.cram_venc import (
            CRAMColumnEncoder,
            VecUnsupported,
        )

        ref_fasta = (
            cram.FastaRef(reference, open_fn=fs.open_file)
            if reference
            else None
        )
        ref_names = [name for name, _ in refs]
        enc = CRAMColumnEncoder(
            ref_index, ref_fasta=ref_fasta, ref_names=ref_names,
            embed_reference=embed_reference, codecs=codecs,
        )

        def scalar_rows(tbl):
            cols = [tbl.column(i).to_pylist() for i in range(tbl.num_columns)]
            for vals in zip(*cols):
                yield vals[:11] + (dict(zip(vals[11] or (), vals[12] or ())),)

        with fs.open_file(part_path, "wb") as f:
            if sharded:
                cram.write_file_definition(f)
                f.write(cram.encode_header_container(header.text))
            counter = 0
            pend: list = []
            pend_rows = 0

            def flush(tbl):
                nonlocal counter
                try:
                    f.write(enc.encode_container(
                        tbl, counter, records_per_slice=records_per_slice
                    ))
                except VecUnsupported:
                    f.write(cram.encode_container(
                        list(scalar_rows(tbl)), ref_index, counter,
                        ref_fasta=ref_fasta, ref_names=ref_names,
                        records_per_slice=records_per_slice,
                        embed_reference=embed_reference,
                        codecs=codecs,
                    ))
                counter += tbl.num_rows

            for batch in batches:
                pend.append(batch)
                pend_rows += batch.num_rows
                while pend_rows >= records_per_container:
                    tbl = pa.Table.from_batches(pend)
                    flush(tbl.slice(0, records_per_container))
                    rest = tbl.slice(records_per_container)
                    pend = rest.to_batches() if rest.num_rows else []
                    pend_rows = rest.num_rows
            if pend_rows:
                flush(pa.Table.from_batches(pend))
            if sharded:
                f.write(cram.EOF_CONTAINER_V3)
        if sharded and index_crai:
            crai_sidecar(part_path)
        return counter

    def merge(tmp: str, parts) -> None:
        head = io.BytesIO()
        cram.write_file_definition(head)
        head.write(cram.encode_header_container(header.text))
        _merge_parts(tmp, head.getvalue(), parts, cram.EOF_CONTAINER_V3)
        if index_crai:
            crai_sidecar(tmp)

    pre = df.selectExpr(
        *SAM_COLS[:-1],
        "map_keys(tags) as tag_keys",
        "map_values(tags) as tag_vals",
    )
    _publish(pre, path, sharded, ".cram", write_part, merge, fmt="cram")


def write_any_sam(
    df: DataFrame,
    path: str,
    header: SAMHeader,
    refs: Optional[list[tuple[str, int]]] = None,
    format: Optional[str] = None,
    sharded: bool = False,
) -> None:
    """Dispatch a SAM_SCHEMA write to the BAM / SAM / CRAM sink by explicit
    ``format`` or by the path's extension — the reference's any-SAM output
    dispatch (KeyIgnoringAnySAMOutputFormat.java:93-127, which picks the
    writer from the configured SAMFormat / output path)."""
    fmt = (format or "").lower()
    if not fmt:
        lower = path.lower()
        for ext in ("bam", "sam", "cram"):
            if lower.endswith("." + ext):
                fmt = ext
                break
    if fmt == "bam":
        write_bam(df, path, header, refs=refs, sharded=sharded)
    elif fmt == "cram":
        write_cram(df, path, header, refs=refs, sharded=sharded)
    elif fmt == "sam":
        write_sam(df, path, header, sharded=sharded)
    else:
        raise ValueError(
            f"cannot infer SAM output format for {path!r}; pass format="
        )


def _write_text_parts(df: DataFrame, path: str, header_text: str,
                      compress: bool, shard_ext: str | None, chunk_fn=None,
                      line_fn=None) -> None:
    """Text write of ``df``'s columns, plain or BGZF: ``chunk_fn``
    (RecordBatch -> newline-terminated bytes) formats Arrow batches with no
    Row materialization; without it ``line_fn`` formats one Row per line.

    ``shard_ext`` (e.g. ``".vcf.bgz"``) switches to sharded output: every
    part becomes a complete standalone file (own header, own BGZF EOF)."""
    sharded = shard_ext is not None
    arrow = chunk_fn is not None
    if not arrow:
        def chunk_fn(r):
            return (line_fn(r) + "\n").encode()

    def write_part(part_path: str, it) -> None:
        with fs.open_file(part_path, "wb") as f:
            w = bgzf.BGZFWriter(f, write_terminator=sharded) if compress else f
            if sharded:
                w.write(header_text.encode())
            for x in it:
                w.write(chunk_fn(x))
            if compress:
                w.close()

    def merge(tmp: str, parts) -> None:
        head = header_text.encode()
        _merge_parts(tmp, _bgzf(head) if compress else head, parts,
                     bgzf.BGZF_EOF if compress else b"")

    _publish(df, path, sharded, shard_ext, write_part, merge, arrow=arrow)


def write_sam(df: DataFrame, path: str, header: SAMHeader,
              sharded: bool = False) -> None:
    from hadoop_bam_spark.formats import sam_vec

    _write_text_parts(
        df.select(*SAM_COLS), path, header.text, False,
        ".sam" if sharded else None, chunk_fn=sam_vec.format_sam_chunk,
    )


def _ensure_vcf_samples(df: DataFrame, header: VCFHeader) -> VCFHeader:
    """Header/data consistency guard: when the caller's header carries no
    sample list but the DataFrame has genotypes, derive the samples from
    the first genotyped row (one tiny driver job). Without this the
    written header claims 0 samples while records carry N — text output
    silently drops genotype columns, and the BCF split guesser (whose
    strongest filter is the header sample count) rejects every record of
    every non-first split: silent data loss."""
    from pyspark.sql import functions as F

    if header.samples or "genotypes" not in df.columns:
        return header
    row = df.select("genotypes").where(F.size("genotypes") > 0).first()
    if row is None:
        return header
    patched = VCFHeader()
    patched.lines = list(header.lines)
    patched.contigs = dict(header.contigs)
    patched.samples = [g["sample"] for g in row[0]]
    return patched


def write_vcf(
    df: DataFrame, path: str, header: VCFHeader, compress: Optional[bool] = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a VCF_SCHEMA DataFrame as one valid VCF (.vcf or BGZF .vcf.bgz —
    default by extension, reference KeyIgnoringVCFOutputFormat.java:93-114).

    ``index_tbi=True`` (BGZF output only) builds a ``.tbi`` tabix index from
    per-part stats accumulated in the executors, with no post-merge re-read
    (meaningful when ``df`` is coordinate-sorted), so interval reads prune
    splits at plan time (formats/tabix.py).

    ``sharded=True``: ``path`` becomes a DIRECTORY of complete standalone
    VCFs (``part-NNNNN.vcf`` / ``.vcf.bgz`` — own header, own BGZF EOF,
    per-shard ``.tbi`` when ``index_tbi``) plus a ``_manifest.json`` —
    same rationale as ``write_bam(sharded=True)``: no output byte ever
    funnels through the driver, the commit is a rename, and the VCF
    source reads the directory natively."""
    if sharded and compress is None:
        compress = True  # directory path carries no extension signal
    if compress is None:
        compress = path.endswith((".gz", ".bgz"))
    if index_tbi and not compress:
        # fail fast, before any part is written
        raise ValueError("tabix index requires BGZF-compressed output")
    header = _ensure_vcf_samples(df, header)
    samples = header.samples

    if index_tbi:
        from hadoop_bam_spark.formats.tabix import FMT_VCF

        def line(r):
            return format_vcf_line(tuple(r), samples)

        def span(r):
            beg0 = int(r[1]) - 1
            return r[0], beg0, beg0 + max(len(r[4] or "N"), 1)  # pos + len(ref)

        _write_tabix_text_indexed(
            df, VCF_COLS, path, sharded, line, ".vcf.bgz", span,
            (FMT_VCF, 1, 2, 0), header=header.text, fmt="vcf",
        )
        return

    def chunk(b):
        from hadoop_bam_spark.formats import vcf_vec

        out = vcf_vec.format_vcf_chunk(b, samples)
        if out is None:  # ragged genotype shapes -> per-row formatter
            out = "".join(
                format_vcf_line(r, samples) + "\n" for r in _vcf_batch_rows(b)
            ).encode("utf-8", "surrogateescape")
        return out

    _write_text_parts(df.select(*VCF_COLS), path, header.text, compress,
                      (".vcf.bgz" if compress else ".vcf") if sharded else None,
                      chunk_fn=chunk)


def _vcf_batch_rows(batch):
    """Arrow batch -> VCF_SCHEMA tuples for the scalar fallbacks of BOTH
    the text-VCF formatter and the BCF encoder (map columns come back
    from to_pylist as [(k, v), ...] pair lists and must be dicts).

    A null per-genotype fields map becomes ``{}``: ``format_vcf_line``
    iterates ``g[2]`` directly (None would TypeError), and the BCF
    ``encode_indiv`` treats None and ``{}`` identically (``g[2] or {}``),
    so the substitution is byte-neutral there."""
    cols = [batch.column(i).to_pylist() for i in range(batch.num_columns)]
    for t in zip(*cols):
        (contig, start, end, vid, ref, alts, qual, filters, info, gts) = t
        yield (
            contig, start, end, vid, ref, alts, qual, filters,
            dict(info) if info is not None else None,
            [
                (g["sample"], g["gt"], dict(g["fields"]) if g["fields"] is not None else {})
                for g in gts
            ]
            if gts is not None
            else None,
        )


def write_bcf(df: DataFrame, path: str, header: "VCFHeader",
              index_csi: bool = False, sharded: bool = False) -> None:
    """Write a VCF_SCHEMA DataFrame as one valid BGZF-compressed BCF2 file:
    headerless BGZF parts on executors, driver concat behind the header
    block, BGZF terminator appended last (reference BCFRecordWriter close
    semantics, BCFRecordWriter.java:165-193).

    ``index_csi=True`` builds a ``.csi`` binning index from per-part stats
    accumulated in the executors (meaningful when ``df`` is
    coordinate-sorted) so interval reads prune BGZF splits at plan time
    (formats/csi.py).

    ``sharded=True``: ``path`` becomes a DIRECTORY of complete standalone
    BCFs (own header block + BGZF EOF, per-shard ``.csi`` when
    ``index_csi``) plus ``_manifest.json`` — same no-driver-byte-funnel
    rationale as ``write_bam(sharded=True)``."""
    from hadoop_bam_spark.formats import bcf as bcfmod

    header = _ensure_vcf_samples(df, header)
    bhdr = bcfmod.parse_bcf_header_text(header.text)

    def csi_sidecar(dst: str, parts, header_len: int) -> None:
        """``.csi`` of ``dst`` from its parts' ``(stats, record-stream
        bytes)``, shifted past the header."""
        from hadoop_bam_spark.formats import csi as csi_mod

        idx = csi_mod.csi_from_part_stats(parts, header_len, len(bhdr.contigs))
        csi_mod.write_csi(idx, dst + ".csi", open_fn=fs.open_file)

    def write_part(part_path: str, batches):
        """Columnar part write: Arrow batches -> bcf_venc blobs -> BGZF.

        A batch whose shape falls outside the vectorized fast path
        (VecUnsupported) degrades to the scalar per-record encoder for
        that batch only — same contract as the BCF read path. With
        ``index_csi`` the per-record CSI stats accumulate INLINE from the
        encoder's (rid, beg0, end0) arrays and the writer's analytic
        voffsets — no post-merge re-decode of the output."""
        import numpy as np

        from hadoop_bam_spark.formats.bam_venc import reg2bin_vec
        from hadoop_bam_spark.formats.bcf_venc import (
            BCFBatchEncoder,
            VecUnsupported,
        )

        enc = BCFBatchEncoder(bhdr)
        stats = None
        if index_csi:
            from hadoop_bam_spark.formats.csi import CSIPartStats

            stats = CSIPartStats()  # default 14/5 == reg2bin_vec's scheme
        nrec = 0
        hdr_len = 0
        with fs.open_file(part_path, "wb") as f:
            if sharded:
                # a shard is a complete standalone BCF with the MERGED
                # file's exact layout: the header closes its own BGZF
                # stream so records begin on a block boundary (the reader
                # and the part-stats CSI rebase both assume it), and the
                # EOF terminator is appended after the record stream
                f.write(_bgzf(bcfmod.encode_header(bhdr)))
                hdr_len = f.tell()
            w = bgzf.BGZFWriter(f, write_terminator=False)
            for batch in batches:
                try:
                    blob, rec_lens, (rid, beg0, end0) = enc.encode_batch(batch)
                    u0 = w.u_total
                    w.write(blob)
                    nrec += len(rec_lens)
                    if stats is not None and len(rec_lens):
                        u_starts = u0 + np.concatenate(
                            [[0], np.cumsum(rec_lens[:-1])]
                        )
                        bins = reg2bin_vec(beg0, end0)
                        begs = w.voffsets_of_u(u_starts).tolist()
                        ends = w.voffsets_of_u(u_starts + rec_lens).tolist()
                        add = stats.add
                        for i in range(len(rec_lens)):
                            add(int(rid[i]), int(bins[i]), begs[i], ends[i])
                except VecUnsupported:
                    for row in _vcf_batch_rows(batch):
                        u0 = w.u_total
                        rec = bcfmod.encode_record(row, bhdr)
                        w.write(rec)
                        nrec += 1
                        if stats is not None:
                            stats.add_record(
                                bhdr.contig_index[row[0]], row[1] - 1, row[2],
                                w.voffset_of_u(u0),
                                w.voffset_of_u(u0 + len(rec)),
                            )
            pend = w.voffset_of_u(w.u_total) if stats is not None else None
            w.close()
            if sharded:
                f.write(bgzf.BGZF_EOF)
        size = fs.file_size(part_path)
        if sharded:
            size -= hdr_len + len(bgzf.BGZF_EOF)  # record-stream length only
        if stats is not None:
            stats.remap_part_end(pend, size << 16)
        if sharded:
            if index_csi:
                csi_sidecar(part_path, [(stats, size)], hdr_len)
            return nrec
        return stats, size

    def merge(tmp: str, parts) -> None:
        head = _bgzf(bcfmod.encode_header(bhdr))
        _merge_parts(tmp, head, parts, bgzf.BGZF_EOF)
        if index_csi:
            csi_sidecar(tmp, [info for _, info in parts], len(head))

    _publish(df.select(*VCF_COLS), path, sharded, ".bcf", write_part, merge,
             fmt="bcf")


def _synthesize_name(r) -> str:
    """Illumina id from metadata when name is absent
    (reference FastqOutputFormat.java:92-115)."""
    if r.name:
        return r.name
    return (
        f"{r.instrument or ''}:{r.run_number or ''}:{r.lane or ''}:"
        f"{r.tile or ''}:{r.xpos or ''}:{r.ypos or ''}"
        f"/{r.read or 1}"
    )


FASTQ_COLS = [
    "name", "sequence", "quality", "instrument", "run_number", "flowcell_id",
    "lane", "tile", "xpos", "ypos", "read", "filter_passed", "control_number",
    "index_sequence",
]


def _opt_str(col, zero_empty: bool = True):
    """int/str column -> string with the scalar writers' `x or ''` falsy
    rule (null AND 0/'' -> '')."""
    import pyarrow as pa
    import pyarrow.compute as pc

    s = pc.fill_null(pc.cast(col, pa.string()), "")
    if zero_empty:
        s = pc.if_else(pc.equal(s, "0"), pa.scalar(""), s)
    return s


def _fastq_chunk(batch) -> bytes:
    """FASTQ_SCHEMA RecordBatch -> 4-line records (vectorized write path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}
    synth = pc.binary_join_element_wise(
        _opt_str(col["instrument"], zero_empty=False),
        _opt_str(col["run_number"]),
        _opt_str(col["lane"]),
        _opt_str(col["tile"]),
        _opt_str(col["xpos"]),
        _opt_str(col["ypos"]),
        ":",
    )
    read_s = pc.fill_null(pc.cast(col["read"], pa.string()), "1")
    read_s = pc.if_else(pc.equal(read_s, "0"), pa.scalar("1"), read_s)
    synth = pc.binary_join_element_wise(synth, read_s, "/")
    name = pc.fill_null(col["name"], "")
    name = pc.if_else(pc.equal(name, ""), synth, name)
    rec = pc.binary_join_element_wise(
        pc.binary_join_element_wise(pa.scalar("@"), name, ""),
        pc.fill_null(col["sequence"], ""),
        pa.scalar("+"),
        pc.fill_null(col["quality"], ""),
        "\n",
    )
    n = len(rec)
    if not n:
        return b""
    import pyarrow as _pa

    blob = pc.binary_join(
        _pa.ListArray.from_arrays(_pa.array([0, n], _pa.int32()), rec),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode("utf-8", "surrogateescape")


def write_bed(
    df: DataFrame, path: str, compress: bool | None = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a BED_SCHEMA DataFrame as one BED file (.bed or BGZF
    .bed.bgz — default by extension), converting the engine's 1-based
    inclusive intervals back to BED's 0-based half-open on the rim
    (formats/bed.py). ``index_tbi=True`` (BGZF only) builds a ``.tbi``
    with the BED tabix preset (0-based flag, columns 1/2/3) from
    per-part stats accumulated in the executors — same no-post-merge-
    re-read shape as ``write_vcf``. ``sharded=True`` emits a directory
    of standalone shards (per-shard ``.tbi`` when requested) plus a
    manifest; no output byte funnels through the driver."""
    from hadoop_bam_spark.sources.tabix_text import BED

    _write_tabix_text(df, BED, path, compress, index_tbi, sharded)


def write_bedgraph(
    df: DataFrame, path: str, compress: bool | None = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a BEDGRAPH_SCHEMA DataFrame as bedGraph text (.bedgraph or
    BGZF .bedgraph.bgz — default by extension), converting the engine's
    1-based inclusive intervals back to 0-based half-open on the rim
    (formats/bedgraph.py). ``index_tbi`` and ``sharded`` as in
    ``write_bed``."""
    from hadoop_bam_spark.sources.tabix_text import BEDGRAPH

    _write_tabix_text(df, BEDGRAPH, path, compress, index_tbi, sharded)


def write_gff(
    df: DataFrame, path: str, compress: bool | None = None,
    index_tbi: bool = False, sharded: bool = False,
) -> None:
    """Write a GFF_SCHEMA DataFrame as GFF3 text (.gff3 or BGZF
    .gff3.bgz — default by extension; emits the ``##gff-version 3``
    directive). ``index_tbi=True`` builds a ``.tbi`` with the GFF
    preset (generic/1-based, columns 1/4/5); ``index_tbi`` and
    ``sharded`` otherwise as in ``write_bed``."""
    from hadoop_bam_spark.sources.tabix_text import GFF

    _write_tabix_text(df, GFF, path, compress, index_tbi, sharded)


def _write_tabix_text(df: DataFrame, spec, path: str, compress: bool | None,
                      index_tbi: bool, sharded: bool) -> None:
    """One writer for every tabix-text spec (sources/tabix_text.py). The
    tabix preset is derived from the spec: its columns are the coordinate
    columns + 1, plus the zero-based flag."""
    from hadoop_bam_spark.formats.tabix import FMT_GENERIC, FMT_ZERO_BASED

    if sharded and compress is None:
        compress = True  # directory path carries no extension signal
    if compress is None:
        compress = path.endswith((".gz", ".bgz"))
    if index_tbi and not compress:
        # fail fast, before any part is written
        raise ValueError("tabix index requires BGZF-compressed output")

    def line(r):
        return spec.format_row(tuple(r))

    if index_tbi:
        c, s, e = spec.coords

        def span(r):
            beg0 = int(r[s]) - 1
            # zero-length features (end == start-1, insertion points) bin
            # as length 1, the tabix convention
            return r[c], beg0, max(int(r[e]), beg0 + 1)

        preset = (FMT_ZERO_BASED if spec.zero_based else FMT_GENERIC,
                  c + 1, s + 1, e + 1)
        _write_tabix_text_indexed(
            df, spec.cols, path, sharded, line, spec.shard_ext + ".bgz",
            span, preset, header=spec.header, fmt=spec.name,
        )
        return
    _write_text_parts(df.select(*spec.cols), path, spec.header, compress,
                      spec.shard_ext + (".bgz" if compress else "")
                      if sharded else None,
                      chunk_fn=spec.format_chunk, line_fn=line)


def _write_tabix_text_indexed(
    df: DataFrame, cols, path: str, sharded: bool, line_fn, shard_ext: str,
    span_fn, preset: tuple, header: str = "", fmt: str = "",
) -> None:
    """Shared BGZF + ``.tbi`` text write (VCF and the tabix-text specs):
    executor part files accumulate PartIndexStats while writing; sharded
    mode commits standalone shards each with its own ``.tbi``, merged
    mode concatenates the part bytes and offset-shifts the merged stats
    — never a post-merge re-read. ``span_fn(row)`` gives one row's
    ``(contig, beg0, end0)``, 0-based half-open; ``preset`` is the
    index's ``(format, col_seq, col_beg, col_end)``."""
    from hadoop_bam_spark.formats.bai import PartIndexStats, merge_part_stats
    from hadoop_bam_spark.formats.tabix import TabixIndex, write_tabix

    def tbi_sidecar(dst: str, parts, header_len: int) -> None:
        """``.tbi`` of ``dst`` from its parts' ``(stats, size)``, shifted
        past the header; contigs in first-seen order."""
        names = list(dict.fromkeys(k for st, _ in parts for k in st.order))
        merged = merge_part_stats(parts, header_len, names)
        merged.pop("__n_no_coor__")
        write_tabix(TabixIndex(
            names, [merged[n] for n in names], *preset, ord("#"), 0, 0
        ), dst + ".tbi")

    def write_part(part_path: str, rows):
        stats = PartIndexStats()
        nrec = 0
        with fs.open_file(part_path, "wb") as f:
            w = bgzf.BGZFWriter(f, write_terminator=sharded)
            if sharded:
                w.write(header.encode())
            for r in rows:
                at = w.tell_voffset()
                w.write((line_fn(r) + "\n").encode())
                stats.add(*span_fn(r), True, at, w.tell_voffset())
                nrec += 1
            w.close()
        info = (stats, fs.file_size(part_path))
        if sharded:
            tbi_sidecar(part_path, [info], 0)
            return nrec
        return info

    def merge(tmp: str, parts) -> None:
        head = _bgzf(header.encode())
        _merge_parts(tmp, head, parts, bgzf.BGZF_EOF)
        tbi_sidecar(tmp, [info for _, info in parts], len(head))

    _publish(df.select(*cols), path, sharded, shard_ext, write_part, merge,
             arrow=False, fmt=fmt)


def write_fastq(df: DataFrame, path: str, sharded: bool = False) -> None:
    _write_text_parts(df.select(*FASTQ_COLS), path, "", False,
                      ".fastq" if sharded else None, chunk_fn=_fastq_chunk)


_P33_TO_P64 = bytes(
    max(64, min(126, q + 31)) if 33 <= q <= 95 else q for q in range(256)
)


def write_fasta(df: DataFrame, path: str, index_fai: bool = True) -> None:
    """Write a FASTA_SCHEMA DataFrame (contig, pos, seq) as one FASTA file.

    Hash-repartitioning on contig puts every line of a contig in exactly one
    part, so each executor emits self-contained ``>name`` sections and the
    driver merge is a plain concatenation (section order across parts is
    arbitrary — FASTA imposes none). ``index_fai=True`` adds a faidx sidecar
    so the fasta source plans one split per contig (requires the fixed line
    width faidx assumes; reference model ReferenceFragment.java:36-41)."""
    prepared = df.repartition("contig").sortWithinPartitions("contig", "pos")

    def write_part(part_path: str, rows) -> None:
        with fs.open_file(part_path, "wb") as f:
            cur = None
            for r in rows:
                if r.contig != cur:
                    f.write(f">{r.contig}\n".encode())
                    cur = r.contig
                f.write((r.seq + "\n").encode())

    def merge(tmp: str, parts) -> None:
        _merge_parts(tmp, b"", parts, b"")
        if index_fai:
            build_fai(tmp, tmp + ".fai")

    _publish(prepared.select("contig", "pos", "seq"), path, False, "",
             write_part, merge, arrow=False)


def scan_fai_entries(
    path: str, stringency: str = "strict"
) -> list[tuple[str, int, int, int, int]]:
    """One sequential pass over a FASTA -> faidx entries (name, length,
    offset, linebases, linewidth) — the samtools faidx scan.

    Handles CRLF line endings (bases exclude the ``\\r``, linewidth includes
    it — htslib parity) and a final line without a trailing newline.

    faidx's offset arithmetic is only valid when every sequence line of a
    contig except the LAST has identical width; htslib REFUSES to index
    such files ("different line length"), as it does for blank lines inside
    a sequence. ``stringency`` controls the same situations here: strict
    raises ValueError, lenient warns to stderr and keeps the first line's
    width (our line-sequential readers stay exact; only foreign
    faidx-arithmetic consumers of the persisted sidecar would misseek),
    silent continues quietly.
    """
    from hadoop_bam_spark.sources import apply_stringency

    rows: list[tuple[str, int, int, int, int]] = []
    with fs.open_file(path, "rb") as fh:
        name, length, offset, linebases, linewidth = None, 0, 0, 0, 0
        pos = 0
        irregular = False  # previous seq line of this contig was short/long
        blank_seen = False  # blank line inside this contig's sequence
        for raw in fh:
            if raw.startswith(b">"):
                if name is not None:
                    rows.append((name, length, offset, linebases, linewidth))
                name = raw[1:].split()[0].decode()
                length, linebases, linewidth = 0, 0, 0
                offset = pos + len(raw)
                irregular = blank_seen = False
            elif name is not None and raw.strip():
                if irregular:
                    apply_stringency(
                        stringency,
                        ValueError(
                            f"{path}: contig {name!r} has sequence lines of "
                            "different length before the last — faidx offset "
                            "arithmetic is invalid for this file (htslib "
                            "refuses to index it)"
                        ),
                        "fasta faidx scan",
                    )
                    irregular = False  # lenient/silent: report once per run
                if blank_seen:
                    apply_stringency(
                        stringency,
                        ValueError(
                            f"{path}: contig {name!r} has a blank line inside "
                            "its sequence (htslib refuses to index this)"
                        ),
                        "fasta faidx scan",
                    )
                    blank_seen = False
                bases = len(raw.strip())
                if linebases == 0:
                    linebases, linewidth = bases, len(raw)
                elif bases != linebases:
                    # legal ONLY as the contig's final line — flag and
                    # report if another sequence line follows
                    irregular = True
                length += bases
            elif name is not None and not raw.strip():
                blank_seen = True
            pos += len(raw)
        if name is not None:
            rows.append((name, length, offset, linebases, linewidth))
    return rows


def build_fai(path: str, fai_path: str) -> None:
    """samtools-faidx layout: name, length, offset, linebases, linewidth."""
    rows = scan_fai_entries(path)
    with fs.open_file(fai_path, "w") as out:
        for r in rows:
            out.write("\t".join(str(x) for x in r) + "\n")


def _qseq_chunk(batch) -> bytes:
    """FASTQ_SCHEMA RecordBatch -> QSEQ lines (vectorized write path)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    from hadoop_bam_spark.sources.qseq_source import translate_string_array

    col = {n: batch.column(i) for i, n in enumerate(batch.schema.names)}

    def num(c, default="0"):
        s = pc.fill_null(pc.cast(col[c], pa.string()), default)
        if default != "0":
            s = pc.if_else(pc.equal(s, "0"), pa.scalar(default), s)
        return s

    qual = translate_string_array(
        pc.fill_null(col["quality"], "").combine_chunks()
        if isinstance(col["quality"], pa.ChunkedArray)
        else pc.fill_null(col["quality"], ""),
        _P33_TO_P64,
    )
    idx = pc.fill_null(col["index_sequence"], "0")
    idx = pc.if_else(pc.equal(idx, ""), pa.scalar("0"), idx)
    line = pc.binary_join_element_wise(
        pc.fill_null(col["instrument"], ""),
        num("run_number"),
        num("lane"),
        num("tile"),
        num("xpos"),
        num("ypos"),
        idx,
        num("read", default="1"),
        pc.replace_substring(pc.fill_null(col["sequence"], ""), "N", "."),
        qual,
        pc.if_else(
            pc.fill_null(col["filter_passed"], False), pa.scalar("1"), pa.scalar("0")
        ),
        "\t",
    )
    n = len(line)
    if not n:
        return b""
    blob = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n], pa.int32()), line),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode("utf-8", "surrogateescape")


def write_qseq(df: DataFrame, path: str, sharded: bool = False) -> None:
    """Inverse of the qseq source: N->'.', Sanger->Illumina quality
    (reference QseqOutputFormat.java:98-157)."""
    _write_text_parts(df.select(*FASTQ_COLS), path, "", False,
                      ".qseq" if sharded else None, chunk_fn=_qseq_chunk)


def write_parquet_reads(
    df: DataFrame,
    path: str,
    partition_col: str = "rname",
    sort_cols: tuple[str, ...] = ("pos",),
    range_partitions: Optional[int] = None,
) -> None:
    """Materialize an alignment DataFrame as contig-partitioned, coordinate-
    sorted Parquet — the land-once/query-columnar pattern for repeated
    analysis at scale.

    The binary formats exist for interchange; repeated querying of 100 TB
    wants a columnar layout where Catalyst gets partition pruning (interval
    predicates on the contig hit only that contig's directory), row-group
    min/max skipping on ``pos`` (rows arrive sorted), and column pruning for
    free — the "converted Parquet" disposition SURVEY.md §1.5/§2.3 assigns
    to the reference's lazy-decode machinery.

    ``range_partitions`` controls output file count per contig via a range
    repartition on (partition, sort) keys — one shuffle, then sorted files.
    """
    n = range_partitions or df.sparkSession.sparkContext.defaultParallelism
    keys = [partition_col, *sort_cols]
    (
        df.repartitionByRange(n, *keys)
        .sortWithinPartitions(*keys)
        .write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(path)
    )
