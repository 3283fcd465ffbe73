"""Distributed sinks: executors write part files, the driver publishes them
— the reference's sharded-writer + merger contract
(KeyIgnoringBAMOutputFormat.java:48-93, util/SAMFileMerger.java:46-149,
util/VCFFileMerger.java:45-135, util/SAMOutputPreparer.java:61-128).

Each format has one part writer, as the reference has one record writer
per format (KeyIgnoringBAMOutputFormat.java:48-93,
CRAMRecordWriter.java:74-121): :class:`BAMPart`, :class:`CRAMPart`,
:class:`BCFPart` and :class:`TextPart`. ``part(path, batches)`` writes
one part file from a partition's Arrow batches, picking its columns by
name, and returns the part's record count and the index info its
``merge`` needs. A ``standalone`` part is a complete file with its own
header, terminator and sidecars; the others are headerless bodies for
the single-file merge. The batch ``write_*`` functions run parts through
``mapInArrow``. The stream sinks (:func:`stream_writer`) run the same
standalone part in :class:`hadoop_bam_spark.commit.ShardStreamWriter`, so
a stream shard is the ``write_*(sharded=True)`` shard of the same rows.

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
from dataclasses import dataclass
from functools import partial
from typing import Callable, Optional

from pyspark.sql import DataFrame

from hadoop_bam_spark import fs
from hadoop_bam_spark.commit import (
    STAGING,
    ShardCommit,
    ShardStreamWriter,
    commit_shards,
    publish_file,
    write_staged,
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
FASTQ_COLS = [
    "name", "sequence", "quality", "instrument", "run_number", "flowcell_id",
    "lane", "tile", "xpos", "ypos", "read", "filter_passed", "control_number",
    "index_sequence",
]


def _run_parts(df: DataFrame, staging: str, ext: str, part) -> list:
    """Executor side of every batch sink: the part writer runs once per
    partition on its attempt-staged path, over the partition's Arrow
    batches (``mapInArrow``: no Row materialization; the result comes back
    as one pickled binary cell). Returns ``[(path, records, info)]`` in
    partition order."""
    import pickle

    import pyarrow as pa

    fs.makedirs(staging)  # also the parents of ``path``, before any task

    def fn(batches):
        from pyspark import TaskContext

        res = (TaskContext.get().partitionId(),
               *write_staged(staging, ext, part, batches))
        yield pa.RecordBatch.from_arrays(
            [pa.array([pickle.dumps(res)], pa.binary())], ["res"]
        )

    out = [pickle.loads(bytes(r["res"]))
           for r in df.mapInArrow(fn, "res binary").collect()]
    return [res[1:] for res in sorted(out, key=lambda t: t[0])]


def _publish(df: DataFrame, path: str, sharded: bool, part) -> None:
    """Run ``part`` on every partition of ``df``'s ``part.cols`` and commit
    the result.

    Sharded: every part is a complete shard, listed in the manifest with
    its record count. Single file: ``part.merge(tmp, parts)`` writes the
    merged file and its sidecars at ``tmp`` from the ``_run_parts``
    results."""
    df = df.select(*part.cols)
    if not sharded:
        with publish_file(path) as (staging, tmp):
            part.merge(tmp, _run_parts(df, staging, "", part))
        return
    staging = fs.join(path, STAGING)
    try:
        parts = _run_parts(df, staging, part.ext, part)
        commit_shards(
            path, [ShardCommit(posixpath.basename(p), n) for p, n, _ in parts],
            None, part.ext, fmt=part.fmt,
        )
    finally:
        fs.remove_tree(staging)


def _merge_parts(dst: str, head: bytes, parts, tail: bytes) -> None:
    """Write ``dst`` as ``head``, the part files' bytes in order, then
    ``tail``."""
    with fs.open_file(dst, "wb") as out:
        out.write(head)
        for part, *_ in parts:
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


def _select(batch, cols):
    """``batch``'s columns ``cols``, by name and in that order (a stream
    DataFrame's column order is the user's)."""
    import pyarrow as pa

    return pa.RecordBatch.from_arrays(
        [batch.column(c) for c in cols], names=list(cols)
    )


def _py_converter(t) -> Optional[Callable]:
    """Converter of one ``to_pylist`` value of Arrow type ``t`` into the
    scalar writers' shape (maps as dicts, structs as tuples); None when the
    value is already in that shape."""
    import pyarrow as pa

    if pa.types.is_map(t):
        return lambda v: None if v is None else dict(v)
    if pa.types.is_struct(t):
        subs = [(f.name, _py_converter(f.type)) for f in t]
        return lambda v: None if v is None else tuple(
            v[n] if c is None else c(v[n]) for n, c in subs
        )
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        c = _py_converter(t.value_type)
        if c is not None:
            return lambda v: None if v is None else [c(x) for x in v]
    return None


def _batch_rows(batch):
    """Arrow batch (or table) -> row tuples in the shape the scalar
    formatters and encoders take: maps as dicts, structs as tuples, nulls
    as None."""
    cols = []
    for col, field in zip(batch.columns, batch.schema):
        vals = col.to_pylist()
        conv = _py_converter(field.type)
        cols.append(vals if conv is None else [conv(v) for v in vals])
    return zip(*cols)


def _with_tag_lists(batch):
    """A SAM batch (or table) with its ``tags`` map as the ``tag_keys`` and
    ``tag_vals`` list columns the vectorized encoders take. Both lists
    share the map's validity and offsets buffers over its key and item
    children: no copy, a null map stays null, and a sliced batch keeps
    its absolute offsets (the children are the unsliced ones)."""
    import pyarrow as pa

    if isinstance(batch, pa.Table):
        return pa.Table.from_batches(
            [_with_tag_lists(b) for b in batch.to_batches()]
        )
    tags = batch.column("tags")

    def lists(child):
        return pa.Array.from_buffers(
            pa.list_(child.type), len(tags), tags.buffers()[:2],
            null_count=tags.null_count, offset=tags.offset, children=[child],
        )

    return pa.RecordBatch.from_arrays(
        [batch.column(c) for c in SAM_COLS[:-1]]
        + [lists(tags.keys), lists(tags.items)],
        names=SAM_COLS[:-1] + ["tag_keys", "tag_vals"],
    )


def _header_refs(header: SAMHeader) -> list[tuple[str, int]]:
    """The reference dictionary of ``header``, in ``@SQ`` order."""
    ordered = sorted(header.sequences.items(), key=lambda kv: kv[1][0])
    return [(name, ln) for name, (_, ln) in ordered]


@dataclass
class BAMPart:
    """One BAM part: bam_venc blobs through BGZF, plus the ``.sbi`` (and
    ``.splitting-bai``, ``.bai``) info.

    Record voffsets (one every ``granularity`` records, BAI chunk spans)
    are recovered AFTER each bulk write from the writer's block table
    (BGZFWriter.voffsets_of_u), and the BAI stats accumulate once per
    batch (bai.IndexBuilder.add_batch): no per-record Python on the hot
    path. The info is ``(size, offsets, stats)``."""

    header: SAMHeader
    refs: Optional[list]
    standalone: bool
    granularity: int = DEFAULT_GRANULARITY
    index_bai: bool = False
    index_splitting_bai: bool = False

    ext, fmt, cols = ".bam", "bam", SAM_COLS

    def __post_init__(self):
        if self.refs is None:
            self.refs = _header_refs(self.header)

    def __call__(self, path: str, batches):
        import numpy as np

        from hadoop_bam_spark.formats.bam_venc import BAMBatchEncoder

        stats = None
        if self.index_bai:
            from hadoop_bam_spark.formats.bai import IndexBuilder

            stats = IndexBuilder()
        enc = BAMBatchEncoder(self.refs)
        g = self.granularity
        offsets: list[int] = []
        nrec = 0
        with fs.open_file(path, "wb") as f:
            w = bgzf.BGZFWriter(f, write_terminator=self.standalone)
            if self.standalone:
                # header first, through the same writer, so every recorded
                # voffset is already file-absolute
                w.write(bam.encode_header(self.header, self.refs))
            for batch in batches:
                blob, rec_lens, (rid, pos0, end0, mapped) = enc.encode_batch(
                    _with_tag_lists(batch)
                )
                if not len(rec_lens):
                    continue
                u0 = w.u_total
                w.write(blob)
                u_starts = u0 + np.concatenate(
                    [[0], np.cumsum(rec_lens[:-1])]
                )
                if g:
                    offsets.extend(
                        w.voffsets_of_u(u_starts[(-nrec) % g::g]).tolist()
                    )
                if stats is not None:
                    stats.add_batch(
                        rid, pos0, end0, mapped, w.voffsets_of_u(u_starts),
                        w.voffsets_of_u(u_starts + rec_lens),
                    )
                nrec += len(rec_lens)
            w.close()
        info = (fs.file_size(path), offsets, stats)
        if self.standalone:
            self._sidecars(path, [info], 0)
        return nrec, info

    def merge(self, tmp: str, parts) -> None:
        head = _bgzf(bam.encode_header(self.header, self.refs))
        _merge_parts(tmp, head, parts, bgzf.BGZF_EOF)
        self._sidecars(tmp, [info for *_, info in parts], len(head))

    def _sidecars(self, dst: str, infos, header_len: int) -> None:
        """``.sbi`` (+ ``.splitting-bai``, ``.bai``) of ``dst`` from the
        ``(size, offsets, stats)`` of its parts, shifted past the header."""
        sbi = SplittingIndex.merge(
            [(offs, size) for size, offs, _ in infos], header_len,
            self.granularity,
        )
        with fs.open_file(dst + ".sbi", "wb") as f:
            sbi.write(f)
        if self.index_splitting_bai:
            with fs.open_file(dst + ".splitting-bai", "wb") as f:
                sbi.write_reference_layout(f)
        if self.index_bai:
            from hadoop_bam_spark.formats.bai import BAIIndex, IndexBuilder

            bai = BAIIndex(*IndexBuilder.merge(
                [(stats, size) for size, _, stats in infos], header_len,
                range(len(self.refs)),
            ))
            with fs.open_file(dst + ".bai", "wb") as f:
                bai.write(f)


@dataclass
class CRAMPart:
    """One CRAM part: batches gather into containers of
    ``records_per_container`` records in slices of ``records_per_slice``,
    each encoded by the vectorized cram_venc column encoder (RR=true
    against ``reference`` when set, RR=false verbatim otherwise). A
    container whose shape falls outside the fast path (VecUnsupported)
    degrades to the scalar ``cram.encode_container`` for that container
    only; byte parity between the two is property-tested
    (tests/test_cram_venc.py), so the fallback changes speed, never bytes.
    The ``.crai`` comes from a header-only container walk of the written
    file; there is no merge info."""

    header: SAMHeader
    refs: Optional[list]
    standalone: bool
    records_per_container: int = 30000
    reference: Optional[str] = None
    index_crai: bool = False
    records_per_slice: int = 10000
    embed_reference: bool = False
    codecs: str = "gzip"

    ext, fmt, cols = ".cram", "cram", SAM_COLS

    def __post_init__(self):
        if self.refs is None:
            self.refs = _header_refs(self.header)

    def __call__(self, path: str, batches):
        import pyarrow as pa

        from hadoop_bam_spark.formats import cram
        from hadoop_bam_spark.formats.cram_venc import (
            CRAMColumnEncoder,
            VecUnsupported,
        )

        ref_index = {name: i for i, (name, _) in enumerate(self.refs)}
        ref_names = [name for name, _ in self.refs]
        ref_fasta = (
            cram.FastaRef(self.reference, open_fn=fs.open_file)
            if self.reference
            else None
        )
        enc = CRAMColumnEncoder(
            ref_index, ref_fasta=ref_fasta, ref_names=ref_names,
            embed_reference=self.embed_reference, codecs=self.codecs,
        )
        rpc, rps = self.records_per_container, self.records_per_slice
        counter = 0
        with fs.open_file(path, "wb") as f:
            if self.standalone:
                f.write(self._head())

            def flush(tbl):
                nonlocal counter
                try:
                    f.write(enc.encode_container(
                        _with_tag_lists(tbl), counter, records_per_slice=rps
                    ))
                except VecUnsupported:
                    f.write(cram.encode_container(
                        list(_batch_rows(tbl)), ref_index, counter,
                        ref_fasta=ref_fasta, ref_names=ref_names,
                        records_per_slice=rps,
                        embed_reference=self.embed_reference,
                        codecs=self.codecs,
                    ))
                counter += tbl.num_rows

            pend: list = []
            pend_rows = 0
            for batch in batches:
                pend.append(_select(batch, SAM_COLS))
                pend_rows += batch.num_rows
                while pend_rows >= rpc:
                    tbl = pa.Table.from_batches(pend)
                    flush(tbl.slice(0, rpc))
                    rest = tbl.slice(rpc)
                    pend = rest.to_batches() if rest.num_rows else []
                    pend_rows = rest.num_rows
            if pend_rows:
                flush(pa.Table.from_batches(pend))
            if self.standalone:
                f.write(cram.EOF_CONTAINER_V3)
        if self.standalone and self.index_crai:
            self._crai(path)
        return counter, None

    def _head(self) -> bytes:
        """File definition + SAM header container."""
        from hadoop_bam_spark.formats import cram

        head = io.BytesIO()
        cram.write_file_definition(head)
        head.write(cram.encode_header_container(self.header.text))
        return head.getvalue()

    def merge(self, tmp: str, parts) -> None:
        from hadoop_bam_spark.formats import cram

        _merge_parts(tmp, self._head(), parts, cram.EOF_CONTAINER_V3)
        if self.index_crai:
            self._crai(tmp)

    @staticmethod
    def _crai(dst: str) -> None:
        from hadoop_bam_spark.formats import crai

        crai.write_crai(
            crai.build_crai(dst, open_fn=fs.open_file), dst + ".crai",
            open_fn=fs.open_file,
        )


@dataclass
class BCFPart:
    """One BGZF BCF2 part: bcf_venc blobs through BGZF; a batch outside the
    vectorized fast path (VecUnsupported) degrades to the scalar per-record
    encoder for that batch only. With ``index_csi`` the CSI stats
    accumulate inline from the encoder's (rid, beg0, end0) arrays and the
    writer's analytic voffsets, with no re-decode of the output. The info
    is ``(stats, record-stream bytes)``."""

    header: VCFHeader
    standalone: bool
    index_csi: bool = False

    ext, fmt, cols = ".bcf", "bcf", VCF_COLS

    def __post_init__(self):
        from hadoop_bam_spark.formats import bcf

        self.bhdr = bcf.parse_bcf_header_text(self.header.text)

    def __call__(self, path: str, batches):
        import numpy as np

        from hadoop_bam_spark.formats import bcf
        from hadoop_bam_spark.formats.bcf_venc import (
            BCFBatchEncoder,
            VecUnsupported,
        )

        bhdr = self.bhdr
        enc = BCFBatchEncoder(bhdr)
        stats = None
        if self.index_csi:
            from hadoop_bam_spark.formats.bai import IndexBuilder

            stats = IndexBuilder()
        nrec = 0
        hdr_len = 0
        with fs.open_file(path, "wb") as f:
            if self.standalone:
                # the merged file's exact layout: the header closes its own
                # BGZF stream so records begin on a block boundary (the
                # reader and the part-stats CSI rebase both assume it)
                f.write(_bgzf(bcf.encode_header(bhdr)))
                hdr_len = f.tell()
            w = bgzf.BGZFWriter(f, write_terminator=False)
            for batch in batches:
                batch = _select(batch, VCF_COLS)
                try:
                    blob, rec_lens, spans = enc.encode_batch(batch)
                except VecUnsupported:
                    rows = list(_batch_rows(batch))
                    recs = [bcf.encode_record(row, bhdr) for row in rows]
                    blob = b"".join(recs)
                    rec_lens = np.array([len(r) for r in recs], np.int64)
                    spans = None if stats is None else list(zip(*(
                        (bhdr.contig_index[r[0]], r[1] - 1, r[2]) for r in rows)))
                u0 = w.u_total
                w.write(blob)
                nrec += len(rec_lens)
                if stats is not None and len(rec_lens):
                    u = u0 + np.concatenate([[0], np.cumsum(rec_lens)])
                    stats.add_batch(*spans, [True] * len(rec_lens),
                                    w.voffsets_of_u(u[:-1]),
                                    w.voffsets_of_u(u[1:]))
            pend = w.voffset_of_u(w.u_total) if stats is not None else None
            w.close()
            if self.standalone:
                f.write(bgzf.BGZF_EOF)
        size = fs.file_size(path)
        if self.standalone:
            size -= hdr_len + len(bgzf.BGZF_EOF)  # record-stream length only
        if stats is not None:
            stats.remap_part_end(pend, size << 16)
        if self.standalone and self.index_csi:
            self._csi(path, [(stats, size)], hdr_len)
        return nrec, (stats, size)

    def merge(self, tmp: str, parts) -> None:
        from hadoop_bam_spark.formats import bcf

        head = _bgzf(bcf.encode_header(self.bhdr))
        _merge_parts(tmp, head, parts, bgzf.BGZF_EOF)
        if self.index_csi:
            self._csi(tmp, [info for *_, info in parts], len(head))

    def _csi(self, dst: str, infos, header_len: int) -> None:
        """``.csi`` of ``dst`` from its parts' ``(stats, record-stream
        bytes)``, shifted past the header."""
        from hadoop_bam_spark.formats import csi

        idx = csi.csi_from_builders(infos, header_len, len(self.bhdr.contigs))
        csi.write_csi(idx, dst + ".csi", open_fn=fs.open_file)


@dataclass
class TextPart:
    """One text part, plain or BGZF (``compress``), opening with
    ``header`` when standalone.

    ``chunk(batch)`` formats a whole Arrow batch to newline-terminated
    bytes; where it is None or returns None, ``line(row)`` formats the
    batch's rows one by one. ``tbi = (span, preset)`` (BGZF only) writes
    line by line and accumulates tabix stats: ``span(row)`` is the row's
    ``(contig, beg0, end0)``, 0-based half-open, and ``preset`` the
    index's ``(format, col_seq, col_beg, col_end)``. The info is then
    ``(stats, size)``, else None."""

    header: str
    compress: bool
    standalone: bool
    ext: str
    fmt: str
    cols: list
    line: Optional[Callable] = None
    chunk: Optional[Callable] = None
    tbi: Optional[tuple] = None

    def __call__(self, path: str, batches):
        import numpy as np

        stats = None
        if self.tbi:
            from hadoop_bam_spark.formats.bai import IndexBuilder

            stats, span, names = IndexBuilder(), self.tbi[0], {}
        n = 0
        with fs.open_file(path, "wb") as f:
            w = (bgzf.BGZFWriter(f, write_terminator=self.standalone)
                 if self.compress else f)
            if self.standalone:
                w.write(self.header.encode())
            for batch in batches:
                batch = _select(batch, self.cols)
                n += batch.num_rows
                if stats is None:
                    w.write(self._chunk(batch))
                    continue
                rows = list(_batch_rows(batch))
                if not rows:
                    continue
                lines = [(self.line(r) + "\n").encode() for r in rows]
                u = w.u_total + np.cumsum([0] + [len(ln) for ln in lines])
                w.write(b"".join(lines))
                contig, beg0, end0 = zip(*map(span, rows))
                stats.add_batch(
                    [names.setdefault(c, len(names)) for c in contig], beg0,
                    end0, [True] * len(rows), w.voffsets_of_u(u[:-1]),
                    w.voffsets_of_u(u[1:]))
            if self.compress:
                w.close()
        if stats is None:
            return n, None
        # key the part's references by contig name, for the merge
        ids = list(names)
        stats.refs = {ids[k]: r for k, r in stats.refs.items()}
        info = (stats, fs.file_size(path))
        if self.standalone:
            self._tbi(path, [info], 0)
        return n, info

    def _chunk(self, batch) -> bytes:
        out = self.chunk(batch) if self.chunk else None
        if out is None:
            out = "".join(
                self.line(r) + "\n" for r in _batch_rows(batch)
            ).encode()
        return out

    def merge(self, tmp: str, parts) -> None:
        head = self.header.encode()
        if self.compress:
            head = _bgzf(head)
        _merge_parts(tmp, head, parts,
                     bgzf.BGZF_EOF if self.compress else b"")
        if self.tbi:
            self._tbi(tmp, [info for *_, info in parts], len(head))

    def _tbi(self, dst: str, infos, header_len: int) -> None:
        """``.tbi`` of ``dst`` from its parts' ``(stats, size)``, shifted
        past the header; contigs in first-seen order."""
        from hadoop_bam_spark.formats.bai import IndexBuilder
        from hadoop_bam_spark.formats.tabix import TabixIndex, write_tabix

        names = list(dict.fromkeys(k for st, _ in infos for k in st.refs))
        refs, n_no_coor = IndexBuilder.merge(infos, header_len, names)
        write_tabix(TabixIndex(
            names, refs, *self.tbi[1], ord("#"), 0, n_no_coor
        ), dst + ".tbi")


def _vcf_span(r) -> tuple:
    beg0 = int(r[1]) - 1
    return r[0], beg0, beg0 + max(len(r[4] or "N"), 1)  # pos + len(ref)


def _vcf_part(header: VCFHeader, compress: bool, standalone: bool,
              index_tbi: bool = False) -> TextPart:
    from hadoop_bam_spark.formats import vcf_vec
    from hadoop_bam_spark.formats.tabix import FMT_VCF

    return TextPart(
        header.text, compress, standalone,
        ".vcf.bgz" if compress else ".vcf", "vcf", VCF_COLS,
        line=partial(format_vcf_line, samples=header.samples),
        chunk=partial(vcf_vec.format_vcf_chunk, samples=header.samples),
        tbi=(_vcf_span, (FMT_VCF, 1, 2, 0)) if index_tbi else None,
    )


def _spec_span(coords, r) -> tuple:
    c, s, e = coords
    beg0 = int(r[s]) - 1
    # zero-length features (end == start-1, insertion points) bin as
    # length 1, the tabix convention
    return r[c], beg0, max(int(r[e]), beg0 + 1)


def _spec_part(spec, compress: bool, standalone: bool,
               index_tbi: bool = False) -> TextPart:
    """The part writer of a tabix-text spec (sources/tabix_text.py). The
    tabix preset is the coordinate columns + 1, plus the zero-based
    flag."""
    from hadoop_bam_spark.formats.tabix import FMT_GENERIC, FMT_ZERO_BASED

    c, s, e = spec.coords
    preset = (FMT_ZERO_BASED if spec.zero_based else FMT_GENERIC,
              c + 1, s + 1, e + 1)
    return TextPart(
        spec.header, compress, standalone,
        spec.shard_ext + (".bgz" if compress else ""), spec.name, spec.cols,
        line=spec.format_row, chunk=spec.format_chunk,
        tbi=(partial(_spec_span, spec.coords), preset) if index_tbi else None,
    )


def _bgzf_output(path: str, compress: Optional[bool], index_tbi: bool,
                 sharded: bool) -> bool:
    """Whether a text write is BGZF: ``compress``, else by extension (a
    shard directory carries no extension signal: BGZF)."""
    if compress is None:
        compress = sharded or path.endswith((".gz", ".bgz"))
    if index_tbi and not compress:
        # fail fast, before any part is written
        raise ValueError("tabix index requires BGZF-compressed output")
    return compress


def load_sam_header(path: str):
    """SAMHeader + refs from a SAM text file or a BAM file."""
    from hadoop_bam_spark.formats.sam import parse_header

    with fs.open_file(path, "rb") as f:
        magic = f.read(2)
    if magic == b"\x1f\x8b":  # BGZF/BAM
        with fs.open_file(path, "rb") as f:
            header, refs, _ = bam.read_header(bgzf.BGZFReader(f))
        return header, refs
    with fs.open_file(path, "rb") as f:
        hdr = parse_header(
            ln for ln in f.read().decode().splitlines() if ln.startswith("@")
        )
    return hdr, _header_refs(hdr)


def stream_writer(fmt: str, options) -> ShardStreamWriter:
    """The ``writeStream.format(fmt)`` sink: every non-empty partition of a
    micro-batch lands as the shard ``write_<fmt>(sharded=True)`` writes
    for the same rows with default settings.

    Options:

    - ``path``: the target directory (every format).
    - ``header``: a SAM text or BAM file for ``bam`` and ``cram``, a VCF
      file for ``vcf`` and ``bcf`` (required there). The text formats
      write their spec's header.
    - ``cram`` only, as in ``write_cram``: ``reference``,
      ``embed_reference``, ``records_per_container``,
      ``records_per_slice`` and ``codecs``."""
    from hadoop_bam_spark.sources import local_path

    path = options.get("path")
    if not path:
        raise ValueError(f"{fmt} stream sink requires a path (directory)")
    header = options.get("header")
    if fmt in ("bam", "cram", "vcf", "bcf"):
        if not header:
            kind = "sam-or-bam" if fmt in ("bam", "cram") else "vcf"
            raise ValueError(
                f"{fmt} stream sink requires option('header', <{kind} "
                "path>): every shard is a standalone file and carries the "
                "header"
            )
        header = local_path(header)
    if fmt == "bam":
        part = BAMPart(*load_sam_header(header), True)
    elif fmt == "cram":
        reference = options.get("reference")
        part = CRAMPart(
            *load_sam_header(header), True,
            records_per_container=int(
                options.get("records_per_container", 30000)),
            reference=local_path(reference) if reference else None,
            records_per_slice=int(options.get("records_per_slice", 10000)),
            embed_reference=str(
                options.get("embed_reference", "false")).lower() == "true",
            codecs=options.get("codecs", "gzip"),
        )
    elif fmt in ("vcf", "bcf"):
        from hadoop_bam_spark.formats.vcf import read_vcf_header

        vh = read_vcf_header(header)
        part = _vcf_part(vh, True, True) if fmt == "vcf" else BCFPart(vh, True)
    else:
        from hadoop_bam_spark.sources.tabix_text import BED, BEDGRAPH, GFF

        spec = {s.name: s for s in (BED, BEDGRAPH, GFF)}[fmt]
        part = _spec_part(spec, True, True)
    return ShardStreamWriter(local_path(path), part.ext, part)


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
    _publish(df, path, sharded, BAMPart(
        header, refs, sharded, index_granularity, index_bai,
        index_splitting_bai,
    ))


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
    _publish(df, path, sharded, CRAMPart(
        header, refs, sharded, records_per_container, reference, index_crai,
        records_per_slice, embed_reference, codecs,
    ))


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


def write_sam(df: DataFrame, path: str, header: SAMHeader,
              sharded: bool = False) -> None:
    from hadoop_bam_spark.formats import sam_vec

    _publish(df, path, sharded, TextPart(
        header.text, False, sharded, ".sam", "sam", SAM_COLS,
        chunk=sam_vec.format_sam_chunk,
    ))


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
    compress = _bgzf_output(path, compress, index_tbi, sharded)
    header = _ensure_vcf_samples(df, header)
    _publish(df, path, sharded, _vcf_part(header, compress, sharded, index_tbi))


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
    header = _ensure_vcf_samples(df, header)
    _publish(df, path, sharded, BCFPart(header, sharded, index_csi))


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
    """One writer for every tabix-text spec (sources/tabix_text.py)."""
    compress = _bgzf_output(path, compress, index_tbi, sharded)
    _publish(df, path, sharded, _spec_part(spec, compress, sharded, index_tbi))


def write_fastq(df: DataFrame, path: str, sharded: bool = False) -> None:
    _publish(df, path, sharded, TextPart(
        "", False, sharded, ".fastq", "fastq", FASTQ_COLS, chunk=_fastq_chunk,
    ))


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
    _publish(prepared, path, False, _FastaPart(index_fai))


@dataclass
class _FastaPart:
    """``>name`` sections of one contig-partitioned FASTA part."""

    index_fai: bool

    ext, fmt, cols = "", "fasta", ["contig", "pos", "seq"]

    def __call__(self, path: str, batches):
        n = 0
        cur = None
        with fs.open_file(path, "wb") as f:
            for batch in batches:
                for contig, _, seq in _batch_rows(_select(batch, self.cols)):
                    if contig != cur:
                        f.write(f">{contig}\n".encode())
                        cur = contig
                    f.write((seq + "\n").encode())
                    n += 1
        return n, None

    def merge(self, tmp: str, parts) -> None:
        _merge_parts(tmp, b"", parts, b"")
        if self.index_fai:
            build_fai(tmp, tmp + ".fai")


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
    _publish(df, path, sharded, TextPart(
        "", False, sharded, ".qseq", "qseq", FASTQ_COLS, chunk=_qseq_chunk,
    ))


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
