"""Scalar whole-file BAM and CRAM writers for tests: row tuples in
SAM_SCHEMA order straight to a file object, through the engine's scalar
record and container encoders (``bam.encode_record``,
``cram.encode_container``). The engine's sinks write through the columnar
part writers in ``hadoop_bam_spark.sinks``; these build fixture files and
the scalar side of parity checks."""

from __future__ import annotations

from typing import BinaryIO, Optional

from hadoop_bam_spark.formats import bam, bgzf, cram
from hadoop_bam_spark.formats.sam import SAMHeader


def write_bam(
    f: BinaryIO,
    header: SAMHeader,
    rows,
    refs: Optional[list[tuple[str, int]]] = None,
    write_header: bool = True,
    write_terminator: bool = True,
    index_granularity: int = 0,
) -> list[int]:
    """Write rows (SAM_SCHEMA order) as BAM. Returns the virtual offsets of
    every ``index_granularity``-th record (a splitting index, reference
    SplittingBAMIndexer.java:232-274) when granularity > 0.

    write_header=False + write_terminator=False produces a concatenatable
    part file (reference KeyIgnoringBAMOutputFormat.java:48-93).
    """
    if refs is None:
        ordered = sorted(header.sequences.items(), key=lambda kv: kv[1][0])
        refs = [(name, ln) for name, (_, ln) in ordered]
    ref_index = {name: i for i, (name, _) in enumerate(refs)}
    w = bgzf.BGZFWriter(f, write_terminator=write_terminator)
    if write_header:
        w.write(bam.encode_header(header, refs))
    offsets: list[int] = []
    for i, row in enumerate(rows):
        if index_granularity and i % index_granularity == 0:
            offsets.append(w.tell_voffset())
        w.write(bam.encode_record(tuple(row), ref_index))
    w.close()
    return offsets


class CRAMWriter:
    """Stream SAM-schema tuples into CRAM 3.0 containers.

    ``bare=True`` omits the file definition / SAM-header container / EOF,
    leaving a concatenatable body of containers (reference
    CRAMRecordWriter.java:74-121 with writeHeader=false).

    Faithfulness bounds (documented, matching the htslib no_ref shape):
    '='/'X' cigar ops re-emerge as 'M'; a mapped record with a '*' cigar
    decodes as '<RL>M'; mapping quality of unmapped records decodes as 0
    (the spec gives unmapped records no MQ slot).
    """

    def __init__(self, fh: BinaryIO, refs: list[tuple[str, int]],
                 header_text: Optional[str] = None,
                 records_per_container: int = 10000,
                 bare: bool = False, record_counter: int = 0,
                 ref_fasta: Optional[cram.FastaRef] = None,
                 records_per_slice: int = 10000,
                 gzip_level: int = 6,
                 embed_reference: bool = False,
                 codecs: str = "gzip"):
        self._fh = fh
        self._refs = refs
        self._ref_index = {name: i for i, (name, _) in enumerate(refs)}
        self._ref_names = [name for name, _ in refs]
        self._ref_fasta = ref_fasta
        self._embed_reference = embed_reference
        self._per_container = records_per_container
        self._per_slice = records_per_slice
        self._gzip_level = gzip_level
        self._codecs = codecs
        self._counter = record_counter
        self._buf: list[tuple] = []
        self._closed = False
        if not bare:
            cram.write_file_definition(fh)
            fh.write(cram.encode_header_container(header_text or ""))

    def write(self, row: tuple) -> None:
        self._buf.append(row)
        if len(self._buf) >= self._per_container:
            self.flush()

    def flush(self) -> None:
        if self._buf:
            self._fh.write(cram.encode_container(
                self._buf, self._ref_index, self._counter,
                ref_fasta=self._ref_fasta, ref_names=self._ref_names,
                records_per_slice=self._per_slice,
                gzip_level=self._gzip_level,
                embed_reference=self._embed_reference,
                codecs=self._codecs,
            ))
            self._counter += len(self._buf)
            self._buf = []

    def close(self, write_eof: bool = True) -> None:
        if self._closed:
            return
        self.flush()
        if write_eof:
            self._fh.write(cram.EOF_CONTAINER_V3)
        self._closed = True
