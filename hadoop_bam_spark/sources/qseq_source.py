"""``spark.read.format("qseq")`` — QSEQ (11 tab-separated columns) scan.

Reproduces reference QseqRecordReader semantics (QseqInputFormat.java:
344-426): '.' no-call bases normalized to 'N'; qualities re-encoded from
Illumina Phred+64 to Sanger Phred+33 unless option("base_quality_encoding",
"sanger"); newline-boundary split realignment is the standard text rule.
Output schema = the FASTQ/SequencedFragment schema so both sources feed the
same pipelines.
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader

from hadoop_bam_spark.sources import EmptyPartition, decode_chunks
from hadoop_bam_spark.sources.fastq_source import (
    FASTQ_SCHEMA,
    qc_mask,
    qc_wanted,
)
from hadoop_bam_spark.sources.sam_source import (
    TextRangePartition,
    iter_line_chunks,
    plan_text_splits,
)

_P64_TO_P33 = bytes(
    max(33, min(126, q - 31)) if 33 <= q <= 126 else q for q in range(256)
)


def parse_qseq_line(line: str, recode_quality: bool) -> tuple:
    f = line.split("\t")
    if len(f) != 11:
        raise ValueError(f"QSEQ line has {len(f)} fields, expected 11")
    (instr, run, lane, tile, x, y, index, read, seq, qual, filt) = f
    seq = seq.replace(".", "N")  # QseqInputFormat.java:403-409
    if recode_quality:
        qual = qual.encode("latin-1").translate(_P64_TO_P33).decode("latin-1")
    name = f"{instr}:{run}:{lane}:{tile}:{x}:{y}"
    return (
        name, seq, qual, instr, int(run), None, int(lane), int(tile),
        int(x), int(y), int(read), filt == "1", None,
        index if index not in ("", "0") else None,
    )


def translate_string_array(col, table: bytes):
    """Apply a 256-byte translate table to a string column's UTF-8 data
    buffer in one numpy LUT pass (used for the Phred+64 <-> +33 recodes).
    Bytes >= 0x80 must map to themselves in ``table`` so multi-byte UTF-8
    sequences pass through untouched (both quality tables only rewrite
    ASCII 33..126, same as the scalar latin-1 translate)."""
    import numpy as np
    import pyarrow as pa

    if col.offset != 0:
        col = col.take(pa.array(range(len(col)), pa.int64()))  # rebase
    validity, offsets, data = col.buffers()
    raw = np.frombuffer(data, dtype=np.uint8, count=data.size)
    out = np.frombuffer(table, dtype=np.uint8)[raw]
    return pa.StringArray.from_buffers(
        len(col), offsets, pa.py_buffer(out.tobytes()), validity, col.null_count
    )


def _translate_quality(col):
    return translate_string_array(col, _P64_TO_P33)


def parse_qseq_chunk(lines: list, recode_quality: bool, wanted=None):
    """QSEQ lines -> {column: pyarrow.Array}; None -> scalar fallback.

    Columnar twin of parse_qseq_line (QseqInputFormat.java:344-426
    semantics): '.'->'N' no-call normalization, quality recode, read-name
    synthesis — each one kernel over the chunk."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = pa.array(list(lines), pa.string())
    split = pc.split_pattern(arr, "\t")
    values = split.values
    off = split.offsets.to_numpy().astype(np.int64)
    if (np.diff(off) != 11).any():
        return None

    def slot(i):
        return values.take(pa.array(off[:-1] + i, pa.int64()))

    def want(nm):
        return wanted is None or nm in wanted

    out = {}
    try:
        instr, run, lane, tile, x, y = (slot(i) for i in range(6))
        if want("name"):
            out["name"] = pc.binary_join_element_wise(
                instr, run, lane, tile, x, y, ":"
            )
        if want("sequence"):
            out["sequence"] = pc.replace_substring(slot(8), ".", "N")
        if want("quality"):
            q = slot(9)
            out["quality"] = _translate_quality(q) if recode_quality else q
        if want("instrument"):
            out["instrument"] = instr
        for nm, col in (("run_number", run), ("lane", lane), ("tile", tile),
                        ("xpos", x), ("ypos", y)):
            if want(nm):
                out[nm] = pc.cast(col, pa.int32())
        if want("read"):
            out["read"] = pc.cast(slot(7), pa.int32())
        if want("filter_passed"):
            out["filter_passed"] = pc.equal(slot(10), "1")
        if want("flowcell_id"):
            out["flowcell_id"] = pa.nulls(len(lines), pa.string())
        if want("control_number"):
            out["control_number"] = pa.nulls(len(lines), pa.int32())
        if want("index_sequence"):
            idx = slot(6)
            out["index_sequence"] = pc.if_else(
                pc.is_in(idx, value_set=pa.array(["", "0"])),
                pa.scalar(None, pa.string()),
                idx,
            )
    except (pa.ArrowInvalid, ValueError):
        return None
    return out


class QseqDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "qseq"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(FASTQ_SCHEMA, self.options)[0]

    def reader(self, schema) -> "QseqReader":
        return QseqReader(self.options)


class QseqReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("qseq source requires a path")
        self._path = path
        self._options = options
        # input quality encoding: illumina (default, recode) or sanger
        self._recode = options.get("base_quality_encoding", "illumina") == "illumina"
        self._filter_failed = options.get("filter_failed_qc", "false").lower() == "true"
        from hadoop_bam_spark.sources import pruned_schema, stringency_option

        self._stringency = stringency_option(options)
        self._schema, keep = pruned_schema(FASTQ_SCHEMA, options)
        self._wanted = qc_wanted(keep, self._filter_failed)

    def partitions(self):
        return plan_text_splits(
            self._path, self._options, (".qseq", ".txt")
        ) or [EmptyPartition()]

    def read(self, partition: TextRangePartition):
        if isinstance(partition, EmptyPartition):
            return iter(())
        return decode_chunks(
            ([l for l in chunk if l] for chunk in iter_line_chunks(partition)),
            FASTQ_SCHEMA, self._schema,
            lambda lines: parse_qseq_chunk(lines, self._recode, self._wanted),
            lambda line: parse_qseq_line(line, self._recode),
            self._stringency, "qseq",
            qc_mask if self._filter_failed else None,
        )
