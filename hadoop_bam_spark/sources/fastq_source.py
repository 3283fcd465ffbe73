"""``spark.read.format("fastq")`` — splittable FASTQ scan.

Split realignment reproduces the reference heuristic
(FastqInputFormat.java:156-198): at an arbitrary byte offset, the record
start is the first line L starting with '@' whose L+2 line starts with '+'
(this disambiguates '@' appearing as a quality character). Illumina
read-id metadata is parsed per the Casava 1.8 pattern
(FastqInputFormat.java:93,349-381); trailing '/N' sets the read number.

Schema mirrors SequencedFragment's 2 required + 11 metadata fields
(reference SequencedFragment.java:35-63).

Malformed records: ``option("stringency", "strict"|"lenient"|"silent")``
(default strict); non-strict modes drop one line and re-prove the record
boundary, so one bad record costs at most itself.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Iterator

from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from hadoop_bam_spark import fs
from hadoop_bam_spark.sources import EmptyPartition, decode_chunks
from hadoop_bam_spark.sources.sam_source import plan_text_splits

FASTQ_SCHEMA = T.StructType(
    [
        T.StructField("name", T.StringType(), False),
        T.StructField("sequence", T.StringType(), False),
        T.StructField("quality", T.StringType(), False),
        T.StructField("instrument", T.StringType(), True),
        T.StructField("run_number", T.IntegerType(), True),
        T.StructField("flowcell_id", T.StringType(), True),
        T.StructField("lane", T.IntegerType(), True),
        T.StructField("tile", T.IntegerType(), True),
        T.StructField("xpos", T.IntegerType(), True),
        T.StructField("ypos", T.IntegerType(), True),
        T.StructField("read", T.IntegerType(), True),
        T.StructField("filter_passed", T.BooleanType(), True),
        T.StructField("control_number", T.IntegerType(), True),
        T.StructField("index_sequence", T.StringType(), True),
    ]
)

# Casava 1.8: @instrument:run:flowcell:lane:tile:x:y read:filtered:control:index
_CASAVA_RE = re.compile(
    r"^([^:]+):(\d+):([^:]+):(\d+):(\d+):(\d+):(\d+)\s+([1-9]):([YN]):(\d+):(\w*)\s*$"
)
# Older style: trailing /N read number (FastqInputFormat.java:349-360)
_SLASH_RE = re.compile(r"/([0-9])\s*$")


def parse_read_name(name: str) -> tuple:
    """-> (instrument, run, flowcell, lane, tile, x, y, read, filtered,
    control, index) with None for unavailable fields."""
    m = _CASAVA_RE.match(name)
    if m:
        return (
            m.group(1), int(m.group(2)), m.group(3), int(m.group(4)),
            int(m.group(5)), int(m.group(6)), int(m.group(7)),
            int(m.group(8)), m.group(9) == "N", int(m.group(10)),
            m.group(11) or None,
        )
    sm = _SLASH_RE.search(name)
    read = int(sm.group(1)) if sm else None
    return (None, None, None, None, None, None, None, read, None, None, None)


def fastq_record(name_line: str, seq: str, qual: str) -> tuple:
    name = name_line[1:].strip()
    (instr, run, fc, lane, tile, x, y, read, filt, ctrl, idx) = parse_read_name(name)
    return (name, seq, qual, instr, run, fc, lane, tile, x, y, read, filt, ctrl, idx)


def iter_fastq_raw(path: str, start: int, end: int,
                   stringency: str = "strict") -> Iterator[tuple]:
    """(name_line, sequence, quality) of records whose FIRST line starts in
    [start, end); the reader realigns to the first provable record boundary
    at or after ``start``."""
    with fs.open_file(path, "rb") as fh:
        fh.seek(start)
        if start > 0:
            fh.readline()  # partial line belongs to the previous split
        # Buffer up to 5 line starts and find i: lines[i][0]=='@' and
        # lines[i+2][0]=='+' (the reference's two-line proof).
        probe: list[tuple[int, bytes]] = []
        while len(probe) < 6:
            at = fh.tell()
            line = fh.readline()
            if not line:
                break
            probe.append((at, line))
        first = None
        for i in range(len(probe)):
            if probe[i][1][:1] == b"@" and i + 2 < len(probe) and probe[i + 2][1][:1] == b"+":
                first = i
                break
        if first is None:
            return
        queue = [l for _, l in probe[first:]]
        rec_start = probe[first][0]
        while True:
            while len(queue) < 4:
                line = fh.readline()
                if not line:
                    return
                queue.append(line)
            if rec_start > end:  # boundary-start records belong to the
                return           # EARLIER split (see sam_source.iter_line_chunks)
            name_l, seq_l, plus_l, qual_l = queue[:4]
            del queue[:4]
            if name_l[:1] != b"@" or plus_l[:1] != b"+":
                from hadoop_bam_spark.sources import apply_stringency

                apply_stringency(
                    stringency,
                    ValueError(f"malformed FASTQ record near byte {rec_start}"),
                    "fastq",
                )
                # resync: drop one line, retry the proof at the next line
                queue[:0] = [seq_l, plus_l, qual_l]
                rec_start += len(name_l)
                continue
            yield (
                name_l.decode().rstrip("\r\n"),
                seq_l.decode().strip(),
                qual_l.decode().rstrip("\r\n"),
            )
            rec_start = fh.tell() - sum(len(l) for l in queue)

# RE2 form of _CASAVA_RE / _SLASH_RE for pyarrow extract_regex
_CASAVA_RE2 = (
    r"^(?P<instrument>[^:]+):(?P<run>\d+):(?P<fc>[^:]+):(?P<lane>\d+):"
    r"(?P<tile>\d+):(?P<x>\d+):(?P<y>\d+)\s+(?P<read>[1-9]):(?P<filt>[YN]):"
    r"(?P<ctrl>\d+):(?P<idx>\w*)\s*$"
)
_SLASH_RE2 = r"/(?P<r>[0-9])\s*$"


def parse_fastq_chunk(records: list, wanted=None):
    """(name_line, seq, qual) triples -> {column: pyarrow.Array}.

    One ``extract_regex`` over the chunk replaces the per-record Casava
    parse (reference FastqInputFormat.java:349-381 semantics); None on the
    rare cast failure (e.g. a run number overflowing int32) -> caller falls
    back to the scalar path."""
    import pyarrow as pa
    import pyarrow.compute as pc

    def want(nm):
        return wanted is None or nm in wanted

    raw_names = pa.array([r[0] for r in records], pa.string())
    # drop the leading '@' and surrounding whitespace (fastq_record parity)
    name = pc.utf8_trim_whitespace(pc.utf8_slice_codeunits(raw_names, 1))
    out = {"name": name}
    if want("sequence"):
        out["sequence"] = pa.array([r[1] for r in records], pa.string())
    if want("quality"):
        out["quality"] = pa.array([r[2] for r in records], pa.string())
    meta_wanted = [
        nm for nm in ("instrument", "run_number", "flowcell_id", "lane",
                      "tile", "xpos", "ypos", "read", "filter_passed",
                      "control_number", "index_sequence")
        if want(nm)
    ]
    if not meta_wanted:
        return out
    try:
        cas = pc.extract_regex(name, _CASAVA_RE2)

        def grp(g):
            return pc.struct_field(cas, g)

        def igrp(g):
            return pc.cast(grp(g), pa.int32())

        cols = {
            "instrument": lambda: grp("instrument"),
            "run_number": lambda: igrp("run"),
            "flowcell_id": lambda: grp("fc"),
            "lane": lambda: igrp("lane"),
            "tile": lambda: igrp("tile"),
            "xpos": lambda: igrp("x"),
            "ypos": lambda: igrp("y"),
            "filter_passed": lambda: pc.equal(grp("filt"), "N"),
            "control_number": lambda: igrp("ctrl"),
            "index_sequence": lambda: pc.if_else(
                pc.equal(grp("idx"), ""), pa.scalar(None, pa.string()), grp("idx")
            ),
        }
        for nm in meta_wanted:
            if nm == "read":
                # Casava read number, else older-style trailing /N
                slash = pc.struct_field(pc.extract_regex(name, _SLASH_RE2), "r")
                out["read"] = pc.cast(
                    pc.if_else(pc.is_valid(grp("read")), grp("read"), slash),
                    pa.int32(),
                )
            else:
                out[nm] = cols[nm]()
    except (pa.ArrowInvalid, ValueError):
        return None
    return out


@dataclass
class FastqPartition(InputPartition):
    path: str
    start: int
    end: int


class FastqDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "fastq"

    def schema(self):
        from hadoop_bam_spark.sources import pruned_schema

        return pruned_schema(FASTQ_SCHEMA, self.options)[0]

    def reader(self, schema) -> "FastqReader":
        return FastqReader(self.options)


class FastqReader(DataSourceReader):
    def __init__(self, options):
        path = options.get("path")
        if not path:
            raise ValueError("fastq source requires a path")
        self._path = path
        self._options = options
        self._filter_failed = options.get("filter_failed_qc", "false").lower() == "true"
        from hadoop_bam_spark.sources import pruned_schema, stringency_option

        self._stringency = stringency_option(options)
        self._schema, keep = pruned_schema(FASTQ_SCHEMA, options)
        self._wanted = qc_wanted(keep, self._filter_failed)

    def partitions(self):
        return [
            FastqPartition(p.path, p.start, p.end)
            for p in plan_text_splits(self._path, self._options, (".fastq", ".fq"))
        ] or [EmptyPartition()]

    def read(self, partition: FastqPartition):
        if isinstance(partition, EmptyPartition):
            return iter(())
        records = iter_fastq_raw(
            partition.path, partition.start, partition.end, self._stringency
        )
        return decode_chunks(
            (records,),
            FASTQ_SCHEMA, self._schema,
            lambda recs: parse_fastq_chunk(recs, self._wanted),
            lambda rec: fastq_record(*rec),
            self._stringency, "fastq",
            qc_mask if self._filter_failed else None,
        )


def qc_wanted(keep, filter_failed: bool):
    """Columns the chunk parsers build for ``pruned_schema``'s ``keep``:
    the projected ones, plus ``filter_passed`` when :func:`qc_mask` reads
    it; None (build all) when nothing is projected."""
    if keep is None:
        return None
    wanted = frozenset(FASTQ_SCHEMA.fields[i].name for i in keep)
    return wanted | {"filter_passed"} if filter_failed else wanted


def qc_mask(arrays, n):
    """``option("filter_failed_qc")``: keep reads whose ``filter_passed``
    is not false (reference FastqInputFormat.java:313-316)."""
    import pyarrow.compute as pc

    return pc.fill_null(
        pc.not_equal(arrays["filter_passed"], False), True
    ).to_numpy(zero_copy_only=False)
