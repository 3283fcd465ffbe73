"""BED interval text codec (UCSC BED3..BED12+, tab-separated).

Not a reference format — Hadoop-BAM stops at VCF — but its tabix layer
is format-agnostic by design (the tabix paper and VCFInputFormat's
split filtering, VCFInputFormat.java:388-472, both apply to any
coordinate-sorted text with a (contig, begin, end) triple), and BED is
the interval currency of every annotation pipeline feeding the
engine's interval-join operators. The source/sink reuse the VCF text
machinery: BGZF block-aligned splits, tabix split pruning, sharded
writes.

Coordinate convention: BED columns 2/3 are 0-based half-open; the
engine's canonical interval schema (what the interval joins and the
VCF source emit) is 1-based inclusive. The codec converts on the rim:
``start = chromStart + 1``, ``end = chromEnd`` — a zero-length BED
feature (chromStart == chromEnd, an insertion point) comes back with
``end == start - 1``, preserved exactly on re-write.

Columns beyond the first six ride in ``rest`` (array<string>) so
BED12 (and custom BED6+N) round-trips byte-exact; '.' placeholders in
name/score/strand map to NULL and back.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BED_SCHEMA = StructType(
    [
        StructField("contig", StringType(), False),
        StructField("start", LongType(), False),   # 1-based inclusive
        StructField("end", LongType(), False),     # 1-based inclusive
        StructField("name", StringType(), True),
        StructField("score", IntegerType(), True),
        StructField("strand", StringType(), True),
        StructField("rest", ArrayType(StringType()), True),
    ]
)

#: lines starting with these are headers/annotations, not records
#: (UCSC track format; '#' comments per the tabix meta default)
_SKIP_PREFIXES = ("#", "track", "browser")


def is_header_line(line: str) -> bool:
    return line.startswith(_SKIP_PREFIXES) or not line.strip()


def parse_bed_line(line: str) -> Optional[tuple]:
    """One data line -> BED_SCHEMA tuple (None for header/blank lines).

    Raises ``ValueError`` on malformed rows (fewer than 3 columns,
    non-numeric coordinates, end < start) so ValidationStringency can
    raise/skip per policy, as in the VCF source."""
    if is_header_line(line):
        return None
    f = line.rstrip("\r\n").split("\t")
    if len(f) < 3:
        raise ValueError(f"BED line has {len(f)} fields, expected >= 3")
    chrom_start, chrom_end = int(f[1]), int(f[2])
    if chrom_end < chrom_start or chrom_start < 0:
        raise ValueError(
            f"BED interval [{chrom_start}, {chrom_end}) is invalid")
    name = f[3] if len(f) > 3 and f[3] != "." else None
    score = None
    if len(f) > 4 and f[4] != ".":
        score = int(f[4])
    strand = f[5] if len(f) > 5 and f[5] != "." else None
    rest = f[6:] or None
    return (f[0], chrom_start + 1, chrom_end, name, score, strand, rest)


def format_bed_line(row: tuple) -> str:
    """BED_SCHEMA tuple -> one BED text line (inverse of parse: 1-based
    inclusive back to 0-based half-open; NULLs to '.' only where a
    later column forces the placeholder)."""
    contig, start, end, name, score, strand, rest = row
    cols = [contig, str(int(start) - 1), str(int(end))]
    tail = [
        name if name is not None else ".",
        str(score) if score is not None else ".",
        strand if strand is not None else ".",
        *(rest or []),
    ]
    # trim trailing '.' placeholders the row never carried (BED3 stays
    # BED3) — but never from inside (a strand forces name/score slots)
    while tail and tail[-1] == "." and not (rest or []):
        tail.pop()
    return "\t".join(cols + tail)


def parse_bed_chunk(lines) -> Optional[dict]:
    """Data lines -> {column: pyarrow.Array}; None -> scalar fallback.

    Vectorized twin of :func:`parse_bed_line` (the sam_vec slot-take
    treatment for ragged BED3..BED12+ widths): one split_pattern, fixed
    slots gathered with width masks, coordinate casts, and one ragged
    list build for ``rest``. Any malformed numeric or short row bails
    the whole chunk to the scalar parser, which owns stringency."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not lines:
        return {}
    arr = pa.array(list(lines), pa.string())
    split = pc.split_pattern(arr, "\t")
    values = split.values
    off = split.offsets.to_numpy().astype(np.int64)
    starts, lens = off[:-1], np.diff(off)
    if (lens < 3).any():
        return None

    def slot(i: int) -> pa.Array:
        # rows narrower than i+1 columns get a NULL via an out-of-range
        # sentinel replaced by masked take
        idx = starts + i
        mask = lens > i
        safe = np.where(mask, idx, 0)
        taken = values.take(pa.array(safe, pa.int64()))
        if mask.all():
            return taken
        return pc.if_else(pa.array(mask), taken, pa.scalar(None, pa.string()))

    try:
        start0 = pc.cast(slot(1), pa.int64())
        end0 = pc.cast(slot(2), pa.int64())
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    s0 = start0.to_numpy(zero_copy_only=False)
    e0 = end0.to_numpy(zero_copy_only=False)
    if (s0 < 0).any() or (e0 < s0).any():
        return None  # scalar path raises per-row
    dot_null = pa.scalar(None, pa.string())

    def dotted(col: pa.Array) -> pa.Array:
        return pc.if_else(pc.equal(col, "."), dot_null, col)

    score_s = dotted(slot(4))
    try:
        score = pc.cast(score_s, pa.int32())
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    # ragged rest: columns 6.. of each row, NULL when absent
    extra = np.maximum(lens - 6, 0)
    rest_off = np.concatenate([[0], np.cumsum(extra)])
    flat = np.concatenate(
        [np.arange(starts[i] + 6, starts[i] + lens[i])
         for i in range(len(lens)) if extra[i]]
    ) if extra.any() else np.empty(0, np.int64)
    rest_vals = values.take(pa.array(flat, pa.int64()))
    rest = pa.ListArray.from_arrays(
        pa.array(rest_off, pa.int32()), rest_vals)
    rest = pc.if_else(
        pa.array(extra > 0), rest,
        pa.scalar(None, pa.list_(pa.string())))
    return {
        "contig": slot(0),
        "start": pa.array(s0 + 1, pa.int64()),
        "end": end0,
        "name": dotted(slot(3)),
        "score": score,
        "strand": dotted(slot(5)),
        "rest": rest,
    }


def format_bed_chunk(batch) -> bytes:
    """Arrow RecordBatch (BED_SCHEMA order) -> newline-terminated BED
    bytes, byte-identical to ``format_bed_line`` per row (property-
    tested): 1-based back to 0-based, NULLs to '.', and trailing
    '.'-placeholder groups trimmed exactly like the scalar formatter
    (which trims only when ``rest`` is absent — a literal '.' inside
    ``rest`` is never touched)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    n = batch.num_rows
    if n == 0:
        return b""
    col = {name: batch.column(i) for i, name in enumerate(batch.schema.names)}

    def dot(c) -> pa.Array:
        return pc.fill_null(pc.cast(c, pa.string()), ".")

    start0 = pc.cast(pc.subtract(col["start"], 1), pa.string())
    rest = col["rest"]
    if rest.type != pa.list_(pa.string()):
        rest = rest.cast(pa.list_(pa.string()))
    rest_txt = pc.fill_null(pc.binary_join(rest, pa.scalar("\t")), "")
    has_rest = pc.fill_null(
        pc.greater(pc.list_value_length(rest), 0), False)
    six = pc.binary_join_element_wise(
        pc.cast(col["contig"], pa.string()), start0,
        pc.cast(col["end"], pa.string()),
        dot(col["name"]), dot(col["score"]), dot(col["strand"]),
        pa.scalar("\t"),
    )
    with_rest = pc.binary_join_element_wise(six, rest_txt, pa.scalar("\t"))
    trimmed = pc.replace_substring_regex(six, r"(\t\.)+$", "")
    lines = pc.if_else(has_rest, with_rest, trimmed)
    blob = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n], pa.int32()),
                                 pc.cast(lines, pa.string())),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode("utf-8", "surrogateescape")
