"""bedGraph coverage-track text codec (UCSC: chrom chromStart chromEnd
dataValue, tab- or space-separated, exactly four columns).

The numeric sibling of BED on the same format-agnostic tabix text stack
(the reference's split filtering, VCFInputFormat.java:388-472, applies to
any coordinate-sorted (contig, begin, end) text): bedGraph is what every
coverage/pileup pipeline emits, including this engine's own
coverage/pileup operators — making their results writable as a
genome-browser track and re-scannable in parallel.

Coordinates convert on the rim exactly like BED (0-based half-open on
disk, 1-based inclusive in the engine). Values are float64; whole-number
values render without a decimal point (the common bedGraph style — depth
tracks are integers) and fractional values via repr, so parse(format(v))
is exact for every float.
"""

from __future__ import annotations

import math
from typing import Optional

from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

BEDGRAPH_SCHEMA = StructType(
    [
        StructField("contig", StringType(), False),
        StructField("start", LongType(), False),   # 1-based inclusive
        StructField("end", LongType(), False),     # 1-based inclusive
        StructField("value", DoubleType(), False),
    ]
)

_SKIP_PREFIXES = ("#", "track", "browser")


def is_header_line(line: str) -> bool:
    return line.startswith(_SKIP_PREFIXES) or not line.strip()


def parse_bedgraph_line(line: str) -> Optional[tuple]:
    """One data line -> BEDGRAPH_SCHEMA tuple (None for header/blank).

    Raises ``ValueError`` on malformed rows (not exactly 4 columns,
    non-numeric fields, end <= start) for ValidationStringency to
    raise/skip per policy. Zero-length records (chromStart == chromEnd)
    are rejected too: BED's insertion-point convention has no meaning
    for a value track, and the inverted engine row (start = end + 1)
    would silently flow into interval/coverage arithmetic. The UCSC
    spec allows space OR tab separation; both parse, tabs are
    written."""
    if is_header_line(line):
        return None
    f = line.rstrip("\r\n").split()
    if len(f) != 4:
        raise ValueError(f"bedGraph line has {len(f)} fields, expected 4")
    chrom_start, chrom_end = int(f[1]), int(f[2])
    if chrom_end <= chrom_start or chrom_start < 0:
        raise ValueError(
            f"bedGraph interval [{chrom_start}, {chrom_end}) is invalid "
            "(value tracks have no zero-length records)")
    return (f[0], chrom_start + 1, chrom_end, float(f[3]))


def _value_text(v: float) -> str:
    f = float(v)
    if not math.isfinite(f):
        # non-finite values are outside the bedGraph spec but must not
        # kill an executor mid-write; 'nan'/'inf'/'-inf' re-parse exactly
        return repr(f)
    return str(int(f)) if f == int(f) else repr(f)


def format_bedgraph_line(row: tuple) -> str:
    """BEDGRAPH_SCHEMA tuple -> one bedGraph text line (1-based back to
    0-based half-open; whole values without a decimal point)."""
    contig, start, end, value = row
    return "\t".join(
        [contig, str(int(start) - 1), str(int(end)), _value_text(value)]
    )


def parse_bedgraph_chunk(lines) -> Optional[dict]:
    """Data lines -> {column: pyarrow.Array}; None -> scalar fallback.

    Vectorized twin of :func:`parse_bedgraph_line`: one
    whitespace-split, three numeric casts, validity checks. Any
    malformed row bails the whole chunk to the scalar parser, which
    owns stringency."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not lines:
        return {}
    arr = pa.array(list(lines), pa.string())
    split = pc.split_pattern_regex(arr, r"[ \t]+")
    lens = np.diff(split.offsets.to_numpy().astype(np.int64))
    if (lens != 4).any():
        return None
    flat = split.values
    n = len(lines)
    idx = np.arange(n, dtype=np.int64) * 4

    def slot(i: int) -> "pa.Array":
        return flat.take(pa.array(idx + i, pa.int64()))

    try:
        start0 = pc.cast(slot(1), pa.int64())
        end0 = pc.cast(slot(2), pa.int64())
        value = pc.cast(slot(3), pa.float64())
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    s0 = start0.to_numpy(zero_copy_only=False)
    e0 = end0.to_numpy(zero_copy_only=False)
    if (s0 < 0).any() or (e0 <= s0).any():
        return None  # scalar path raises per-row (incl. zero-length rows)
    if value.null_count:
        return None
    return {
        "contig": slot(0),
        "start": pa.array(s0 + 1, pa.int64()),
        "end": end0,
        "value": value,
    }
