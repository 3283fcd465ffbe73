"""GFF3 annotation text codec (9 tab-separated columns).

Second binding of the format-agnostic tabix text stack (see
formats/bed.py for the rationale; reference tabix filtering
VCFInputFormat.java:388-472). GFF3 is ALREADY 1-based inclusive, so no
coordinate conversion happens on the rim. Attribute values keep their
raw percent-encoded bytes (decoding would break byte-exact
round-trips; callers needing decoded text apply ``F.url_decode``-style
expressions downstream).

Columns: seqid(contig) source type start end score strand phase
attributes — '.' placeholders map to NULL and back; the attributes
column parses ``k=v;k=v`` into a map<string,string> preserving
insertion order on re-write is NOT guaranteed (maps are unordered in
Spark), so re-written attribute order is the scan's map order.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
)

GFF_SCHEMA = StructType(
    [
        StructField("contig", StringType(), False),
        StructField("source", StringType(), True),
        StructField("type", StringType(), True),
        StructField("start", LongType(), False),   # 1-based inclusive
        StructField("end", LongType(), False),     # 1-based inclusive
        StructField("score", DoubleType(), True),
        StructField("strand", StringType(), True),
        StructField("phase", IntegerType(), True),
        StructField("attributes", MapType(StringType(), StringType()), True),
    ]
)


def is_header_line(line: str) -> bool:
    """``##`` directives, ``#`` comments, blanks; a ``>`` starts the
    optional trailing FASTA section (everything after is non-record,
    but the scan only sees it line-wise, so treat those as headers
    too — a ``##FASTA`` directive file should be pre-split anyway)."""
    return line.startswith(("#", ">")) or not line.strip()


def _parse_attributes(s: str) -> dict:
    """'.' -> EMPTY map (the parse_vcf_line INFO precedent: absent and
    empty are indistinguishable in the text form, and an empty map
    avoids null-map kernels the Arrow layer lacks)."""
    if s in (".", ""):
        return {}
    out: dict[str, str] = {}
    for item in s.split(";"):
        if not item:
            continue
        if "=" not in item:
            raise ValueError(f"GFF3 attribute {item!r} has no '='")
        k, v = item.split("=", 1)
        out[k] = v
    return out


def parse_gff_line(line: str) -> Optional[tuple]:
    """One data line -> GFF_SCHEMA tuple (None for header lines); raises
    ``ValueError`` on malformed rows for ValidationStringency."""
    if is_header_line(line):
        return None
    f = line.rstrip("\r\n").split("\t")
    if len(f) != 9:
        raise ValueError(f"GFF3 line has {len(f)} fields, expected 9")
    start, end = int(f[3]), int(f[4])
    if start < 1 or end < start:
        raise ValueError(f"GFF3 interval [{start}, {end}] is invalid")
    score = float(f[5]) if f[5] != "." else None
    phase = int(f[7]) if f[7] != "." else None
    return (
        f[0],
        f[1] if f[1] != "." else None,
        f[2] if f[2] != "." else None,
        start,
        end,
        score,
        f[6] if f[6] != "." else None,
        phase,
        _parse_attributes(f[8]),
    )


def _score_text(score) -> str:
    if score is None:
        return "."
    return str(int(score)) if float(score) == int(score) else repr(float(score))


def format_gff_line(row: tuple) -> str:
    contig, source, typ, start, end, score, strand, phase, attrs = row
    attr_s = (
        ";".join(f"{k}={v}" for k, v in attrs.items()) if attrs else "."
    )
    return "\t".join(
        [
            contig,
            source if source is not None else ".",
            typ if typ is not None else ".",
            str(int(start)),
            str(int(end)),
            _score_text(score),
            strand if strand is not None else ".",
            str(phase) if phase is not None else ".",
            attr_s,
        ]
    )


def parse_gff_chunk(lines) -> Optional[dict]:
    """Data lines -> {column: pyarrow.Array}; None -> scalar fallback
    (ragged rows, malformed numerics, or attributes without '=')."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    if not lines:
        return {}
    arr = pa.array(list(lines), pa.string())
    split = pc.split_pattern(arr, "\t")
    values = split.values
    off = split.offsets.to_numpy().astype(np.int64)
    lens = np.diff(off)
    if (lens != 9).any():
        return None
    starts = off[:-1]

    def slot(i: int) -> pa.Array:
        return values.take(pa.array(starts + i, pa.int64()))

    dot_null = pa.scalar(None, pa.string())

    def dotted(col: pa.Array) -> pa.Array:
        return pc.if_else(pc.equal(col, "."), dot_null, col)

    try:
        start = pc.cast(slot(3), pa.int64())
        end = pc.cast(slot(4), pa.int64())
        score = pc.cast(dotted(slot(5)), pa.float64())
        phase = pc.cast(dotted(slot(7)), pa.int32())
    except (pa.ArrowInvalid, pa.ArrowNotImplementedError):
        return None
    s = start.to_numpy(zero_copy_only=False)
    e = end.to_numpy(zero_copy_only=False)
    if (s < 1).any() or (e < s).any():
        return None
    # attributes: split ';' -> per-item first-'=' split -> MapArray
    attr_col = slot(8)
    items = pc.split_pattern(
        pc.if_else(pc.equal(attr_col, "."), pa.scalar(""), attr_col), ";")
    item_vals = items.values
    # drop empty items (trailing ';' and the '.'-nulled rows)
    nonempty = pc.not_equal(item_vals, "")
    ne_np = nonempty.to_numpy(zero_copy_only=False)
    item_off = items.offsets.to_numpy().astype(np.int64)
    keep_counts = np.add.reduceat(
        ne_np.astype(np.int64), item_off[:-1]
    ) if len(item_vals) else np.zeros(len(lines), np.int64)
    keep_counts[item_off[:-1] == item_off[1:]] = 0  # empty lists
    kv = pc.split_pattern(item_vals.filter(nonempty), "=", max_splits=1)
    kv_lens = np.diff(kv.offsets.to_numpy())
    if (kv_lens != 2).any():
        return None  # an attribute without '=' -> scalar path raises
    keys = kv.values.take(
        pa.array(kv.offsets.to_numpy()[:-1].astype(np.int64), pa.int64()))
    vals = kv.values.take(
        pa.array(kv.offsets.to_numpy()[:-1].astype(np.int64) + 1, pa.int64()))
    map_off = np.concatenate([[0], np.cumsum(keep_counts)])
    attrs = pa.MapArray.from_arrays(
        pa.array(map_off, pa.int32()), keys, vals)
    return {
        "contig": slot(0),
        "source": dotted(slot(1)),
        "type": dotted(slot(2)),
        "start": start,
        "end": end,
        "score": score,
        "strand": dotted(slot(6)),
        "phase": phase,
        "attributes": attrs,
    }
