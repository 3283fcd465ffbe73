"""Vectorized SAM alignment-line decode: text chunk -> Arrow arrays.

Columnar twin of :func:`hadoop_bam_spark.formats.sam.parse_sam_line`
(semantics per reference SAMRecordReader.java:67-147), same design as
``vcf_vec``: kernels per column, not Python per record.

SAM lines are ragged (11 mandatory fields + 0..n tags), which rules out a
CSV reader — instead ONE ``split_pattern`` over the whole line array gives
a list column whose first 11 child slots per row are the mandatory fields
(gathered by offset+i ``take``) and whose tail is the tag section. Tags
are flattened with the repeat/cumsum ramp, split once on ':' (max 2), and
the canonical map-value representation (``tag_value_repr``: keep the bare
value when the bare encoder would guess the same wire type, else prefix
"TYPE:") is computed with two anchored-regex matches + boolean masks over
the flat arrays.

A chunk with any row under 11 fields or a non-integer numeric field
returns None and the caller re-parses it with the scalar path (per-line
ValidationStringency, identical behavior to the reference's reader).
"""

from __future__ import annotations

from typing import Optional, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from hadoop_bam_spark.formats.sam import SAM_SCHEMA  # noqa: F401  (parity anchor)

# anchored spec regexes, same as sam._SAM_INT_RE / _SAM_FLOAT_RE
_INT_RE = r"^[-+]?[0-9]+$"
_FLOAT_RE = (
    r"^[-+]?(?:(?:[0-9]+\.[0-9]*|\.[0-9]+)(?:[eE][-+]?[0-9]+)?"
    r"|[0-9]+[eE][-+]?[0-9]+)$"
)
_PREFIX_RE = r"^[AcCsSiIfZH]:"
_ARRAY_RE = r"^[cCsSiIf],"

_COLUMNS = (
    "qname", "flag", "rname", "pos", "mapq", "cigar",
    "rnext", "pnext", "tlen", "seq", "qual", "tags",
)


def _star_null(col: pa.Array) -> pa.Array:
    return pc.if_else(pc.equal(col, "*"), pa.scalar(None, pa.string()), col)


def _int_cast(col: pa.Array, typ: pa.DataType, star_null: bool = False) -> pa.Array:
    if star_null:
        col = _star_null(col)
    return pc.cast(col, typ)


def _canonical_tag_values(typ: pa.Array, val: pa.Array) -> pa.Array:
    """Vectorized sam.tag_value_repr: bare value when the bare encoder's
    guess reproduces the wire type, else 'TYPE:value'."""
    is_prefix = pc.match_substring_regex(val, _PREFIX_RE)
    is_arrayish = pc.match_substring_regex(val, _ARRAY_RE)
    is_int = pc.match_substring_regex(val, _INT_RE)
    is_float = pc.match_substring_regex(val, _FLOAT_RE)
    # guess precedence: prefix > int > array > float > z (sam.guess_tag_encoding)
    k_int = pc.and_(pc.invert(is_prefix), is_int)
    k_array = pc.and_(pc.and_(pc.invert(is_prefix), pc.invert(is_int)), is_arrayish)
    k_float = pc.and_(
        pc.and_(pc.invert(is_prefix), pc.invert(is_int)),
        pc.and_(pc.invert(is_arrayish), is_float),
    )
    k_z = pc.and_(
        pc.and_(pc.invert(is_prefix), pc.invert(is_int)),
        pc.and_(pc.invert(is_arrayish), pc.invert(is_float)),
    )
    t_int = pc.is_in(typ, value_set=pa.array(list("cCsSiI")))
    ok = pc.or_(
        pc.or_(
            pc.and_(t_int, k_int),
            pc.and_(pc.equal(typ, "f"), k_float),
        ),
        pc.or_(
            pc.and_(pc.equal(typ, "Z"), k_z),
            pc.and_(pc.equal(typ, "B"), k_array),
        ),
    )
    return pc.if_else(ok, val, pc.binary_join_element_wise(typ, val, ":"))


def _tags_array(values: pa.Array, off: np.ndarray, lens: np.ndarray) -> pa.Array:
    """Tag fields (child slots 11.. of each row) -> map<string,string>."""
    n = len(lens)
    ntags = lens - 11
    ramp_total = int(ntags.sum())
    if ramp_total == 0:
        return pa.MapArray.from_arrays(
            pa.array(np.zeros(n + 1, dtype=np.int64), pa.int32()),
            pa.array([], pa.string()),
            pa.array([], pa.string()),
        )
    starts = np.zeros(n, dtype=np.int64)
    np.cumsum(ntags[:-1], out=starts[1:])
    ramp = np.arange(ramp_total, dtype=np.int64) - np.repeat(starts, ntags)
    flat_idx = (off[:-1] + 11).repeat(ntags) + ramp
    flat = values.take(pa.array(flat_idx, pa.int64()))
    parent = np.repeat(np.arange(n, dtype=np.int64), ntags)

    kv = pc.split_pattern(flat, ":", max_splits=2)
    kvv = kv.values
    kvo = kv.offsets.to_numpy().astype(np.int64)
    kvl = np.diff(kvo)
    # only TAG:TYPE:VALUE (3 parts) carries a value; others dropped silently
    # (scalar parser parity, sam.parse_sam_line:201-206)
    keep = kvl == 3
    if not keep.all():
        keep_idx = np.nonzero(keep)[0]
        parent = parent[keep]
        kvo_keep = kvo[:-1][keep_idx]
    else:
        kvo_keep = kvo[:-1]
    keys = kvv.take(pa.array(kvo_keep, pa.int64()))
    typs = kvv.take(pa.array(kvo_keep + 1, pa.int64()))
    vals = kvv.take(pa.array(kvo_keep + 2, pa.int64()))
    # a record carrying the SAME tag twice (spec-invalid but parseable) must
    # dedupe last-wins like the scalar dict — rare enough that the whole
    # chunk falls back to the scalar parser instead
    codes = keys.dictionary_encode().indices.to_numpy(zero_copy_only=False)
    combined = parent * (int(codes.max()) + 1 if len(codes) else 1) + codes
    if len(np.unique(combined)) != len(combined):
        return None
    canon = _canonical_tag_values(typs, vals)

    counts = np.bincount(parent, minlength=n)
    moff = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(counts, out=moff[1:])
    return pa.MapArray.from_arrays(pa.array(moff, pa.int32()), keys, canon)


def _tag_fields(m: pa.Array) -> tuple[pa.Array, pa.Array]:
    """Map column -> (flat 'TAG:TYPE:VALUE' strings, per-row joined string).

    Vectorized inverse of sam.format_tag: the bare-encoder guess (prefix >
    int > array > float > z) picks the wire TYPE for each flat map value."""
    keys = m.keys
    vals = m.items
    is_prefix = pc.match_substring_regex(vals, _PREFIX_RE)
    is_int = pc.match_substring_regex(vals, _INT_RE)
    is_arrayish = pc.match_substring_regex(vals, _ARRAY_RE)
    is_float = pc.match_substring_regex(vals, _FLOAT_RE)
    np_ = pc.invert(is_prefix)
    t_int = pc.and_(np_, is_int)
    rest = pc.and_(np_, pc.invert(is_int))
    t_array = pc.and_(rest, is_arrayish)
    rest2 = pc.and_(rest, pc.invert(is_arrayish))
    t_float = pc.and_(rest2, is_float)
    code = pc.if_else(
        t_int, pa.scalar("i"),
        pc.if_else(t_array, pa.scalar("B"),
                   pc.if_else(t_float, pa.scalar("f"), pa.scalar("Z"))),
    )
    plain = pc.binary_join_element_wise(keys, code, vals, ":")
    pfx = pc.binary_join_element_wise(
        keys,
        pc.utf8_slice_codeunits(vals, 0, 1),
        pc.utf8_slice_codeunits(vals, 2, 2**30),
        ":",
    )
    fields = pc.if_else(is_prefix, pfx, plain)
    per_row = pc.binary_join(
        pa.ListArray.from_arrays(m.offsets, fields), pa.scalar("\t")
    )
    return fields, per_row


def format_sam_chunk(batch) -> bytes:
    """SAM_SCHEMA RecordBatch -> newline-joined alignment lines (bytes).

    Columnar inverse of sam.format_sam_line: '*'/'0' null fills, the
    '='-for-same-RNEXT contraction, and bare-tag canonical encode all run
    as kernels; the final per-row and whole-chunk joins are two
    binary_join calls."""
    col = {n: batch.column(i).combine_chunks() if isinstance(batch.column(i), pa.ChunkedArray) else batch.column(i)
           for i, n in enumerate(batch.schema.names)}
    star = pa.scalar("*")
    rname = col["rname"]
    rnext = col["rnext"]
    same = pc.fill_null(pc.and_(pc.equal(rnext, rname), pc.is_valid(rnext)), False)
    rnext_s = pc.if_else(same, pa.scalar("="), pc.fill_null(rnext, star))
    line = pc.binary_join_element_wise(
        col["qname"],
        pc.cast(col["flag"], pa.string()),
        pc.fill_null(rname, star),
        pc.cast(col["pos"], pa.string()),
        pc.cast(col["mapq"], pa.string()),
        pc.fill_null(col["cigar"], star),
        rnext_s,
        pc.fill_null(pc.cast(col["pnext"], pa.string()), "0"),
        pc.fill_null(pc.cast(col["tlen"], pa.string()), "0"),
        pc.fill_null(col["seq"], star),
        pc.fill_null(col["qual"], star),
        "\t",
    )
    tags = col["tags"]
    if tags.offset:
        tags = tags.take(pa.array(np.arange(len(tags)), pa.int64()))
    t_off = tags.offsets.to_numpy().astype(np.int64)
    ntags_np = np.diff(t_off)
    null_np = pc.is_null(tags).to_numpy(zero_copy_only=False)
    ntags_np = np.where(null_np, 0, ntags_np)
    ntags = pa.array(ntags_np, pa.int64())
    if pc.any(pc.greater(ntags, 0)).as_py():
        _, per_row = _tag_fields(tags)
        with_tags = pc.binary_join_element_wise(line, per_row, "\t")
        line = pc.if_else(pc.greater(ntags, 0), with_tags, line)
    n = len(line)
    blob = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n], pa.int32()), line),
        pa.scalar("\n"),
    )[0].as_py()
    return (blob + "\n").encode("utf-8", "surrogateescape") if n else b""


def parse_sam_chunk(
    lines: Sequence[str], wanted: Optional[frozenset] = None
) -> Optional[dict]:
    """Data lines -> {column_name: pyarrow.Array}; None -> scalar fallback.

    ``wanted=None`` builds all columns; otherwise only the named ones (the
    source's projection pruning — unneeded tag/seq work never happens)."""
    if not lines:
        return {}
    arr = pa.array(list(lines), pa.string())
    split = pc.split_pattern(arr, "\t")
    values = split.values
    off = split.offsets.to_numpy().astype(np.int64)
    lens = np.diff(off)
    if (lens < 11).any():
        return None

    def slot(i: int) -> pa.Array:
        return values.take(pa.array(off[:-1] + i, pa.int64()))

    def want(name: str) -> bool:
        return wanted is None or name in wanted

    out: dict[str, pa.Array] = {}
    try:
        if want("qname"):
            out["qname"] = slot(0)
        if want("flag"):
            out["flag"] = _int_cast(slot(1), pa.int32())
        rname = None
        if want("rname") or want("rnext"):
            rname = _star_null(slot(2))
            if want("rname"):
                out["rname"] = rname
        if want("pos"):
            out["pos"] = _int_cast(slot(3), pa.int32())
        if want("mapq"):
            out["mapq"] = _int_cast(slot(4), pa.int32())
        if want("cigar"):
            out["cigar"] = _star_null(slot(5))
        if want("rnext"):
            raw = slot(6)
            out["rnext"] = pc.if_else(
                pc.equal(raw, "="), rname, _star_null(raw)
            )
        if want("pnext"):
            out["pnext"] = _int_cast(slot(7), pa.int32(), star_null=True)
        if want("tlen"):
            out["tlen"] = _int_cast(slot(8), pa.int32(), star_null=True)
        if want("seq"):
            out["seq"] = _star_null(slot(9))
        if want("qual"):
            out["qual"] = _star_null(slot(10))
        if want("tags"):
            tags = _tags_array(values, off, lens)
            if tags is None:  # duplicate tag in a record -> scalar dedupe
                return None
            out["tags"] = tags
    except (pa.ArrowInvalid, ValueError):
        return None
    return out
