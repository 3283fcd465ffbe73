"""Columnar BAM decode (formats/bam_vec.py) vs the per-record row codec.

The row codec (bam.decode_record) is the behavioral spec; every column the
vectorized decoder emits must match it value-for-value, including the edge
cases: no cigar, empty seq, odd-length seq, missing (0xFF) qual, unmapped
refID=-1, every tag wire type, records spanning BGZF block boundaries.
"""

from __future__ import annotations

import io
import struct

import numpy as np
import pytest

from hadoop_bam_spark.formats import bam, bam_vec, bgzf
from hadoop_bam_spark.formats.sam import SAMHeader, parse_header

from tests import writers

REFS = [("chr1", 1_000_000), ("chr2", 2_000_000)]


def _header() -> SAMHeader:
    return parse_header(
        ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:1000000", "@SQ\tSN:chr2\tLN:2000000"]
    )


def _edge_rows() -> list[tuple]:
    # (qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual, tags)
    return [
        ("r_plain", 0, "chr1", 100, 60, "5M", "chr1", 150, 50, "ACGTA", "IIIII",
         {"NM": "1"}),
        ("r_nocigar", 4, None, 0, 0, None, None, 0, 0, "ACG", "III", {}),
        ("r_noseq", 4, None, 0, 0, None, None, 0, 0, None, None, {}),
        ("r_oddseq", 0, "chr2", 555, 30, "3M1I3M", "chr1", 1, -20, "ACGTACG",
         "IIIIIII", {}),
        ("r_noqual", 0, "chr1", 7, 20, "4M", None, 0, 0, "ACGT", None, {}),
        ("r_tags", 0, "chr1", 42, 11, "2M2S", "chr2", 999, 0, "ACGT", "FFFF",
         {"XA": "A:Q", "Xi": "-5", "Xf": "1.5", "XZ": "hello world",
          "XB": "i,1,2,3", "XH": "H:DEADBEEF"}),
        ("r_longcigar", 0, "chr1", 9000, 60, "10M2D30M5S", "chr1", 9000, 0,
         "A" * 45, "#" * 45, {}),
        ("r_star_ops", 16, "chr2", 123456, 1, "7=1X2N5M", None, 0, 0,
         "ACGTACGTACGTACG", None, {"NM": "0"}),
    ]


def _write_bam_bytes(rows, granularity=0) -> bytes:
    fh = io.BytesIO()
    writers.write_bam(fh, _header(), rows, refs=REFS, index_granularity=granularity)
    return fh.getvalue()


def _scan_columnar(data: bytes, fields=None, **flt):
    fh = io.BytesIO(data)
    reader = bgzf.BGZFReader(fh)
    _, refs, first_voffset = bam.read_header(reader)
    end = bgzf.make_voffset(len(data), 0)
    bodies = list(bam_vec.iter_bodies_span(fh, first_voffset, end))
    dec = bam_vec.BAMBatchDecoder(refs, fields=fields)
    cols = dec.decode(bodies, **flt)
    return cols, bodies, refs


def _scan_rows(data: bytes) -> list[tuple]:
    fh = io.BytesIO(data)
    reader = bgzf.BGZFReader(fh)
    _, refs, first_voffset = bam.read_header(reader)
    reader.seek_voffset(first_voffset)
    return list(bam.iter_records(reader, refs, first_voffset))


SAM_COLS = ["qname", "flag", "rname", "pos", "mapq", "cigar", "rnext",
            "pnext", "tlen", "seq", "qual", "tags"]


def _cols_to_rows(cols) -> list[tuple]:
    pylists = {k: cols[k].to_pylist() for k in cols}
    n = len(next(iter(pylists.values())))
    out = []
    for i in range(n):
        row = []
        for k in SAM_COLS:
            v = pylists[k][i]
            if k == "tags":
                v = dict(v) if v is not None else None
            row.append(v)
        out.append(tuple(row))
    return out


def test_columnar_matches_row_codec_edge_cases():
    data = _write_bam_bytes(_edge_rows())
    expected = _scan_rows(data)
    cols, bodies, _ = _scan_columnar(data)
    assert len(bodies) == len(_edge_rows())
    got = _cols_to_rows(cols)
    assert got == expected


def test_columnar_matches_row_codec_bulk_multi_block():
    # Enough records to span multiple BGZF blocks (> 64 KiB payload).
    rows = []
    for i in range(3000):
        seq = "ACGT"[(i % 4)] * (20 + i % 37)  # varying odd/even lengths
        rows.append(
            (f"read{i}", (i % 2) * 16, "chr1" if i % 3 else "chr2",
             i * 13 + 1, i % 60, f"{len(seq)}M", None, 0, 0, seq,
             chr(33 + i % 60) * len(seq), {"NM": str(i % 7)})
        )
    data = _write_bam_bytes(rows)
    expected = _scan_rows(data)
    cols, bodies, _ = _scan_columnar(data)
    assert len(bodies) == 3000
    assert _cols_to_rows(cols) == expected


def test_iter_bodies_span_ownership_midfile():
    """Splitting the scan at an arbitrary record boundary yields each record
    exactly once across the two spans (the voffset ownership rule)."""
    rows = [
        (f"r{i}", 0, "chr1", i + 1, 60, "4M", None, 0, 0, "ACGT", "IIII", {})
        for i in range(2000)
    ]
    data = _write_bam_bytes(rows, granularity=100)
    fh = io.BytesIO(data)
    reader = bgzf.BGZFReader(fh)
    _, refs, first_voffset = bam.read_header(reader)
    # recover record voffsets from the inline splitting offsets
    offs = writers.write_bam(io.BytesIO(), _header(), rows, refs=REFS,
                         index_granularity=100)
    # pick a mid-file record boundary; shift by the header the real file has
    fh2 = io.BytesIO(data)
    end = bgzf.make_voffset(len(data), 0)
    # find the voffset of record 700 by walking
    r = bgzf.BGZFReader(io.BytesIO(data))
    bam.read_header(r)
    for _ in range(700):
        head = r.read(4)
        (bs,) = struct.unpack("<i", head)
        r.read(bs)
    mid = r.tell_voffset()
    a = list(bam_vec.iter_bodies_span(io.BytesIO(data), first_voffset, mid))
    b = list(bam_vec.iter_bodies_span(io.BytesIO(data), mid, end))
    assert len(a) == 700 and len(b) == 1300
    dec = bam_vec.BAMBatchDecoder(refs)
    got = _cols_to_rows(dec.decode(a)) + _cols_to_rows(dec.decode(b))
    assert got == _scan_rows(data)


def test_columnar_filters():
    rows = [
        ("m1", 0, "chr1", 100, 60, "10M", None, 0, 0, "A" * 10, "I" * 10, {}),
        ("m2", 0, "chr2", 500, 60, "10M", None, 0, 0, "C" * 10, "I" * 10, {}),
        ("u1", 4, None, 0, 0, None, None, 0, 0, "G" * 4, None, {}),
        ("m3", 0, "chr1", 200, 60, "5M10D5M", None, 0, 0, "T" * 10, "I" * 10, {}),
    ]
    data = _write_bam_bytes(rows)
    cols, _, _ = _scan_columnar(data, unmapped_only=True)
    assert [r[0] for r in _cols_to_rows(cols)] == ["u1"]
    # interval chr1:105-110 overlaps m1 (100..109) but not m3 (200..219)
    cols, _, _ = _scan_columnar(data, intervals_by_rid=[(0, 105, 110)])
    assert [r[0] for r in _cols_to_rows(cols)] == ["m1"]
    # interval chr1:210-212 overlaps m3 via its deletion-extended span
    cols, _, _ = _scan_columnar(data, intervals_by_rid=[(0, 210, 212)])
    assert [r[0] for r in _cols_to_rows(cols)] == ["m3"]
    # nothing matches -> None
    cols, _, _ = _scan_columnar(data, intervals_by_rid=[(1, 1, 2)])
    assert cols is None
    # start ranges keep records that START in [lo, hi]: m1 (100..109)
    # overlaps chr1:105-300 but starts before it
    cols, _, _ = _scan_columnar(data, start_ranges=[(0, 105, 300)])
    assert [r[0] for r in _cols_to_rows(cols)] == ["m3"]
    cols, _, _ = _scan_columnar(data, start_ranges=[(0, 100, 100), (1, 0, 500)])
    assert [r[0] for r in _cols_to_rows(cols)] == ["m1", "m2"]
    # every predicate given must pass
    cols, _, _ = _scan_columnar(data, intervals_by_rid=[(0, 105, 110)],
                                start_ranges=[(0, 101, 300)])
    assert cols is None
    cols, _, _ = _scan_columnar(data, unmapped_only=True,
                                start_ranges=[(0, -(1 << 31), (1 << 31) - 1)])
    assert cols is None


def test_columnar_projection_subset():
    data = _write_bam_bytes(_edge_rows())
    cols, _, _ = _scan_columnar(data, fields=["qname", "pos", "seq"])
    assert set(cols) == {"qname", "pos", "seq"}
    full = _scan_rows(data)
    assert cols["qname"].to_pylist() == [r[0] for r in full]
    assert cols["pos"].to_pylist() == [r[3] for r in full]
    assert cols["seq"].to_pylist() == [r[9] for r in full]


def test_iter_body_batches_matches_bodies_span():
    """The batched (buffer, starts, lens) walker must produce exactly the
    bodies the per-record walker yields, across batch cuts, span edges and
    records spanning BGZF blocks."""
    rows = []
    for i in range(5000):
        seq = "ACGT" * (5 + i % 50)
        rows.append(
            (f"q{i}", 0, "chr1", i + 1, 60, f"{len(seq)}M", None, 0, 0, seq,
             "I" * len(seq), {"NM": str(i % 3)})
        )
    data = _write_bam_bytes(rows)
    fh = io.BytesIO(data)
    reader = bgzf.BGZFReader(fh)
    _, refs, first_voffset = bam.read_header(reader)
    end = bgzf.make_voffset(len(data), 0)
    expected = [bytes(b) for b in
                bam_vec.iter_bodies_span(io.BytesIO(data), first_voffset, end)]
    got = []
    for buf, starts, lens in bam_vec.iter_body_batches(
        io.BytesIO(data), first_voffset, end, batch_records=700
    ):
        for s, ln in zip(starts.tolist(), lens.tolist()):
            got.append(buf[s : s + ln])
    assert got == expected
    # mid-file split: same ownership rule as the per-record walker
    r = bgzf.BGZFReader(io.BytesIO(data))
    bam.read_header(r)
    for _ in range(1234):
        (bs,) = struct.unpack("<i", r.read(4))
        r.read(bs)
    mid = r.tell_voffset()
    left = [
        buf[s : s + ln]
        for buf, starts, lens in bam_vec.iter_body_batches(
            io.BytesIO(data), first_voffset, mid, batch_records=128
        )
        for s, ln in zip(starts.tolist(), lens.tolist())
    ]
    right = [
        buf[s : s + ln]
        for buf, starts, lens in bam_vec.iter_body_batches(
            io.BytesIO(data), mid, end, batch_records=128
        )
        for s, ln in zip(starts.tolist(), lens.tolist())
    ]
    assert len(left) == 1234
    assert left + right == expected


def test_columnar_non_ascii_qname_fallback():
    # latin-1 high bytes in a name: the from_buffers fast path must detect
    # and fall back rather than emit invalid utf8.
    rows = [("n\xe9", 4, None, 0, 0, None, None, 0, 0, "AC", "II", {})]
    data = _write_bam_bytes(rows)
    cols, _, _ = _scan_columnar(data)
    assert cols["qname"].to_pylist() == ["n\xe9"]


def _tag_lists(bodies) -> list:
    dec = bam_vec.BAMBatchDecoder(REFS, fields=["tags"])
    return dec.decode(bodies)["tags"].to_pylist()


@pytest.mark.parametrize("repeat_tag,non_ascii", [
    (False, False), (True, False), (False, True), (True, True)])
def test_tags_column_matches_row_codec_in_wire_order(repeat_tag, non_ascii):
    """One batch mixing bwa-like NM/MD/AS/XS/RG blocks, tag-less reads,
    numeric-looking and empty Z strings and every A/H/f/B type (plus, per
    case, a repeated tag and a latin-1 Z) decodes to the row codec's map
    entries, compared as ORDERED lists so wire order is pinned too."""
    from tests import textgen

    bodies = textgen.gen_bam_records(600, seed=9, repeat_tag=repeat_tag,
                                     non_ascii=non_ascii)
    want = [list(bam._decode_tags(textgen.bam_aux_block(b)).items())
            for b in bodies]
    assert _tag_lists(bodies) == want
    # the columnar walker decides the batch unless it holds a layout the
    # row codec must resolve (a repeated tag keeps its last value)
    blocks = [textgen.bam_aux_block(b) for b in bodies]
    tb = np.frombuffer(b"".join(blocks), dtype=np.uint8)
    toff = np.concatenate([[0], np.cumsum([len(b) for b in blocks])])
    walked = bam_vec._walk_tags(tb, toff)
    assert (walked is None) == (repeat_tag or non_ascii)
    if repeat_tag:
        assert dict(want[10])["NM"] == "99"


def test_tags_column_numeric_looking_z_prefix():
    """The ``Z:`` prefix rule (formats/sam.py tag_value_repr) on strings at
    the edges of its int, float, prefix and array patterns, including
    Python's ``$`` matching before a trailing newline."""
    from tests.textgen import bam_aux

    zs = ["123", "1.5e3", "i:7", "c,1", "", "12\n", "1.", ".5", "1e5",
          " 5", "1_0", "A:x", "q:x", "f,", "x,1", "-", "+3"]
    blocks = [bam_aux("XZ", "Z", z) + bam_aux("XA", "A", "7")
              + bam_aux("XH", "H", "") for z in zs]
    tb = np.frombuffer(b"".join(blocks), dtype=np.uint8)
    toff = np.concatenate([[0], np.cumsum([len(b) for b in blocks])])
    got = bam_vec._walk_tags(tb, toff).to_pylist()
    assert got == [list(bam._decode_tags(b).items()) for b in blocks]


@pytest.mark.parametrize("bad", [
    b"NMi\x05\x00",            # truncated fixed-width value
    b"XXq\x01",                # unknown wire type
    b"MDZ12A",                 # Z without its NUL
    b"XBBi\x03\x00\x00\x00\x01\x00\x00\x00",  # B array shorter than count
    b"XBBq\x01\x00\x00\x00\x01",              # unknown B subtype
])
def test_tags_column_malformed_raises_row_codec_error(bad):
    from tests import textgen

    bodies = textgen.gen_bam_records(40, seed=3)
    with pytest.raises(ValueError) as row_err:
        bam._decode_tags(bad)
    bodies[17] = bodies[17][:len(bodies[17]) - len(
        textgen.bam_aux_block(bodies[17]))] + bad
    with pytest.raises(ValueError) as col_err:
        _tag_lists(bodies)
    assert str(col_err.value) == str(row_err.value)


def test_cigar_formatted_once_per_distinct_op_sequence(monkeypatch):
    """A 10k-read BAM with 3 CIGAR shapes, decoded by one decoder over
    several batches, formats each distinct op sequence exactly once."""
    from tests import textgen

    shapes = [[(100, "M")], [(40, "M"), (3, "I"), (57, "M")],
              [(4, "S"), (60, "M"), (5, "D"), (36, "M")]]
    bodies = textgen.gen_bam_records(10000, seed=3, cigars=shapes)
    data = textgen.bam_file(bodies)
    formatted = []
    real = bam_vec._format_cigar
    monkeypatch.setattr(bam_vec, "_format_cigar",
                        lambda ops: formatted.append(ops) or real(ops))
    fh = io.BytesIO(data)
    _, refs, first = bam.read_header(bgzf.BGZFReader(fh))
    dec = bam_vec.BAMBatchDecoder(refs, fields=["cigar"])
    got, n_batches = [], 0
    for buf, starts, lens in bam_vec.iter_body_batches(
            fh, first, bgzf.make_voffset(len(data), 0), 2048):
        got += dec.decode_span(buf, starts, lens)["cigar"].to_pylist()
        n_batches += 1
    assert n_batches >= 4
    assert got == [bam.decode_record(b, refs)[5] for b in bodies]
    assert sorted(set(got) - {None}) == ["100M", "40M3I57M", "4S60M5D36M"]
    assert len(formatted) == len(set(formatted)) == 3
    assert len(dec._cigar_text) == 3


def test_cigar_text_cache_is_bounded():
    """More distinct op sequences than the cache holds: the cache stops at
    its bound and every record still gets its own text."""
    n = bam_vec.CIGAR_CACHE_MAX + 3000
    prefix = struct.Struct("<iiBBHHHiiii")
    bodies = [prefix.pack(0, 0, 2, 0, 0, 1, 0, 0, -1, -1, 0) + b"r\x00"
              + struct.pack("<I", k << 4) for k in range(1, n + 1)]
    dec = bam_vec.BAMBatchDecoder(REFS, fields=["cigar"])
    for a in range(0, n, 10000):
        got = dec.decode(bodies[a:a + 10000])["cigar"].to_pylist()
        assert got == [f"{k}M" for k in range(a + 1, min(a + 10000, n) + 1)]
        assert len(dec._cigar_text) <= bam_vec.CIGAR_CACHE_MAX
    assert len(dec._cigar_text) == bam_vec.CIGAR_CACHE_MAX
