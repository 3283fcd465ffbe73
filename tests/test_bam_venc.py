"""Vectorized BAM encode (formats/bam_venc.py): byte-parity with the scalar
codec, BGZF analytic voffset recovery, and sink-level index equivalence."""

import io

import numpy as np
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_bam_spark.formats import bam, bgzf
from hadoop_bam_spark.formats.bam_vec import BAMBatchDecoder
from hadoop_bam_spark.formats.bam_venc import BAMBatchEncoder, reg2bin_vec

REFS = [("chr1", 100000), ("chr2", 50000)]
REF_INDEX = {n: i for i, (n, _) in enumerate(REFS)}

EDGE_ROWS = [
    ("r1", 0, "chr1", 10, 30, "4M", None, 0, 0, "ACGT", "IIII", {"NM": "i:1"}),
    ("r2", 4, None, 0, 0, None, None, 0, 0, "ACG", None, {}),
    ("r3", 16, "chr2", 99, 60, "2M1I2D3M", "chr1", 5, -42, "ACGTACGT",
     "!!!!!!~~", {"MD": "Z:abc", "AS": "i:-7", "XX": "f:1.5"}),
    ("r4", 0, "chr1", 1, 255, "1S2M", "chr2", 1, 0, "NNT", "III",
     {"BB": "B:c,1,-2,3"}),
    ("r5", 0, "chr1", 20000, 30, "100M", None, 0, 0, None, None,
     {"ZZ": "Z:hello world"}),
    ("r6", 0, "chr2", 49999, 30, "5H", None, 0, 0, "acgtn", "IIIII", {}),
    ("r7", 0, "chr1", 16385, 30, "20000M", None, 0, 0, "AC", "II", {}),
]


def rows_to_batch(rows):
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [
            pa.array(cols[0]), pa.array(cols[1], pa.int32()),
            pa.array(cols[2]), pa.array(cols[3], pa.int32()),
            pa.array(cols[4], pa.int32()), pa.array(cols[5]),
            pa.array(cols[6]), pa.array(cols[7], pa.int32()),
            pa.array(cols[8], pa.int32()), pa.array(cols[9]),
            pa.array(cols[10]),
            pa.array([list(t.keys()) for t in cols[11]],
                     pa.list_(pa.string())),
            pa.array([list(t.values()) for t in cols[11]],
                     pa.list_(pa.string())),
        ],
        names=["qname", "flag", "rname", "pos", "mapq", "cigar", "rnext",
               "pnext", "tlen", "seq", "qual", "tag_keys", "tag_vals"],
    )


def test_edge_rows_byte_parity():
    exp = b"".join(bam.encode_record(tuple(r), REF_INDEX) for r in EDGE_ROWS)
    blob, lens, _ = BAMBatchEncoder(REFS).encode_batch(rows_to_batch(EDGE_ROWS))
    assert blob == exp
    assert int(lens.sum()) == len(exp)


def test_sliced_batch_parity():
    """Arrow slices carry a nonzero offset — the buffer math must respect it."""
    batch = rows_to_batch(EDGE_ROWS)
    enc = BAMBatchEncoder(REFS)
    whole = enc.encode_batch(batch)[0]
    sliced = b"".join(
        enc.encode_batch(batch.slice(i, 2))[0] for i in range(0, 7, 2)
    )
    assert sliced == whole


def test_tag_split_keeps_null_maps_and_slices():
    """The sinks split the ``tags`` map column into tag_keys/tag_vals over
    the map's own buffers: a null map stays null, a sliced batch keeps its
    offsets, and the BAM and CRAM encoders give the bytes of the scalar
    encoders on every slice."""
    from hadoop_bam_spark.formats import cram
    from hadoop_bam_spark.formats.cram_venc import CRAMColumnEncoder
    from hadoop_bam_spark.sinks import _batch_rows, _with_tag_lists

    rows = [
        ("a1", 0, "chr1", 10, 30, "4M", None, 0, 0, "ACGT", "IIII",
         {"NM": "i:1"}),
        ("a2", 4, None, 0, 0, None, None, 0, 0, "ACG", "III", None),
        ("a3", 16, "chr2", 99, 60, "2M1I2D5M", "chr1", 5, -42, "ACGTACGT",
         "!!!!!!~~", {"MD": "Z:abc", "AS": "i:-7"}),
        ("a4", 0, "chr1", 100, 255, "1S2M", "chr2", 1, 0, "NNT", "III",
         {"XX": "Z:x y"}),
        ("a5", 0, "chr1", 200, 30, "3M", None, 0, 0, "ACG", "III", None),
        ("a6", 0, "chr2", 400, 30, "5M", None, 0, 0, "ACGTN", "IIIII", {}),
    ]
    split = rows_to_batch([r[:11] + (r[11] or {},) for r in rows])
    batch = pa.RecordBatch.from_arrays(
        split.columns[:11] + [pa.array(
            [None if r[11] is None else list(r[11].items()) for r in rows],
            pa.map_(pa.string(), pa.string()),
        )],
        names=split.schema.names[:11] + ["tags"],
    )
    enc = BAMBatchEncoder(REFS)
    cenc = CRAMColumnEncoder(REF_INDEX)
    for lo, n in [(0, 6), (1, 3), (2, 4), (4, 2), (5, 1), (3, 0)]:
        part = batch.slice(lo, n)
        got = _with_tag_lists(part)
        want = rows[lo:lo + n]
        assert got.column("tag_keys").to_pylist() == [
            None if r[11] is None else list(r[11]) for r in want]
        assert got.column("tag_vals").to_pylist() == [
            None if r[11] is None else list(r[11].values()) for r in want]
        assert list(_batch_rows(part)) == want
        assert enc.encode_batch(got)[0] == b"".join(
            bam.encode_record(r, REF_INDEX) for r in want)
        if n:
            table = pa.Table.from_batches([part])
            assert cenc.encode_container(_with_tag_lists(table), 0) == (
                cram.encode_container(want, REF_INDEX, 0))


def _check_stats_arrays(stats, rows):
    """The encoder's (ref id, pos0, end0, mapped) arrays against each row's
    own: -1 for no reference, and end0 one CIGAR reference length past
    pos0 (one base when unmapped). Unplaced rows must be unplaced in the
    arrays too; their other values are not index input."""
    rid, pos0, end0, mapped = stats
    for i, row in enumerate(rows):
        want_rid = REF_INDEX.get(row[2], -1) if row[2] else -1
        placed = want_rid >= 0 and row[3] >= 1
        assert (rid[i] >= 0 and pos0[i] >= 0) == placed, row
        if placed:
            m = not row[1] & 0x4
            ln = bam.cigar_ref_length(row[5]) if m else 1
            assert (rid[i], pos0[i], end0[i], bool(mapped[i])) == (
                want_rid, row[3] - 1, row[3] - 1 + ln, m), row


def test_stats_arrays_match_per_row_derivation():
    _, _, stats = BAMBatchEncoder(REFS).encode_batch(rows_to_batch(EDGE_ROWS))
    _check_stats_arrays(stats, EDGE_ROWS)


def test_reg2bin_vec_matches_scalar():
    rng = np.random.default_rng(7)
    beg = rng.integers(0, 1 << 28, 500)
    ln = rng.integers(1, 1 << 20, 500)
    end = beg + ln
    vec = reg2bin_vec(beg.astype(np.int64), end.astype(np.int64), 14, 5)
    for b, e, v in zip(beg.tolist(), end.tolist(), vec.tolist()):
        assert bam.reg2bin(b, e) == v


def test_qual_validation_raises():
    rows = [("q", 0, "chr1", 1, 30, "4M", None, 0, 0, "ACGT", "II\x1fI", {})]
    with pytest.raises(ValueError, match="qual"):
        BAMBatchEncoder(REFS).encode_batch(rows_to_batch(rows))
    rows = [("q", 0, "chr1", 1, 30, "4M", None, 0, 0, "ACGT", "III", {})]
    with pytest.raises(ValueError, match="length"):
        BAMBatchEncoder(REFS).encode_batch(rows_to_batch(rows))


def test_scalar_encode_rejects_qual_length_mismatch():
    """A qual shorter or longer than seq, or present with no seq, would
    write a record whose tags start inside the qual bytes."""
    for seq, qual in (("ACGT", "III"), ("ACG", "IIII"), (None, "III")):
        row = ("q", 0, "chr1", 1, 30, "4M", None, 0, 0, seq, qual,
               {"NM": "i:1"})
        with pytest.raises(ValueError, match="qual length"):
            bam.encode_record(row, REF_INDEX)


def test_scalar_fallback_batch_rejects_qual_length_mismatch():
    """A batch the vectorized encoder hands to the scalar fallback (a CIGAR
    over 65,535 ops) raises for a short qual, as the vectorized path does."""
    short = ("q", 0, "chr1", 1, 30, "4M", None, 0, 0, "ACGT", "III", {})
    with pytest.raises(ValueError, match="qual length"):
        BAMBatchEncoder(REFS).encode_batch(
            rows_to_batch([_long_cigar_row(), short]))


def test_voffset_of_u_matches_tell():
    """Analytic voffset recovery == what tell_voffset said at write time,
    across block boundaries (multi-block payload)."""
    payload = bytes(range(256)) * 40  # 10240 bytes per write
    buf = io.BytesIO()
    w = bgzf.BGZFWriter(buf, write_terminator=False)
    tells = []
    us = []
    for i in range(30):  # 307200 bytes > 4 blocks
        tells.append(w.tell_voffset())
        us.append(w.u_total)
        w.write(payload)
    # before close: all positions (flushed + buffered tail) must agree
    for u, t in zip(us, tells):
        assert w.voffset_of_u(u) == t
    w.close()
    for u, t in zip(us, tells):
        assert w.voffset_of_u(u) == t
    # the recovered voffsets must parse back through a reader
    data = buf.getvalue() + bgzf.BGZF_EOF
    r = bgzf.BGZFReader(io.BytesIO(data))
    r.seek_voffset(w.voffset_of_u(us[17]))
    assert r.read(4) == payload[:4]


# --- vectorized codec against the scalar codec -----------------------------

#: every IUPAC code in both cases, '=', and bases the codec maps to N
_BASES = bam.SEQ_CODE + bam.SEQ_CODE.lower() + "XUZ.*-?j"
_QUALS = "".join(map(chr, range(33, 127)))
_TAGS = st.dictionaries(
    st.sampled_from(["NM", "MD", "AS", "XZ", "RG", "XB"]),
    st.sampled_from(["i:1", "i:-7", "Z:abc", "Z:", "A:Q", "f:1.5",
                     "B:c,1,-2", "B:I,7", "H:1AFF", "7", "hello", "1.5"]),
    max_size=4)
_CIGARS = st.one_of(
    st.none(), st.just(""),
    st.lists(st.tuples(st.integers(0, 300), st.sampled_from(bam.CIGAR_OPS)),
             min_size=1, max_size=6).map(
        lambda ops: "".join(f"{c}{op}" for c, op in ops)))


@st.composite
def _sam_row(draw):
    """One SAM row: odd, even, empty and null seq; a qual that is null,
    empty or as long as seq; 0-op and multi-op cigars; tags."""
    seq = draw(st.one_of(st.none(), st.text(_BASES, max_size=17)))
    qual = draw(st.one_of(
        st.none(), st.just(""),
        st.text(_QUALS, min_size=len(seq or ""), max_size=len(seq or ""))))
    return (
        draw(st.text("abcXYZ:0123456789_", min_size=1, max_size=12)),
        draw(st.integers(0, 0xFFFF)),
        draw(st.sampled_from([None, "chr1", "chr2", "chrUn"])),
        draw(st.integers(0, 100000)),
        draw(st.integers(0, 255)),
        draw(_CIGARS),
        draw(st.sampled_from([None, "chr1", "chr2"])),
        draw(st.integers(0, 50000)),
        draw(st.integers(-(2**31), 2**31 - 1)),
        seq, qual, draw(_TAGS),
    )


def _check_codec(enc, dec, rows):
    """``enc`` gives the bytes of ``bam.encode_record`` and ``dec`` the rows
    of ``bam.decode_record`` on them."""
    records = [bam.encode_record(tuple(r), REF_INDEX) for r in rows]
    blob, lens, _ = enc.encode_batch(rows_to_batch(rows))
    assert blob == b"".join(records)
    assert lens.tolist() == [len(r) for r in records]
    cols = dec.decode([r[4:] for r in records])
    got = {k: cols[k].to_pylist() for k in cols}
    got["tags"] = [dict(t) for t in got["tags"]]
    want = [bam.decode_record(r[4:], REFS) for r in records]
    for j, name in enumerate(dec.fields):
        assert got[name] == [w[j] for w in want], name


@settings(max_examples=60, deadline=None)
@given(st.lists(st.lists(_sam_row(), min_size=1, max_size=12),
                min_size=2, max_size=4))
def test_vectorized_codec_matches_scalar(batches):
    """Every batch through one encoder and one decoder, so their per-instance
    caches (cigar and tag encodings, cigar texts) carry across batches."""
    enc, dec = BAMBatchEncoder(REFS), BAMBatchDecoder(REFS)
    for rows in batches:
        _check_codec(enc, dec, rows)


def test_vectorized_codec_all_null_cigars():
    rows = [(f"u{i}", 4, None, 0, 0, None, None, 0, 0, "ACGTA"[:i], None, {})
            for i in range(5)]
    enc, dec = BAMBatchEncoder(REFS), BAMBatchDecoder(REFS)
    _check_codec(enc, dec, rows)
    _check_codec(enc, dec, [r[:5] + ("",) + r[6:] for r in rows])
    assert dec._cigar_text == {}


# --- long-CIGAR CG-tag convention (SAM spec 4.2.2, r8) ----------------------

def _long_cigar_row(n_pairs=35000, qname="ont1"):
    cigar = "1M1I" * n_pairs  # 2*n_pairs ops > 65535
    qlen = 2 * n_pairs
    return (qname, 0, "chr1", 100, 60, cigar, None, 0, 0,
            "A" * qlen, "I" * qlen, {"NM": "5"})


def test_long_cigar_scalar_roundtrip():
    """>65535 cigar ops: encode writes the `<l_seq>S<x>N` sentinel with a
    CG:B,I tag; decode reconstitutes the real cigar and drops CG."""
    row = _long_cigar_row()
    blob = bam.encode_record(row, REF_INDEX)[4:]
    assert bam.decode_record(blob, REFS) == row
    # projection: cigar without tags still reconstitutes
    got = bam.decode_record(blob, REFS, wanted=frozenset({"cigar"}))
    assert got[5] == row[5]
    # a REAL 2-op `S..N` cigar without a CG tag is untouched
    short = ("s", 0, "chr1", 5, 60, "4S6N", None, 0, 0, "ACGT", "IIII", {})
    back = bam.decode_record(bam.encode_record(short, REF_INDEX)[4:], REFS)
    assert back[5] == "4S6N" and back[11] == {}


def test_long_cigar_tags_only_projection_strips_cg():
    """Projection must be a pure column subset of the full decode: a
    tags-only read of a CG-sentinel record returns the same tag map as a
    full decode (CG stripped), on BOTH the scalar and vectorized paths
    (r8 ADVICE: the two paths diverged here)."""
    from hadoop_bam_spark.formats.bam_vec import BAMBatchDecoder

    row = _long_cigar_row()
    blob = bam.encode_record(row, REF_INDEX)[4:]
    # scalar, tags without cigar
    got = bam.decode_record(blob, REFS, wanted=frozenset({"tags"}))
    assert got[11] == {"NM": "5"}
    # vectorized, tags-only projection
    cols = BAMBatchDecoder(REFS, fields=["qname", "tags"]).decode([blob])
    assert cols["tags"].to_pylist()[0] in (
        {"NM": "5"}, [("NM", "5")]
    ) or dict(cols["tags"].to_pylist()[0]) == {"NM": "5"}
    # a REAL 2-op sentinel-shaped cigar with NO CG tag keeps its tags as-is
    short = ("s", 0, "chr1", 5, 60, "4S6N", None, 0, 0, "ACGT", "IIII",
             {"NM": "2"})
    sblob = bam.encode_record(short, REF_INDEX)[4:]
    assert bam.decode_record(sblob, REFS, wanted=frozenset({"tags"}))[11] == \
        {"NM": "2"}


def test_long_cigar_encode_drops_stale_user_cg():
    """A long-cigar row whose tags already carry a (stale) CG key must not
    emit two CG tags: the sentinel path's generated CG block is
    authoritative (r8 ADVICE)."""
    qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq, qual, _ = \
        _long_cigar_row()
    stale = (qname, flag, rname, pos, mapq, cigar, rnext, pnext, tlen, seq,
             qual, {"NM": "5", "CG": "B:I,160,32"})
    blob = bam.encode_record(stale, REF_INDEX)[4:]
    # exactly one CG tag on the wire (raw bytes — a dict decode would
    # collapse duplicates and hide the bug)
    tags_blob = bytes(blob[32 + len(qname) + 1 + 8 +
                           (len(seq) + 1) // 2 + len(seq):])
    assert tags_blob.count(b"CG") == 1
    # and the decode reconstitutes the REAL cigar, not the stale one
    back = bam.decode_record(blob, REFS)
    assert back[5] == cigar and back[11] == {"NM": "5"}
    # short-cigar rows keep a user CG verbatim (no sentinel, no stripping)
    plain = ("p", 0, "chr1", 5, 60, "4M", None, 0, 0, "ACGT", "IIII",
             {"CG": "B:I,64"})
    pback = bam.decode_record(bam.encode_record(plain, REF_INDEX)[4:], REFS)
    assert pback[11] == {"CG": "B:I,64"}


def test_long_cigar_batch_fallback_byte_parity():
    """The vectorized encoder rejects the batch (uint16 n_cigar_op) and
    the internal scalar fallback must produce byte-identical records."""
    rows = EDGE_ROWS + [_long_cigar_row()]
    vec_blob, lens, (rid, pos0, end0, mapped) = BAMBatchEncoder(
        REFS
    ).encode_batch(rows_to_batch(rows))
    scalar = b"".join(bam.encode_record(r, REF_INDEX) for r in rows)
    assert bytes(vec_blob) == scalar
    assert int(lens.sum()) == len(scalar)
    # stats arrays still match the per-row derivation (same check as
    # test_stats_arrays_match_per_row_derivation, over the fallback's arrays)
    _check_stats_arrays((rid, pos0, end0, mapped), rows)


def test_long_cigar_spark_roundtrip(spark, tmp_path):
    """write_bam (vectorized path with internal fallback) -> Spark read
    (bam_vec columnar decode with CG reconstitution) round-trips an
    ultralong read alongside normal ones."""
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000",
                 "@SQ\tSN:chr2\tLN:50000"]
    hdr.sequences = {"chr1": (0, 100000), "chr2": (1, 50000)}
    long_row = _long_cigar_row(n_pairs=33000)
    rows = [
        (f"n{i}", 0, "chr1", 1 + i, 60, "8M", None, 0, 0,
         "ACGTACGT", "IIIIIIII", {"NM": str(i % 3)})
        for i in range(200)
    ] + [long_row]
    df = spark.createDataFrame(rows, SAM_SCHEMA).coalesce(1)
    path = str(tmp_path / "long.bam")
    sinks.write_bam(df, path, hdr)
    back = spark.read.format("bam").load(path)
    got = {r.qname: (r.cigar, dict(r.tags)) for r in back.collect()}
    assert len(got) == 201
    assert got["ont1"] == (long_row[5], {"NM": "5"})
    assert got["n7"] == ("8M", {"NM": "1"})
