"""CRAM codec + source/sink tests.

Parity targets: the reference's TestCRAMInputFormat (record count + split
alignment on container boundaries against src/test/resources/test.cram with
auxf.fa) and TestCRAMOutputFormat (write -> read-back round trip).
"""

import io
import os

import pytest

from hadoop_bam_spark.formats import cram

from tests import writers

REF_CRAM = "/root/reference/src/test/resources/test.cram"
REF_FASTA = "/root/reference/src/test/resources/auxf.fa"

has_ref_fixtures = os.path.exists(REF_CRAM) and os.path.exists(REF_FASTA)


# ---------------------------------------------------------------------------
# varints
# ---------------------------------------------------------------------------

def test_itf8_ltf8_roundtrip():
    for v in [0, 1, 127, 128, 16383, 16384, 1 << 20, 1 << 27, (1 << 28) - 1,
              0x7FFFFFFF, 0xFFFFFFFF]:
        enc = cram.write_itf8(v)
        dec, p = cram.read_itf8(enc, 0)
        assert (dec, p) == (v & 0xFFFFFFFF, len(enc))
    for v in [0, 127, 128, 1 << 14, 1 << 30, 1 << 40, (1 << 62)]:
        enc = cram.write_ltf8(v)
        dec, p = cram.read_ltf8(enc, 0)
        assert (dec, p) == (v, len(enc))


def test_rans_truncation_raises():
    with pytest.raises(ValueError):
        cram.rans_decode(b"", 10)
    # valid-looking header but empty stream body
    with pytest.raises(ValueError):
        cram.rans_decode(bytes([0]) + (100).to_bytes(4, "little")
                         + (50).to_bytes(4, "little") + b"\x01", 50)


# ---------------------------------------------------------------------------
# reference file decode (cramtools-written v2.1, reference-compressed)
# ---------------------------------------------------------------------------

@pytest.mark.skipif(not has_ref_fixtures, reason="reference fixtures absent")
def test_decode_reference_test_cram():
    rows = list(cram.decode_file(REF_CRAM, reference=REF_FASTA))
    # TestCRAMInputFormat.testReader: record count parity (2 records)
    assert len(rows) == 2
    fred, jim = rows
    assert fred[0] == "Fred" and jim[0] == "Jim"
    assert fred[1] == 16 and jim[1] == 16
    assert (fred[2], fred[3], fred[5]) == ("Sheila", 1, "10M")
    assert (jim[2], jim[3], jim[5]) == ("Sheila", 11, "10M")
    # sequences reconstructed from auxf.fa via the substitution-free path
    assert fred[9] == "GCTAGCTCAG"
    assert jim[9] == "AAAAAAAAAA"
    # read group resolved from the header @RG line
    assert fred[11]["RG"] == "ID" and jim[11]["RG"] == "ID"
    # typed tags survive with wire types (spot checks across types)
    assert fred[11]["I2"] == "127" and fred[11]["iB"] == "-2147483648"
    assert fred[11]["A!"] == "A:!" and fred[11]["Z0"] == "space space"
    assert jim[11]["BI"] == "i,0,2147483647,-2147483648,-1"


@pytest.mark.skipif(not has_ref_fixtures, reason="reference fixtures absent")
def test_container_boundaries_match_reference_expectations():
    # TestCRAMInputFormat.checkSplits: containers at 1069 and 3403 (EOF),
    # so any split planning aligns to [1069, 3403).
    offsets = [off for off, _ in cram.iter_container_offsets(REF_CRAM)]
    assert offsets == [1069]
    with open(REF_CRAM, "rb") as fh:
        data = fh.read()
    assert len(data) == 3433
    # the EOF container occupies [3403, 3433)
    hdr = cram.ContainerHeader.parse(data, 3403, 2)
    assert hdr.ref_seq_id == -1 and hdr.n_records == 0


@pytest.mark.skipif(not os.path.exists(REF_FASTA), reason="fixture absent")
def test_fasta_ref_windows():
    ref = cram.FastaRef(REF_FASTA)
    assert ref.window("Sheila", 1, 10) == b"GCTAGCTCAG"
    assert ref.window("Sheila", 11, 20) == b"AAAAAAAAAA"
    assert ref.window("Sheila", 19, 25) == b"AA"  # clamped to contig end


# ---------------------------------------------------------------------------
# writer round trip (codec level)
# ---------------------------------------------------------------------------

ROWS = [
    ("r1", 0, "chr1", 10, 60, "5M2I3M", None, 0, 0, "ACGTTTTACG", "IIIIIIIIII",
     {"NM": "1", "XX": "f:1"}),
    ("r2", 16, "chr1", 30, 42, "4S6M", "chr2", 99, -55, "GGGGACGTAC",
     "ABCDEFGHIJ", {"ZZ": "hello"}),
    ("r3", 4, "chr1", 50, 0, None, None, 0, 0, "ACGTN", "IIIII", {}),
    ("r4", 77, None, 0, 0, None, None, 0, 0, None, None, {"BC": "c,1,-2"}),
    ("r5", 0, "chr2", 7, 1, "3M2D4M1H", None, 0, 0, "ACGTTTT", None, {}),
    ("r6", 0, "chr2", 100, 9, "10M", None, 0, 0, None, None, {}),
    ("r7", 0, "chr2", 200, 30, "2M100N3M2P5M", None, 0, 0, "ACGTTACGTA", None, {}),
]

REFS = [("chr1", 1000), ("chr2", 2000)]
HEADER = "@HD\tVN:1.6\n@SQ\tSN:chr1\tLN:1000\n@SQ\tSN:chr2\tLN:2000\n"


def _write_rows(rows, per_container=3):
    buf = io.BytesIO()
    w = writers.CRAMWriter(buf, REFS, header_text=HEADER,
                        records_per_container=per_container)
    for r in rows:
        w.write(r)
    w.close()
    return buf.getvalue()


def test_writer_roundtrip(tmp_path):
    p = str(tmp_path / "t.cram")
    with open(p, "wb") as f:
        f.write(_write_rows(ROWS))
    assert list(cram.decode_file(p)) == ROWS


def test_writer_multi_container_boundaries(tmp_path):
    p = str(tmp_path / "t.cram")
    with open(p, "wb") as f:
        f.write(_write_rows(ROWS, per_container=2))
    offsets = [off for off, _ in cram.iter_container_offsets(p)]
    assert len(offsets) == 4  # ceil(7/2) containers
    assert list(cram.decode_file(p)) == ROWS


def test_writer_header_text_roundtrip(tmp_path):
    p = str(tmp_path / "t.cram")
    with open(p, "wb") as f:
        f.write(_write_rows(ROWS))
    major, text, refs, _rgs, _pos = cram.read_cram_file_header(p)
    assert major == 3
    assert text == HEADER
    assert refs == REFS


def test_cigar_query_length():
    assert cram.cigar_query_length("5M2I3M") == 10
    assert cram.cigar_query_length("4S6M1H") == 10
    assert cram.cigar_query_length("3M2D4M") == 7
    assert cram.cigar_query_length(None) == 0


def test_writer_rejects_cigar_seq_mismatch():
    buf = io.BytesIO()
    w = writers.CRAMWriter(buf, REFS, header_text=HEADER)
    with pytest.raises(ValueError):
        w.write(("bad", 0, "chr1", 1, 0, "5M", None, 0, 0, "ACG", None, {}))
        w.close()


# ---------------------------------------------------------------------------
# Spark source/sink round trip
# ---------------------------------------------------------------------------

def test_spark_cram_roundtrip(spark, tmp_path):
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:1000", "@SQ\tSN:chr2\tLN:2000"]
    hdr.sequences = {"chr1": (0, 1000), "chr2": (1, 2000)}
    df = spark.createDataFrame(ROWS, SAM_SCHEMA).repartition(3)
    path = str(tmp_path / "reads.cram")
    sinks.write_cram(df, path, hdr, records_per_container=2)
    back = spark.read.format("cram").option("split_size", "64").load(path)
    assert back.rdd.getNumPartitions() > 1  # container-aligned multi-split
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(ROWS)


@pytest.mark.skipif(not has_ref_fixtures, reason="reference fixtures absent")
def test_spark_reads_reference_cram(spark):
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    back = (
        spark.read.format("cram")
        .option("reference", REF_FASTA)
        .load(REF_CRAM)
    )
    rows = sorted((r.qname, r.pos, r.seq) for r in back.collect())
    assert rows == [("Fred", 1, "GCTAGCTCAG"), ("Jim", 11, "AAAAAAAAAA")]


# ---------------------------------------------------------------------------
# Reference-based write (RR=true)
# ---------------------------------------------------------------------------

def _mk_fasta(tmp_path):
    """Deterministic 2-contig FASTA with a .fai."""
    import hashlib

    def bases(seed, n):
        out = []
        i = 0
        while len(out) < n:
            h = hashlib.md5(f"{seed}:{i}".encode()).hexdigest()
            out.extend("ACGT"[int(c, 16) % 4] for c in h)
            i += 1
        return "".join(out[:n])

    p = tmp_path / "ref.fa"
    c1, c2 = bases("chr1", 1000), bases("chr2", 2000)
    with open(p, "w") as f:
        for name, seq in (("chr1", c1), ("chr2", c2)):
            f.write(f">{name}\n")
            for i in range(0, len(seq), 60):
                f.write(seq[i : i + 60] + "\n")
    return str(p), {"chr1": c1, "chr2": c2}


def _ref_rows(contigs):
    """Rows whose seqs mostly MATCH the reference (plus edits)."""
    c1, c2 = contigs["chr1"], contigs["chr2"]

    def w(contig, start, n):
        return contigs[contig][start - 1 : start - 1 + n]

    rows = [
        # perfect match
        ("m1", 0, "chr1", 11, 60, "20M", None, 0, 0, w("chr1", 11, 20),
         "I" * 20, {}),
        # one substitution mid-read
        ("m2", 0, "chr1", 101, 60, "20M", None, 0, 0,
         w("chr1", 101, 9) + ("A" if w("chr1", 110, 1) != "A" else "C")
         + w("chr1", 111, 10), "J" * 20, {"NM": "1"}),
        # insertion + deletion + soft clip
        ("m3", 0, "chr2", 51, 50, "5M2I5M3D5M4S", None, 0, 0,
         w("chr2", 51, 5) + "TT" + w("chr2", 56, 5) + w("chr2", 64, 5) + "GGGG",
         None, {}),
        # unmapped record keeps verbatim bases
        ("u1", 4, None, 0, 0, None, None, 0, 0, "ACGTNACGT", "IIIIIIIII", {}),
        # mapped with N in the read over a real ref base (substitutable)
        ("m4", 16, "chr2", 301, 30, "10M", None, 0, 0,
         w("chr2", 301, 4) + "N" + w("chr2", 306, 5), None, {}),
    ]
    return rows


def test_reference_write_roundtrip_and_shrinks(tmp_path):
    fasta, contigs = _mk_fasta(tmp_path)
    rows = _ref_rows(contigs)

    def write(ref):
        buf = io.BytesIO()
        w = writers.CRAMWriter(
            buf, REFS, header_text=HEADER, records_per_container=3,
            ref_fasta=cram.FastaRef(fasta) if ref else None,
        )
        for r in rows:
            w.write(r)
        w.close()
        return buf.getvalue()

    verbatim = write(ref=False)
    refbased = write(ref=True)
    p = str(tmp_path / "rr.cram")
    with open(p, "wb") as f:
        f.write(refbased)
    # decoding WITHOUT the reference must refuse (RR=true)
    with pytest.raises(ValueError, match="requires a reference"):
        list(cram.decode_file(p))
    assert list(cram.decode_file(p, reference=fasta)) == rows
    # matching bases are implicit -> the encoded bases shrink. Compare the
    # uncompressed BB/BA payload proxy: total file size after identical
    # framing should not grow, and typically shrinks.
    assert len(refbased) <= len(verbatim)


def test_reference_write_mismatch_only_storage(tmp_path):
    """A fully-matching read stores ZERO feature bytes (FN=0)."""
    fasta, contigs = _mk_fasta(tmp_path)
    seq = contigs["chr1"][:30]
    rows = [("p", 0, "chr1", 1, 60, "30M", None, 0, 0, seq, None, {})]
    body = cram.encode_container(
        rows, {"chr1": 0, "chr2": 1}, 0,
        ref_fasta=cram.FastaRef(fasta), ref_names=["chr1", "chr2"],
    )
    # decode back through the container decoder
    from hadoop_bam_spark.formats.cram import ContainerDecoder, ContainerHeader

    hdr = ContainerHeader.parse(body, 0, 3)
    dec = ContainerDecoder(3, REFS, ref_fasta=cram.FastaRef(fasta))
    got = dec.decode(body[hdr.header_size : hdr.header_size + hdr.length], hdr)
    assert got == rows


def test_spark_reference_cram_roundtrip(spark, tmp_path):
    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    fasta, contigs = _mk_fasta(tmp_path)
    rows = _ref_rows(contigs)
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:1000", "@SQ\tSN:chr2\tLN:2000"]
    hdr.sequences = {"chr1": (0, 1000), "chr2": (1, 2000)}
    df = spark.createDataFrame(rows, SAM_SCHEMA).repartition(2)
    path = str(tmp_path / "rr.cram")
    sinks.write_cram(df, path, hdr, records_per_container=2, reference=fasta)
    back = (
        spark.read.format("cram")
        .option("split_size", "64")
        .option("reference", fasta)
        .load(path)
    )
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(rows)


def test_density_aware_split_sizing(spark, tmp_path):
    """A dense CRAM (many records, few compressed bytes) must plan
    MULTI-split under default options: byte-based sizing alone would put
    2M records on one core (r5 VERDICT item 3; FORMAT_BENCH.md measured
    12.2 s single-split vs 1.7 s for BAM at the same record count). The
    planner probes record density and adds records_per_split boundaries.
    Counts must stay exact across the finer plan."""
    from pyspark.sql import functions as F

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all
    from hadoop_bam_spark.sources.cram_source import CRAMReader

    register_all(spark)
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:100000000"]
    hdr.sequences = {"chr1": (0, 100000000)}
    n = 30_000
    df = spark.range(n).selectExpr(
        "concat('r', id) AS qname",
        "0 AS flag",
        "'chr1' AS rname",
        "CAST(id + 1 AS INT) AS pos",
        "60 AS mapq",
        "'4M' AS cigar",
        "CAST(NULL AS STRING) AS rnext",
        "0 AS pnext",
        "0 AS tlen",
        "'ACGT' AS seq",
        "'IIII' AS qual",
        "map() AS tags",
    ).select(
        *[
            F.col(c).cast(SAM_SCHEMA[c].dataType).alias(c)
            for c in SAM_SCHEMA.fieldNames()
        ]
    )
    path = str(tmp_path / "dense.cram")
    sinks.write_cram(df, path, hdr, index_crai=True)
    # highly compressible 30k-record file: well under 32 MiB, so the byte
    # plan is ONE split; a 10k record budget must produce >= 3
    r = CRAMReader({"path": path, "records_per_split": "10000"})
    parts = [p for p in r.partitions() if p.path]
    assert len(parts) >= 3, [(p.start, p.end) for p in parts]
    back = (
        spark.read.format("cram")
        .option("records_per_split", "10000")
        .load(path)
    )
    assert back.rdd.getNumPartitions() >= 3
    assert back.count() == n
    assert back.select("qname").distinct().count() == n
    # a SPARSE plan request (huge record budget) keeps the old byte logic
    r2 = CRAMReader({"path": path, "records_per_split": "100000000"})
    assert len([p for p in r2.partitions() if p.path]) == 1


# ---------------------------------------------------------------------------
# 'q' / QQ quality-stretch feature (spec section 10.5 alternate qual layout)
# ---------------------------------------------------------------------------

def _decode_body(body, ref_fasta_path=None):
    hdr = cram.ContainerHeader.parse(body, 0, 3)
    dec = cram.ContainerDecoder(
        3, REFS, ref_fasta=cram.FastaRef(ref_fasta_path) if ref_fasta_path else None
    )
    return dec.decode(body[hdr.header_size : hdr.header_size + hdr.length], hdr)


def test_qq_quality_feature_roundtrip(tmp_path):
    """qual_mode='qq' stores mapped quals as one whole-read 'q' feature
    (QQ stretch) instead of a stored QS array; the decoder must scatter
    it back byte-for-byte. Covers: a phred-0 ('!') qual that a stop-byte
    codec would truncate at (QQ is length-prefixed for exactly this
    reason), mismatch/insert features AFTER the q feature (FP delta
    ordering), and an unmapped record which keeps QS storage (features
    are mapped-only)."""
    rows = [
        # phred 0 at both ends
        ("r0", 0, "chr1", 5, 60, "8M", None, 0, 0, "ACGTACGT", "!IJ!ABC!", {}),
        # mismatches + insertion after the leading q feature
        ("r1", 16, "chr2", 10, 30, "4M2I4M", None, 0, 0,
         "AAAACCGGGG", "IIIIHHGGGG", {}),
        # soft clip + deletion
        ("r2", 0, "chr1", 50, 20, "2S5M3D3M", None, 0, 0,
         "TTACGTAGCA", "##FFFFFFFF", {}),
        # unmapped: QS-stored path must be untouched by qual_mode
        ("u0", 4, None, 0, 0, None, None, 0, 0, "GGCC", "!!!!", {}),
        # mapped, no qual at all
        ("r3", 0, "chr2", 99, 10, "4M", None, 0, 0, "ACAC", None, {}),
    ]
    ref_index = {"chr1": 0, "chr2": 1}
    body = cram.encode_container(
        rows, ref_index, 0, ref_names=["chr1", "chr2"], qual_mode="qq"
    )
    assert _decode_body(body) == rows
    plain = cram.encode_container(rows, ref_index, 0, ref_names=["chr1", "chr2"])
    assert _decode_body(plain) == rows
    assert body != plain


def test_qq_reference_based_roundtrip(tmp_path):
    """qual_mode='qq' composed with reference-based (RR=true) encode:
    the q feature must coexist with substitution features."""
    fasta, contigs = _mk_fasta(tmp_path)
    seq = contigs["chr1"][9:39]
    edited = seq[:10] + ("A" if seq[10] != "A" else "C") + seq[11:]
    qual = "".join(chr(33 + (i % 40)) for i in range(30))
    rows = [("p", 0, "chr1", 10, 60, "30M", None, 0, 0, edited, qual, {})]
    body = cram.encode_container(
        rows, {"chr1": 0, "chr2": 1}, 0,
        ref_fasta=cram.FastaRef(fasta), ref_names=["chr1", "chr2"],
        qual_mode="qq",
    )
    assert _decode_body(body, ref_fasta_path=fasta) == rows


def test_qq_vec_decoder_covers_qq():
    """r6: the columnar decoder covers 'q'/QQ (zero-consumption features
    through the shared geometry, length-prefixed payload scatter) — the
    fast path must FIRE on a qual_mode='qq' container and stay exact."""
    from hadoop_bam_spark.formats import cram_vec

    rows = [
        (f"r{i}", 0, "chr1", 1 + i, 60, "6M", None, 0, 0, "ACGTAC",
         chr(33 + i) * 6, {})
        for i in range(50)
    ]
    body = cram.encode_container(
        rows, {"chr1": 0, "chr2": 1}, 0, ref_names=["chr1", "chr2"],
        qual_mode="qq",
    )
    fired = {"n": 0}
    orig = cram_vec.decode_slice_columnar

    def spy(*a, **k):
        r = orig(*a, **k)
        if r is not None:
            fired["n"] += 1
        return r

    cram_vec.decode_slice_columnar = spy
    try:
        assert _decode_body(body) == rows
    finally:
        cram_vec.decode_slice_columnar = orig
    assert fired["n"] > 0  # columnar path covered the QQ slice


def test_sharded_cram_write_dir_read(spark, tmp_path):
    """sharded=True: directory of complete standalone CRAMs with per-shard
    .crai; no driver-side byte merge (write_bam(sharded=True) rationale)."""
    import json

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    rows = [
        (f"r{i}", 0, "chr1", 1 + 3 * i, 60, "10M", None, 0, 0,
         "ACGTACGTAC", "IIIIIIIIII", {})
        for i in range(200)
    ]
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6", "@SQ\tSN:chr1\tLN:5000"]
    hdr.sequences = {"chr1": (0, 5000)}
    df = spark.createDataFrame(rows, SAM_SCHEMA).repartition(3)
    out = str(tmp_path / "sharded_cram")
    sinks.write_cram(df, out, hdr, records_per_container=50,
                     index_crai=True, sharded=True)
    shards = sorted(f for f in os.listdir(out) if f.endswith(".cram"))
    assert len(shards) == 3
    for s in shards:
        assert os.path.exists(os.path.join(out, s + ".crai"))
    man = json.load(open(os.path.join(out, "_manifest.json")))
    assert man["records"] == 200
    back = spark.read.format("cram").load(out)
    got = sorted(tuple(r) for r in back.collect())
    assert got == sorted(rows)
    # one shard stands alone (own file definition + header + EOF)
    solo_path = os.path.join(out, shards[0])
    solo = list(cram.decode_file(solo_path))
    assert len(solo) == man["shards"][0]["records"]
    assert open(solo_path, "rb").read().endswith(cram.EOF_CONTAINER_V3)


def test_sharded_cram_interval_pushdown(spark, tmp_path):
    """Per-shard .crai pruning must survive the directory layout: an
    interval filter over the shard directory returns exactly the rows the
    unfiltered read (filtered in Spark) returns."""
    from pyspark.sql import functions as F

    from hadoop_bam_spark import sinks
    from hadoop_bam_spark.formats.sam import SAM_SCHEMA, SAMHeader
    from hadoop_bam_spark.sources import register_all

    register_all(spark)
    rows = [
        (f"r{i}", 0, "chr1" if i % 2 else "chr2", 1 + 7 * i, 60, "10M",
         None, 0, 0, "ACGTACGTAC", "IIIIIIIIII", {})
        for i in range(300)
    ]
    hdr = SAMHeader()
    hdr.lines = ["@HD\tVN:1.6\tSO:coordinate",
                 "@SQ\tSN:chr1\tLN:5000", "@SQ\tSN:chr2\tLN:5000"]
    hdr.sequences = {"chr1": (0, 5000), "chr2": (1, 5000)}
    from pyspark.sql import Row
    df = (
        spark.createDataFrame(rows, SAM_SCHEMA)
        .orderBy("rname", "pos")
        .coalesce(3)
    )
    out = str(tmp_path / "sh_itv_cram")
    sinks.write_cram(df, out, hdr, records_per_container=40,
                     records_per_slice=20, index_crai=True, sharded=True)
    whole = spark.read.format("cram").load(out)
    assert whole.count() == 300
    expect = sorted(
        (r[0], r[3]) for r in rows if r[2] == "chr1" and r[3] <= 700
    )
    got = (
        spark.read.format("cram")
        .option("intervals", "chr1:1-709")  # pos<=700 starts overlap 10M
        .load(out)
        .filter((F.col("rname") == "chr1") & (F.col("pos") <= 700))
    )
    assert sorted((r.qname, r.pos) for r in got.collect()) == expect
