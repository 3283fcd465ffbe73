"""Vectorized-vs-scalar parity for the columnar text decoders.

``formats.sam_vec`` / ``formats.vcf_vec`` must produce exactly the rows the
scalar parsers do on ANY input they accept — hypothesis generates adversarial
field values (dots, stars, '=' RNEXT, flag-vs-value tags, multi-allele ALTs,
truncated genotype columns) and the test asserts element equality; inputs the
vectorized parsers reject (None) must make the scalar parser raise too, or be
structurally ragged.
"""

from hypothesis import given, settings
from hypothesis import strategies as st

from hadoop_bam_spark.formats import sam_vec, vcf_vec
from hadoop_bam_spark.formats.sam import parse_sam_line
from hadoop_bam_spark.formats.vcf import parse_vcf_line

# --- strategies -----------------------------------------------------------

_name = st.text(
    alphabet=st.characters(whitelist_categories=("Lu", "Ll", "Nd")),
    min_size=1,
    max_size=8,
)
_tag_val = st.one_of(
    st.integers(-1000, 1000).map(str),
    st.sampled_from(["A:Q", "Z:5", "i:7", "f:1.5", "H:1AFF", "B:c,1,2", "abc",
                     "1.0", "1e3", "s,1,2", ".", "", "x:y:z"]),
    _name,
)
_sam_tag = st.tuples(
    st.sampled_from(["NM", "MD", "XA", "BC", "FZ", "Xf"]),
    st.sampled_from("AcCsSiIfZHB"),
    _tag_val,
).map(lambda t: f"{t[0]}:{t[1]}:{t[2]}")


@st.composite
def sam_lines(draw):
    n = draw(st.integers(1, 30))
    out = []
    for i in range(n):
        seq = draw(st.sampled_from(["*", "ACGT", "NNNN", "ACGTACGTAC"]))
        tags = draw(st.lists(_sam_tag, max_size=4))
        cols = [
            draw(_name),
            str(draw(st.integers(0, 4095))),
            draw(st.sampled_from(["*", "chr1", "chr2", "ref|x"])),
            str(draw(st.integers(0, 10_000))),
            str(draw(st.integers(0, 255))),
            draw(st.sampled_from(["*", "4M", "2M1I1M", "10S"])),
            draw(st.sampled_from(["*", "=", "chr1", "chr3"])),
            draw(st.sampled_from(["*", "0", "123"])),
            draw(st.sampled_from(["*", "0", "-45", "99"])),
            seq,
            "*" if seq == "*" else "I" * len(seq),
        ] + tags
        out.append("\t".join(cols))
    return out


@st.composite
def vcf_lines(draw, samples):
    n = draw(st.integers(1, 30))
    out = []
    for i in range(n):
        info = draw(
            st.sampled_from(
                [".", "DP=3", "DB", "DP=5;DB;AF=0.5", "END=777", "X=;Y=2", ";DP=1;"]
            )
        )
        fmt = draw(st.sampled_from(["GT", "GT:DP", "GT:DP:GQ"]))
        def sample_col():
            return draw(
                st.sampled_from(
                    ["0/1", "./.", ".", "1|1:4", "0/0:1:2", "0/1:.:9", ""]
                )
            )
        cols = [
            draw(st.sampled_from(["chr1", "chr2", "20", "X"])),
            str(draw(st.integers(1, 1_000_000))),
            draw(st.sampled_from([".", "rs1", "id;x"])),
            draw(st.sampled_from(["A", "ACGT", "N"])),
            draw(st.sampled_from([".", "T", "T,G", "<DEL>"])),
            draw(st.sampled_from([".", "0", "50", "12.75", "1e2"])),
            draw(st.sampled_from([".", "PASS", "q10", "q10;s50"])),
            info,
        ]
        if samples:
            cols.append(fmt)
            cols.extend(sample_col() for _ in samples)
        out.append("\t".join(cols))
    return out


# --- SAM ------------------------------------------------------------------


class TestSAMVecParity:
    @given(sam_lines())
    @settings(max_examples=60, deadline=None)
    def test_matches_scalar(self, lines):
        arrays = sam_vec.parse_sam_chunk(lines)
        rows = [parse_sam_line(l) for l in lines]
        if arrays is None:
            # only legitimate rejection: a record repeating a tag (the
            # scalar dict dedupes last-wins; the chunk path defers to it)
            assert any(
                len(t := [f.split(":", 1)[0] for f in l.split("\t")[11:]])
                != len(set(t))
                for l in lines
            )
            return
        names = ["qname", "flag", "rname", "pos", "mapq", "cigar",
                 "rnext", "pnext", "tlen", "seq", "qual", "tags"]
        for ci, nm in enumerate(names):
            got = arrays[nm].to_pylist()
            for r, exp_row in enumerate(rows):
                exp = exp_row[ci]
                g = dict(got[r]) if nm == "tags" and got[r] is not None else got[r]
                assert g == exp, (nm, r, lines[r])

    def test_rejects_are_scalar_errors_too(self):
        for bad in (["a\tb\tc"], ["q\tNOTINT\t*\t1\t0\t*\t*\t0\t0\t*\t*"]):
            assert sam_vec.parse_sam_chunk(bad) is None
            try:
                [parse_sam_line(l) for l in bad]
                raised = False
            except ValueError:
                raised = True
            assert raised

    def test_projection_builds_only_wanted(self):
        arrays = sam_vec.parse_sam_chunk(
            ["q\t0\t*\t1\t0\t*\t*\t0\t0\t*\t*\tNM:i:3"],
            frozenset(["qname", "tags"]),
        )
        assert sorted(arrays) == ["qname", "tags"]
        assert dict(arrays["tags"].to_pylist()[0]) == {"NM": "3"}


# --- VCF ------------------------------------------------------------------


class TestVCFVecParity:
    @given(st.data())
    @settings(max_examples=60, deadline=None)
    def test_matches_scalar(self, data):
        samples = data.draw(st.sampled_from([[], ["S1"], ["S1", "S2", "S3"]]))
        lines = data.draw(vcf_lines(samples))
        arrays = vcf_vec.parse_vcf_chunk(lines, samples)
        rows = [parse_vcf_line(l, samples) for l in lines]
        assert arrays is not None
        names = ["contig", "start", "end", "id", "ref", "alts",
                 "qual", "filters", "info", "genotypes"]
        for ci, nm in enumerate(names):
            got = arrays[nm].to_pylist()
            for r, exp_row in enumerate(rows):
                exp, g = exp_row[ci], got[r]
                if nm == "info" and g is not None:
                    g = dict(g)
                if nm == "genotypes" and g is not None:
                    g = [(e["sample"], e["gt"], dict(e["fields"])) for e in g]
                    exp = [(s, gt, dict(f)) for s, gt, f in exp]
                assert g == exp, (nm, r, lines[r])

    def test_rejects_are_scalar_errors_too(self):
        for bad, samp in ((["chr1\t5"], []), (["c\tNOTINT\t.\tA\tT\t.\t.\t."], [])):
            assert vcf_vec.parse_vcf_chunk(bad, samp) is None
            try:
                [parse_vcf_line(l, samp) for l in bad]
                raised = False
            except ValueError:
                raised = True
            assert raised

    def test_interval_mask(self):
        lines = ["chr1\t100\t.\tAC\tT\t.\t.\t.",  # [100,101]
                 "chr1\t300\t.\tA\tT\t.\t.\tEND=400",
                 "chr2\t100\t.\tA\tT\t.\t.\t."]
        from hadoop_bam_spark.sources import interval_mask

        arrays = vcf_vec.parse_vcf_chunk(lines, [])
        mask = interval_mask([("chr1", 101, 350)])(arrays, 3)
        assert list(mask) == [True, True, False]


class TestBulkLineIterators:
    """iter_line_chunks / iter_bgzf_owned_line_chunks must partition a file's
    lines exactly (every line owned by exactly one split) for arbitrary
    content and split points — the Hadoop LineRecordReader contract the
    per-line readers implemented."""

    @given(st.data())
    @settings(max_examples=40, deadline=None)
    def test_plain_text_split_partition(self, data):
        import os
        import tempfile

        from hadoop_bam_spark.sources.sam_source import (
            TextRangePartition,
            iter_line_chunks,
        )

        nlines = data.draw(st.integers(1, 40))
        lines = [
            data.draw(st.sampled_from(["", "a", "bb", "x" * 37, "q\tz"]))
            for _ in range(nlines)
        ]
        crlf = data.draw(st.booleans())
        trailing_nl = data.draw(st.booleans())
        sep = "\r\n" if crlf else "\n"
        body = sep.join(lines) + (sep if trailing_nl else "")
        if not trailing_nl and lines and lines[-1] == "":
            lines = lines[:-1]  # no trailing newline + empty last -> no line
        raw = body.encode()
        with tempfile.NamedTemporaryFile(delete=False, suffix=".txt") as f:
            f.write(raw)
            path = f.name
        try:
            size = len(raw)
            ncuts = data.draw(st.integers(0, 3))
            cuts = sorted(
                {data.draw(st.integers(1, max(size - 1, 1))) for _ in range(ncuts)}
            ) if size > 1 else []
            bounds = [0] + cuts + [size]
            got = []
            for a, b in zip(bounds, bounds[1:]):
                for chunk in iter_line_chunks(
                    TextRangePartition(path, a, b), chunk_bytes=7
                ):
                    got.extend(chunk)
            assert got == (lines if raw else []), (lines, got, bounds, body)
        finally:
            os.unlink(path)

    @given(st.data())
    @settings(max_examples=25, deadline=None)
    def test_bgzf_split_partition(self, data):
        import io as _io
        import os
        import tempfile

        from hadoop_bam_spark.formats import bgzf
        from hadoop_bam_spark.sources.tabix_text import (
            iter_bgzf_owned_line_chunks,
        )

        nlines = data.draw(st.integers(1, 12))
        # long lines overflow the 64k block payload -> several blocks, so
        # splits land mid-stream and lines straddle block boundaries
        lines = [
            data.draw(st.sampled_from(["", "r", "ss", "y" * 41, "z" * 30000]))
            for _ in range(nlines)
        ]
        body = ("\n".join(lines) + "\n").encode()
        buf = _io.BytesIO()
        w = bgzf.BGZFWriter(buf)
        w.write(body)
        w.close()
        raw = buf.getvalue()
        with tempfile.NamedTemporaryFile(delete=False, suffix=".bgz") as f:
            f.write(raw)
            path = f.name
        try:
            # block-aligned candidate boundaries
            coffs = []
            with open(path, "rb") as fh:
                for coffset, _ in bgzf.iter_blocks(fh, 0):
                    coffs.append(coffset)
            coffs.append(len(raw))
            k = data.draw(st.integers(0, min(3, len(coffs) - 2)))
            inner = sorted(
                data.draw(
                    st.sets(st.sampled_from(coffs[1:-1]), min_size=0, max_size=k)
                )
            ) if len(coffs) > 2 else []
            bounds = [0] + inner + [len(raw)]
            got = []
            for a, b in zip(bounds, bounds[1:]):
                for chunk in iter_bgzf_owned_line_chunks(path, a, b):
                    got.extend(chunk)
            assert got == lines, (lines, got, bounds)
        finally:
            os.unlink(path)


# --- write-side chunk formatters -----------------------------------------


class TestSAMFormatChunkParity:
    @given(sam_lines())
    @settings(max_examples=40, deadline=None)
    def test_matches_scalar_formatter(self, lines):
        import pyarrow  # noqa: F401

        from hadoop_bam_spark.formats.sam import SAM_SCHEMA, format_sam_line
        from hadoop_bam_spark.sources import arrow_schema, to_batch

        rows = [parse_sam_line(l) for l in lines]
        arrays = sam_vec.parse_sam_chunk(lines)
        if arrays is None:  # duplicate-tag records defer to the scalar path
            return
        batch = to_batch(arrays, arrow_schema(SAM_SCHEMA))
        blob = sam_vec.format_sam_chunk(batch)
        got = blob.decode().rstrip("\n").split("\n")
        exp = [format_sam_line(r) for r in rows]
        assert got == exp


class TestVCFFormatChunkParity:
    @given(st.data())
    @settings(max_examples=40, deadline=None)
    def test_matches_scalar_formatter(self, data):
        from hadoop_bam_spark.formats.vcf import (
            VCF_SCHEMA,
            format_vcf_line,
        )
        from hadoop_bam_spark.sources import arrow_schema, to_batch

        samples = data.draw(st.sampled_from([[], ["S1", "S2"]]))
        lines = data.draw(vcf_lines(samples))
        rows = [parse_vcf_line(l, samples) for l in lines]
        arrays = vcf_vec.parse_vcf_chunk(lines, samples)
        batch = to_batch(arrays, arrow_schema(VCF_SCHEMA))
        blob = vcf_vec.format_vcf_chunk(batch, samples)
        exp = [format_vcf_line(r, samples) for r in rows]
        if blob is None:
            # ragged genotype shapes legitimately fall back; the scalar
            # formatter must still be able to format every row
            assert samples and all(isinstance(e, str) for e in exp)
            return
        got = blob.decode().rstrip("\n").split("\n")
        assert got == exp


class TestVcfBatchRowsNullFields:
    def test_null_fields_map_formats_and_encodes(self):
        """_batch_rows keeps a NULL per-genotype fields map null, and
        format_vcf_line (the text sink's ragged fallback) writes it as
        missing values like ``{}``, as BCF's encode_indiv does. Regression:
        a row helper once passed None through to a formatter that
        iterated it (r9)."""
        import pyarrow as pa

        from hadoop_bam_spark.formats.vcf import format_vcf_line
        from hadoop_bam_spark.sinks import _batch_rows
        from hadoop_bam_spark.sources import arrow_schema
        from hadoop_bam_spark.formats.vcf import VCF_SCHEMA

        batch = pa.RecordBatch.from_pylist(
            [{
                "contig": "chr1", "start": 5, "end": 5, "id": None,
                "ref": "A", "alts": ["G"], "qual": None, "filters": None,
                "info": None,
                "genotypes": [
                    {"sample": "S1", "gt": "0/1",
                     "fields": {"GT": "0/1"}},
                    {"sample": "S2", "gt": None, "fields": None},
                ],
            }],
            schema=arrow_schema(VCF_SCHEMA),
        )
        rows = list(_batch_rows(batch))
        assert rows[0][9][0] == ("S1", "0/1", {"GT": "0/1"})
        assert rows[0][9][1][2] is None  # null fields stay null
        line = format_vcf_line(rows[0], ["S1", "S2"])
        assert line.split("\t")[9:] == ["0/1", "."]


class TestFastqQseqChunkParity:
    @given(st.data())
    @settings(max_examples=40, deadline=None)
    def test_fastq_and_qseq_write(self, data):
        import pyarrow as pa

        from hadoop_bam_spark import sinks
        from hadoop_bam_spark.sources import arrow_schema
        from hadoop_bam_spark.sources.fastq_source import FASTQ_SCHEMA

        n = data.draw(st.integers(1, 15))
        rows = []
        for i in range(n):
            rows.append((
                data.draw(st.sampled_from(["", "r1", "q/1", "a b"])),
                "ACGT",
                data.draw(st.sampled_from(["IIII", "!!~~", "AAAA"])),
                data.draw(st.sampled_from([None, "", "M1"])),
                data.draw(st.sampled_from([None, 0, 55])),
                None,
                data.draw(st.sampled_from([None, 0, 3])),
                data.draw(st.sampled_from([None, 1101])),
                data.draw(st.sampled_from([None, 0, 15])),
                data.draw(st.sampled_from([None, 33])),
                data.draw(st.sampled_from([None, 0, 1, 2])),
                data.draw(st.sampled_from([None, True, False])),
                data.draw(st.sampled_from([None, 0])),
                data.draw(st.sampled_from([None, "", "0", "ATCACG"])),
            ))
        target = arrow_schema(FASTQ_SCHEMA)
        cols = list(zip(*rows))
        arrays = [pa.array(list(c), type=f.type) for c, f in zip(cols, target)]
        batch = pa.RecordBatch.from_arrays(arrays, schema=target)

        class R:
            def __init__(self, t):
                for nm, v in zip([f.name for f in target], t):
                    setattr(self, nm, v)

        exp_fq = "".join(
            f"@{sinks._synthesize_name(R(t))}\n{R(t).sequence}\n+\n{R(t).quality}\n"
            for t in rows
        )
        assert sinks._fastq_chunk(batch).decode() == exp_fq

        def qline(r):
            qual = (r.quality or "").encode("latin-1").translate(
                sinks._P33_TO_P64).decode("latin-1")
            return "\t".join([
                r.instrument or "", str(r.run_number or 0), str(r.lane or 0),
                str(r.tile or 0), str(r.xpos or 0), str(r.ypos or 0),
                r.index_sequence or "0", str(r.read or 1),
                (r.sequence or "").replace("N", "."), qual,
                "1" if r.filter_passed else "0",
            ])
        exp_q = "".join(qline(R(t)) + "\n" for t in rows)
        assert sinks._qseq_chunk(batch).decode() == exp_q
