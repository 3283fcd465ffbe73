"""Pure-Python SAM codec tests (no Spark session needed).

The golden record is the SAMv1 spec's first example read (section 1.1),
placed on ``chr21`` with two tags; the whole-file test parses the spec's
example alignment (``tests/textgen.SAM_SPEC_EXAMPLE``) and, wherever the
reference checkout holds it, the reference's test.sam (2 reads on chr21).
"""

import os

from hadoop_bam_spark.formats.sam import (
    SAMHeader,
    format_sam_line,
    parse_header,
    parse_sam_line,
)
from tests.textgen import SAM_SPEC_EXAMPLE

HEADER_LINES = [
    "@HD\tVN:1.4\tSO:coordinate",
    "@SQ\tSN:chr21\tLN:62435964",
    "@SQ\tSN:chr22\tLN:49528953",
    "@RG\tID:L1\tSM:s1",
]

LINE = (
    "r001\t99\tchr21\t7\t30\t8M2I4M1D3M\t=\t37\t39\t"
    "TTAGATAAAGGATACTG\tIIIIIIIIIIIIIIIII\tRG:Z:L1\tNM:i:1"
)


def test_parse_header():
    hdr = parse_header(HEADER_LINES)
    assert hdr.sort_order == "coordinate"
    assert hdr.sequences["chr21"] == (0, 62435964)
    assert hdr.sequences["chr22"] == (1, 49528953)
    assert hdr.ref_index("chr22") == 1
    assert hdr.ref_index("*") == -1
    assert hdr.ref_index("chrMissing") == -1


def test_header_sort_order_stamp():
    hdr = parse_header(HEADER_LINES[1:])  # no @HD
    stamped = hdr.with_sort_order("coordinate")
    assert stamped.lines[0].startswith("@HD")
    assert "SO:coordinate" in stamped.lines[0]
    assert stamped.sequences == hdr.sequences


def test_parse_sam_line():
    rec = parse_sam_line(LINE)
    assert rec[0] == "r001"
    assert rec[1] == 99
    assert rec[2] == "chr21"
    assert rec[3] == 7
    assert rec[4] == 30
    assert rec[5] == "8M2I4M1D3M"
    assert rec[6] == "chr21"  # '=' resolved to rname
    assert rec[7] == 37
    assert rec[8] == 39
    assert rec[9] == "TTAGATAAAGGATACTG"
    assert rec[11] == {"RG": "L1", "NM": "1"}


def test_parse_header_line_returns_none():
    assert parse_sam_line("@HD\tVN:1.4") is None


def test_roundtrip():
    rec = parse_sam_line(LINE)
    line2 = format_sam_line(rec)
    assert parse_sam_line(line2) == rec


def test_unmapped_roundtrip():
    rec = ("u1", 4, None, 0, 0, None, None, None, None, "ACGT", "IIII", {})
    line = format_sam_line(rec)
    fields = line.split("\t")
    assert fields[2] == "*" and fields[5] == "*"
    back = parse_sam_line(line)
    assert back[2] is None and back[1] == 4
    # pnext/tlen write as 0 and read back as 0
    assert back[7] == 0 and back[8] == 0


def test_reference_test_sam_parses(tmp_path):
    """Parse the SAMv1 spec's example file (six records on ``ref``), and
    the reference repo's own golden file where it exists."""
    spec = tmp_path / "test.sam"
    spec.write_text(SAM_SPEC_EXAMPLE)
    cases = [(spec, "ref", 6)]
    path = "/root/reference/src/test/resources/test.sam"
    if os.path.exists(path):
        cases.append((path, "chr21", 2))
    for path, rname, n in cases:
        hdr_lines, records = [], []
        with open(path) as fh:
            for line in fh:
                if line.startswith("@"):
                    hdr_lines.append(line)
                else:
                    records.append(parse_sam_line(line))
        hdr = parse_header(hdr_lines)
        assert rname in hdr.sequences
        assert len(records) == n
        assert all(r[2] == rname for r in records)
