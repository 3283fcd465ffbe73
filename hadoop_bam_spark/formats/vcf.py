"""VCF text codec: header + data-line parser/formatter.

Schema per SURVEY.md §1.5 — nested genotypes as array<struct> with the raw
per-sample field map (the decoded form of the reference's lazy genotypes,
LazyVCFGenotypesContext.java:37-104; we parse eagerly into columns and let
Parquet/Catalyst column pruning play the laziness role, SURVEY.md §2.3).

Value conventions (VCF 4.x spec, reproduced from the reference's reader
semantics VCFRecordReader.java:166-211):
- '.' in ID/QUAL/FILTER/ALT -> NULL / empty;
- FILTER 'PASS' -> ["PASS"]; ';'-separated otherwise;
- INFO flags get value "true" in the string map;
- END = INFO END when present else pos + len(ref) - 1.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Optional

from pyspark.sql import types as T

VCF_SCHEMA = T.StructType(
    [
        T.StructField("contig", T.StringType(), False),
        T.StructField("start", T.LongType(), False),
        T.StructField("end", T.LongType(), False),
        T.StructField("id", T.StringType(), True),
        T.StructField("ref", T.StringType(), False),
        T.StructField("alts", T.ArrayType(T.StringType()), True),
        T.StructField("qual", T.DoubleType(), True),
        T.StructField("filters", T.ArrayType(T.StringType()), True),
        T.StructField("info", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField(
            "genotypes",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("sample", T.StringType(), False),
                        T.StructField("gt", T.StringType(), True),
                        T.StructField(
                            "fields", T.MapType(T.StringType(), T.StringType()), True
                        ),
                    ]
                )
            ),
            True,
        ),
    ]
)


@dataclass
class VCFHeader:
    lines: list[str] = field(default_factory=list)  # ## meta lines
    samples: list[str] = field(default_factory=list)
    contigs: dict[str, int] = field(default_factory=dict)  # name -> index

    @property
    def text(self) -> str:
        cols = "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO"
        if self.samples:
            cols += "\tFORMAT\t" + "\t".join(self.samples)
        return "".join(l + "\n" for l in self.lines) + cols + "\n"


def parse_vcf_header(lines) -> VCFHeader:
    """Parse '##'/'#CHROM' lines (driver-side once; the contig dictionary is
    rebuilt from header contig lines as in VCFRecordReader.java:141-146)."""
    hdr = VCFHeader()
    idx = 0
    for raw in lines:
        line = raw.rstrip("\r\n")
        if line.startswith("##"):
            hdr.lines.append(line)
            if line.startswith("##contig="):
                inner = line[line.index("<") + 1 : line.rindex(">")]
                kv = dict(
                    p.split("=", 1) for p in inner.split(",") if "=" in p
                )
                if "ID" in kv:
                    hdr.contigs[kv["ID"]] = idx
                    idx += 1
        elif line.startswith("#CHROM"):
            cols = line.split("\t")
            if len(cols) > 9:
                # trailing tabs produce phantom empty sample names — drop them
                hdr.samples = [s for s in cols[9:] if s]
            break
        else:
            break
    return hdr


def read_vcf_header(path: str, open_fn=None) -> VCFHeader:
    """Sniffs plain vs BGZF/gzip — reference util/VCFHeaderReader.java:51-78."""
    if open_fn is None:
        open_fn = _sniff_open
    with open_fn(path) as fh:
        lines = []
        for raw in fh:
            line = raw.decode() if isinstance(raw, bytes) else raw
            lines.append(line)
            if line.startswith("#CHROM") or not line.startswith("#"):
                break
        return parse_vcf_header(lines)


def _sniff_open(path: str):
    import gzip

    from hadoop_bam_spark import fs

    with fs.open_file(path, "rb") as probe:
        magic = probe.read(2)
    if magic == b"\x1f\x8b":
        return gzip.open(fs.open_file(path, "rb"), "rt")
    return fs.open_file(path, "rt")


def parse_vcf_line(
    line: str, samples: list[str], wanted: Optional[frozenset] = None
) -> Optional[tuple]:
    """One data line -> tuple matching VCF_SCHEMA (None for header lines).

    ``wanted`` (None = all) skips the INFO-map and per-sample genotype
    parses when the projection doesn't need them — the engine's analog of
    the reference's lazy genotype decode
    (LazyParsingGenotypesContext.java:28-33). INFO is still parsed when
    ``end`` is requested (END key drives the end coordinate)."""
    if not line or line.startswith("#"):
        return None
    f = line.rstrip("\r\n").split("\t")
    if len(f) < 8:
        raise ValueError(f"VCF line has {len(f)} fields, expected >= 8")
    contig, pos_s, vid, ref, alt, qual_s, filt, info_s = f[:8]
    pos = int(pos_s)
    if " " in info_s:
        # VCF spec 1.6.1 #8: INFO permits no whitespace. htsjdk raises
        # TribbleException here (the reference's
        # TestVCFInputFormatStringency fixture invalid_info_field.vcf:
        # strict raises, lenient/silent skip the record)
        raise ValueError(
            f"VCF line {contig}:{pos_s}: whitespace in INFO field")
    need_info = wanted is None or "info" in wanted or "end" in wanted
    info: Optional[dict[str, str]] = {} if need_info else None
    if need_info and info_s != ".":
        for item in info_s.split(";"):
            if not item:
                continue
            if "=" in item:
                k, v = item.split("=", 1)
                info[k] = v
            else:
                info[item] = "true"
    end = None
    if need_info:
        end = int(info["END"]) if "END" in info else pos + len(ref) - 1
    genotypes = None
    if (wanted is None or "genotypes" in wanted) and len(f) > 9 and samples:
        fmt_keys = f[8].split(":")
        genotypes = []
        for sample, col in zip(samples, f[9:]):
            vals = col.split(":")
            # '.' and omitted-trailing are both spec-missing: normalize to
            # absent so format->parse is idempotent (htsjdk pads the same way,
            # VCFRecordWriter path)
            fields_map = {
                k: v for k, v in zip(fmt_keys, vals) if v != "."
            }
            genotypes.append((sample, fields_map.get("GT"), fields_map))
    return (
        contig,
        pos,
        end,
        None if vid == "." else vid,
        ref,
        None if alt == "." else alt.split(","),
        None if qual_s == "." else float(qual_s),
        None if filt == "." else filt.split(";"),
        info,
        genotypes,
    )


def format_vcf_line(row: tuple, samples: list[str]) -> str:
    """Inverse of parse_vcf_line (writer path, VCFRecordWriter semantics)."""
    (contig, pos, _end, vid, ref, alts, qual, filters, info, genotypes) = row
    if qual is None:
        qual_s = "."
    else:
        # repr = shortest exact representation (":g" truncates to 6 digits)
        qual_s = repr(qual) if qual != int(qual) else str(int(qual))
    info_items = []
    for k, v in (info or {}).items():
        info_items.append(k if v == "true" else f"{k}={v}")
    fields = [
        contig,
        str(pos),
        vid if vid else ".",
        ref,
        ",".join(alts) if alts else ".",
        qual_s,
        ";".join(filters) if filters else ".",
        ";".join(info_items) if info_items else ".",
    ]
    if genotypes:
        keys: list[str] = []
        for g in genotypes:
            for k in g[2] or {}:
                if k not in keys:
                    keys.append(k)
        if "GT" in keys:  # GT must come first per spec
            keys.remove("GT")
            keys.insert(0, "GT")
        fields.append(":".join(keys))
        by_sample = {g[0]: g[2] or {} for g in genotypes}
        for s in samples:
            fm = by_sample.get(s, {})
            fields.append(":".join(fm.get(k, ".") for k in keys))
    return "\t".join(fields)
