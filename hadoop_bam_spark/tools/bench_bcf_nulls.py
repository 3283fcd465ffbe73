"""Codec-level BCF encode benchmark on a realistic null-heavy corpus.

Real VCF cohorts are riddled with spec-missing FORMAT values; when such
data arrives as parquet (nulls, not '.' strings), every batch used to take
the scalar fallback — the r8 null guards routed exactly these batches out
of the vectorized path. This tool measures, on a generated corpus with
ubiquitous null FORMAT values (per-sample DP/GQ/PL/HQ nulls at real-cohort
rates, multi-sample, Zipf-ish genotype combos):

  1. the fallback rate under the OLD per-batch bail (any null FORMAT value
     in the batch -> VecUnsupported), reconstructed analytically,
  2. the fallback rate under the r9 key-sentinel path (expected 0),
  3. vectorized vs scalar encode throughput on the same batches, and
  4. byte parity of the two.

Run:  python -m hadoop_bam_spark.tools.bench_bcf_nulls [n_records]
Prints one human block plus one JSON line; results recorded in
FORMAT_BENCH.md.
"""

from __future__ import annotations

import json
import random
import sys
import time

import pyarrow as pa

from hadoop_bam_spark.formats import bcf
from hadoop_bam_spark.formats.bcf_venc import BCFBatchEncoder

HDR_TEXT = (
    "##fileformat=VCFv4.2\n"
    "##contig=<ID=chr1,length=100000000>\n"
    "##contig=<ID=chr2,length=100000000>\n"
    '##FILTER=<ID=PASS,Description="d">\n'
    '##FILTER=<ID=q10,Description="d">\n'
    '##INFO=<ID=DP,Number=1,Type=Integer,Description="d">\n'
    '##INFO=<ID=AF,Number=A,Type=Float,Description="d">\n'
    '##FORMAT=<ID=GT,Number=1,Type=String,Description="d">\n'
    '##FORMAT=<ID=DP,Number=1,Type=Integer,Description="d">\n'
    '##FORMAT=<ID=GQ,Number=1,Type=Integer,Description="d">\n'
    '##FORMAT=<ID=PL,Number=G,Type=Integer,Description="d">\n'
    '##FORMAT=<ID=HQ,Number=2,Type=Integer,Description="d">\n'
    "#CHROM\tPOS\tID\tREF\tALT\tQUAL\tFILTER\tINFO\tFORMAT\tS1\tS2\tS3\n"
)

SCHEMA = pa.schema(
    [
        ("contig", pa.string()),
        ("start", pa.int64()),
        ("end", pa.int64()),
        ("id", pa.string()),
        ("ref", pa.string()),
        ("alts", pa.list_(pa.string())),
        ("qual", pa.float64()),
        ("filters", pa.list_(pa.string())),
        ("info", pa.map_(pa.string(), pa.string())),
        (
            "genotypes",
            pa.list_(
                pa.struct(
                    [
                        ("sample", pa.string()),
                        ("gt", pa.string()),
                        ("fields", pa.map_(pa.string(), pa.string())),
                    ]
                )
            ),
        ),
    ]
)

#: per-key probability a present FORMAT cell is null (gnomAD-ish shape:
#: depth/quality often missing on low-coverage sites, PL frequently absent)
NULL_RATES = {"DP": 0.25, "GQ": 0.25, "PL": 0.45, "HQ": 0.60}
GTS = ["0/0", "0/0", "0/0", "0/1", "0/1", "1/1", "./."]


def gen_adversarial_rows(n: int, seed: int = 11):
    """The r11 adversarial multi-sample shape: per-sample FORMAT key sets
    DIFFER WITHIN one record (samples genuinely missing keys, not
    null-valued), GTs include ploidy > 2 and multi-digit allele indexes.
    Pre-r11 this routed every batch to the per-record dictionary path
    (~100% unique combos -> scalar encode_indiv per record)."""
    rng = random.Random(seed)
    gts = ["0/0", "0/1", "1/1", "./.", "0/1/2", "0|1|2", "10/1", "./12",
           "0/1/2/3", "."]
    rows = []
    for i in range(n):
        genos = []
        for s in ("S1", "S2", "S3"):
            gt = rng.choice(gts)
            fields = {"GT": gt}
            for k in ("DP", "GQ", "PL", "HQ"):
                r = rng.random()
                if r < 0.35:
                    continue  # key ABSENT for this sample (not null)
                if r < 0.45:
                    fields[k] = None
                elif k == "PL":
                    fields[k] = ",".join(
                        str(rng.randrange(0, 255)) for _ in range(3)
                    )
                elif k == "HQ":
                    fields[k] = f"{rng.randrange(0, 99)},{rng.randrange(0, 99)}"
                else:
                    fields[k] = str(rng.randrange(0, 99))
            genos.append({"sample": s, "gt": gt, "fields": fields})
        rows.append(
            {
                "contig": "chr1" if i % 4 else "chr2",
                "start": i + 1,
                "end": i + 1,
                "id": None,
                "ref": "A",
                "alts": ["G"],
                "qual": 30.0,
                "filters": ["PASS"],
                "info": {"DP": str(60 + i % 40)},
                "genotypes": genos,
            }
        )
    return rows


def gen_rows(n: int, seed: int = 7, quantized: bool = False):
    """``quantized=True`` models pipelines that bin DP/GQ (GATK GVCF-style
    bands): genotype combos become low-cardinality, the regime the
    unique-combo dictionary amortizes."""
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        genos = []
        for s in ("S1", "S2", "S3"):
            gt = rng.choice(GTS)
            fields = {"GT": gt}
            for k in ("DP", "GQ", "PL", "HQ"):
                if rng.random() < NULL_RATES[k]:
                    fields[k] = None  # spec-missing, parquet-shaped
                elif k == "PL":
                    fields[k] = ",".join(
                        str(rng.randrange(0, 8) * 30 if quantized
                            else rng.randrange(0, 255))
                        for _ in range(3)
                    )
                elif k == "HQ":
                    hq = (lambda: rng.randrange(0, 4) * 20) if quantized \
                        else (lambda: rng.randrange(0, 99))
                    fields[k] = f"{hq()},{hq()}"
                else:
                    v = rng.randrange(0, 5) * 20 if quantized \
                        else rng.randrange(0, 99)
                    fields[k] = str(v)
            genos.append({"sample": s, "gt": gt, "fields": fields})
        rows.append(
            {
                "contig": "chr1" if i % 4 else "chr2",
                "start": i + 1,
                "end": i + 1,
                "id": f"rs{i}" if i % 3 == 0 else None,
                "ref": "A",
                "alts": ["G"] if i % 5 else ["G", "T"],
                "qual": 30.0 + (i % 50),
                "filters": ["PASS"] if i % 7 else ["q10"],
                "info": {"DP": str(60 + i % 40)},
                "genotypes": genos,
            }
        )
    return rows


def _has_null_fmt_value(batch) -> bool:
    """Would the r8 guard have bailed this batch? (any null FORMAT value)"""
    col = batch.column(batch.schema.get_field_index("genotypes"))
    items = col.values.field("fields").items
    return items.null_count > 0


def run(n: int, quantized: bool, adversarial: bool = False) -> dict:
    batch_rows = 4096
    hdr = bcf.parse_bcf_header_text(HDR_TEXT)
    rows = (gen_adversarial_rows(n) if adversarial
            else gen_rows(n, quantized=quantized))
    batches = [
        pa.RecordBatch.from_pylist(rows[i: i + batch_rows], schema=SCHEMA)
        for i in range(0, n, batch_rows)
    ]
    null_cells = sum(
        1
        for r in rows
        for g in r["genotypes"]
        for v in g["fields"].values()
        if v is None
    )
    total_cells = sum(len(g["fields"]) for r in rows for g in r["genotypes"])

    old_fallback_batches = sum(_has_null_fmt_value(b) for b in batches)

    # both paths timed as the SINK pays them: the scalar fallback must
    # first materialize Arrow -> python rows (_batch_rows), which is
    # part of its real cost
    from hadoop_bam_spark.sinks import _batch_rows

    enc = BCFBatchEncoder(hdr)
    t0 = time.perf_counter()
    vec_parts = []
    new_fallback_batches = 0
    path_hist: dict = {}
    for b in batches:
        try:
            blob, _, _ = enc.encode_batch(b)
            vec_parts.append(blob)
            path_hist[enc.last_indiv_path] = (
                path_hist.get(enc.last_indiv_path, 0) + 1
            )
        except Exception:
            new_fallback_batches += 1
            path_hist["scalar"] = path_hist.get("scalar", 0) + 1
            vec_parts.append(
                b"".join(bcf.encode_record(t, hdr) for t in _batch_rows(b))
            )
    vec_s = time.perf_counter() - t0

    t0 = time.perf_counter()
    scalar_blob = b"".join(
        bcf.encode_record(t, hdr)
        for b in batches
        for t in _batch_rows(b)
    )
    scalar_s = time.perf_counter() - t0

    parity = b"".join(vec_parts) == scalar_blob
    # unique genotype combos across the corpus (what the dictionary keys)
    uniq = len({
        tuple(
            (g["sample"], g["gt"], tuple(sorted(g["fields"].items())))
            for g in r["genotypes"]
        )
        for r in rows
    })
    out = {
        "corpus": ("adversarial" if adversarial
                   else "quantized" if quantized else "value-diverse"),
        "indiv_paths": path_hist,
        "n_records": n,
        "samples": 3,
        "null_fmt_cell_rate": round(null_cells / total_cells, 4),
        "unique_combo_rate": round(uniq / n, 4),
        "batches": len(batches),
        "old_fallback_batches": old_fallback_batches,
        "old_fallback_rate": round(old_fallback_batches / len(batches), 4),
        "new_fallback_batches": new_fallback_batches,
        "vec_krec_s": round(n / vec_s / 1e3, 1),
        "scalar_krec_s": round(n / scalar_s / 1e3, 1),
        "speedup": round(scalar_s / vec_s, 2),
        "byte_parity": parity,
    }
    print(
        f"[{out['corpus']}] {n} records x 3 samples, "
        f"{out['null_fmt_cell_rate']:.0%} FORMAT cells null, "
        f"{out['unique_combo_rate']:.0%} unique genotype combos\n"
        f"  old per-batch bail: {old_fallback_batches}/{len(batches)} "
        f"batches -> scalar ({out['old_fallback_rate']:.0%} fallback)\n"
        f"  r9 key sentinel:    {new_fallback_batches}/{len(batches)} "
        f"batches -> scalar\n"
        f"  indiv paths: {path_hist}\n"
        f"  vectorized: {out['vec_krec_s']} krec/s   "
        f"scalar: {out['scalar_krec_s']} krec/s   "
        f"speedup {out['speedup']}x   parity={parity}"
    )
    return out


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    results = [
        run(n, quantized=False),
        run(n, quantized=True),
        run(n, quantized=False, adversarial=True),
    ]
    print(json.dumps(results))
    if not all(r["byte_parity"] for r in results):
        sys.exit(1)


if __name__ == "__main__":
    main()
