"""Core-scaling receipt: per-query wall ratio at N_low vs N_high cores.

Usage:
    python -m hadoop_bam_spark.tools.scaling_bench SF_DIR \
        [--cores=8,32] [--queries=a,b,c] [--reps=2] [--json=OUT.json]

Why this exists (VERDICT r17 next #5): the driver's 8-vs-32-core bench at
sf0.1 shows every ratio ≈ 1 — NOT because the operators are serial but
because the median query is sub-second there and Spark's fixed per-job
overhead (scheduling, stage latency) floors both runs. A scaling claim
needs a data size where compute dominates that floor. This tool times the
benched query families on a LARGER corpus (generate one with
``tools.make_scale``, e.g. sf0.1 ×10) at two core counts, each in a FRESH
subprocess (``local[N]`` is fixed per JVM), warm-once + best-of-``reps``
wall per query, and reports t_low/t_high per query.

Interpretation: ideal is cores_high/cores_low (4.0 for 8→32); anything
≥2.5 demonstrates the operator scales out; ratios near 1 on sub-second
queries remain scheduling floor, and are reported with the absolute
times so the floor is visible rather than inferred.

``--isolate`` runs each query in its OWN subprocess per core count
(28 JVM startups for the default 14-query list) instead of one shared
session per core count. The shared session is cheaper but allocation-
heavy queries poison their successors' timings with GC pressure — the
first r18 shared-session run measured one query at 15.1 s on 32 cores
right after cross_source's gram aggregate, vs 2.2 s isolated.
Receipts that feed scaling claims must use --isolate.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

_REPO = os.path.abspath(os.path.join(os.path.dirname(__file__), "..", ".."))

#: scan-bound representatives of every benched family (TPC-H aggregates,
#: events, interval sweeps, dedup/LSH, text stats, liftover).
_DEFAULT = [
    "q1_pricing_summary",
    "events_hourly_rollup",
    "interval_join_binned",
    "coverage_histogram",
    "pileup_depth_histogram",
    "interval_multiinter_sets",
    "dedup_exact",
    "dedup_minhash_lsh",
    "dedup_clusters",
    "token_heavy_hitters",
    "tfidf_top_terms",
    "decontaminate_benchmark",
    "cross_source_ngram_overlap",
    "chain_liftover_roundtrip",
]

#: runner executed per (core count) in a fresh subprocess.
#: argv: <sf_dir> <cpus> <reps> <query,query,...>; prints one JSON line.
_RUNNER = r"""
import json, os, sys, time
sf_dir, cpus, reps = sys.argv[1], sys.argv[2], int(sys.argv[3])
names = sys.argv[4].split(",")
os.environ["SPARK_GRAFT_CPUS"] = cpus
sys.path.insert(0, os.getcwd())
from hadoop_bam_spark.session import get_spark
from hadoop_bam_spark.queries import REGISTRY
spark = get_spark("scaling_bench")
out = {}
for n in names:
    REGISTRY[n].fn(spark, sf_dir).count()  # warm (JIT, footers)
for _ in range(reps):
    for n in names:
        t0 = time.time()
        REGISTRY[n].fn(spark, sf_dir).count()
        dt = time.time() - t0
        out[n] = min(out.get(n, 1e18), dt)
print("SCALING_JSON " + json.dumps({n: round(v, 3) for n, v in out.items()}))
spark.stop()
"""


def _run(sf_dir: str, cpus: int, reps: int, names: list[str]) -> dict:
    with tempfile.NamedTemporaryFile("w", suffix=".py", delete=False) as fh:
        fh.write(_RUNNER)
        path = fh.name
    try:
        proc = subprocess.run(
            [sys.executable, path, sf_dir, str(cpus), str(reps), ",".join(names)],
            cwd=_REPO,
            capture_output=True,
            text=True,
            timeout=3600,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("SCALING_JSON "):
                return json.loads(line[len("SCALING_JSON "):])
        raise RuntimeError(
            f"runner at {cpus} cores produced no result line; "
            f"rc={proc.returncode}\n{proc.stderr[-2000:]}"
        )
    finally:
        os.unlink(path)


def main(argv: list[str]) -> None:
    sf_dir = None
    cores = (8, 32)
    reps = 2
    names = list(_DEFAULT)
    out_path = None
    isolate = False
    for a in argv:
        if a.startswith("--cores="):
            cores = tuple(int(x) for x in a.split("=", 1)[1].split(","))
        elif a.startswith("--queries="):
            names = a.split("=", 1)[1].split(",")
        elif a.startswith("--reps="):
            reps = int(a.split("=", 1)[1])
        elif a.startswith("--json="):
            out_path = a.split("=", 1)[1]
        elif a == "--isolate":
            isolate = True
        elif not a.startswith("--"):
            sf_dir = a
    if sf_dir is None:
        raise SystemExit(__doc__)
    lo, hi = sorted(cores)
    if isolate:
        t_hi, t_lo = {}, {}
        # interleave core counts per query so host drift degrades both
        # sides of each ratio equally, not whichever ran second
        for n in names:
            t_hi.update(_run(sf_dir, hi, reps, [n]))
            t_lo.update(_run(sf_dir, lo, reps, [n]))
    else:
        t_hi = _run(sf_dir, hi, reps, names)
        t_lo = _run(sf_dir, lo, reps, names)
    per_query = {}
    for n in names:
        a, b = t_lo.get(n), t_hi.get(n)
        per_query[n] = {
            f"wall_{lo}c": a,
            f"wall_{hi}c": b,
            "core_ratio": round(a / b, 2) if a and b else None,
        }
    result = {
        "sf_dir": sf_dir,
        "cores": [lo, hi],
        "ideal_ratio": round(hi / lo, 2),
        "reps": reps,
        "isolated_sessions": isolate,
        "per_query": per_query,
    }
    text = json.dumps(result, indent=1, sort_keys=True)
    print(text)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(text + "\n")


if __name__ == "__main__":
    main(sys.argv[1:])
