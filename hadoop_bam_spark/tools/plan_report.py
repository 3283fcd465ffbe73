"""Physical-plan report: ``python -m hadoop_bam_spark.tools.plan_report
[SF_DIR] [--out=PLANS.md] [--queries=a,b,c]``.

Dumps ``explain("formatted")`` for every bench-flagged query (or the
given subset) into one markdown file, with a per-plan summary line
counting the operators that matter at 100 TB: shuffles (Exchange),
broadcast joins vs sort-merge joins, and Python evaluation nodes (the
slow path — should be absent from every hot query). (Codegen span ids
are not assigned in pre-execution AQE plans, so they are not counted.) Re-generate after plan-affecting changes; the repo-wide
plan-audit test enforces the hard rules (no cartesian products, no
un-allowlisted nested-loop joins), this report makes the soft ones
reviewable at a glance.
"""

from __future__ import annotations

import re
import sys


def plan_report(sf_dir: str, names: list[str] | None = None) -> str:
    from hadoop_bam_spark.queries import REGISTRY
    from hadoop_bam_spark.session import get_spark

    spark = get_spark("plan_report")
    bench = [n for n, s in REGISTRY.items() if s.bench]
    chosen = names or list(REGISTRY)
    out = [
        "# Physical plans (generated by tools/plan_report.py)",
        "",
        f"Scale-factor dir: `{sf_dir}`. Summary counts per plan: "
        "`Exchange` = shuffles, `WSCG` = whole-stage-codegen spans, "
        "`BHJ`/`SMJ` = broadcast vs sort-merge joins, `PyEval` = Python "
        "evaluation nodes (ArrowEval/BatchEval — the slow path). The "
        "summary table covers EVERY registered query; full "
        "`explain(\"formatted\")` dumps follow for the bench-flagged "
        "headline set (the repo-wide pytest plan audit enforces the hard "
        "rules — no CartesianProduct, no un-allowlisted nested-loop "
        "joins, no executor-side Python "
        "— across all of them).",
        "",
        "## Summary — all registered queries",
        "",
        "| query | Exchange | BHJ | SMJ | PyEval | CartesianProduct |",
        "|---|---|---|---|---|---|",
    ]
    plans: dict[str, str] = {}
    counts: dict[str, tuple] = {}
    for name in chosen:
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
            df._jdf.queryExecution(), "formatted"
        )
        plans[name] = plan
        counts[name] = (
            len(re.findall(r"\bExchange\b", plan)),
            len(re.findall(r"BroadcastHashJoin", plan)),
            len(re.findall(r"SortMergeJoin", plan)),
            len(re.findall(r"ArrowEvalPython|BatchEvalPython|MapInPandas|FlatMapGroupsInPandas", plan)),
            len(re.findall(r"CartesianProduct", plan)),
        )
    for name in chosen:
        n_ex, n_bhj, n_smj, n_py, n_cart = counts[name]
        star = " **(bench)**" if name in bench else ""
        out.append(
            f"| {name}{star} | {n_ex} | {n_bhj} | {n_smj} | {n_py} | {n_cart} |"
        )
    out.append("")
    for name in chosen:
        if name not in bench:
            continue
        n_ex, n_bhj, n_smj, n_py, _ = counts[name]
        out.append(
            f"## {name}\n\n"
            f"`Exchange={n_ex} BHJ={n_bhj} SMJ={n_smj} PyEval={n_py}`\n\n"
            "```\n" + plans[name].strip() + "\n```\n"
        )
    return "\n".join(out)


if __name__ == "__main__":
    pos = [a for a in sys.argv[1:] if not a.startswith("--")]
    sf_dir = pos[0] if pos else "/root/testdata/sf0.01"
    out_path, names = None, None
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out_path = a.split("=", 1)[1]
        elif a.startswith("--queries="):
            names = a.split("=", 1)[1].split(",")
    report = plan_report(sf_dir, names)
    if out_path:
        with open(out_path, "w") as fh:
            fh.write(report)
        print(f"wrote {out_path}")
    else:
        print(report)
