"""Repo-wide physical-plan audit: no registered query may plan an
un-broadcast CartesianProduct. BroadcastNestedLoopJoin is allowed only for
queries that deliberately broadcast a tiny side (interval regions, a
single-row aggregate); everything else must be an equi-join / aggregate
shape that scales out.

This is the guardrail form of the per-operator ``.explain`` reviews: a new
query that accidentally goes quadratic fails CI instead of surfacing as a
100x slowdown at scale.
"""

import pytest

from tests.conftest import SF_SMOKE

#: Queries whose plan intentionally contains a BroadcastNestedLoopJoin
#: (a small broadcast side × range/array predicate — the documented design).
BNLJ_ALLOWED = {
    "interval_join_broadcast",  # broadcast regions x range predicate
    "tfidf_top_terms",          # single-row broadcast corpus-size aggregate
    "corpus_mixing_weights",    # single-row broadcast corpus-total aggregate
    "interval_jaccard_reads_regions",  # 1x1-row broadcast scalar-aggregate combine
    "interval_reldist_reads",  # single-row broadcast histogram-total combine
}


#: Python evaluation on executors: every registered query must stay
#: JVM-side, because a row-at-a-time F.udf sneaking into a hot query is a
#: 10-100x scale defect that should fail CI here.
_PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
)


def _registry():
    from hadoop_bam_spark.queries import REGISTRY

    return REGISTRY


@pytest.mark.parametrize("name", ["scan_filter_project", "q1_pricing_summary"])
def test_parquet_filter_pushdown(spark, name):
    """Filter predicates must reach the parquet scan (a literal whose
    timestamp flavor mismatches the column silently blocks this)."""
    import re

    plan = (
        _registry()[name]
        .fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert re.search(r"PushedFilters: \[(?!\])", plan), (
        f"{name}: no filters pushed to the parquet scan"
    )


@pytest.mark.parametrize("name", list(_registry()))
def test_no_cartesian_product(spark, name):
    spec = _registry()[name]
    plan = (
        spec.fn(spark, SF_SMOKE)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian product"
    if name not in BNLJ_ALLOWED:
        assert "BroadcastNestedLoopJoin" not in plan, (
            f"{name} plans a BroadcastNestedLoopJoin but is not in the "
            "allowlist — broadcast it deliberately or use an equi-join"
        )
    found = [t for t in _PY_NODES if t in plan]
    assert not found, (
        f"{name} evaluates Python on executors ({found}) — express it "
        "with built-in functions"
    )


def test_cross_source_overlap_single_corpus_pass(spark):
    """cross_source_ngram_overlap's single-pass claim, enforced by CI
    (r18, VERDICT r17 next #6): exactly ONE documents.parquet scan in the
    FINAL adaptive plan — the corpus is read and gram-aggregated once.
    The r17 shape needed AQE ReusedExchange to collapse three consumer
    subtrees (shared/ta/tb rebuilt from the collect_list barrier and
    re-joined); since r18 the shared matrix and totals are pure array
    expressions over the single collected row, so the plan has ONE
    consumer by construction — no duplicate subtree to reuse, and no
    broadcast joins after the barrier either."""
    import re

    df = _registry()["cross_source_ngram_overlap"].fn(spark, SF_SMOKE)
    df.collect()
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    # the tree before "== Initial Plan ==" is the FINAL executed plan;
    # the only parquet input of this query is documents.parquet
    final = plan.split("== Initial Plan ==")[0]
    n_scans = len(re.findall(r"Scan parquet", final))
    assert n_scans == 1, (
        f"{n_scans} parquet scans survive in the executed plan:\n" + final
    )
    assert "BroadcastHashJoin" not in final, (
        "the totals lookup regressed to join form:\n" + final
    )
