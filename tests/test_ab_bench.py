"""tools/ab_bench.py — the committed cross-round A/B protocol.

The Spark-side plumbing reuses the bench.py measurement machinery; what
needs pinning here is the verdict MATH (median-of-medians ratio vs
within-session spread — the r14 adjudication logic) and the cheap
process plumbing (bench-name discovery in a fresh subprocess, live-tree
materialization)."""

from hadoop_bam_spark.tools.ab_bench import _REPO, _materialize, summarize


def _reps(totals_per_query):
    return [dict(t) for t in totals_per_query]


def test_summarize_flat_inside_spread():
    # B is ~2% slower but tree A itself wobbles 30% within-session —
    # exactly the r14 "code is flat, host drifted" shape.
    reps_a = _reps([{"q1": 10.0, "q2": 5.0}, {"q1": 13.0, "q2": 6.5},
                    {"q1": 11.0, "q2": 5.5}])
    reps_b = _reps([{"q1": 10.2, "q2": 5.1}, {"q1": 13.3, "q2": 6.6},
                    {"q1": 11.2, "q2": 5.6}])
    out = summarize(reps_a, reps_b, "r11", "head",
                    sentinels=[0.30, 0.33], spread_bound=1.25)
    assert out["flat"] is True
    assert out["head_vs_r11_median_ratio"] == 1.018
    assert out["within_session_spread_r11"] > 1.25
    assert out["per_query"]["q1"]["ratio"] == 1.018
    assert out["host_sentinel_spread"] == 1.1
    assert "CODE IS FLAT" in out["verdict"]


def test_summarize_regression_survives_defense():
    # B is uniformly 2x slower on a quiet box: not explainable as host.
    reps_a = _reps([{"q1": 10.0}, {"q1": 10.1}, {"q1": 10.2}])
    reps_b = _reps([{"q1": 20.0}, {"q1": 20.4}, {"q1": 20.1}])
    out = summarize(reps_a, reps_b, "a", "b", sentinels=[], spread_bound=1.25)
    assert out["flat"] is False
    assert out["b_vs_a_median_ratio"] == 1.99
    assert "DELTA SURVIVES" in out["verdict"]


def test_summarize_speedup_also_not_flat():
    # a genuine 2x SPEEDUP must not be called flat either (1/ratio check)
    reps_a = _reps([{"q1": 20.0}, {"q1": 20.2}])
    reps_b = _reps([{"q1": 10.0}, {"q1": 10.1}])
    out = summarize(reps_a, reps_b, "a", "b", sentinels=[], spread_bound=1.25)
    assert out["flat"] is False


def test_summarize_uses_shared_queries_only():
    reps_a = _reps([{"q1": 10.0, "only_a": 99.0}])
    reps_b = _reps([{"q1": 10.0, "only_b": 99.0}])
    out = summarize(reps_a, reps_b, "a", "b", sentinels=[], spread_bound=1.25)
    assert set(out["per_query"]) == {"q1"}
    assert out["cpu_total_median_a"] == 10.0


def test_materialize_live_tree():
    label, tree = _materialize(".")
    assert label == "live"
    assert tree == _REPO


def test_bench_name_discovery_subprocess():
    """The runner's 'names' mode in a fresh subprocess against the live
    tree must agree with the in-process registry."""
    from hadoop_bam_spark.queries import REGISTRY
    from hadoop_bam_spark.tools.ab_bench import _bench_names

    names = _bench_names(_REPO, "/root/testdata/sf0.001")
    assert names == sorted(n for n, s in REGISTRY.items() if s.bench)


def test_summarize_per_query_verdicts_computed():
    """r16: per-query flat/outlier is COMPUTED against that query's own
    within-session spread (not the much-tighter total's), so a real
    per-query regression can no longer hide in prose — and per-query
    noise cannot read as a regression."""
    # q1 noisy-but-flat (A wobbles 40%, B ~same); q2 quiet 2x regression
    reps_a = _reps([{"q1": 10.0, "q2": 5.0}, {"q1": 14.0, "q2": 5.05},
                    {"q1": 12.0, "q2": 5.1}])
    reps_b = _reps([{"q1": 13.9, "q2": 10.0}, {"q1": 10.2, "q2": 10.1},
                    {"q1": 12.1, "q2": 10.2}])
    out = summarize(reps_a, reps_b, "a", "b", sentinels=[], spread_bound=1.25)
    assert out["per_query"]["q1"]["verdict"] == "flat"
    assert out["per_query"]["q1"]["within_session_spread"] == 1.4
    assert out["per_query"]["q2"]["verdict"] == "outlier"
    assert out["per_query_outliers"] == ["q2"]
    assert "q2" in out["verdict"]


def test_summarize_all_flat_says_so_in_verdict():
    reps_a = _reps([{"q1": 10.0}, {"q1": 10.1}])
    reps_b = _reps([{"q1": 10.05}, {"q1": 10.0}])
    out = summarize(reps_a, reps_b, "a", "b", sentinels=[], spread_bound=1.25)
    assert out["per_query_outliers"] == []
    assert "every per-query ratio inside" in out["verdict"]


def test_materialize_rejects_stale_worktree(tmp_path, monkeypatch):
    """A reused worktree directory whose HEAD is not the requested sha
    must be recreated, not silently benchmarked. Runs against its own
    two-commit repository, so it holds in an exported tree too."""
    import os
    import subprocess

    from hadoop_bam_spark.tools import ab_bench

    repo = tmp_path / "repo"
    repo.mkdir()

    def git(*args, cwd=repo):
        return subprocess.run(
            ["git", "-c", "user.name=ab", "-c", "user.email=ab@example.com",
             *args],
            cwd=cwd, capture_output=True, text=True, check=True,
        ).stdout.strip()

    git("init", "-q")
    for i in range(2):
        (repo / "f.txt").write_text(str(i))
        git("add", "f.txt")
        git("commit", "-q", "-m", f"c{i}")
    monkeypatch.setattr(ab_bench, "_REPO", str(repo))
    want = git("rev-parse", "HEAD~1")
    label, tree = ab_bench._materialize("HEAD~1")
    assert label == git("rev-parse", "--short", "HEAD~1")
    assert git("rev-parse", "HEAD", cwd=tree) == want
    # poison the worktree: move its HEAD elsewhere, re-materialize
    git("checkout", "-q", "--detach", git("rev-parse", "HEAD"), cwd=tree)
    assert git("rev-parse", "HEAD", cwd=tree) != want
    label2, tree2 = ab_bench._materialize("HEAD~1")
    assert git("rev-parse", "HEAD", cwd=tree2) == want
    # parent directory is user-private
    assert os.stat(os.path.dirname(tree2)).st_mode & 0o777 == 0o700
    git("worktree", "remove", "--force", tree2)
