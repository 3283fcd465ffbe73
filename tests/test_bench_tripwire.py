"""Unit tests for bench.py's cross-round regression tripwire
(r10 VERDICT #7): calibrated cpu_total_ratio above the bound must set
``regression: true`` in the artifact instead of relying on narrative."""

import importlib.util
import os


def _bench():
    path = os.path.join(os.path.dirname(__file__), "..", "bench.py")
    spec = importlib.util.spec_from_file_location("bench_mod", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class TestRegressionFlag:
    def test_calibrated_over_bound_flags(self):
        b = _bench()
        got = b._regression_flag(
            {"cpu_total_ratio": 1.4, "cpu_total_ratio_calibrated": 1.2}
        )
        assert got == {
            "regression": True,
            "basis": "cpu_total_ratio_calibrated",
            "ratio": 1.2,
            "bound": b._REGRESSION_BOUND,
            "query_hits": [],
            "query_bound": b._QUERY_REGRESSION_BOUND,
        }

    def test_calibrated_under_bound_clean_even_if_raw_over(self):
        # a hot box inflates the RAW ratio; calibration divides the host
        # drift out — only the calibrated number decides
        b = _bench()
        got = b._regression_flag(
            {"cpu_total_ratio": 1.4, "cpu_total_ratio_calibrated": 1.05}
        )
        assert got["regression"] is False
        assert got["basis"] == "cpu_total_ratio_calibrated"

    def test_exactly_at_bound_is_clean(self):
        b = _bench()
        got = b._regression_flag(
            {"cpu_total_ratio_calibrated": b._REGRESSION_BOUND}
        )
        assert got["regression"] is False

    def test_uncalibrated_fallback_flags_raw(self):
        # calibration refused (sentinel spread / pre-r9 artifact): the
        # raw ratio still trips the wire, labeled with its basis
        b = _bench()
        got = b._regression_flag(
            {"cpu_total_ratio": 1.3, "cpu_total_ratio_calibrated": None}
        )
        assert got == {
            "regression": True,
            "basis": "cpu_total_ratio",
            "ratio": 1.3,
            "bound": b._REGRESSION_BOUND,
            "query_hits": [],
            "query_bound": b._QUERY_REGRESSION_BOUND,
        }

    def test_no_prev_or_no_ratio_is_silent(self):
        b = _bench()
        assert b._regression_flag(None) is None
        assert b._regression_flag({}) is None
        assert b._regression_flag(
            {"note": "sf mismatch; ratios omitted"}
        ) is None

    def test_single_query_blowup_trips_despite_clean_total(self):
        # one melted operator must not hide under a clean aggregate
        b = _bench()
        vs = {
            "cpu_total_ratio": 1.02,
            "cpu_total_ratio_calibrated": 1.02,
            "host_cpu_calibration": 1.0,
            "per_query_cpu_ratio": {"q_fast": 0.9, "q_melted": 3.1},
        }
        got = b._regression_flag(vs, {"q_fast": 0.4, "q_melted": 2.0})
        assert got["regression"] is True
        assert got["query_hits"] == [
            {"query": "q_melted", "ratio_calibrated": 3.1}
        ]

    def test_query_blowup_below_cpu_floor_is_noise(self):
        # a 0.1s query tripling is jitter, not a regression
        b = _bench()
        vs = {
            "cpu_total_ratio_calibrated": 1.0,
            "host_cpu_calibration": 1.0,
            "per_query_cpu_ratio": {"q_tiny": 3.0},
        }
        got = b._regression_flag(vs, {"q_tiny": 0.1})
        assert got["regression"] is False and got["query_hits"] == []

    def test_contract_line_is_minimal_and_short(self):
        # r18 (VERDICT r17 next #2): the stdout line carries ONLY the
        # driver-contract keys — the old full payload was tail-truncated
        # by the driver's capture (BENCH_r16 parsed: null), which emptied
        # the PERF round-over-round table for a whole round.
        import json

        b = _bench()
        payload = {
            "metric": "headline_queries_total",
            "value": 30.5,
            "unit": "sec",
            "queries": {f"q{i}": 1.234 for i in range(26)},
            "sf": 0.1,
            # file-only blocks that must NOT reach stdout
            "cpu_sec": {f"q{i}": 9.9 for i in range(26)},
            "noise_sentinel": {"min": 0.1},
            "vs_prev": {"per_query_cpu_ratio": {}},
            "regression_detail": {"x": 1},
        }
        line = b._contract_line(payload)
        parsed = json.loads(line)
        assert set(parsed) == set(b._CONTRACT_KEYS)
        assert parsed["queries"] == payload["queries"]
        assert "\n" not in line
        # headroom vs any sane line-capture limit (the r16 payload that
        # truncated was ~4x this)
        assert len(line) < 2048

    def test_query_ratio_divides_out_calibration(self):
        # raw per-query ratio 2.4 on a box running 1.3x hot -> 1.85
        # calibrated: under the bound, no false alarm
        b = _bench()
        vs = {
            "cpu_total_ratio": 1.3,
            "cpu_total_ratio_calibrated": 1.0,
            "host_cpu_calibration": 1.3,
            "per_query_cpu_ratio": {"q": 2.4},
        }
        got = b._regression_flag(vs, {"q": 5.0})
        assert got["regression"] is False and got["query_hits"] == []


class TestVsPrev:
    def test_wall_ratio_over_shared_queries_only(self, monkeypatch):
        # the previous run timed one extra query this run no longer has;
        # dividing this run's total by the previous headline total would
        # report a fake 2x speed-up on identical per-query times
        b = _bench()
        prev = {
            "sf": 0.1,
            "value": 6.0,
            "queries": {"a": 1.0, "b": 2.0, "gone": 3.0},
            "cpu_sec": {"a": 2.0, "b": 4.0, "gone": 6.0},
        }
        monkeypatch.setattr(
            b, "_load_prev_bench", lambda: ("BENCH_FULL_r01.json", prev)
        )
        got = b._vs_prev({"a": 1.0, "b": 2.0}, {"a": 2.0, "b": 4.0}, 0.1)
        assert got["common_queries"] == 2
        assert got["cpu_total_ratio"] == 1.0
        assert got["wall_total_ratio"] == 1.0
