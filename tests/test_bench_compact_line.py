"""Compact-line per-query map contract (r17, VERDICT r16 #1).

The driver's PERF builder reads per-query medians from the PRINTED line
only, and records a ~2000-char stdout tail — so the line (bench.compact_line)
must (a) always contain every pinned name that was measured and no other
query name, so the set is stable across rounds and across the driver's
32-core/8-core runs, and (b) fit the byte budget by construction: its
schema is fixed, and the worst case below is held under the budget.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

import bench  # noqa: E402


def test_pin_file_exists_and_names_are_panel_queries():
    pins = bench._compact_pin_names()
    assert len(pins) >= 30
    assert "graph_connected_components" in pins  # adjudication subject
    assert "q9_profit_by_nation" in pins  # adjudication subject
    assert "stream_window_tumbling_hourly" in pins  # adjudication subject
    assert len(pins) == len(set(pins)), "duplicate pin names"


def test_compact_map_contains_all_measured_pins():
    pins = bench._compact_pin_names()
    timings = {n: 0.5 for n in pins}
    timings.update({f"zz_extra_{i}": 2.0 for i in range(40)})
    qmap, elided = bench._compact_query_map(timings)
    for n in pins:
        assert n in qmap
    assert elided == len(timings) - len(qmap)


def _detail(timings: dict, smoke_names: list[str], **over) -> dict:
    d = {
        "metric": "headline_queries_total_wall_time",
        "value": round(sum(timings.values()), 4), "unit": "sec",
        "queries": timings, "sf": 0.1, "reps_per_query": 3,
        "families": {fam: 999.99 for fam, _ in bench.FAMILY_PATTERNS},
        "rows_per_sec": 99_999_999, "stream_rows_per_sec": 99_999_999,
        "stream_rows_per_sec_1m_keys": 99_999_999,
        "stream_probe_1k": {"spread_pct": 999.9},
        "stream_probe_1m": {"spread_pct": 999.9},
        "shuffle_audit": {f"audit_{i}": {"ok": False, "spill": 0} for i in range(116)},
        "sf1x10": {n: {"err": "boom"} for n in smoke_names},
    }
    d["shuffle_audit"]["audit_0"]["spill"] = 9_999_999_999
    d.update(over)
    return d


def test_compact_line_worst_case_fits_budget():
    """The line fits by construction: every pin at a 99.99 s median, a
    full 116-query panel, every family at 999.99 s, every name list filled
    with the registry's longest names, the opt-in x100 smoke present and
    every count at its widest — still under the budget, with every pin."""
    import __spark_entry__ as entry_mod

    longest = sorted(entry_mod.queries(), key=len, reverse=True)
    pins = bench._compact_pin_names()
    others = [n for n in longest if n not in pins][: 116 - len(pins)]
    timings = {n: 99.99 for n in pins + others}
    smoke = {n: {"err": "boom"} for n in longest[:60]}
    smoke[longest[70]] = {"ratio_vs_linear": 999.999}
    detail = _detail(timings, [], sf1x10=smoke, sf1x100=dict(smoke))
    verdict = {"vs": "r100_baseline_c32.json", "reg": 116, "imp": 116,
               "adj_persist_names": longest[:16], "n": 116,
               "session_factor": 1.234, "regressions": longest[:8]}
    line = bench.compact_line(detail, verdict)
    assert len(line) <= bench._COMPACT_LINE_BUDGET, len(line)
    parsed = json.loads(line)
    assert set(parsed["queries"]) == set(pins)
    assert parsed["qx"] == 116 - len(pins)
    assert "families" in parsed

    # a failed compare carries its (120-char) error instead, still in budget
    line = bench.compact_line(detail, {"err": "e" * 120})
    assert len(line) <= bench._COMPACT_LINE_BUDGET, len(line)


def test_compact_line_fixed_schema(capsys):
    """Fixed schema: pins only (no unpinned extras), families always,
    compare cut to its verdict keys, name lists capped at 3, the x100
    smoke as counts only; no shed pass, so no shed WARN."""
    pins = bench._compact_pin_names()
    timings = {n: 1.0 for n in pins}
    timings.update({f"zz_extra_{i}": 5.0 for i in range(10)})
    detail = _detail(timings, [f"bad_{i}" for i in range(6)],
                     sf1x100={"x": {"err": "boom"}})
    verdict = {"vs": "r17.json", "n": 112, "session_factor": 0.95,
               "thr": [1.262, 1.5], "reg": 1, "imp": 2, "suspect": 3,
               "adj_noise": 1, "adj_persists": 5,
               "adj_persist_names": ["a", "b", "c", "d", "e"]}
    parsed = json.loads(bench.compact_line(detail, verdict))
    assert list(parsed["queries"]) == pins
    assert parsed["qx"] == 10 and parsed["n_queries"] == len(timings)
    assert parsed["families"] == detail["families"]
    assert parsed["compare"] == {"vs": "r17.json", "reg": 1, "imp": 2,
                                 "adj_persist_names": ["a", "b", "c"]}
    assert parsed["sf1x10"]["bad"] == ["bad_0", "bad_1", "bad_2"]
    assert parsed["sf1x10"]["violations"] == 6
    assert parsed["sf1x100"] == {"n": 1, "violations": 1, "worst_ratio": None}
    assert "WARN" not in capsys.readouterr().err

    # a missing pin is still named on stderr
    del timings[pins[0]]
    parsed = json.loads(bench.compact_line(detail, None))
    assert pins[0] not in parsed["queries"] and "compare" not in parsed
    assert "WARN pinned queries missing from panel" in capsys.readouterr().err
