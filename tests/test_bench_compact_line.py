"""Compact-line per-query map contract (r17, VERDICT r16 #1).

The driver's PERF builder reads per-query medians from the PRINTED line
only, and records a ~2000-char stdout tail — so the emitted map must (a)
always contain every pinned name that was measured, (b) fit the byte
budget after bench._fit_line's shedding pass, and (c) shed unpinned entries first
(cheapest first) so the pinned set is stable across rounds and across the
driver's 32-core/8-core runs.
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


def test_shed_keeps_pins_and_fits_budget():
    """With an oversized map, _fit_line sheds unpinned entries first
    (cheapest first) and the line lands under budget with every pinned
    name intact."""
    pins = bench._compact_pin_names()
    timings = {n: 1.0 + i * 0.01 for i, n in enumerate(pins)}
    timings.update({f"unpinned_query_with_a_long_name_{i:03d}": 0.2 + i * 0.001
                    for i in range(60)})
    compact_queries, n_elided = bench._compact_query_map(timings)
    compact = {"metric": "headline_queries_total_wall_time", "value": 1.0,
               "unit": "sec", "queries": compact_queries, "qx": n_elided,
               "filler": "x" * 700}
    line = bench._fit_line(compact, len(timings))
    assert len(line) <= bench._COMPACT_LINE_BUDGET
    for n in pins:
        assert n in compact_queries, "shedding removed a pinned name"
    parsed = json.loads(line)
    assert parsed["queries"] == compact_queries
    assert parsed["qx"] == len(timings) - len(compact_queries)


def _pins_only_line(filler: int, compare: dict) -> dict:
    pins = bench._compact_pin_names()
    return {"metric": "headline_queries_total_wall_time", "value": 1.0,
            "queries": {n: 1.0 + i * 0.01 for i, n in enumerate(pins)}, "qx": 0,
            "families": {"graph": 12.5, "stream": 30.1, "dedup": 20.2},
            "compare": compare, "filler": "x" * filler}


def test_fit_line_trims_compare_before_families_and_warns_on_pins(capsys):
    """Shed order past the unpinned entries: compare is trimmed to its
    verdict keys while families survive; only when pins alone overflow are
    families dropped and pinned names shed, each run logged as a WARN."""
    verbose = {"vs": "r17", "reg": 2, "imp": 1, "adj_persist_names": ["q9"],
               "session_factor": 1.1, "notes": "n" * 600}
    base = len(json.dumps(_pins_only_line(0, {}), separators=(",", ":")))
    budget = bench._COMPACT_LINE_BUDGET

    # verbose compare overflows; trimming it is enough
    compact = _pins_only_line(budget - base - 120, dict(verbose))
    parsed = json.loads(bench._fit_line(compact, len(compact["queries"])))
    assert parsed["compare"] == {"vs": "r17", "reg": 2, "imp": 1,
                                 "adj_persist_names": ["q9"]}
    assert "families" in parsed
    assert set(parsed["queries"]) == set(bench._compact_pin_names())
    assert "WARN" not in capsys.readouterr().err

    # the pins alone overflow: families go, then the cheapest pins, with a WARN
    compact = _pins_only_line(budget - base + 100, dict(verbose))
    n_pins = len(compact["queries"])
    line = bench._fit_line(compact, n_pins)
    parsed = json.loads(line)
    assert len(line) <= budget
    assert "families" not in parsed
    assert set(parsed["compare"]) == {"vs", "reg", "imp", "adj_persist_names"}
    shed = sorted(set(bench._compact_pin_names()) - set(parsed["queries"]))
    assert shed and parsed["qx"] == len(shed)
    err = capsys.readouterr().err
    assert "[bench] WARN shed pinned query names:" in err
    assert all(n in err for n in shed)
