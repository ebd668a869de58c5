"""Tests for the benchmark's pure helpers (no Spark needed).

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import N_KEYS, Generator, Truth  # noqa: E402
from stats import canon_value, fingerprint, median, supported_percentile  # noqa: E402
from spans import Span, Tracer, covered, self_time_by_name, self_times  # noqa: E402


# -- generator ---------------------------------------------------------------


def test_generator_is_deterministic_per_seed_and_file():
    a, b = Generator(5, 1000), Generator(5, 1000)
    for i in (0, 3):
        ua, va = a.file(i)
        ub, vb = b.file(i)
        assert np.array_equal(ua, ub) and np.array_equal(va, vb)
    assert not np.array_equal(a.file(0)[0], a.file(1)[0])
    assert not np.array_equal(a.file(0)[0], Generator(6, 1000).file(0)[0])


def test_generator_keys_are_bounded_and_skewed():
    user_id, value = Generator(1, 20_000).file(0)
    key = user_id % N_KEYS
    assert key.min() >= 0 and key.max() < N_KEYS
    assert value.min() >= 0 and value.max() < 1000
    # Zipf: the hottest key alone takes a few percent of all rows
    assert np.bincount(key).max() > 0.02 * len(key)


def test_truth_matches_a_direct_count(tmp_path):
    g = Generator(9, 500)
    g.write(str(tmp_path), 3)
    assert sorted(os.listdir(tmp_path)) == [f"part-{i:05d}.parquet" for i in range(3)]
    mtimes = [os.stat(tmp_path / f"part-{i:05d}.parquet").st_mtime for i in range(3)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3

    import pyarrow.parquet as pq

    truth = Truth(g)
    first = truth.advance(1)
    assert np.array_equal(first, np.unique(g.file(0)[0] % N_KEYS))
    truth.advance(2)
    count, total = truth.count, truth.total
    expect_n, expect_s = {}, {}
    for i in range(3):
        t = pq.read_table(tmp_path / f"part-{i:05d}.parquet")
        for u, v in zip(t.column("user_id").to_pylist(), t.column("value").to_pylist()):
            k = u % N_KEYS
            expect_n[k] = expect_n.get(k, 0) + 1
            expect_s[k] = expect_s.get(k, 0) + v
    keys = np.nonzero(count)[0]
    assert {int(k): int(count[k]) for k in keys} == expect_n
    assert {int(k): int(total[k]) for k in keys} == expect_s
    assert count.sum() == 1500


# -- percentiles ---------------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (9, None), (99, None), (100, 90.0), (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_a_tail_percentile_needs_ten_samples_beyond_it(n, expected):
    assert supported_percentile(n) == expected


def test_median():
    assert median([]) is None
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([1.0, 2.0, 3.0, 10.0]) == 2.5


# -- fingerprints --------------------------------------------------------------


def test_canon_value():
    assert canon_value(None) == "\\N"
    assert canon_value(True) == "true" and canon_value(1) == "1"
    assert canon_value(0.1 + 0.2) == "0.300000000"
    assert canon_value(-0.0) == canon_value(0.0)
    assert canon_value(float("nan")) == "NaN"


def test_fingerprint_ignores_column_and_row_order():
    rows = [(1, "a", 0.5), (2, "b", 1.25)]
    fp = fingerprint(["k", "s", "x"], rows)
    assert fingerprint(["x", "k", "s"], [(r[2], r[0], r[1]) for r in reversed(rows)]) == fp
    # floats compare at 9 decimals, as the oracle gate does
    assert fingerprint(["k", "s", "x"], [(1, "a", 0.5 + 1e-12), (2, "b", 1.25)]) == fp
    assert fingerprint(["k", "s", "x"], [(1, "a", 0.5), (2, "b", 1.26)]) != fp
    assert fingerprint(["k", "s", "y"], rows) != fp
    assert fingerprint(["k", "s", "x"], rows[:1]) != fp


# -- spans -----------------------------------------------------------------------


def test_covered_merges_overlaps():
    assert covered([]) == 0.0
    assert covered([(1, 3), (2, 5), (8, 9)]) == 5.0


def test_self_time_subtracts_what_children_cover():
    spans = [
        Span(0, "drain", 0.0, 10.0),
        Span(1, "trigger", 1.0, 3.0, parent=0),
        Span(2, "trigger", 2.0, 5.0, parent=0),  # overlaps its sibling
        Span(3, "trigger", 8.0, 12.0, parent=0),  # runs past its parent
        Span(4, "phase", 1.0, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 4.0 - 2.0)
    assert st[1] == pytest.approx(1.0)
    assert st[3] == pytest.approx(4.0)
    by_name = self_time_by_name(spans)
    assert by_name["trigger"] == pytest.approx(1.0 + 3.0 + 4.0)


def test_tracer_nests_spans_and_is_inert_when_disabled():
    t = Tracer(enabled=True)
    with t.span("outer", op=7):
        with t.span("inner", op=7):
            pass
    outer, inner = t.spans
    assert inner.parent == outer.id and outer.parent is None and inner.op == 7
    assert outer.start <= inner.start <= inner.end <= outer.end
    off = Tracer(enabled=False)
    with off.span("x"):
        pass
    assert off.add("y", 0, 1) is None and off.spans == []
