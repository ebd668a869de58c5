"""Unit tests for the noise-aware bench regression gate (no Spark needed).

The gate's contract (calibrated against two same-code runs, see the module
docstring): a wall-time move counts only when the min/max spread envelopes
are disjoint AND the session-factor-normalized ratio exceeds 1.5× AND the
absolute move exceeds 0.15 s; disjoint moves beyond 1.25× normalized are
reported as "suspect" without entering the verdict.  A shuffle-byte move
counts when the measured shuffle_write/on-disk ratio grew >25% relative
AND >0.05 absolute.  Everything else is sandbox noise and must NOT be
reported — round 3's false "+23.5% regression on unchanged code" is the
failure mode this tool exists to prevent.
"""

from __future__ import annotations

from tools.bench_compare import compare, compare_shuffle, to_markdown


def detail(queries, spreads=None, shuffle=None):
    d = {"queries": queries}
    if spreads:
        d["queries_spread"] = spreads
    if shuffle:
        d["shuffle_audit"] = shuffle
    return d


def test_overlapping_spreads_are_noise():
    old = detail({"q": 1.0}, {"q": [0.9, 1.3]})
    new = detail({"q": 1.25}, {"q": [1.1, 1.4]})  # +25% median but spreads overlap
    r = compare(old, new)
    assert r["rows"][0]["status"] == "within-noise"
    assert r["verdict"]["reg"] == 0


def test_disjoint_spreads_and_big_move_is_regression():
    old = detail({"q": 1.0}, {"q": [0.9, 1.1]})
    new = detail({"q": 2.0}, {"q": [1.8, 2.2]})
    r = compare(old, new)
    assert r["rows"][0]["status"] == "REGRESSION"
    assert r["verdict"]["regressions"] == ["q"]


def test_disjoint_but_small_move_is_noise():
    # disjoint intervals but a small normalized move: two tight samples
    # close together, not a structural change
    old = detail({"q": 1.00}, {"q": [0.99, 1.01]})
    new = detail({"q": 1.05}, {"q": [1.04, 1.06]})
    r = compare(old, new)
    assert r["rows"][0]["status"] == "within-noise"


def test_session_factor_absorbs_correlated_drift():
    # 9 queries, ALL ~1.4x slower: a session-wide factor (JIT/cache state),
    # not nine real regressions — the exact false-positive class measured
    # on two same-code runs in round 5
    old = detail(
        {f"q{i}": 1.0 for i in range(9)},
        {f"q{i}": [0.98, 1.02] for i in range(9)},
    )
    new = detail(
        {f"q{i}": 1.4 for i in range(9)},
        {f"q{i}": [1.37, 1.43] for i in range(9)},
    )
    r = compare(old, new)
    assert r["verdict"]["session_factor"] == 1.4
    assert r["verdict"]["reg"] == 0
    assert all(row["status"] == "within-noise" for row in r["rows"])


def test_one_real_regression_survives_normalization():
    # 8 stable queries + one 3x blowup: the factor stays ~1.0 and the
    # outlier is flagged
    old = detail(
        {**{f"q{i}": 1.0 for i in range(8)}, "bad": 1.0},
        {**{f"q{i}": [0.98, 1.02] for i in range(8)}, "bad": [0.98, 1.02]},
    )
    new = detail(
        {**{f"q{i}": 1.0 for i in range(8)}, "bad": 3.0},
        {**{f"q{i}": [0.98, 1.02] for i in range(8)}, "bad": [2.9, 3.1]},
    )
    r = compare(old, new)
    assert r["verdict"]["reg"] == 1
    assert r["verdict"]["regressions"] == ["bad"]


def test_disjoint_moderate_move_is_suspect_not_regression():
    old = detail({"q": 1.0}, {"q": [0.98, 1.02]})
    new = detail({"q": 1.35}, {"q": [1.32, 1.38]})  # 1.35x: above 1.25, below 1.5
    r = compare(old, new)
    assert r["rows"][0]["status"] == "suspect"
    assert r["verdict"]["reg"] == 0
    assert r["verdict"]["suspect"] == 1


def test_micro_query_abs_floor():
    # 0.05s -> 0.12s is a 2.4x ratio but only 0.07s — constant overhead on
    # a micro query, never a REGRESSION (may surface as suspect)
    old = detail({"q": 0.05}, {"q": [0.049, 0.051]})
    new = detail({"q": 0.12}, {"q": [0.118, 0.122]})
    r = compare(old, new)
    assert r["rows"][0]["status"] != "REGRESSION"
    assert r["verdict"]["reg"] == 0


def test_improvement_is_symmetric():
    old = detail({"q": 2.0}, {"q": [1.8, 2.2]})
    new = detail({"q": 1.0}, {"q": [0.9, 1.1]})
    r = compare(old, new)
    assert r["rows"][0]["status"] == "improvement"
    assert r["verdict"]["imp"] == 1


def test_missing_spread_falls_back_to_band():
    # old artifact predates spread capture: +-15% band stands in
    old = detail({"q": 1.0})
    new = detail({"q": 1.10}, {"q": [1.08, 1.12]})  # inside the 15% band
    assert compare(old, new)["rows"][0]["status"] == "within-noise"
    new2 = detail({"q": 1.60}, {"q": [1.55, 1.65]})
    assert compare(old, new2)["rows"][0]["status"] == "REGRESSION"


def test_new_query_listed_not_compared():
    r = compare(detail({"a": 1.0}), detail({"a": 1.0, "b": 2.0}))
    assert r["only_new"] == ["b"]
    assert [row["query"] for row in r["rows"]] == ["a"]


def test_shuffle_ratio_growth_flags_plan_change():
    old = detail({}, shuffle={"q": {"disk_ratio": 0.10}})
    new = detail({}, shuffle={"q": {"disk_ratio": 0.40}})
    rows = compare_shuffle(old, new)
    assert rows[0]["status"] == "SHUFFLE-REGRESSION"


def test_shuffle_near_zero_relative_growth_is_ok():
    # 0.003 -> 0.006 doubles relatively but is no plan change (abs < 0.05)
    old = detail({}, shuffle={"q": {"disk_ratio": 0.003}})
    new = detail({}, shuffle={"q": {"disk_ratio": 0.006}})
    assert compare_shuffle(old, new)[0]["status"] == "ok"


def test_shuffle_missing_old_datum():
    rows = compare_shuffle(detail({}), detail({}, shuffle={"q": {"disk_ratio": 0.2}}))
    assert rows[0]["status"] == "no-old-datum"


def test_markdown_renders_both_sections():
    old = detail({"q": 1.0}, {"q": [0.9, 1.1]}, {"q": {"disk_ratio": 0.1}})
    new = detail({"q": 2.0}, {"q": [1.8, 2.2]}, {"q": {"disk_ratio": 0.4}})
    md = to_markdown(compare(old, new))
    assert "REGRESSION" in md and "SHUFFLE-REGRESSION" in md
    assert "| q |" in md


def test_adjudication_verdict_protocol():
    """The self-adjudicating drift gate (VERDICT r10 #3): a solo re-measure
    that re-enters the old spread envelope, or whose session-normalized
    ratio falls back under the suspect threshold, is session noise; a solo
    median that stays outside both persists."""
    from bench import adjudication_verdict

    # solo back inside the old envelope -> noise
    assert adjudication_verdict(1.0, 1.2, 1.15, 1.0) == "session-noise"
    # solo above the envelope but normalized ratio <= 1.25 -> noise
    assert adjudication_verdict(1.0, 1.2, 1.3, 1.1) == "session-noise"
    # solo stays 1.6x normalized above: persists
    assert adjudication_verdict(1.0, 1.2, 1.6, 1.0) == "persists"


def test_adjudications_render_in_markdown():
    """bench_compare's markdown must carry the machine-generated solo-rep
    evidence rows (so BENCH_COMPARE_r*_r* needs zero hand-written
    adjudication), pulled from the NEW sidecar's compare section."""
    from tools.bench_compare import attach_adjudications

    old = detail({"q": 1.0}, {"q": [0.9, 1.1]})
    new = detail({"q": 1.4}, {"q": [1.3, 1.5]})
    new["compare"] = {
        "adjudications": [
            {
                "query": "q",
                "status": "suspect",
                "old": 1.0,
                "bench_median": 1.4,
                "solo_runs": [1.05, 1.1, 1.08],
                "solo_median": 1.08,
                "solo_norm": 1.08,
                "src_unchanged": True,
                "verdict": "session-noise",
            }
        ]
    }
    result = attach_adjudications(compare(old, new), new)
    md = to_markdown(result)
    assert "Drift adjudications" in md
    assert "session-noise" in md and "unchanged" in md
    assert "1.05, 1.10, 1.08" in md


def test_adjudication_micro_floor():
    """A sub-0.5s micro-query whose solo move stays under the calibrated
    absolute floor is session noise even when its normalized ratio sits
    above the suspect threshold — the same floor the compare gate applies
    (observed: a 56 ms drift on a 0.2 s window query read norm 1.26)."""
    from bench import adjudication_verdict

    assert adjudication_verdict(0.205, 0.21, 0.261, 1.0) == "session-noise"
    # a REAL move on a micro-query still persists once it clears the floor
    assert adjudication_verdict(0.205, 0.21, 0.60, 1.0) == "persists"


def test_stream_version_gate_refuses_cross_version_comparison():
    """Round-11 VERDICT #2/#4: stream-probe staging/protocol are part of
    the measurement — rows across different versions must read
    VERSION-BREAK, never as an engine move; same-version rows are
    like-for-like.  The one stamped-era-but-unstamped shape (round 11's
    settle-seeking probe dicts) is inferred from the dict shape."""
    from tools.bench_compare import _stream_version, compare_stream

    v2 = {"staging": "v2", "protocol": "settle-v1"}
    old_legacy = detail({"q": 1.0})
    old_legacy["stream_rows_per_sec"] = 1_000_000
    new = detail({"q": 1.0})
    new["stream_rows_per_sec"] = 4_000_000
    new["stream_probe_version"] = v2

    s = compare_stream(old_legacy, new)
    assert not s["comparable"]
    assert all(r["status"] == "VERSION-BREAK" for r in s["rows"])

    # r11 shape: no stamp, but settle-protocol probe dict => inferred v2
    old_r11 = detail({"q": 1.0})
    old_r11["stream_rows_per_sec"] = 2_000_000
    old_r11["stream_probe_1k"] = {"rps": 2_000_000, "settled": True}
    assert _stream_version(old_r11)["staging"] == "v2"
    s = compare_stream(old_r11, new)
    assert s["comparable"]
    assert all(r["status"] == "like-for-like" for r in s["rows"])

    c = compare(old_legacy, new)
    assert c["verdict"]["stream_cmp"] == "version-break"
    md = to_markdown(c)
    assert "VERSION-BREAK" in md and "compare harnesses, not" in md


def test_adjudication_no_prev_hash_verdict():
    """Round-11 ADVICE: a flagged query the previous sidecar never
    fingerprinted must read 'no-prev-hash' (a coverage gap), not
    'source-changed' (an accusation)."""
    import bench

    rows = [
        {"query": "qa", "status": "suspect", "old": 1.0, "new": 2.0,
         "old_spread": [0.9, 1.1], "norm_ratio": 2.0},
        {"query": "qb", "status": "suspect", "old": 1.0, "new": 2.0,
         "old_spread": [0.9, 1.1], "norm_ratio": 2.0},
    ]
    prev = {"query_src_hash": {"qb": "deadbeef0000"}}
    src = {"qa": "aaaaaaaaaaaa", "qb": "bbbbbbbbbbbb"}
    dummy = lambda *a, **k: None  # noqa: E731 - never called for these verdicts
    out, _ = bench.adjudicate_suspects(
        None, {"qa": dummy, "qb": dummy}, rows, prev, 1.0, src
    )
    by = {r["query"]: r["verdict"] for r in out}
    assert by["qa"] == "no-prev-hash"
    assert by["qb"] == "source-changed"


def _mkrow(name, status="within-noise", old=1.0, new=1.0):
    return {"query": name, "status": status, "old": old, "new": new,
            "old_spread": [old * 0.95, old * 1.05], "norm_ratio": new / old}


def test_adjudicate_persists_is_terminal(monkeypatch):
    """A suspect whose solo re-measure (time_queries, 3 reps) stays
    outside the noise envelope on unchanged source ends as a terminal
    `persists` verdict carrying its solo evidence; a solo that falls back
    inside is `session-noise`.  Nothing else is re-measured."""
    import bench

    solos = {"sus": 3.0, "noisy": 1.02}
    measured = []

    def fake_time_queries(spark, queries, names, sf_dir, reps, tag):
        (name,) = names
        measured.append(name)
        s = solos[name]
        return {name: s}, {name: [s - 0.1, s + 0.1]}, {name: 1}, {name: [0.0, s]}

    monkeypatch.setattr(bench, "time_queries", fake_time_queries)
    rows = [
        _mkrow("sus", status="suspect", old=1.0, new=3.0),
        _mkrow("noisy", status="suspect", old=1.0, new=1.6),
        _mkrow("steady", old=1.0),
    ]
    hashes = {"sus": "x", "noisy": "y", "steady": "z"}
    out, _ = bench.adjudicate_suspects(
        None, {n: n for n in hashes}, rows, {"query_src_hash": hashes},
        1.0, dict(hashes),
    )
    by = {r["query"]: r for r in out}
    assert measured == ["sus", "noisy"]
    assert by["sus"]["verdict"] == "persists"
    assert by["sus"]["solo_runs"] == [2.9, 3.0, 3.1]
    assert by["sus"]["solo_norm"] == 3.0
    assert not any(k.startswith("anchor") for k in by["sus"])
    assert by["noisy"]["verdict"] == "session-noise"


def test_headline_panel_frozen_and_shared_with_previous_round():
    """HEADLINE size policy (VERDICT r12 #4): the panel is capped at 116
    and must share ≥100 queries with the previous round's committed
    sidecar, so the drift gate's session factor stays statistically
    powered round over round."""
    import bench

    assert len(bench.HEADLINE) <= 116, (
        "HEADLINE is a frozen measurement panel — rotate a same-family "
        "representative OUT for every query rotated in (see bench.py policy)"
    )
    prev_detail = bench._load_prev_detail()
    if prev_detail is None:  # fresh clone: nothing to share with
        return
    prev = set(prev_detail[0].get("queries", {}))
    shared = prev & set(bench.HEADLINE)
    assert len(shared) >= 100, (len(shared), "panel churn beyond the ±12/round bound")


def test_load_prev_detail_orders_rounds_by_number(monkeypatch, tmp_path):
    """The previous round is the highest round number, not the last name in
    lexical order: r100 follows r17, and r17_baseline.json (the round's own
    pre-change run) is never a previous round."""
    import json

    import bench

    for name in ("r17.json", "r17_baseline.json", "r100.json", "r9.json"):
        (tmp_path / name).write_text(json.dumps({"queries": {}, "name": name}))
    monkeypatch.setattr(bench, "OUT_DIR", str(tmp_path))
    monkeypatch.delenv("SPARK_GRAFT_BENCH_PREV", raising=False)
    assert bench._load_prev_detail() == ({"queries": {}, "name": "r100.json"}, "r100.json")
    (tmp_path / "r100.json").unlink()
    assert bench._load_prev_detail()[1] == "r17.json"


def test_compare_refuses_sidecars_of_different_runs():
    """A sf0.01 run against a sf0.1 sidecar (or 4 cores against 8) is not a
    regression verdict; it is an error, with no rows to adjudicate."""
    q = {"q": 1.0}
    base = detail(q, {"q": [0.9, 1.1]})
    for key, a, b in (("sf", 0.1, 0.01), ("cpus", 8, 4)):
        c = compare({**base, key: a}, {**base, key: b}, "r17.json")
        assert c["verdict"] == {"vs": "r17.json", "err": f"not comparable: {key} {a} vs {b}"}
        assert c["rows"] == []
        assert "Not compared" in to_markdown(c)
    same = compare({**base, "sf": 0.1, "cpus": 4}, {**base, "sf": 0.1, "cpus": 4})
    assert "err" not in same["verdict"] and len(same["rows"]) == 1
    # sidecars from before the cpus field still compare on sf alone
    assert "err" not in compare({**base, "sf": 0.1}, {**base, "sf": 0.1, "cpus": 4})["verdict"]


def test_adjudicate_counts_rows_past_the_limit():
    import bench

    rows = [
        {"query": f"q{i}", "status": "suspect", "old": 1.0, "new": 2.0,
         "old_spread": [0.9, 1.1], "norm_ratio": 2.0}
        for i in range(5)
    ] + [_mkrow("steady")]
    prev = {"query_src_hash": {f"q{i}": "old" for i in range(5)}}
    src = {f"q{i}": "new" for i in range(5)}  # source-changed: nothing re-measured
    fns = dict.fromkeys(src, "fn")
    out, skipped = bench.adjudicate_suspects(None, fns, rows, prev, 1.0, src, limit=3)
    assert [(r["query"], r["verdict"]) for r in out] == [(f"q{i}", "source-changed") for i in range(3)]
    assert skipped == 2
    assert bench.adjudicate_suspects(None, fns, rows, prev, 1.0, src)[1] == 0
    assert "adj_skipped" not in bench._LINE_COMPARE_KEYS  # sidecar only


def test_null_thresholds_normalized_with_floors(monkeypatch, tmp_path):
    """Gate thresholds calibrate from the committed same-code null
    distribution, NORMALIZED by the null run's own session factor, with
    the static constants as floors (round-13: the r13 box's raw ratios
    read p90 1.42 but 1.14 of that is session factor)."""
    import json

    import tools.bench_compare as bc

    # point the loader at a synthetic artifact
    import os
    null = {
        "session_factor_AB": 2.0,
        # normalized ratios: 40 at 1.0 plus a tail (1.45, 1.5, 1.6, 2.0);
        # with n=44, nearest-rank p90 (rank 40) lands in the 1.0 mass and
        # p98 (rank ceil(43.12) = 44) on the 2.0
        "ratios": {f"q{i}": 2.0 for i in range(40)}
        | {"t1": 2.9, "t2": 3.0, "t3": 3.2, "t4": 4.0},
    }
    (tmp_path / "NULL_SPREAD.json").write_text(json.dumps(null))
    real_join = os.path.join

    def fake_join(*parts):
        if parts[-1] == "NULL_SPREAD.json":
            return str(tmp_path / "NULL_SPREAD.json")
        return real_join(*parts)

    monkeypatch.setattr(bc.os, "path", os.path) if hasattr(bc, "os") else None
    monkeypatch.setattr("os.path.join", fake_join)
    s, r = bc.null_thresholds()
    # normalized: 100×1.0 + (1.45, 1.5, 1.6, 2.0); p90 of that = 1.0 → floor
    assert s == 1.25
    # p98 rank lands in the tail (2.0) → above the 1.5 floor
    assert r == 2.0

    # unreadable artifact → floors
    (tmp_path / "NULL_SPREAD.json").write_text("{broken")
    assert bc.null_thresholds() == (1.25, 1.5)


def test_null_thresholds_match_committed_artifact():
    """One percentile definition: the suspect threshold the gate applies
    is the p90 the committed null artifact states (and the compare
    markdown cites), floored at SUSPECT_THRESHOLD."""
    import json
    import os

    import tools.bench_compare as bc

    path = os.path.join(os.path.dirname(__file__), "..", "bench_out", "NULL_SPREAD.json")
    with open(path) as f:
        null = json.load(f)
    assert bc.null_thresholds()[0] == max(bc.SUSPECT_THRESHOLD, null["norm_ratio_p90"])


def test_time_queries_records_build_split(spark, monkeypatch):
    """time_queries records, per query, the median fn() build seconds and
    the median collect seconds of the reps it times: a builder that does
    its work eagerly reads build-heavy, a lazy plan reads collect-heavy.
    The clock is fake and moves only inside q_eager, so every figure is
    exact."""
    import types

    import bench

    now = [0.0]
    fake_time = types.SimpleNamespace(perf_counter=lambda: now[0])
    monkeypatch.setattr(bench, "time", fake_time)

    def q_eager(s, sf_dir):
        now[0] += 0.2  # stands in for a stream drain inside the query function
        return s.range(10).selectExpr("sum(id) AS s")

    def q_lazy(s, sf_dir):
        return s.range(10).selectExpr("sum(id) AS s")

    timings, spread, rows, split = bench.time_queries(
        spark, {"eager": q_eager, "lazy": q_lazy}, ["eager", "lazy"], "unused", reps=3
    )
    assert set(split) == {"eager", "lazy"} and rows == {"eager": 1, "lazy": 1}
    build, collect = split["eager"]
    assert (build, collect) == (0.2, 0.0)
    assert split["lazy"] == [0.0, 0.0]
    assert timings == {"eager": 0.2, "lazy": 0.0}
    for name, (b, c) in split.items():
        assert spread[name] == [timings[name], timings[name]]
        assert b + c == spread[name][1]  # medians of the two parts of each timed rep
