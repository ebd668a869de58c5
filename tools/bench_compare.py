#!/usr/bin/env python
"""Noise-aware bench regression gate (round-4 verdict, next-round task #2).

Compares two bench DETAIL artifacts (the sidecar JSON bench.py writes to
``bench_out/``, carrying per-query medians AND min/max spreads).

Calibration — measured on this box, round 5, by comparing two clean runs
of IDENTICAL engine code ~30 min apart: within-session min/max spreads sit
at ±2–5%, but between-session per-query ratios ranged 0.66×–1.42× around a
shared session factor of only 1.07×.  JIT state, page cache, and scheduler
placement move individual queries far outside their own within-session
spread, mostly in a correlated (session-wide) direction.  Two consequences
baked into the rules below:

  1. Ratios are NORMALIZED by the session factor (median new/old ratio
     across all shared queries, used when ≥8 are shared) before judging.
  2. The per-query flag threshold is 1.5× normalized — below that, a
     single session pair on this box cannot distinguish a real regression
     from drift (observed same-code normalized max: 1.32×).

  REGRESSION  — spreads disjoint upward AND normalized ratio > 1.5 AND
                absolute move > 0.15 s (micro-queries' constant overhead
                otherwise dominates the ratio).
  suspect     — spreads disjoint upward AND normalized ratio > 1.25:
                reported for eyes, not counted in the verdict.
  improvement — symmetric to REGRESSION, downward.
  otherwise   — within noise; not reported as a move.

When one side has no recorded spread (e.g. the r3 artifact predates
spread capture), a ±15% band around its median stands in.

Usage:
    python tools/bench_compare.py OLD.json NEW.json [--markdown OUT.md]

Also importable: bench.py embeds ``compare(old, new)["verdict"]`` as the
one-line round-over-round verdict in its final stdout JSON.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys

FALLBACK_BAND = 0.15  # envelope halfwidth when a side lacks recorded spread
NORM_THRESHOLD = 1.50  # normalized ratio beyond which a move is a real change
SUSPECT_THRESHOLD = 1.25  # normalized ratio worth human eyes, not a verdict


def load_null_spread() -> dict | None:
    """The committed same-code two-session null distribution
    (tools/bench_null.py → bench_out/NULL_SPREAD.json), or None when it is
    absent or unreadable."""
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "bench_out",
        "NULL_SPREAD.json",
    )
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def nearest_rank(xs_sorted: list[float], p: float) -> float:
    """Nearest-rank percentile of an ascending list: the ceil(p·n)-th
    smallest value.  The one percentile definition of the null artifact
    and of the gate thresholds read from it."""
    idx = max(0, math.ceil(p * len(xs_sorted)) - 1)
    return xs_sorted[min(len(xs_sorted) - 1, idx)]


def normalized_null(ratios) -> list[float]:
    """Per-query A→B ratios divided by their own median (the null run's
    session factor), ascending — the gate judges SESSION-NORMALIZED ratios,
    so the null percentiles must be normalized the same way."""
    factor = statistics.median(ratios)
    return sorted(r / factor for r in ratios)


def null_thresholds() -> tuple[float, float]:
    """Gate thresholds CALIBRATED from the committed null distribution
    when present: a move is reportable only beyond what two clean
    same-code sessions on THIS box produce — suspect at the null p90,
    REGRESSION at the null p98.  The static constants stay as FLOORS (a
    suspiciously tight null artifact can never make the gate
    oversensitive); absent or unreadable artifact → floors alone.
    Round-13 calibration made this necessary: the r13 box's clean null
    reads p90 1.262 / p98 ~1.66 / max 1.774 (the r5-era box: 1.147 / — /
    1.294), so the static 1.25/1.5 pair flags same-code noise as
    suspect/REGRESSION on it."""
    ratios = list(((load_null_spread() or {}).get("ratios") or {}).values())
    if len(ratios) < 20:
        return SUSPECT_THRESHOLD, NORM_THRESHOLD
    norm = normalized_null(ratios)
    return (
        max(SUSPECT_THRESHOLD, round(nearest_rank(norm, 0.90), 3)),
        max(NORM_THRESHOLD, round(nearest_rank(norm, 0.98), 3)),
    )


ABS_FLOOR_SEC = 0.15  # ignore moves smaller than this in absolute seconds
MIN_SHARED_FOR_NORM = 8  # need this many shared queries to trust the factor

# Micro-query calibration (round-6, verdict #6): topk_per_group moved
# 0.26→0.45s in one judge re-run — over the 0.15s floor — yet back-to-back
# diagnosis shows an IDENTICAL expr-id-normalized plan hash across fresh
# sessions and within-session rep drift of 0.77→0.51s on unchanged code:
# sub-half-second queries are dominated by JIT warm-up / page-cache state,
# whose absolute jitter on this box reaches ~0.25s.  For queries whose old
# median sits under MICRO_MEDIAN_SEC the absolute floor is therefore
# raised to MICRO_ABS_FLOOR_SEC; real regressions on micro-queries still
# trip the normalized-ratio + disjoint-spread conditions once they exceed
# it, and plan regressions are caught by the shuffle-byte diff regardless
# of wall time.
MICRO_MEDIAN_SEC = 0.5
MICRO_ABS_FLOOR_SEC = 0.30


def _abs_floor(old_median: float) -> float:
    return MICRO_ABS_FLOOR_SEC if old_median < MICRO_MEDIAN_SEC else ABS_FLOOR_SEC


def _envelope(detail: dict, name: str) -> tuple[float, float, float] | None:
    med = detail.get("queries", {}).get(name)
    if med is None:
        return None
    spread = detail.get("queries_spread", {}).get(name)
    if spread:
        lo, hi = float(spread[0]), float(spread[1])
    else:
        lo, hi = med * (1 - FALLBACK_BAND), med * (1 + FALLBACK_BAND)
    return float(med), lo, hi


SHUFFLE_GROWTH = 1.25  # disk_ratio growth beyond this flags a plan regression


def compare_shuffle(old: dict, new: dict) -> list[dict]:
    """Diff the measured shuffle_write/on-disk-input ratios: wall-time noise
    can hide a plan regression (a join flipping off broadcast, a lost
    partial agg), but the bytes a plan shuffles are deterministic for a
    deterministic plan — >25% growth is a structural change, not noise."""
    rows = []
    olds, news = old.get("shuffle_audit", {}), new.get("shuffle_audit", {})
    for name, nrec in news.items():
        nr = nrec.get("disk_ratio")
        orec = olds.get(name, {})
        orr = orec.get("disk_ratio")
        if nr is None:
            continue
        status = "no-old-datum"
        if orr is not None:
            grew = orr > 0 and nr / orr > SHUFFLE_GROWTH
            # absolute guard for near-zero ratios where relative growth is
            # meaningless (0.003 -> 0.005 is not a plan change)
            status = "SHUFFLE-REGRESSION" if grew and (nr - orr) > 0.05 else "ok"
        rows.append({"query": name, "old_ratio": orr, "new_ratio": nr, "status": status})
    return rows


def _stream_version(detail: dict) -> dict:
    """Stream-probe provenance of a sidecar.  Explicit stamp when present
    (bench.py records ``stream_probe_version`` from round 12 on); for the
    one stamped-era-but-unstamped artifact shape (round 11: settle-seeking
    probe dicts carry a ``settled`` key and the ×60 staging) the version is
    inferred from the dict shape; anything older is unknown."""
    v = detail.get("stream_probe_version")
    if isinstance(v, dict):
        return v
    p = detail.get("stream_probe_1k")
    if isinstance(p, dict) and "settled" in p:
        return {"staging": "v2", "protocol": "settle-v1", "inferred": True}
    return {"staging": "unknown", "protocol": "unknown"}


def compare_stream(old: dict, new: dict) -> dict:
    """Round-over-round stream-probe rows, version-gated (round-11 VERDICT
    #2/#4): the probes' staging (input replication / micro-batch sizing)
    and protocol (settle-seeking window) are part of the measurement — a
    cross-version ratio compares harnesses, not engines, so those rows are
    marked VERSION-BREAK instead of being reported as a move."""
    ov, nv = _stream_version(old), _stream_version(new)
    comparable = (
        ov.get("staging") == nv.get("staging")
        and ov.get("protocol") == nv.get("protocol")
        and ov.get("staging") != "unknown"
    )
    rows = []
    for key, label in (
        ("stream_rows_per_sec", "stream_1k_keys"),
        ("stream_rows_per_sec_1m_keys", "stream_1m_keys"),
    ):
        o, n = old.get(key), new.get(key)
        if o is None and n is None:
            continue
        rows.append(
            {
                "probe": label,
                "old": o,
                "new": n,
                "ratio": round(n / o, 3) if o and n else None,
                "status": "like-for-like" if comparable else "VERSION-BREAK",
            }
        )
    return {
        "old_version": ov,
        "new_version": nv,
        "comparable": comparable,
        "rows": rows,
    }


# run parameters that must match for two sidecars to be compared at all
SAME_RUN_KEYS = ("sf", "cpus")


def compare(old: dict, new: dict, old_label: str = "old", new_label: str = "new") -> dict:
    differ = [
        f"{k} {old[k]} vs {new[k]}"
        for k in SAME_RUN_KEYS
        if k in old and k in new and old[k] != new[k]
    ]
    if differ:
        return {
            "old_label": old_label, "new_label": new_label,
            "rows": [], "shuffle_rows": [], "only_new": [],
            "verdict": {"vs": old_label, "err": "not comparable: " + ", ".join(differ)},
        }
    names = [n for n in new.get("queries", {}) if n in old.get("queries", {})]
    ratios = {
        n: new["queries"][n] / old["queries"][n] for n in names if old["queries"][n]
    }
    session_factor = (
        statistics.median(ratios.values())
        if len(ratios) >= MIN_SHARED_FOR_NORM
        else 1.0
    )
    suspect_thr, reg_thr = null_thresholds()
    rows = []
    for name in names:
        om, olo, ohi = _envelope(old, name)
        nm, nlo, nhi = _envelope(new, name)
        norm = (nm / om) / session_factor if om else None
        delta = nm - om
        floor = _abs_floor(om)
        if norm is None:
            status = "within-noise"
        elif nlo > ohi and norm > reg_thr and delta > floor:
            status = "REGRESSION"
        elif nhi < olo and norm < 1 / reg_thr and delta < -floor:
            status = "improvement"
        elif nlo > ohi and norm > suspect_thr:
            status = "suspect"
        else:
            status = "within-noise"
        rows.append(
            {
                "query": name,
                "old": om,
                "old_spread": [round(olo, 4), round(ohi, 4)],
                "new": nm,
                "new_spread": [round(nlo, 4), round(nhi, 4)],
                "ratio": round(nm / om, 3) if om else None,
                "norm_ratio": round(norm, 3) if norm is not None else None,
                "status": status,
            }
        )
    rows.sort(
        key=lambda r: (
            -{"REGRESSION": 3, "improvement": 2, "suspect": 1}.get(r["status"], 0),
            -(r["norm_ratio"] or 0),
        )
    )
    regressions = [r["query"] for r in rows if r["status"] == "REGRESSION"]
    improvements = [r["query"] for r in rows if r["status"] == "improvement"]
    suspects = [r["query"] for r in rows if r["status"] == "suspect"]
    only_new = sorted(set(new.get("queries", {})) - set(old.get("queries", {})))
    shuffle_rows = compare_shuffle(old, new)
    shuffle_regs = [r["query"] for r in shuffle_rows if r["status"] == "SHUFFLE-REGRESSION"]
    stream = compare_stream(old, new)
    verdict = {
        "vs": old_label,
        "n": len(rows),
        "session_factor": round(session_factor, 3),
        "thr": [suspect_thr, reg_thr],
        "reg": len(regressions),
        "imp": len(improvements),
        "suspect": len(suspects),
        "shuf_reg": len(shuffle_regs),
        "stream_cmp": "like-for-like" if stream["comparable"] else "version-break",
        "regressions": (regressions + shuffle_regs)[:8],
    }
    return {
        "old_label": old_label,
        "new_label": new_label,
        "rows": rows,
        "shuffle_rows": shuffle_rows,
        "stream": stream,
        "only_new": only_new,
        "verdict": verdict,
    }


def _null_spread_note() -> str:
    """Cite the committed null distribution when present — the measured
    envelope any cross-round drift must exceed to mean anything."""
    ns = load_null_spread()
    try:
        return (
            f" Null distribution (same-code two-session A/B, n={ns['n']}): "
            f"session factor {ns['session_factor_AB']}× (probe "
            f"{ns['probe_factor_AB']}×), normalized ratios p50 "
            f"{ns['norm_ratio_p50']} / p90 {ns['norm_ratio_p90']} / max "
            f"{ns['norm_ratio_max']}, one-direction fraction "
            f"{ns['one_direction_frac']} — bench_out/NULL_SPREAD.json."
        )
    except (TypeError, KeyError):
        return (
            " Calibration: same-code between-session normalized ratios on "
            "this box reach 1.32×."
        )


def attach_adjudications(result: dict, new: dict) -> dict:
    """Pull the machine-generated solo-rep adjudications bench.py embedded
    in the NEW sidecar (VERDICT r10 #3) so the compare markdown carries
    the evidence rows instead of hand-written argument."""
    adjs = (new.get("compare") or {}).get("adjudications")
    if adjs:
        result["adjudications"] = adjs
    return result


def to_markdown(result: dict) -> str:
    old_l, new_l = result["old_label"], result["new_label"]
    v = result["verdict"]
    if "err" in v:
        return f"# Bench comparison: {old_l} → {new_l}\n\n**Not compared**: {v['err']}.\n"
    sus_thr, reg_thr = v.get("thr") or (SUSPECT_THRESHOLD, NORM_THRESHOLD)
    lines = [
        f"# Bench comparison: {old_l} → {new_l}",
        "",
        f"{v['n']} shared queries, session factor {v['session_factor']}× — "
        f"**{v['reg']} regressions**, {v['imp']} improvements, "
        f"{v['suspect']} suspects, rest within the noise envelope. "
        f"A move counts only when the min/max spreads are disjoint AND the "
        f"session-factor-normalized ratio exceeds {reg_thr}× "
        f"(suspect beyond {sus_thr}× — both null-calibrated, floors "
        f"{SUSPECT_THRESHOLD}/{NORM_THRESHOLD}) AND the "
        f"absolute move exceeds {ABS_FLOOR_SEC}s ({MICRO_ABS_FLOOR_SEC}s for "
        f"queries under {MICRO_MEDIAN_SEC}s, whose JIT/cache jitter reaches "
        f"~0.25s on this box — see module docstring)." + _null_spread_note(),
        "",
        f"| query | {old_l} med (spread) | {new_l} med (spread) | ratio | norm | status |",
        "|---|---|---|---|---|---|",
    ]
    for r in result["rows"]:
        lines.append(
            f"| {r['query']} | {r['old']:.3f} ({r['old_spread'][0]:.3f}–{r['old_spread'][1]:.3f})"
            f" | {r['new']:.3f} ({r['new_spread'][0]:.3f}–{r['new_spread'][1]:.3f})"
            f" | {r['ratio']:.2f} | {r['norm_ratio']:.2f} | {r['status']} |"
        )
    if result["only_new"]:
        lines += ["", f"New queries (no {old_l} datum): " + ", ".join(result["only_new"])]
    adjs = result.get("adjudications")
    if adjs:
        lines += [
            "",
            "## Drift adjudications (machine-generated, bench.py)",
            "",
            "Every suspect/REGRESSION row whose query source is unchanged "
            "(md5 of the function source, recorded per sidecar) was "
            "re-measured SOLO in the same session — fresh caches, one "
            "discarded warm, median of 3.  `session-noise` = the solo "
            "median re-entered the old spread envelope or its normalized "
            "ratio fell back under the suspect threshold.  `persists` = "
            "the drift survived the solo re-measure on unchanged source: it "
            "needs a named cause or a fix.",
            "",
            "| query | status | old med | bench med | solo runs | solo med | solo norm | src | verdict |",
            "|---|---|---|---|---|---|---|---|---|",
        ]
        for a in adjs:
            runs = ", ".join(f"{x:.2f}" for x in a.get("solo_runs", [])) or "—"
            sm = a.get("solo_median")
            sn = a.get("solo_norm")
            src = "unchanged" if a.get("src_unchanged") else "CHANGED"
            lines.append(
                f"| {a['query']} | {a['status']} | {a['old']:.3f} "
                f"| {a['bench_median']:.3f} | {runs} "
                f"| {f'{sm:.3f}' if sm is not None else '—'} "
                f"| {f'{sn:.2f}' if sn is not None else '—'} "
                f"| {src} | {a['verdict']} |"
            )
    stream = result.get("stream")
    if stream and stream.get("rows"):
        ov, nv = stream["old_version"], stream["new_version"]
        note = (
            "Same staging+protocol on both sides — ratios are engine deltas."
            if stream["comparable"]
            else f"**VERSION-BREAK**: {old_l} probe version "
            f"{ov.get('staging')}/{ov.get('protocol')} vs {new_l} "
            f"{nv.get('staging')}/{nv.get('protocol')} — the staging "
            "(replication / micro-batch sizing) and settle protocol are part "
            "of the measurement, so these ratios compare harnesses, not "
            "engines; do not read them as an engine speedup/regression."
        )
        lines += [
            "",
            "## Streaming throughput probes (version-gated)",
            "",
            note,
            "",
            "| probe | old rec/s | new rec/s | ratio | status |",
            "|---|---|---|---|---|",
        ]
        for r in stream["rows"]:
            ratio = f"{r['ratio']:.2f}" if r["ratio"] is not None else "—"
            lines.append(
                f"| {r['probe']} | {r['old'] or '—'} | {r['new'] or '—'} "
                f"| {ratio} | {r['status']} |"
            )
    shuffle_rows = result.get("shuffle_rows", [])
    if shuffle_rows:
        lines += [
            "",
            "## Measured shuffle ratios (shuffle_write / on-disk input)",
            "",
            f"Flags structural plan changes wall-time noise hides: "
            f">{int((SHUFFLE_GROWTH-1)*100)}% relative growth AND >0.05 absolute.",
            "",
            "| query | old ratio | new ratio | status |",
            "|---|---|---|---|",
        ]
        for r in shuffle_rows:
            old_s = f"{r['old_ratio']:.4f}" if r["old_ratio"] is not None else "—"
            lines.append(f"| {r['query']} | {old_s} | {r['new_ratio']:.4f} | {r['status']} |")
    return "\n".join(lines) + "\n"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("old")
    ap.add_argument("new")
    ap.add_argument("--markdown", default=None)
    args = ap.parse_args()
    with open(args.old) as f:
        old = json.load(f)
    with open(args.new) as f:
        new = json.load(f)
    result = compare(old, new, args.old.rsplit("/", 1)[-1], args.new.rsplit("/", 1)[-1])
    attach_adjudications(result, new)
    md = to_markdown(result)
    if args.markdown:
        with open(args.markdown, "w") as f:
            f.write(md)
    print(md)
    print(json.dumps(result["verdict"]))
    if "err" in result["verdict"]:
        return 2
    return 1 if (result["verdict"]["reg"] or result["verdict"]["shuf_reg"]) else 0


if __name__ == "__main__":
    sys.exit(main())
