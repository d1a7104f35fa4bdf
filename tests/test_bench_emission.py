"""bench.py's driver-parseable compact line (round-10 verdict task 5).

The round driver records only the last ~2000 chars of bench stdout:
BENCH_r10.json came back ``parsed: null`` with the full report truncated
mid-``tail``. bench.py now prints the full report first and a compact
short-keyed line LAST; these tests pin (a) short-key determinism /
collision fallback and (b) that the compact line built from a real
58-query report stays under the tail window with the ctrl map included —
the field the verdict's "Done =" names."""

from __future__ import annotations

import json
import os

import bench


def test_short_key_collision_falls_back_to_full_name():
    taken: set[str] = set()
    k1 = bench.short_key("q143_pagerank_items", taken)
    assert k1 == "q143"
    taken.add(k1)
    assert bench.short_key("q143_other_variant", taken) == "q143_other_variant"
    assert bench.short_key("ref_copy_roundtrip", taken) == "ref"
    # the fallback itself must be unique: a full name equal to an
    # already-taken key may not silently merge timings (r11 ADVICE)
    taken.update({"q143_other_variant", "ref"})
    k = bench.short_key("q143_other_variant", taken)
    assert k not in taken and k.startswith("q143_other_variant")


def test_compact_line_fits_tail_window_with_ctrl_map():
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_SELF_r10.json")) as f:
        report = json.load(f)
    timings = report["queries"]
    keys: dict[str, str] = {}
    for n in timings:
        keys[n] = bench.short_key(n, set(keys.values()))
    assert len(set(keys.values())) == len(timings)  # no silent merges
    compact = {
        "metric": report["metric"],
        "value": report["value"],
        "unit": "sec",
        "sf": report["sf"],
        "queries": {keys[n]: t for n, t in timings.items()},
        "loadavg": 1.23,
        "storage_within_budget": True,
        "key_map": "short keys = first token of full query name",
        "full_report": "BENCH_FULL_LAST.json",
        "vs_baseline": report.get("vs_baseline"),
        "vs_anchor_cold": report.get("vs_anchor_cold"),
        "vs_anchor_cold_ctrl": report.get("vs_anchor_cold_ctrl"),
        "host_control": report.get("host_control"),
        "vs_anchor_cold_ctrl_queries": {
            keys[n]: r
            for n, r in report["vs_anchor_cold_ctrl_queries"].items()
        },
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)  # the driver-side parse must round-trip
    assert parsed["vs_anchor_cold_ctrl_queries"]["q143"] == report[
        "vs_anchor_cold_ctrl_queries"
    ]["q143_pagerank_items"]


def test_compact_line_prefers_isolated_ctrl_map_and_fits():
    """Round 12: the compact line carries ONE per-query ctrl map — the
    isolated-anchor one when minted (BENCH_ANCHOR_ISOLATED.json with the
    full headline set), falling back to the cold map. Simulates the
    emission with both maps present at full suite width and pins the
    size budget with the extra scalar fields included."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_SELF_r10.json")) as f:
        report = json.load(f)
    timings = report["queries"]
    keys: dict[str, str] = {}
    for n in timings:
        keys[n] = bench.short_key(n, set(keys.values()))
    iso_map = {n: 1.001 for n in timings}  # full-width stand-in
    compact = {
        "metric": report["metric"],
        "value": report["value"],
        "unit": "sec",
        "sf": report["sf"],
        "queries": {keys[n]: t for n, t in timings.items()},
        "loadavg": 1.23,
        "storage_within_budget": True,
        "key_map": "short keys = first token of full query name",
        "full_report": "BENCH_FULL_LAST.json",
        "vs_baseline": report.get("vs_baseline"),
        "vs_anchor_cold": report.get("vs_anchor_cold"),
        "vs_anchor_cold_ctrl": report.get("vs_anchor_cold_ctrl"),
        "vs_anchor_isolated": 0.901,
        "vs_anchor_isolated_ctrl": 0.955,
        "host_control": report.get("host_control"),
        "vs_anchor_isolated_ctrl_queries": {
            keys[n]: r for n, r in iso_map.items()
        },
    }
    line = json.dumps(compact, separators=(",", ":"))
    assert len(line) < 1900, len(line)
    parsed = json.loads(line)
    assert "vs_anchor_isolated_ctrl_queries" in parsed


def test_anchor_fields_replay_recorded_report():
    """Golden replay of the anchor ratios: BENCH_SELF_r15.json's timings,
    fed through ``bench.anchor_fields`` with the committed anchor files,
    give back every anchor-derived field that report recorded, value for
    value — the four anchor reads share one helper, and the full and
    compact lines bench.py prints must not drift with it."""
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(here, "BENCH_SELF_r15.json")) as f:
        report = json.load(f)
    fields = bench.anchor_fields(report["queries"], report["sf"])
    assert set(fields) == {
        "baseline_round", "baseline_total", "vs_baseline",
        "vs_baseline_queries",
        "anchor_round", "vs_anchor", "vs_anchor_queries",
        "cold_anchor_round", "vs_anchor_cold", "vs_anchor_cold_queries",
        "host_control", "vs_anchor_cold_ctrl", "vs_anchor_cold_ctrl_queries",
        "isolated_anchor_coverage", "isolated_anchor_round",
        "vs_anchor_isolated", "vs_anchor_isolated_queries",
        "isolated_host_control", "vs_anchor_isolated_ctrl",
        "vs_anchor_isolated_ctrl_queries",
    }
    for key, value in fields.items():
        assert value == report[key], key
