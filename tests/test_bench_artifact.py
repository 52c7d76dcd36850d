"""Bench artifact guards — no Spark session needed.

Two failure modes the per-round BENCH_r{N}.json artifact has actually hit:

- r05: the (single, long) JSON line was truncated by the driver's
  ~2000-char stdout-tail capture, losing the headline block.
- r06: the extended heavy-operator sweep rode the FIRST (diagnostics)
  line and was truncated out entirely, leaving heavy J/M operators with
  no recorded timing that round.

The fix keeps ONE compact self-contained final line carrying headline +
extended + iterative + floor decomposition; these tests pin (a) that the
line cannot outgrow the capture even with worst-case digits, and (b) that
the baked-in BASELINE_MS constants (which produce the 2x-gate ratios the
artifact itself reports) cannot drift from BASELINE.md's measured table.
"""

from __future__ import annotations

import json
import os
import re

import bench

_REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# The driver archives the final ~2000 chars of stdout; the last line must
# fit WHOLE (a partial line fails json parsing and the artifact records
# "parsed": null). Leave headroom for the newline and the tail boundary.
_TAIL_BUDGET = 1950


def test_final_line_fits_tail_capture_worst_case(monkeypatch):
    # Worst-case digit widths: every timing 4-decimal with a 2-digit
    # integer part (a 10x regression still yields a parseable artifact),
    # every ratio/breach present, loadavg 2-decimal. The committed-
    # artifact riders are pinned at their widest shapes rather than read
    # from disk, so this guard holds regardless of which appendix files
    # exist in the checkout.
    monkeypatch.setattr(bench, "_sf1_ratios",
                        lambda: {"topk": 10.69, "dedup": 10.51})
    monkeypatch.setattr(bench, "_sf1_heavy",
                        lambda: {"n": 66, "sec": 9999.9})
    monkeypatch.setattr(bench, "_skew_aqe",
                        lambda: {"off": 99.99, "on": 99.99})
    t = 12.3456
    timings = {k: t for k in bench.HEADLINE}
    marginal = {k: t for k in bench.HEADLINE}
    # extended values today are 0.019-0.045 s and main() rounds them to
    # 3 decimals — 0.457 IS the 10x-regression worst case for them;
    # the r14 DML/indexed-ANN rows build fixture tables (1-10 s real),
    # so their 10x worst case is two digits wider
    extended = {k: 0.457 for k in bench.EXTENDED}
    for k in ("sink_sql_merge", "sink_sql_update", "sink_sql_delete",
              "sim_ann_indexed"):
        extended[k] = 99.999
    iterative = {k: t for k in bench.ITERATIVE}
    ratios = {k: 3.84 for k in bench.HEADLINE}
    breaches = {k: {"r": 13.84, "m": 11.23}
                for k in list(bench.HEADLINE)[:3]}
    line = json.dumps(bench.headline_line(
        total=123.4567, timings=timings, compile_total=12.3456,
        floor=0.0117, floor_scan=0.0162, marginal=marginal,
        ratios_raw=ratios, ratios_marg=ratios, breaches=breaches,
        extended=extended, iterative=iterative,
        loadavg=[12.34, 12.34], sf_val=0.1,
        load_gate={"deg": True, "gate": 2.0, "wait": 300},
        floor_band={"x": 99.99, "deg": True, "rr": True}, cpu="64/64"))
    assert len(line) <= _TAIL_BUDGET, (
        f"final bench line would be {len(line)} chars — trims needed "
        "(move a field to the diagnostics line) or the driver tail "
        "capture will truncate the artifact")


def test_extended_and_iterative_ride_the_final_line():
    line = bench.headline_line(
        0.3, {k: 0.02 for k in bench.HEADLINE}, 1.7, 0.01, 0.016,
        {k: 0.005 for k in bench.HEADLINE}, {k: 0.5 for k in bench.HEADLINE},
        {k: 0.05 for k in bench.HEADLINE}, {},
        {k: 0.02 for k in bench.EXTENDED},
        {k: 0.9 for k in bench.ITERATIVE}, [0.5, 1.0], 0.1,
        {"deg": False, "gate": 2.0, "wait": 0}, cpu="4/*")
    assert set(line["extended"]) == set(bench.EXTENDED)
    assert set(line["iterative"]) == set(bench.ITERATIVE)
    assert "floor_scan_sec" in line and "raw_gate_breaches" in line
    # r12: the in-run floor-band verdict
    assert line["fb"] == {}
    # r15 (r14 verdict item 4): per-query marginal rides the final line,
    # aligned to the queries key order; load_gate moved to diagnostics
    # (main() emits it there — its presence is pinned by the r08 gate
    # tests on _load_gate itself).
    assert line["qm"] == [0.005] * len(bench.HEADLINE)
    assert "load_gate" not in line
    # the CPU contract rides the line: defaultParallelism/SPARK_GRAFT_CPUS
    assert line["cpu"] == "4/*"


def _baseline_md_headline_ms() -> dict[str, float]:
    """Parse the measured DuckDB table out of BASELINE.md §Baseline table."""
    text = open(os.path.join(_REPO, "BASELINE.md"), encoding="utf-8").read()
    section = text.split("## Baseline table", 1)[1]
    section = section.split("##", 1)[0]
    rows = re.findall(r"^\| `([a-z0-9_]+)`[^|]*\| ([0-9.]+) \|",
                      section, flags=re.M)
    return {name: float(ms) for name, ms in rows}


def test_baseline_ms_matches_baseline_md():
    md = _baseline_md_headline_ms()
    assert md == bench.BASELINE_MS, (
        "bench.BASELINE_MS has drifted from BASELINE.md's measured table — "
        "the artifact's 2x-gate ratios would misstate the comparison; "
        f"md-only: {set(md) - set(bench.BASELINE_MS)}, "
        f"bench-only: {set(bench.BASELINE_MS) - set(md)}, "
        f"diffs: { {k: (md.get(k), bench.BASELINE_MS.get(k)) for k in set(md) | set(bench.BASELINE_MS) if md.get(k) != bench.BASELINE_MS.get(k)} }")


def test_floor_band_reads_committed_artifacts():
    band = bench._floor_band()
    # the checkout carries r04..r11 floors, so the band is live
    assert band["n"] >= 3
    assert 0.005 < band["med"] < 0.05
    assert band["med"] <= band["med_scan"]


def test_floor_verdict_flags_inflated_floor_and_reruns_once():
    """r11 post-mortem: the start-only load gate passed while the
    scheduling floor doubled mid-sweep. The band verdict must mark a
    floor >1.5x the committed median as degraded (main() then re-runs
    the sweep once), and a floor inside the band as clean."""
    band = {"med": 0.012, "med_scan": 0.018, "n": 8}
    hot = bench._floor_verdict(band, 0.024, 0.036, reran=False)
    assert hot["deg"] and hot["x"] == 2.0
    cool = bench._floor_verdict(band, 0.013, 0.019, reran=False)
    assert not cool["deg"] and "rr" not in cool
    retried = bench._floor_verdict(band, 0.024, 0.02, reran=True)
    assert retried["deg"] and retried["rr"]
    # scan floor alone can trip it (IO contention without CPU load)
    io_hot = bench._floor_verdict(band, 0.012, 0.06, reran=False)
    assert io_hot["deg"]
    assert bench._floor_verdict({}, 9.9, 9.9, reran=False) == {"n": 0}


def test_sf1_heavy_control_verdict_flags_loaded_run():
    """r13 (r12 verdict item 4): the heavy sweep's per-row attribution
    control — a drifted control beside a row's best rep marks the row
    degraded; an in-band control stays clean; a zero baseline cannot
    silently pass."""
    from tools.bench_sf1_heavy import _CTRL_GATE, _ctrl_verdict

    hot = _ctrl_verdict(0.1, 0.21)
    assert hot["deg"] and hot["x"] == 2.1
    cool = _ctrl_verdict(0.1, 0.12)
    assert not cool["deg"] and cool["x"] == 1.2
    assert _ctrl_verdict(0.0, 0.1)["deg"]
    assert _CTRL_GATE == 1.5
