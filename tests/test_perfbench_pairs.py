"""The summary of ``tools/perfbench_pairs.py``: medians, quartiles,
pairs won with ties counting for neither, the gain rule (at least ten
pairs, nine tenths of them won, and a median difference beyond the
parent's quartile spread) and the no-regression verdict against each
end-to-end metric's bound."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

TOOL = Path(__file__).resolve().parents[1] / "tools" / "perfbench_pairs.py"


def _tool(monkeypatch):
    spec = importlib.util.spec_from_file_location("perfbench_pairs", TOOL)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, mod)
    spec.loader.exec_module(mod)
    return mod


def _rec(side, seed, cpu, tput, workload="response_drain"):
    return {
        "workload": workload, "seed": seed, "trace": 0, "side": side,
        "result": {"correct": True, "attempted": 5, "failed": 0, "metrics": {
            "op_cpu_p50_s": {"value": cpu, "unit": "cpu_s"},
            "throughput_per_cpu_s": {"value": tput, "unit": "1/cpu_s"},
        }},
    }


def test_summary_counts_wins_and_applies_gain_rule(monkeypatch):
    tool = _tool(monkeypatch)
    better = {"op_cpu_p50_s": "lower", "throughput_per_cpu_s": "higher"}
    records = []
    # ten pairs: the change halves CPU on nine, ties on one; throughput
    # is identical everywhere, so it is no gain and wins no pair
    for seed in range(10):
        records.append(_rec("parent", seed, 10.0 + seed, 100.0))
        records.append(_rec("change", seed, 10.0 + seed if seed == 0 else 5.0, 100.0))
    # a run with no result and an unpaired run are not pairs
    records.append({"workload": "response_drain", "seed": 99, "trace": 0,
                    "side": "parent", "result": None})
    records.append(_rec("parent", 98, 30.0, 100.0))

    rows = {r["metric"]: r for r in tool.summarize(records, better)}
    cpu = rows["op_cpu_p50_s"]
    assert (cpu["pairs"], cpu["wins"]) == (10, 9)
    assert cpu["parent_median"] == 15.0  # 10..19 plus the unpaired 30
    assert (cpu["parent_q1"], cpu["parent_q3"]) == (12.5, 17.5)
    assert cpu["change_median"] == 5.0 and cpu["gain"]
    tput = rows["throughput_per_cpu_s"]
    assert (tput["pairs"], tput["wins"], tput["gain"]) == (10, 0, False)

    counts = tool.correctness(records)
    assert counts[("response_drain", 0, "parent")] == {
        "runs": 12, "incorrect": 0, "failed_ops": 0, "no_result": 1}


def test_gain_needs_ten_pairs_and_a_gap_beyond_the_parent_spread(monkeypatch):
    tool = _tool(monkeypatch)

    def cpu_row(parent_cpus, gap):
        records = []
        for seed, cpu in enumerate(parent_cpus):
            records.append(_rec("parent", seed, cpu, 1.0))
            records.append(_rec("change", seed, cpu - gap, 1.0))
        rows = tool.summarize(records, {})
        return next(r for r in rows if r["metric"] == "op_cpu_p50_s")

    # every pair won, but a 1.0 gap is inside the parent's 4.5 spread
    row = cpu_row([10.0 + i for i in range(10)], 1.0)
    assert row["wins"] == row["pairs"] == 10 and not row["gain"]
    assert cpu_row([10.0 + i for i in range(10)], 5.0)["gain"]
    # one pair has no spread to beat, and is still no gain
    row = cpu_row([10.0], 5.0)
    assert row["wins"] == row["pairs"] == 1 and not row["gain"]


def test_verdict_against_the_bound(monkeypatch):
    tool = _tool(monkeypatch)
    tight = [10.0, 10.1, 10.2, 10.3, 10.4]
    # a median within the bound with tight spreads is ok, better or worse
    assert tool.verdict(tight, [x * 1.2 for x in tight], True, 0.25) == "ok"
    assert tool.verdict(tight, [x * 0.5 for x in tight], True, 0.25) == "ok"
    # beyond the bound is worse, in either direction of "better"
    assert tool.verdict(tight, [x * 1.3 for x in tight], True, 0.25) == "worse"
    assert tool.verdict(tight, [x * 0.7 for x in tight], False, 0.25) == "worse"
    assert tool.verdict(tight, [x * 1.3 for x in tight], False, 0.25) == "ok"
    # a spread wider than the bound cannot tell, on either side ...
    wide = [6.0, 8.0, 10.0, 12.0, 14.0]
    assert tool.verdict(wide, wide, True, 0.25) == "unresolved"
    assert tool.verdict(tight, [x - 0.2 for x in wide], True, 0.25) == "unresolved"
    # ... unless every change run beats every parent run
    assert tool.verdict(wide, [x / 3 for x in wide], True, 0.25) == "ok"
    assert tool.verdict(wide, [x * 3 for x in wide], False, 0.25) == "ok"


def test_summary_gives_bounded_metrics_a_verdict(monkeypatch):
    tool = _tool(monkeypatch)
    records = []
    for seed in range(4):
        records.append(_rec("parent", seed, 10.0, 100.0 + seed))
        records.append(_rec("change", seed, 14.0, 100.0 + seed))
    rows = {r["metric"]: r for r in tool.summarize(
        records, {"throughput_per_cpu_s": "higher"}, {"op_cpu_p50_s": 0.25})}
    assert rows["op_cpu_p50_s"]["verdict"] == "worse"
    assert rows["throughput_per_cpu_s"]["verdict"] is None


def test_bounds_come_from_the_benchmark_declaration(monkeypatch):
    tool = _tool(monkeypatch)
    better, bounds = tool.benchmark_metrics(str(TOOL.parents[1]))
    assert bounds == {"throughput_per_cpu_s": 0.25, "op_cpu_p50_s": 0.25,
                      "setup_s": 0.25, "peak_rss_mb": 0.25}
    assert better["throughput_per_cpu_s"] == "higher"
    assert better["sources.dbapi.poll.self_s"] == "lower"
