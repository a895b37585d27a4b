"""The summary of ``tools/perfbench_pairs.py``: medians, quartiles,
pairs won with ties counting for neither, and the gain rule (at least ten
pairs, nine tenths of them won, and a median difference beyond the
parent's quartile spread)."""

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
