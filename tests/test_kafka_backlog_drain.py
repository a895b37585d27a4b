"""The bookkeeping of ``tools/kafka_backlog_drain.py``: how many packets
the stand-in Kafka source admits per trigger, and the per-trigger packets,
durations and idle gaps read back from a query's progress reports."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

TOOL = Path(__file__).resolve().parents[1] / "tools" / "kafka_backlog_drain.py"


def _tool(monkeypatch):
    spec = importlib.util.spec_from_file_location("kafka_backlog_drain", TOOL)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, mod)
    spec.loader.exec_module(mod)
    return mod


def test_source_admits_at_most_the_bound_per_trigger(monkeypatch):
    tool = _tool(monkeypatch)
    assert tool.admitted(0, 5000, 2000) == 2000
    assert tool.admitted(4000, 5000, 2000) == 5000
    assert tool.admitted(5000, 5000, 2000) == 5000
    assert tool.admitted(0, 5000, 0) == 5000  # no bound: the whole backlog


def _progress(ts, start, end, rows, duration_ms):
    return {"timestamp": ts, "numInputRows": rows,
            "durationMs": {"triggerExecution": duration_ms},
            "sources": [{"startOffset": start, "endOffset": end}]}


def test_idle_gaps_count_packets_by_offset_and_skip_empty_triggers(monkeypatch):
    tool = _tool(monkeypatch)
    progress = [
        # offsets read back as the offset dict's repr; numInputRows counts
        # each packet once per scan of the source
        _progress("2026-01-01T00:00:00.000Z", "None", "{'offset': 2000}", 4000, 7500),
        _progress("2026-01-01T00:00:07.500Z", "{'offset': 2000}", "{'offset': 4000}", 4000, 3000),
        _progress("2026-01-01T00:00:15.000Z", "{'offset': 4000}", "{'offset': 4500}", 1000, 1000),
        _progress("2026-01-01T00:00:20.000Z", "{'offset': 4500}", "{'offset': 4500}", 0, 5),
    ]
    assert tool.idle_gaps(progress) == [
        {"packets": 2000, "duration_s": 7.5, "idle_after_s": 0.0},
        {"packets": 2000, "duration_s": 3.0, "idle_after_s": 4.5},
        {"packets": 500, "duration_s": 1.0, "idle_after_s": None},
    ]
