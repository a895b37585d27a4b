"""The py4j-command counter of ``tools/op_counts.py``: it counts every
command sent through the client while installed, passes each through
unchanged, and leaves the client as it found it."""

from __future__ import annotations

import importlib.util
import sys
from pathlib import Path

import pytest

TOOL = Path(__file__).resolve().parents[1] / "tools" / "op_counts.py"


def _tool(monkeypatch):
    spec = importlib.util.spec_from_file_location("op_counts", TOOL)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, spec.name, mod)
    spec.loader.exec_module(mod)
    return mod


class FakeClient:
    def __init__(self):
        self.sent = []

    def send_command(self, command, retry=True):
        self.sent.append(command)
        return f"!y{command}"


def test_counter_counts_and_passes_commands_through(monkeypatch):
    tool = _tool(monkeypatch)
    client = FakeClient()
    client.send_command("before")
    with tool.CommandCounter(client) as counter:
        assert client.send_command("a") == "!ya"
        assert client.send_command("b", retry=False) == "!yb"
    client.send_command("after")
    assert counter.count == 2
    assert client.sent == ["before", "a", "b", "after"]
    assert "send_command" not in vars(client)


def test_counter_uninstalls_when_the_block_raises(monkeypatch):
    tool = _tool(monkeypatch)
    client = FakeClient()
    counter = tool.CommandCounter(client)
    try:
        with counter:
            client.send_command("a")
            raise RuntimeError("op failed")
    except RuntimeError:
        pass
    assert counter.count == 1
    assert "send_command" not in vars(client)


def test_medians_over_ops(monkeypatch):
    tool = _tool(monkeypatch)
    ops = [dict(zip(tool.FIELDS, (i, i, 10 * i, 3, 0))) for i in (1, 2, 9)]
    assert tool.medians(ops) == {"wall_s": 2, "cpu_s": 2, "py4j_commands": 20,
                                 "spark_jobs": 3, "janino_compilations": 0}


def test_cli_takes_every_engine_workload(monkeypatch):
    tool = _tool(monkeypatch)
    for name in ("request_ingest", "response_drain", "retry_churn"):
        args = tool.parse_args(["--workload", name, "--seed", "7"])
        assert (args.workload, args.seed, args.ops) == (name, 7, 5)
    with pytest.raises(SystemExit):
        tool.parse_args(["--workload", "analytics_mix", "--seed", "7"])
