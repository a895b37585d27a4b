"""perfbench's traced run patches layer functions by name in
``streaming.jobs`` (``JOBS_LAYERS`` in ``perfbench/spans.py``) and
``operators.response.make_response_envelope``.  A name the jobs no longer
bind, or a layer the jobs no longer reach through that binding, breaks
or silently blinds the traced run; this pins the contract, along with
every engine name perfbench imports and the poll signatures its poll
counter unpacks."""

from __future__ import annotations

import ast
import importlib
import importlib.util
import inspect
import sqlite3
import sys
from pathlib import Path

from flink_invoice_processor_spark.config import EngineConfig
from flink_invoice_processor_spark.operators import response
from flink_invoice_processor_spark.sinks.dbapi import SqliteConnFactory
from flink_invoice_processor_spark.sources.dbapi import (
    poll_async_inv_in,
    poll_async_inv_out,
)
from flink_invoice_processor_spark.streaming import jobs

from test_sinks_sources import DDL


PERFBENCH = Path(__file__).resolve().parents[1] / "perfbench"


def _jobs_layers(monkeypatch) -> dict[str, str]:
    path = PERFBENCH / "spans.py"
    spec = importlib.util.spec_from_file_location("perfbench_spans", path)
    spans = importlib.util.module_from_spec(spec)
    # dataclasses resolve the module's annotations through sys.modules
    monkeypatch.setitem(sys.modules, spec.name, spans)
    spec.loader.exec_module(spans)
    return spans.JOBS_LAYERS


def test_traced_layers_are_bound_and_reached(spark, tmp_path, monkeypatch):
    layers = _jobs_layers(monkeypatch)
    missing = [name for name in layers if not hasattr(jobs, name)]
    assert not missing, f"streaming.jobs no longer binds {missing}"

    calls: dict[str, int] = {}

    def counted(key, fn):
        def wrapper(*args, **kwargs):
            calls[key] = calls.get(key, 0) + 1
            return fn(*args, **kwargs)
        return wrapper

    for name in layers:
        monkeypatch.setattr(jobs, name, counted(name, getattr(jobs, name)))
    monkeypatch.setattr(
        response, "make_response_envelope",
        counted("make_response_envelope", response.make_response_envelope),
    )

    db_path = str(tmp_path / "engine.db")
    conn = sqlite3.connect(db_path)
    for ddl in DDL:
        conn.execute(ddl)
    conn.commit()
    conn.close()
    db, cfg = SqliteConnFactory(db_path), EngineConfig()

    jobs.request_micro_batch(spark.createDataFrame([], "value string"), spark, cfg, db)
    jobs.response_cycle(spark, cfg, db, lambda df: df.collect())

    expected = set(layers) | {"make_response_envelope"}
    assert expected - set(calls) == set()


def test_perfbench_engine_imports_resolve():
    """Every ``from flink_invoice_processor_spark... import X`` in
    perfbench (module level or inside functions) still resolves."""
    imports = []
    for path in sorted(PERFBENCH.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith(
                "flink_invoice_processor_spark"
            ):
                imports += [(path.name, node.module, a.name) for a in node.names]
    assert ("workloads.py", "flink_invoice_processor_spark.sinks.dbapi",
            "SqliteConnFactory") in imports
    assert ("workloads.py", "flink_invoice_processor_spark.config",
            "load_config") in imports

    def resolves(module: str, name: str) -> bool:
        if hasattr(importlib.import_module(module), name):
            return True
        try:
            importlib.import_module(f"{module}.{name}")
        except ImportError:
            return False
        return True

    broken = [imp for imp in imports if not resolves(imp[1], imp[2])]
    assert broken == []


def test_polls_keep_the_signature_perfbench_unpacks():
    for poll in (poll_async_inv_in, poll_async_inv_out):
        params = list(inspect.signature(poll).parameters)
        assert params[:4] == ["spark", "conn_factory", "cfg", "last_id"], poll
