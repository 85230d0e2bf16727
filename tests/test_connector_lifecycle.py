"""No-JVM checks of the connector lifecycle (``streaming/core.py``): the
crash-restart cap, and the one place that builds and awaits a
connector's query."""

from __future__ import annotations

import ast
import pathlib

import pytest

from pyconnect_spark.streaming.core import BaseConnector, PyConnectError, Status
from pyconnect_spark.streaming.kafka import KafkaSource

STREAMING = pathlib.Path(__file__).resolve().parent.parent / "pyconnect_spark" / "streaming"


class _NeverStarts(BaseConnector):
    """A connector whose query fails at every start and whose crash hook
    always asks to resume."""

    def __init__(self, max_crash_restarts):
        super().__init__(None, checkpoint_location="unused", max_crash_restarts=max_crash_restarts)
        self.starts = 0

    def read_stream(self):
        self.starts += 1
        raise RuntimeError(f"start {self.starts} failed")

    def on_crash_during_run(self):
        return Status.RUNNING


def test_a_connector_out_of_crash_restarts_raises_its_last_error():
    connector = _NeverStarts(max_crash_restarts=2)
    with pytest.raises(PyConnectError) as info:
        connector.run()
    assert connector.starts == 3
    assert connector.status is Status.CRASHED
    assert str(info.value.__cause__) == "start 3 failed"


def test_a_connector_needs_a_checkpoint():
    with pytest.raises(ValueError):
        BaseConnector(None, checkpoint_location=None)


def test_only_core_builds_and_awaits_a_connector_query():
    offenders = []
    for path in sorted(STREAMING.glob("*.py")):
        if path.name == "core.py":
            continue
        for node in ast.walk(ast.parse(path.read_text())):
            defines = isinstance(node, ast.FunctionDef) and node.name == "_start_query"
            awaits = (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "awaitTermination"
            )
            if defines or awaits:
                offenders.append(f"{path.name}:{node.lineno}")
    assert not offenders, offenders
    assert issubclass(KafkaSource, BaseConnector)
