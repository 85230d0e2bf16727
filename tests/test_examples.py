"""Smoke tests for the example scripts — the runnable showcase artifacts.
Each runs in a subprocess (they own their SparkSession lifecycle) at the
smallest fixture; pass = exit 0. These exist because the examples import
operator internals directly and would otherwise only break when a human
runs them."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from tests.conftest import SF_SMALL

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _run(script: str, *args: str) -> None:
    proc = subprocess.run(
        [sys.executable, os.path.join(_ROOT, "examples", script), *args],
        capture_output=True,
        text=True,
        # Hang guard, not a perf bound: llm_pipeline.py measures ~250 s
        # standalone on this steal-prone host and tipped over the old 280 s
        # under a concurrently-loaded test session (round-12 gate check).
        timeout=540,
        cwd=_ROOT,
    )
    assert proc.returncode == 0, f"{script} failed:\n{proc.stderr[-2000:]}"


@pytest.mark.slow
def test_file_connector_example():
    _run("file_connector.py")


@pytest.mark.slow
def test_llm_pipeline_example():
    _run("llm_pipeline.py", "/root/testdata/sf0.001")


@pytest.mark.slow
def test_event_analytics_example():
    _run("event_analytics.py", "/root/testdata/sf0.001")


@pytest.mark.slow
def test_streaming_ingest_example():
    _run("streaming_ingest.py")


@pytest.mark.slow
def test_dedup_at_scale_example():
    _run("dedup_at_scale.py", "/root/testdata/sf0.001")


@pytest.mark.slow
def test_table_maintenance_example():
    _run("table_maintenance.py", SF_SMALL)
