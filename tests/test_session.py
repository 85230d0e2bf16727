"""Session defaults that need no JVM: the heap sizing rule and the jar probe's
cache."""

from __future__ import annotations

import os
from types import SimpleNamespace

import pytest
from pyspark import SparkContext

from pyconnect_spark import session

_GB = 1 << 30


@pytest.fixture
def host(monkeypatch):
    """Pretend the host has ``gb`` GB of physical memory."""
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)

    def sized(gb: float) -> None:
        pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": int(gb * _GB) // 4096}
        monkeypatch.setattr(os, "sysconf", lambda name: pages[name])

    return sized


@pytest.mark.parametrize("gb, heap", [(15.5, "7936m"), (2, "1024m"), (128, "65536m"), (1024, "65536m")])
def test_default_heap_is_half_the_host_capped_at_64g(host, gb, heap):
    host(gb)
    assert session._driver_memory(None) == heap


def test_an_asked_heap_wins_over_the_host(host, monkeypatch):
    host(15.5)
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory(None) == "3g"
    assert session._driver_memory("2g") == "2g"


def _gateway(class_path: str, calls: list) -> SimpleNamespace:
    def get_property(key):
        calls.append(key)
        return class_path

    system = SimpleNamespace(getProperty=get_property)
    return SimpleNamespace(jvm=SimpleNamespace(java=SimpleNamespace(lang=SimpleNamespace(System=system))))


def test_the_jar_probe_runs_once_per_jvm(monkeypatch):
    monkeypatch.setattr(session, "_jar_probe", (None, True))
    calls: list = []
    with_jar = _gateway(f"/x.jar:{session._JAR}", calls)
    monkeypatch.setattr(SparkContext, "_gateway", with_jar)
    assert all(session._jvm_has_jar() for _ in range(4))
    assert len(calls) == 1
    monkeypatch.setattr(SparkContext, "_gateway", _gateway("/x.jar", calls))
    assert not session._jvm_has_jar() and not session._jvm_has_jar()
    assert len(calls) == 2
    monkeypatch.setattr(SparkContext, "_gateway", None)
    assert session._jvm_has_jar() and len(calls) == 2
