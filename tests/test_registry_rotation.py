"""The registry's full surface: merging the operator modules drops no
declared query, so ``queries()`` and ``get()`` cover every module's
``REGISTRY`` whatever order they list it in.

No SparkSession needed — pure registry logic.
"""

from __future__ import annotations

from pyconnect_spark import registry
from pyconnect_spark.operators import (
    dedup, extended, io_infra, multimodal, relational, similarity, text, timeseries, tpch,
)

MODULES = (relational, extended, tpch, timeseries, text, dedup, similarity, multimodal, io_infra)


def test_full_surface_is_always_declared():
    qs = registry.queries()
    declared = {n for mod in MODULES for n in mod.REGISTRY.queries()}
    assert len(qs) == len(declared)
    assert set(qs) == declared
    for mod in MODULES:
        for name, q in mod.REGISTRY.queries().items():
            assert registry.get(name) is q
