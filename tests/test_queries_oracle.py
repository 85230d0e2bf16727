"""Oracle correctness: every declared query with an oracle must hash-match
DuckDB on the sf0.01 fixtures (the driver's t2 gate, run locally).
Queries without an oracle are smoke-checked (runs, stable schema)."""

from __future__ import annotations

import pytest

from pyconnect_spark.registry import ALL
from tests.conftest import SF_ORACLE, compare_with_oracle

_QUERIES = ALL.queries()
_WITH_ORACLE = sorted(n for n, q in _QUERIES.items() if q.oracle)
_NO_ORACLE = sorted(n for n, q in _QUERIES.items() if not q.oracle)


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_match(spark, ddb, name):
    q = _QUERIES[name]
    df = q.builder(spark, SF_ORACLE)
    ok, detail = compare_with_oracle(df, ddb, q.oracle)
    assert ok, f"{name}: {detail}"


@pytest.mark.parametrize("name", _WITH_ORACLE)
def test_oracle_no_hugeint(ddb, name):
    """No oracle may type a result column HUGEINT: DuckDB SUM(BIGINT) yields
    int128, which Arrow/pandas export degrades to DOUBLE, so the driver
    hashes 99111.0 against Spark's 99111 and fails (r01 b21 regression).
    DESCRIBE compiles without executing, so this is a static schema check."""
    types = {
        r[0]: r[1] for r in ddb.sql(f"DESCRIBE {_QUERIES[name].oracle}").fetchall()
    }
    bad = {c: t for c, t in types.items() if "HUGEINT" in t.upper()}
    assert not bad, f"{name}: HUGEINT result columns {bad}; add an outer CAST"


def test_sketch_stats_tolerance(spark):
    """HLL++ distinct counts within 5% of exact; approx median within 1% —
    the audit contract promised by x08_approx_stats' docstring."""
    from pyconnect_spark.operators.extended import sketch_stats, x08

    exact = {r["l_returnflag"]: r for r in x08(spark, SF_ORACLE).collect()}
    approx = {r["l_returnflag"]: r for r in sketch_stats(spark, SF_ORACLE).collect()}
    assert set(exact) == set(approx)
    for flag, e in exact.items():
        a = approx[flag]
        assert abs(a["approx_parts"] - e["exact_parts"]) <= 0.05 * e["exact_parts"]
        assert abs(a["approx_supps"] - e["exact_supps"]) <= 0.05 * e["exact_supps"]
        assert abs(a["approx_median_price"] - e["median_price"]) <= 0.01 * e["median_price"]


@pytest.mark.parametrize("name", _NO_ORACLE)
def test_no_oracle_smoke(spark, name):
    q = _QUERIES[name]
    df = q.builder(spark, SF_ORACLE)
    assert df.columns  # stable schema
    assert df.count() >= 0


def test_hll_rollup_tolerance(spark):
    """Unioned daily HLL sketches estimate per-type distinct users within
    5% of exact — the mergeability contract x49 exists for (per-group
    approx_count_distinct values cannot merge; sketches can)."""
    from pyconnect_spark.operators.extended import x49

    rows = x49(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["rel_err"] <= 0.05, (r["event_type"], r["rel_err"])


def test_registry_is_module_order():
    """The public surface is the nine operator modules' registries merged
    in module order: every declared query once, each module's queries in
    declaration order, no oracle without its query."""
    from pyconnect_spark import registry
    from pyconnect_spark.operators import (
        dedup, extended, io_infra, multimodal, relational, similarity, text, timeseries, tpch,
    )

    names = list(registry.queries())
    assert len(names) == len(set(names)) == 383
    modules = (relational, extended, tpch, timeseries, text, dedup, similarity, multimodal, io_infra)
    assert names == [n for mod in modules for n in mod.REGISTRY.queries()]
    assert set(registry.oracles()) <= set(names)


def test_registry_window_invariants():
    """Whatever prefix ("window") of the public surface a caller verifies
    is cut from one fixed list: __spark_entry__ serves the registry's
    builders and oracles unchanged, every name resolves through get() to
    its own builder, and every oracle is non-empty SQL."""
    import __spark_entry__
    from pyconnect_spark import registry

    builders = __spark_entry__.queries()
    assert list(builders) == list(registry.queries())
    assert __spark_entry__.oracle_sql() == registry.oracles()
    for name, builder in builders.items():
        q = registry.get(name)
        assert q.name == name and q.builder is builder
    assert all(isinstance(sql, str) and sql.strip() for sql in registry.oracles().values())


def test_query_index_doc_is_registry_order():
    """docs/QUERIES.md (tools/gen_query_index.py) lists the declared
    queries in registry order, one row each."""
    import re
    from pathlib import Path

    doc = Path(__file__).resolve().parents[1] / "docs" / "QUERIES.md"
    rows = re.findall(r"^\| \d+ \| `([^`]+)` \|", doc.read_text(), flags=re.M)
    assert rows == list(ALL.queries())


def test_kll_rollup_tolerance(spark):
    """ts40: a merged quantile sketch's guarantee lives in RANK space —
    a uniform k=512 sample puts each estimate's realized rank within
    ~4 sigma = 4*sqrt(q(1-q)/k) of its target (0.088/0.039/0.018 for
    p50/p95/p99). The query REPORTS its realized rank errors against
    one exact fact pass; assert them inside the guarantee. (Engine
    determinism is separately pinned by the DuckDB hash oracle.)"""
    from pyconnect_spark.operators.timeseries import ts40

    rows = ts40(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        assert r["n_sample"] >= 1
        assert r["rank_err_p50"] <= 0.088, tuple(r)
        assert r["rank_err_p95"] <= 0.039, tuple(r)
        assert r["rank_err_p99"] <= 0.018, tuple(r)


def test_x73b_uncapped_equals_x73(spark):
    """x73b (production block cap): when every block fits under the cap
    (sf0.001 blocks are <= 33 members vs cap 64) the md5 member sample
    IS the block, so the capped audit must reproduce x73's exact
    per-block counts bit-for-bit — the degradation contract that makes
    the capped twin trustworthy."""
    from pyconnect_spark.operators.extended import x73, x73b

    sf = "/root/testdata/sf0.001"
    full = {r["blk"]: r for r in x73(spark, sf).collect()}
    capped = {r["blk"]: r for r in x73b(spark, sf).collect()}
    assert set(full) == set(capped)
    for blk, f in full.items():
        c = capped[blk]
        assert c["capped"] == 0
        assert c["n_pairs_verified"] == c["n_pairs_full"] == f["n_pairs"]
        assert c["n_exact"] == f["n_exact"]
        assert c["n_near"] == f["n_near"]
        assert c["est_match_rate"] == f["match_rate"]


def test_theta_overlap_tolerance(spark):
    """dd24: the md5-KMV (k=64) estimates must track the exact shingle
    set algebra within the sketch's statistical guarantee: jaccard
    within ~4.5 sigma of matches/k (sigma = sqrt(J(1-J)/k) <= 0.0625),
    and shared counts within a quarter of the exact union size
    (measured worst case at sf0.01 is 165 of ~2400). Determinism and
    formula correctness are pinned by the DuckDB hash oracle; this
    test pins that the estimator is statistically SANE, not just
    replayable."""
    from pyconnect_spark.operators.dedup import dd24

    rows = dd24(spark, SF_ORACLE).collect()
    assert rows
    for r in rows:
        exact_union = r["n_a"] + r["n_b"] - r["exact_shared"]
        exact_jacc = r["exact_shared"] / exact_union
        assert abs(r["est_jaccard"] - exact_jacc) <= 0.12, tuple(r)
        assert abs(r["est_shared"] - r["exact_shared"]) <= 0.25 * exact_union, tuple(r)
