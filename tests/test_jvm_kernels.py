"""The curation kernels of the package jar held to their oracles.

``pyconnect.dedup.MinHash`` (``dedup.minhash_signatures``) must give the
signature of the SQL-lambda formulation it replaced, and
``pyconnect.vec.SignKeys`` (``similarity.lsh_tables``) the keys of the numpy
matmul it replaced; both oracles live here only. The curation benchmark's
queries and sm37 must run no Python worker."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from conftest import SF_ORACLE
from pyconnect_spark.catalog import table_path
from pyconnect_spark.operators import dedup as D
from pyconnect_spark.operators import similarity as S
from pyconnect_spark.plans import executed_plans
from pyconnect_spark.registry import queries
from test_avro_codec import _PYTHON_NODES


# ---------------------------------------------------------------------------
# MinHash
# ---------------------------------------------------------------------------
def _sql_lambda_signatures(docs, n_hashes=D._N_HASHES, param_offset=0):
    """The signature as SQL higher-order functions: md5-60 shingle hashes,
    then one aggregate over a k-wide accumulator of affine minima."""
    p = D._MERSENNE
    with_toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    hashed = with_toks.select(
        "doc_id",
        F.expr(
            f"transform({D._word_shingle_sql('toks', 3)}, "
            f"s -> pmod(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT), {p}))"
        ).alias("hs"),
    )
    params = ", ".join(
        f"named_struct('a', {a}, 'b', {b})"
        for a, b in (D._hash_params(i + param_offset) for i in range(n_hashes))
    )
    init = ", ".join([f"CAST({p} AS BIGINT)"] * n_hashes)
    signature = F.expr(
        f"aggregate(hs, array({init}), (acc, h) -> zip_with(acc, array({params}), "
        f"(m, p) -> least(m, (h * p.a + p.b) % {p})))"
    )
    return hashed.select("doc_id", signature.alias("signature"))


def _signatures(df) -> dict:
    return {r.doc_id: list(r.signature) for r in df.collect()}


def test_minhash_matches_the_sql_signature_on_the_fixture(spark):
    docs = spark.read.parquet(table_path(SF_ORACLE, "documents"))
    got = _signatures(D.minhash_signatures(docs))
    assert len(got) == docs.count()
    assert got == _signatures(_sql_lambda_signatures(docs))


_EDGE_TEXTS = [
    "",
    "one",
    "one two",
    "one two three",
    "a b a b a b a b a b",  # every shingle repeats
    "the cat the cat the cat sat",
    "  leading\tand trailing  \n",  # trim drops spaces only; split keeps empty tokens
    "naïve café 東京 タワー 🙂 smile ∑ x",
    None,
]


@pytest.mark.parametrize("param_offset", [0, 64])
def test_minhash_matches_the_sql_signature_on_edge_cases(spark, param_offset):
    docs = spark.createDataFrame(list(enumerate(_EDGE_TEXTS)), "doc_id long, text string")
    got = _signatures(D.minhash_signatures(docs, param_offset=param_offset))
    assert got == _signatures(_sql_lambda_signatures(docs, param_offset=param_offset))
    assert len(set(map(tuple, got.values()))) == len(got) - 1  # "" and NULL share one shingle


def test_minhash_width_follows_n_hashes(spark):
    docs = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    got = _signatures(D.minhash_signatures(docs, n_hashes=5, param_offset=3))
    assert got == _signatures(_sql_lambda_signatures(docs, n_hashes=5, param_offset=3))
    assert len(got[1]) == 5


# ---------------------------------------------------------------------------
# sign-bit LSH keys
# ---------------------------------------------------------------------------
def _numpy_keys(mat: np.ndarray, planes: np.ndarray, n_tables: int, n_bits: int, multiprobe: bool) -> list[list[int]]:
    """One matmul, 9-dp half-up rounding, then the bits packed per table;
    with multiprobe, each table's Hamming-1 buckets follow, table by table."""
    total = n_tables * n_bits
    dots = mat.astype(np.float64) @ planes[:total].T.astype(np.float64)
    bits = (S.round9_half_up(dots) > 0).reshape(len(mat), n_tables, n_bits)
    buckets = bits @ (1 << np.arange(n_bits)).astype(np.int64)
    out = []
    for row in buckets:
        keys = [(t << 32) | int(row[t]) for t in range(n_tables)]
        if multiprobe:
            keys += [(t << 32) | (int(row[t]) ^ (1 << b)) for t in range(n_tables) for b in range(n_bits)]
        out.append(keys)
    return out


def _kernel_keys(spark, mat: np.ndarray, planes, n_tables, n_bits, multiprobe) -> list[list[int]]:
    df = spark.createDataFrame(
        [(i, [float(x) for x in row]) for i, row in enumerate(mat)], "vec_id long, embedding array<float>"
    )
    keyed = df.select("vec_id", S.lsh_tables(F.col("embedding"), planes, n_tables, n_bits, multiprobe=multiprobe).alias("k"))
    return [list(r.k) for r in sorted(keyed.collect())]


@pytest.mark.parametrize("multiprobe", [False, True])
def test_sign_keys_match_numpy_on_seeded_vectors(spark, multiprobe):
    mat = np.random.default_rng(11).standard_normal((200, 64)).astype(np.float32)
    planes = S._hyperplanes(64, n_planes=72)
    assert _kernel_keys(spark, mat, planes, 12, 6, multiprobe) == _numpy_keys(mat, planes, 12, 6, multiprobe)


def test_sign_keys_match_numpy_on_the_fixture(spark):
    rows = sorted(spark.read.parquet(table_path(SF_ORACLE, "embeddings")).select("vec_id", "embedding").collect())
    mat = np.array([r.embedding for r in rows], dtype=np.float32)
    planes = S._hyperplanes(64, n_planes=72)
    assert _kernel_keys(spark, mat, planes, 12, 6, True) == _numpy_keys(mat, planes, 12, 6, True)


def test_sign_keys_at_the_rounding_boundary(spark):
    """Vectors whose dot with plane 0 sits within 1e-12 of ±5e-10, where
    the 9-dp half-up step decides the bit: small random coordinates, then
    one coordinate solved for the target dot."""
    planes = S._hyperplanes(64, n_planes=12)
    w = planes[0]
    rng = np.random.default_rng(5)
    rows, dots = [], []
    for sign in (1.0, -1.0):
        for delta in (-1e-12, -4e-13, -1e-13, 0.0, 1e-13, 4e-13, 1e-12):
            target = sign * 5e-10 + delta
            v = (rng.standard_normal(64) * 1e-11).astype(np.float32)
            v[7] = np.float32((target - float(np.dot(np.delete(v, 7).astype(np.float64), np.delete(w, 7)))) / w[7])
            dot = sum(float(v[d]) * w[d] for d in range(64))
            assert abs(dot - target) <= 1e-12
            rows.append(v)
            dots.append(dot)
    mat = np.array(rows)
    want = _numpy_keys(mat, planes, 2, 6, True)
    assert _kernel_keys(spark, mat, planes, 2, 6, True) == want
    plane0 = [keys[0] & 1 for keys in want]
    assert plane0 == [int(dot > 0 and dot * 1e9 + 0.5 >= 1) for dot in dots]
    assert 0 < sum(plane0) < len(plane0)


def test_sign_keys_accept_only_the_md5_planes():
    with pytest.raises(ValueError):
        S.lsh_tables(F.col("embedding"), S._hyperplanes(64, n_planes=72) * 2, 12, 6)
    with pytest.raises(ValueError):
        S.lsh_tables(F.col("embedding"), S._hyperplanes(64, n_planes=8), 12, 6)


# ---------------------------------------------------------------------------
# no Python worker in the curation job
# ---------------------------------------------------------------------------
_CURATION = ("dd01_exact_dedup", "dd03_minhash_lsh", "dd05_dedup_clusters", "sm03_ann_lsh", "sm18_ivfadc", "sm37_lsh_table_curve")


@pytest.mark.parametrize("name", _CURATION)
def test_curation_queries_run_no_python(spark, name):
    """Every SQL execution of the query, its cache fills and checkpoints
    included, is free of Python evaluation nodes."""
    plans = executed_plans(spark, lambda: queries()[name](spark, SF_ORACLE).collect())
    assert plans
    assert not [n for plan in plans for n in _PYTHON_NODES if n in plan]
    kernel = {"dd03": "pyconnect_minhash", "dd05": "pyconnect_minhash", "sm03": "pyconnect_lsh_sign_keys",
              "sm37": "pyconnect_lsh_sign_keys"}.get(name[:4])
    assert kernel is None or any(kernel in plan for plan in plans)
