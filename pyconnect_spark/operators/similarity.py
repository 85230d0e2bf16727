"""Similarity search over embedding columns (array<float>).

- **Brute-force cosine top-k** (`sm01`): exact baseline. Query vector(s)
  broadcast against the corpus; dot products via JVM higher-order
  functions (zip_with + aggregate) — no Python, no shuffle of the corpus.
- **Embedding near-dup pairs** (`sm02`): all-pairs cosine above a
  threshold (exact, oracle-checked at fixture scale; quadratic ground
  truth for the LSH variant).
- **Random-hyperplane LSH ANN** (`sm03`): the scale path. 12 tables of 6
  md5-derived hyperplanes (72) → sign bits → one bucket key per table, in
  the package jar's Java kernel (``lsh_tables``); candidates only within
  the query's buckets and their Hamming-1 neighbours. Recall vs brute
  force is tracked by sm37 and tools/ann_tune.py.

DuckDB oracles use list_cosine_similarity over double-cast lists; both
engines accumulate left-to-right in double, and outputs are rounded to
6 dp, so hashes match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.operators._util import spread, spread_on, t
from pyconnect_spark.query import QueryRegistry
from pyconnect_spark.session import java_udf

REGISTRY = QueryRegistry()


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity between two array<numeric> columns, JVM-side."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    dot = F.aggregate(F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    na = F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))
    nb = F.sqrt(F.aggregate(bd, F.lit(0.0), lambda acc, x: acc + x * x))
    return dot / (na * nb)


def vector_norm(a: Column) -> Column:
    """L2 norm of an array<numeric> column — the SAME left-to-right
    accumulation :func:`cosine` uses, so ``dot / (norm_a * norm_b)`` with
    norms precomputed per ROW (N evaluations) is bit-identical to the
    fused per-PAIR expression (N^2 evaluations). Project this before a
    pair join in the exact quadratic tiers."""
    ad = F.transform(a, lambda x: x.cast("double"))
    return F.sqrt(F.aggregate(ad, F.lit(0.0), lambda acc, x: acc + x * x))


def pair_dot(a: Column, b: Column) -> Column:
    """Left-to-right dot product of two array<numeric> columns (the
    numerator of :func:`cosine`), for use with precomputed norms."""
    ad = F.transform(a, lambda x: x.cast("double"))
    bd = F.transform(b, lambda x: x.cast("double"))
    return F.aggregate(
        F.zip_with(ad, bd, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def round9_half_up(a):
    """Round a numpy array to 9 dp HALF-UP (away from zero) — the same
    tie-break Spark's ``F.round`` (BigDecimal HALF_UP) and DuckDB's
    ``round`` use. ``np.round`` is banker's (half-to-even), so a cosine
    landing exactly on a 9th-decimal .5 boundary could flip a
    ``(cos DESC, vec_id)`` rank decision vs the SQL oracle; this keeps
    every numpy-side 9-dp barrier engine-consistent."""
    return np.sign(a) * np.floor(np.abs(a) * 1e9 + 0.5) / 1e9


# Driver-resident audit tiers (sm23 hubness, sm30 mutual-NN) collect the
# corpus matrix to build the Arrow-BLAS broadcast. That is the AUDIT
# grain only; past this many vectors the query must fail loudly rather
# than silently become a driver-memory bomb — at real-corpus scale use
# the declared ANN-candidate twins (sm23b/sm30b) instead.
AUDIT_MAX_VECTORS = 2_000_000


def audit_corpus_matrix(emb: DataFrame):
    """Collect ``(vec_id, embedding)`` into sorted (ids, matrix, norms)
    numpy arrays for the broadcast-matmul audit tiers. Fails loudly past
    :data:`AUDIT_MAX_VECTORS` (count-star is parquet-metadata cheap)
    instead of letting ``collect()`` exhaust the driver."""
    n = emb.count()
    if n > AUDIT_MAX_VECTORS:
        raise ValueError(
            f"audit tier got {n} vectors (> {AUDIT_MAX_VECTORS}): this "
            "exact driver-resident grain is for audits; run the ANN-"
            "candidate scale tier (sm23b/sm30b) on a real corpus"
        )
    crows = sorted(emb.collect(), key=lambda r: r.vec_id)
    cids = np.array([r.vec_id for r in crows], dtype=np.int64)
    cmat = np.array([r.embedding for r in crows], dtype=np.float64)
    cnorm = np.sqrt((cmat * cmat).sum(axis=1))
    return cids, cmat, cnorm


_ORACLE_COS = (
    "list_cosine_similarity("
    "list_transform(e.embedding, x -> CAST(x AS DOUBLE)), "
    "list_transform(q.embedding, x -> CAST(x AS DOUBLE)))"
)


@REGISTRY.register(
    "sm01_cosine_topk",
    oracle=f"""
    SELECT e.vec_id, round({_ORACLE_COS}, 6) AS cos_sim
    FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 1) q
    WHERE e.vec_id <> 1
    ORDER BY {_ORACLE_COS} DESC, e.vec_id
    LIMIT 5
    """,
    doc="Exact top-5 cosine neighbors of vec_id=1. Query vector broadcasts; "
    "TakeOrderedAndProject keeps only k rows per partition.",
    tags=("similarity", "llm", "topk"),
)
def sm01(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).select(F.col("embedding").alias("q_emb"))
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    return (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select("vec_id", sim.alias("_raw"))
        .orderBy(F.desc("_raw"), "vec_id")
        .limit(5)
        .select("vec_id", F.round("_raw", 6).alias("cos_sim"))
    )


@REGISTRY.register(
    "sm02_embedding_neardup",
    oracle=f"""
    SELECT e.vec_id AS vec_a, q.vec_id AS vec_b, round({_ORACLE_COS}, 6) AS cos_sim
    FROM embeddings e JOIN embeddings q ON e.vec_id < q.vec_id
    ORDER BY {_ORACLE_COS} DESC, e.vec_id, q.vec_id
    LIMIT 25
    """,
    doc="Exact all-pairs cosine, top-25 most-similar pairs: the quadratic "
    "ground truth the ANN/LSH variants are validated against.",
    tags=("similarity", "llm", "neardup"),
)
def sm02(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "embedding", vector_norm(F.col("embedding")).alias("nrm")
    )
    a = normed.alias("a")
    b = normed.alias("b")
    sim = pair_dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            sim.alias("_raw"),
        )
        .orderBy(F.desc("_raw"), "vec_a", "vec_b")
        .limit(25)
        .select("vec_a", "vec_b", F.round("_raw", 6).alias("cos_sim"))
    )


@REGISTRY.register(
    "sm04_label_centroids",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    )
    SELECT CAST(label AS BIGINT) AS label, CAST(idx AS BIGINT) AS idx,
           round(AVG(val), 6) AS centroid_val
    FROM e GROUP BY 1, 2
    """,
    doc="Per-label centroid vectors (the IVF coarse-quantizer build step): "
    "explode to (label, dim, value), average per cell — one shuffle keyed "
    "by (label, dim), arbitrarily wide corpora.",
    tags=("similarity", "llm", "centroid"),
)
def sm04(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    return (
        emb.select(F.col("label").cast("long").alias("label"), F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", (F.col("pos") + 1).cast("long").alias("idx"))
        .agg(F.round(F.avg(F.col("v").cast("double")), 6).alias("centroid_val"))
    )


# Round-4 sweep at sf0.1 (tools/ann_tune.py + numpy replication): with the
# fixture's 10 natural label cells, recall@5 = 0.80/0.84/0.88/0.96 at
# n_probe = 4/5/6/8 (candidate fraction 0.39/0.50/0.59/0.80). A finer
# quantizer was tried and REJECTED: splitting each cell by residual
# coordinate signs (20/40/80 cells) gave WORSE recall at equal candidate
# fraction (0.72@0.39 vs 0.80@0.39) — this corpus has weak coarse-cluster
# structure, so extra cells just scatter true neighbors. n_probe=8 buys
# recall 0.96 at an honestly-documented 0.80 candidate fraction; on a
# corpus this unclustered, IVF degrades toward brute force, which is why
# docs/SCALE.md now recommends sm03 multiprobe LSH as the default ANN
# path and reserves IVF partition-pruning for corpora whose sm09 audit
# shows real cluster structure.
_SM05_N_PROBE = 8

# The IVF index-build CTEs (label-centroid quantizer + argmax-cos cell
# assignment) are shared verbatim by sm05's probe oracle and dd12's
# candidate-edge oracle, so the audited index IS the production index.
_SM05_INDEX_CTES = """
    cells AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c AS (SELECT label, idx, round(AVG(val), 6) AS cv FROM cells GROUP BY 1, 2),
    cv AS (SELECT label, list(cv ORDER BY idx) AS cvec FROM c GROUP BY 1),
    scored AS (
      SELECT e.vec_id, CAST(cv.label AS BIGINT) AS cell,
             round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * cvec[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(cvec, x -> x * x),
                          'sum'))), 9) AS cos9,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * cvec[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(cvec, x -> x * x),
                          'sum'))), 9) DESC, cv.label) AS rk
      FROM embeddings e CROSS JOIN cv
    ),
    corpus AS (SELECT vec_id, cell FROM scored WHERE rk = 1)"""

_SM05_ORACLE = f"""
    WITH {_SM05_INDEX_CTES},
    probes AS (
      SELECT vec_id AS q_id, cell AS q_cell FROM scored
      WHERE rk <= {_SM05_N_PROBE} AND vec_id < 5
    ),
    pair AS (
      SELECT p.q_id, c.vec_id,
             round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(q.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))), 9) AS cos9
      FROM probes p
      JOIN corpus c ON c.cell = p.q_cell AND c.vec_id <> p.q_id
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings q ON q.vec_id = p.q_id
    ),
    topk AS (
      SELECT q_id, vec_id, cos9,
             row_number() OVER (PARTITION BY q_id ORDER BY cos9 DESC, vec_id) AS rk
      FROM pair
    )
    SELECT q_id, vec_id, round(cos9, 6) AS cos_sim, CAST(rk AS BIGINT) AS rk
    FROM topk WHERE rk <= 5
    """


# Auto-sized IVF quantizer CTEs (dd12's scale tier): n_cells grows with
# the corpus as ceil(sqrt(N)) — the FAISS nlist sizing convention — so
# per-cell populations stay ~sqrt(N) instead of N/10, and the per-cell
# quadratic candidate-pair count stops exploding at fixed cell count
# (the 22.7x-at-10x failure BASELINE.md measured). Centroids are SEED
# VECTORS picked by md5 order (k-means with 0 iterations — deterministic
# and oracle-replayable; a production run would Lloyd-iterate the same
# seeds). Shared verbatim by dd12's oracle.
_SEED_IVF_COS = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(s.seed_emb[CAST(i AS INT)] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(s.seed_emb,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))), 9)"""

_SEED_IVF_CTES = f"""
    cnt AS (SELECT CAST(ceil(sqrt(COUNT(*))) AS BIGINT) AS n_cells FROM embeddings),
    seedrank AS (
      SELECT vec_id AS seed_id, embedding AS seed_emb,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS srk
      FROM embeddings
    ),
    seeds AS (SELECT seed_id, seed_emb, srk FROM seedrank, cnt WHERE srk <= cnt.n_cells),
    sscored AS (
      SELECT e.vec_id, s.srk, {_SEED_IVF_COS} AS cos9,
             row_number() OVER (PARTITION BY e.vec_id
                                ORDER BY {_SEED_IVF_COS} DESC, s.srk) AS rk
      FROM embeddings e CROSS JOIN seeds s
    ),
    seedcells AS (SELECT vec_id, srk AS cell FROM sscored WHERE rk = 1)"""


def _md5_first(emb: DataFrame, n: int, salt: str = "") -> DataFrame:
    """The n vectors first in md5(vec_id || salt) order (ties by vec_id)
    as ONE row: ``top``, array<struct<h, id, v>> in that order, so a
    vector's 1-based rank is its array position. TakeOrderedAndProject
    keeps n rows per partition and one aggregate sorts the n survivors:
    no WindowExec, no rank join, no exchange of its own (the survivors
    already sit in one partition)."""
    s = F.struct(
        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(salt))).alias("h"),
        F.col("vec_id").alias("id"),
        F.col("embedding").alias("v"),
    )
    return (
        emb.select(s.alias("s"))
        .orderBy("s.h", "s.id")
        .limit(n)
        .agg(F.sort_array(F.collect_list("s")).alias("top"))
    )


def _ranked(top: DataFrame, rank_col: str) -> DataFrame:
    """One row per element of :func:`_md5_first`'s array: id, v, rank."""
    return top.select(F.posexplode("top").alias("pos", "s")).select(
        F.col("s.id").alias("id"),
        F.col("s.v").alias("v"),
        (F.col("pos") + 1).cast("int").alias(rank_col),
    )


def ivf_seed_frame(emb: DataFrame, n_cells: int) -> DataFrame:
    """The n_cells md5-picked seed vectors (seed_id, seed_emb, srk), srk
    the 1-based rank in md5(vec_id) order — the cell id."""
    return _ranked(_md5_first(emb, n_cells), "srk").select(
        F.col("id").alias("seed_id"), F.col("v").alias("seed_emb"), "srk"
    )


def seed_ivf_cells_frame(emb: DataFrame, n_cells: int) -> DataFrame:
    """IVF assignment over an arbitrary (vec_id, embedding) frame: every
    vector scored against the n_cells seed quantizer; rk=1 is the cell,
    rk<=n_probe the probe list. The seed table broadcasts."""
    from pyspark.sql import Window

    seeds = ivf_seed_frame(emb, n_cells)
    v = F.transform("embedding", lambda x: x.cast("double"))
    s = F.transform("seed_emb", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with(v, s, lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nv = F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))
    ns = F.sqrt(F.aggregate(s, F.lit(0.0), lambda acc, x: acc + x * x))
    # N x n_cells scoring is the heaviest map stage of every IVF consumer;
    # floor its parallelism so it never fuses to a one-task scan (§2.5).
    scored = spread(emb, "vec_id").crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "embedding",
        F.col("srk").alias("cell"),
        F.round(dot / (nv * ns), 9).alias("cos9"),
    )
    wcell = Window.partitionBy("vec_id").orderBy(F.desc("cos9"), "cell")
    return scored.withColumn("rk", F.row_number().over(wcell))


def seed_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Auto-sized IVF assignment (vec_id, embedding, cell, rk) over the
    fixture embeddings: ceil(sqrt(N)) seeds — the FAISS nlist sizing.
    Oracle twin: _SEED_IVF_CTES. The count() is one metadata-cheap job."""
    import math

    emb = t(spark, sf_dir, "embeddings")
    return seed_ivf_cells_frame(emb, math.ceil(math.sqrt(emb.count())))


def ivf_ranked_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF index build, shared by sm05 (probe path) and dd12 (candidate
    edges): every vector scored against every label centroid by the JVM
    fold, ranked per vector — rk=1 is the cell assignment, rk<=n_probe
    the probe list. Oracle twin: _SM05_INDEX_CTES."""
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    cvec = (
        sm04(spark, sf_dir)
        .groupBy("label")
        .agg(
            # collect_list order is not shuffle-stable; sort (idx, val)
            # structs, then project the values
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
        .select(F.col("label").cast("long").alias("c_label"), "cvec")
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with("v", "cvec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nv = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    nc = F.sqrt(F.aggregate("cvec", F.lit(0.0), lambda acc, x: acc + x * x))
    scored = (
        spread(emb.select("vec_id", "embedding", v.alias("v")), "vec_id")
        .crossJoin(F.broadcast(cvec))
        .select(
            "vec_id",
            "embedding",
            F.col("c_label").alias("cell"),
            F.round(dot / (nv * nc), 9).alias("cos9"),
        )
    )
    wcell = Window.partitionBy("vec_id").orderBy(F.desc("cos9"), "cell")
    return scored.withColumn("rk", F.row_number().over(wcell))


@REGISTRY.register(
    "sm05_ann_ivf",
    oracle=_SM05_ORACLE,
    doc="ANN via IVF with multi-cell probe: label-centroids (sm04, rounded "
    "to 6dp so both engines agree bit-for-bit) act as the coarse "
    "quantizer; each vector is assigned to its highest-cosine cell by a "
    "JVM fold (same sequential accumulation DuckDB's list_aggregate "
    "uses, so the oracle replays the ENTIRE index build + probe + rerank "
    "— the only ANN design here that is fully oracle-checked); queries "
    "probe their n_probe=8 nearest cells (FAISS nprobe — probe-one "
    "recall@5 measured 0.16, boundary misses dominate; 0.80 at 4, 0.96 "
    "at 8 — see the sweep note on _SM05_N_PROBE). At "
    "100 TB the corpus is written partitioned by cell so a query touches "
    "n_probe partitions, and with thousands of cells the assignment "
    "calls for a batched matmul kernel (a Java UDF, like the sign-bit "
    "LSH keys) — same cells up to float-ulp ties, chosen per deployment.",
    tags=("similarity", "llm", "ann", "ivf"),
)
def sm05(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    ranked_cells = ivf_ranked_cells(spark, sf_dir)
    corpus = ranked_cells.filter(F.col("rk") == 1).select("vec_id", "embedding", "cell")
    probes = (
        ranked_cells.filter((F.col("rk") <= _SM05_N_PROBE) & (F.col("vec_id") < 5))
        .select(F.col("vec_id").alias("q_id"), F.col("cell").alias("q_cell"))
    )
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    cand = (
        corpus.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
        )
        .join(F.broadcast(q_emb), "q_id")
        .select("q_id", "vec_id", F.round(sim, 9).alias("cos9"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos9"), "vec_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "q_id",
            "vec_id",
            F.round("cos9", 6).alias("cos_sim"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def _hyperplanes(dim: int, n_planes: int = 16, prefix: str = "plane") -> np.ndarray:
    """Fixed md5-derived hyperplanes — deterministic AND oracle-replayable.

    Weight(p, d) = (int(md5('plane_{p}_{d}')[:12 hex], 16) % 1000001) /
    1e6 - 0.5, i.e. uniform in [-0.5, 0.5] keyed by the plane/dim pair.
    DuckDB reproduces the exact same doubles via
    ``CAST(('0x'||substr(md5(...),1,12)) AS BIGINT)`` — both engines hash
    the same ASCII string and the modulus/divide are exact IEEE ops — so
    the whole LSH pipeline (bits → buckets → candidates) replays in the
    SQL oracle (the dd03/dd04 md5-hash-family pattern, applied to real-
    valued projections). Uniform rather than Gaussian weights: for
    sign-LSH any symmetric coordinate distribution gives the same
    collision-probability ∝ angle property (Goemans-Williamson rounding
    needs only a symmetric direction distribution); measured recall on
    the fixture is unchanged (bench's ann_recall_at_5 tracks it).
    ``lsh_tables``' Java kernel rebuilds them once per task from this
    rule; ``eucl_lsh_buckets`` ships them to its pandas UDF in the closure
    (tiny: n_planes × dim doubles)."""
    import hashlib

    return np.array(
        [
            [
                (int(hashlib.md5(f"{prefix}_{p}_{d}".encode()).hexdigest()[:12], 16) % 1000001) / 1e6 - 0.5
                for d in range(dim)
            ]
            for p in range(n_planes)
        ]
    )


def lsh_tables(emb_col: Column, planes: np.ndarray, n_tables: int, n_bits: int, *, multiprobe: bool = False) -> Column:
    """Multi-table LSH keys: ``array<long>`` of (table << 32 | bucket).

    ``planes`` is ``_hyperplanes(dim, n)`` with n ≥ n_tables × n_bits; table
    t packs the sign bits of planes t·n_bits … (t+1)·n_bits − 1, each taken
    after rounding the projected dot to 9 dp half up (the repo-wide
    round-to-9-before-decision convention: a last-ulp difference between
    engines' sums cannot flip a bit). With ``multiprobe=True`` (query side)
    each table also emits the n_bits buckets at Hamming distance 1 — the
    standard multiprobe trick that buys recall without growing the corpus
    index (corpus rows stay n_tables keys; only the handful of query rows
    fan out wider).

    The keys come from the package jar's ``pyconnect.vec.SignKeys`` (a Java
    UDF), which rebuilds the md5-derived planes once per task from the same
    rule instead of carrying them in the plan, so only the first rows of
    ``_hyperplanes`` are accepted here.
    """
    total = n_tables * n_bits
    dim = planes.shape[1]
    if planes.shape[0] < total or not np.array_equal(planes[:total], _hyperplanes(dim, total)):
        raise ValueError(f"lsh_tables keys against the first {total} rows of _hyperplanes({dim}, ...)")
    udf = java_udf(SparkSession.active(), "pyconnect_lsh_sign_keys", "pyconnect.vec.SignKeys", "array<bigint>")
    return F.call_udf(udf, emb_col, F.lit(dim), F.lit(n_tables), F.lit(n_bits), F.lit(multiprobe))


@REGISTRY.register(
    "sm03_ann_lsh",
    # Full-pipeline replay: the md5-derived hyperplanes (see _hyperplanes)
    # are regenerated inside DuckDB, so bits → buckets → multiprobe →
    # candidate join → exact rerank all replay exactly. recall@5 vs brute
    # force stays tracked in bench as the quality gate.
    oracle=f"""
    WITH planes AS (
      SELECT p.p, d.d,
             (CAST(('0x'||substr(md5('plane_'||p.p||'_'||d.d),1,12)) AS BIGINT)
              % 1000001)/1000000.0 - 0.5 AS w
      FROM (SELECT unnest(range(72)) AS p) p,
           (SELECT unnest(range(64)) AS d) d
    ), ev AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), bits AS (
      SELECT ev.vec_id, pl.p,
             CASE WHEN round(sum(ev.val * pl.w), 9) > 0 THEN 1 ELSE 0 END AS bit
      FROM ev JOIN planes pl ON ev.d = pl.d
      GROUP BY ev.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id, p // 6 AS tbl,
             CAST(sum(bit * (1::BIGINT << (p % 6))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, p // 6
    ), qpro AS (
      SELECT b.vec_id AS q_id, b.tbl,
             CASE WHEN f.b = -1 THEN b.bucket
                  ELSE xor(b.bucket, 1::BIGINT << f.b) END AS bucket
      FROM buckets b, (SELECT unnest(range(-1, 6)) AS b) f
      WHERE b.vec_id < 5
    ), cand AS (
      SELECT DISTINCT q.q_id, c.vec_id
      FROM buckets c JOIN qpro q ON c.tbl = q.tbl AND c.bucket = q.bucket
      WHERE c.vec_id <> q.q_id
    ), ranked AS (
      SELECT cand.q_id, cand.vec_id,
             {_ORACLE_COS} AS c,
             row_number() OVER (
               PARTITION BY cand.q_id
               ORDER BY {_ORACLE_COS} DESC, cand.vec_id) AS rk
      FROM cand
      JOIN embeddings e ON e.vec_id = cand.vec_id
      JOIN embeddings q ON q.vec_id = cand.q_id
    )
    SELECT q_id, vec_id, round(c, 6) AS cos_sim, rk
    FROM ranked WHERE rk <= 5
    """,
    doc="ANN via multi-table random-hyperplane LSH with query-side "
    "multiprobe: the corpus is indexed once into L tables of b sign bits "
    "(one Java kernel call per row, array output — no L separate scans), exploded to "
    "(table|bucket, vec_id) rows; each query probes its own bucket plus "
    "every Hamming-1 neighbor in each table, candidates are unioned "
    "across tables, then exact cosine reranks. Parameters (L=12 tables, "
    "b=6 bits, multiprobe 1) chosen empirically (tools/ann_tune.py): "
    "single-table single-probe recall@5 was 0.00-0.04 on the fixture "
    "corpus, this design measures 0.92 at candidate fraction 0.73. The "
    "fixture's i.i.d. Gaussian embeddings are LSH's no-structure worst "
    "case (recall ≈ candidate fraction is the theoretical bound there); "
    "on real clustered embedding corpora the same L/b prunes far harder, "
    "and b should grow ~log(corpus). Bench tracks recall AND fraction. "
    "At 100 TB the exploded index is written partitioned by key — L× "
    "storage, the classic LSH trade — and a query touches L×(b+1) "
    "buckets, never the corpus.",
    tags=("similarity", "llm", "ann", "lsh"),
)
def sm03(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _sm03_impl(t(spark, sf_dir, "embeddings"))


def _sm03_impl(emb: DataFrame, n_tables: int = 12, n_bits: int = 6, k: int = 5) -> DataFrame:
    planes = _hyperplanes(64, n_planes=n_tables * n_bits)
    corpus = emb.select(
        "vec_id",
        "embedding",
        F.explode(lsh_tables(F.col("embedding"), planes, n_tables, n_bits)).alias("key"),
    )
    # Index the query slice independently: the vec_id filter pushes to the
    # parquet scan so the (wider, multiprobe) UDF touches only query rows.
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("q_emb"),
        F.explode(
            lsh_tables(F.col("embedding"), planes, n_tables, n_bits, multiprobe=True)
        ).alias("key"),
    )
    # Dedupe candidate PAIR IDS (16 bytes/row), not rows carrying both
    # embeddings (~1 KB/row): a pair colliding in several tables would
    # otherwise push its vectors through the distinct() exchange once per
    # collision. Embeddings re-attach after the dedup — corpus side by
    # join, query side broadcast.
    pair_ids = (
        corpus.select("vec_id", "key")
        .join(F.broadcast(queries.select("q_id", "key")), "key")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    cand = (
        pair_ids.join(emb, "vec_id")
        .join(F.broadcast(q_emb), "q_id")
        .select("q_id", "vec_id", sim.alias("_raw"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("_raw"), "vec_id")
    return (
        cand.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("q_id", "vec_id", F.round("_raw", 6).alias("cos_sim"), F.col("rk").cast("long").alias("rk"))
    )


def eucl_lsh_buckets(emb_col: Column, planes: np.ndarray, bucket_len: float) -> Column:
    """p-stable Euclidean-bucket LSH keys: ``array<long>`` where entry t is
    floor(dot(unit_vec, plane_t) / bucket_len) — the BucketedRandomProjection
    hash family. One Arrow-batched matmul per batch: a per-plane SQL fold
    of the dot products measured slower."""
    from pyspark.sql.functions import pandas_udf

    planes_t = planes.T.astype(np.float64)  # (dim, n_tables)

    @pandas_udf("array<long>")
    def buckets_udf(embs: pd.Series) -> pd.Series:
        mat = np.vstack(embs.to_numpy()).astype(np.float64)
        mat /= np.linalg.norm(mat, axis=1, keepdims=True)
        # Round projected dots to 9 dp before the floor-divide so a dot
        # near a bucket boundary cannot land in different buckets across
        # engines (same last-ulp rationale as lsh_tables' sign test).
        return pd.Series(list(np.floor(round9_half_up(mat @ planes_t) / bucket_len).astype(np.int64)))

    return buckets_udf(emb_col)


# sm06 tuning: bucket_len = 4σ of the projected dot (σ = ||w||/√dim ≈ 0.289
# for uniform[-.5,.5] planes on unit-sphere data), mirroring the tuned
# MLlib setting bl=0.5 at σ=0.125 (tools/ann_tune.py: the 4σ point scored
# recall 0.96; bl ≥ 2σ·8 degenerates to one bucket = all-pairs). threshold
# cos ≥ 0.02 ⇔ Euclidean dist ≤ 1.4 on the unit sphere (||a-b||² = 2-2cosθ).
_SM06_TABLES = 5
_SM06_BUCKET_LEN = 1.15
_SM06_COS_FLOOR = 0.02


@REGISTRY.register(
    "sm06_ann_mllib_lsh",
    # Full-pipeline replay: md5-derived projection bases regenerate inside
    # DuckDB (the dd03/dd04 pattern — see _hyperplanes), so normalize →
    # floor-bucket → candidate join → threshold → exact rerank all replay.
    oracle=f"""
    WITH planes AS (
      SELECT p.p, d.d,
             (CAST(('0x'||substr(md5('eucl_'||p.p||'_'||d.d),1,12)) AS BIGINT)
              % 1000001)/1000000.0 - 0.5 AS w
      FROM (SELECT unnest(range({_SM06_TABLES})) AS p) p,
           (SELECT unnest(range(64)) AS d) d
    ), nrm AS (
      SELECT vec_id,
             sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum')) AS nn
      FROM embeddings
    ), ev AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), buckets AS (
      SELECT ev.vec_id, pl.p AS tbl,
             CAST(floor(round(sum(ev.val / nrm.nn * pl.w), 9) / {_SM06_BUCKET_LEN}) AS BIGINT) AS bucket
      FROM ev JOIN planes pl ON ev.d = pl.d
              JOIN nrm ON nrm.vec_id = ev.vec_id
      GROUP BY ev.vec_id, pl.p
    ), cand AS (
      SELECT DISTINCT q.vec_id AS q_id, c.vec_id
      FROM buckets c JOIN buckets q ON c.tbl = q.tbl AND c.bucket = q.bucket
      WHERE q.vec_id < 5 AND c.vec_id <> q.vec_id
    ), ranked AS (
      SELECT cand.q_id, cand.vec_id,
             {_ORACLE_COS} AS c,
             row_number() OVER (
               PARTITION BY cand.q_id
               ORDER BY {_ORACLE_COS} DESC, cand.vec_id) AS rk
      FROM cand
      JOIN embeddings e ON e.vec_id = cand.vec_id
      JOIN embeddings q ON q.vec_id = cand.q_id
      WHERE {_ORACLE_COS} >= {_SM06_COS_FLOOR}
    )
    SELECT q_id, vec_id, round(c, 6) AS cos_sim, rk
    FROM ranked WHERE rk <= 5
    """,
    doc="ANN via Euclidean-bucket (p-stable) LSH — the "
    "BucketedRandomProjectionLSH hash family, re-derived with md5 bases so "
    "DuckDB replays the full pipeline (the MLlib library implementation of "
    "the same family, whose internal RNG is not replayable, is "
    "cross-validated against this one in tests/test_llm_ops.py). "
    "Embeddings are L2-normalized first so Euclidean distance is monotone "
    "in cosine (||a-b||² = 2-2cosθ on the unit sphere); each of the 5 "
    "tables hashes to floor(dot/bucket_len), candidates are same-bucket "
    "pairs in any table, a cosine threshold mirrors approxSimilarityJoin's "
    "distance threshold, and exact cosine reranks. At 100 TB the 5×64 "
    "projection matrix broadcasts while the corpus shuffles once on "
    "(table, bucket) — identical to what MLlib's join does under the hood.",
    tags=("similarity", "llm", "ann", "mllib"),
)
def sm06(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    planes = _hyperplanes(64, n_planes=_SM06_TABLES, prefix="eucl")
    keyed = emb.select(
        "vec_id",
        F.posexplode(eucl_lsh_buckets(F.col("embedding"), planes, _SM06_BUCKET_LEN)).alias(
            "tbl", "bucket"
        ),
    )
    q_keyed = keyed.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "tbl", "bucket"
    )
    # Dedupe candidate PAIR IDS before re-attaching embeddings (same
    # 16-bytes-per-row exchange rationale as sm03).
    pair_ids = (
        keyed.join(F.broadcast(q_keyed), ["tbl", "bucket"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    from pyspark.sql.window import Window

    w = Window.partitionBy("q_id").orderBy(F.desc("_raw"), "vec_id")
    return (
        pair_ids.join(emb, "vec_id")
        .join(F.broadcast(q_emb), "q_id")
        .select("q_id", "vec_id", sim.alias("_raw"))
        .filter(F.col("_raw") >= _SM06_COS_FLOOR)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select(
            "q_id",
            "vec_id",
            F.round("_raw", 6).alias("cos_sim"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@REGISTRY.register(
    "sm07_int8_quantize",
    oracle="""
    WITH s AS (
      SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             greatest(list_aggregate(list_transform(embedding,
                        x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-12) / 127
                 AS scale
      FROM embeddings
    ),
    q AS (
      SELECT vec_id, v, scale,
             list_transform(v, x -> CAST(floor(x / scale + 0.5) AS BIGINT)) AS qv
      FROM s
    )
    SELECT vec_id,
           round(scale, 9) AS scale,
           CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
           CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max,
           round(
             list_aggregate(list_transform(range(1, len(v) + 1),
               i -> v[CAST(i AS INT)] * qv[CAST(i AS INT)] * scale), 'sum')
             / (sqrt(list_aggregate(list_transform(v, x -> x * x), 'sum'))
                * sqrt(greatest(list_aggregate(list_transform(qv,
                         x -> CAST(x AS DOUBLE) * x * scale * scale), 'sum'),
                       1e-300))), 6) AS recon_cos
    FROM q
    """,
    doc="Symmetric int8 embedding quantization (per-vector absmax scale, "
    "explicit floor(x/s + 0.5) so both engines round identically) with "
    "reconstruction-quality audit: cosine between the original vector and "
    "its dequantized form. The 100 TB story: int8 storage cuts embedding "
    "IO/memory 4x and the quantized corpus still serves ANN candidate "
    "generation (rerank with full precision); this operator IS the "
    "compression step plus its quality gate, all higher-order column "
    "expressions — no Python, no shuffle.",
    tags=("similarity", "llm", "quantization"),
)
def sm07(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = F.transform("embedding", lambda x: x.cast("double"))
    staged = emb.select("vec_id", v.alias("v")).select(
        "vec_id",
        "v",
        (
            F.greatest(
                F.array_max(F.transform("v", lambda x: F.abs(x))), F.lit(1e-12)
            )
            / 127
        ).alias("scale"),
    )
    q = staged.select(
        "vec_id",
        "v",
        "scale",
        F.transform(
            "v", lambda x: F.floor(x / F.col("scale") + 0.5).cast("long")
        ).alias("qv"),
    )
    dot = F.aggregate(
        F.zip_with("v", "qv", lambda a, b: a * b * F.col("scale")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    nv = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    nq = F.sqrt(
        F.greatest(
            F.aggregate(
                "qv",
                F.lit(0.0),
                lambda acc, x: acc
                + x.cast("double") * x * F.col("scale") * F.col("scale"),
            ),
            F.lit(1e-300),
        )
    )
    return q.select(
        "vec_id",
        F.round("scale", 9).alias("scale"),
        F.array_min("qv").cast("long").alias("q_min"),
        F.array_max("qv").cast("long").alias("q_max"),
        F.round(dot / (nv * nq), 6).alias("recon_cos"),
    )


@REGISTRY.register(
    "sm08_centroid_assign",
    oracle="""
    WITH cells AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c AS (
      SELECT label, idx, round(AVG(val), 6) AS cv
      FROM cells GROUP BY 1, 2
    ),
    cv AS (SELECT label, list(cv ORDER BY idx) AS cvec FROM c GROUP BY 1),
    p AS (
      SELECT e.vec_id,
             CAST(e.label AS BIGINT) AS true_label,
             CAST(cv.label AS BIGINT) AS c_label,
             round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * cvec[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(cvec, x -> x * x),
                          'sum'))), 9) AS cos9
      FROM embeddings e CROSS JOIN cv
    ),
    r AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cos9 DESC, c_label) AS rk
      FROM p
    )
    SELECT true_label, c_label AS assigned_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM r WHERE rk = 1 GROUP BY 1, 2
    """,
    doc="Nearest-centroid assignment audit (the IVF/classification quality "
    "check): every embedding is assigned to its highest-cosine label "
    "centroid (sm04's rounded centroids keep both engines bit-identical), "
    "and the result is the true-vs-assigned confusion matrix. Plan shape: "
    "centroid table is tiny and broadcast, the corpus crosses it in one "
    "codegen stage (|corpus| x n_labels rows never shuffle - the window "
    "runs per vec_id partition), and only the confusion counts aggregate. "
    "JVM-only: zip_with/aggregate cosine, no Python.",
    tags=("similarity", "llm", "centroid", "classification"),
)
def sm08(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    cvec = (
        sm04(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    pairs = emb.select(
        "vec_id", F.col("label").cast("long").alias("true_label"), v.alias("v")
    ).crossJoin(F.broadcast(cvec))
    dot = F.aggregate(
        F.zip_with("v", "cvec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nv = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    nc = F.sqrt(F.aggregate("cvec", F.lit(0.0), lambda acc, x: acc + x * x))
    scored = pairs.select(
        "vec_id", "true_label", "c_label", F.round(dot / (nv * nc), 9).alias("cos9")
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos9"), "c_label")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .groupBy("true_label", F.col("c_label").alias("assigned_label"))
        .agg(F.count("*").cast("long").alias("n"))
    )


@REGISTRY.register(
    "sm09_ann_recall_audit",
    oracle=f"""
    WITH ivf AS ({_SM05_ORACLE}),
    truth AS (
      SELECT q.vec_id AS q_id, e.vec_id,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round({_ORACLE_COS}, 9) DESC,
                                         e.vec_id) AS rk
      FROM embeddings e JOIN embeddings q
        ON q.vec_id < 5 AND e.vec_id <> q.vec_id
    )
    SELECT t.q_id,
           CAST(COUNT(i.vec_id) AS BIGINT) AS n_hits,
           round(CAST(COUNT(i.vec_id) AS DOUBLE) / 5, 6) AS recall_at_5
    FROM (SELECT q_id, vec_id FROM truth WHERE rk <= 5) t
    LEFT JOIN ivf i ON i.q_id = t.q_id AND i.vec_id = t.vec_id
    GROUP BY t.q_id
    """,
    doc="Distributed ANN quality audit: exact brute-force top-5 ground "
    "truth (queries broadcast against the corpus — linear in corpus "
    "size, never all-pairs) joined against the IVF index results (sm05) "
    "to produce per-query recall@5, entirely inside the engine. This is "
    "how index quality is validated at 100 TB, where collecting "
    "embeddings to a driver for a numpy check (bench.py's small-scale "
    "shortcut) is impossible: sample a query set, broadcast it, compute "
    "truth and hits in one distributed pass. Fully oracle-replayed "
    "because both the IVF pipeline and the truth tier are deterministic "
    "SQL-expressible plans.",
    tags=("similarity", "llm", "ann", "audit"),
)
def sm09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cos9"), "vec_id")
    truth = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(sim, 9).alias("cos9"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("q_id", "vec_id")
    )
    ann = sm05(spark, sf_dir).select("q_id", "vec_id", F.lit(1).alias("_hit"))
    return (
        truth.join(ann, ["q_id", "vec_id"], "left")
        .groupBy("q_id")
        .agg(
            F.count("_hit").cast("long").alias("n_hits"),
            F.round(F.count("_hit").cast("double") / F.lit(5), 6).alias("recall_at_5"),
        )
    )


_SM10_ORACLE = """
    WITH cells AS (
      SELECT label, unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ),
    c AS (SELECT label, idx, round(AVG(val), 6) AS cv FROM cells GROUP BY 1, 2),
    cv AS (SELECT label, list(cv ORDER BY idx) AS cvec FROM c GROUP BY 1),
    scored AS (
      SELECT e.vec_id, e.label AS own_label, cv.label AS c_label,
             round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * cvec[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(cvec, x -> x * x),
                          'sum'))), 9) AS cos9
      FROM embeddings e CROSS JOIN cv
    ),
    ab AS (
      SELECT vec_id, own_label,
             1 - MAX(CASE WHEN c_label = own_label THEN cos9 END) AS a_dist,
             1 - MAX(CASE WHEN c_label <> own_label THEN cos9 END) AS b_dist
      FROM scored GROUP BY vec_id, own_label
    )
    SELECT own_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(AVG((b_dist - a_dist) / greatest(a_dist, b_dist)), 6)
             AS avg_silhouette,
           CAST(SUM(CASE WHEN b_dist < a_dist THEN 1 ELSE 0 END) AS BIGINT)
             AS n_misassigned
    FROM ab
    WHERE greatest(a_dist, b_dist) > 0
    GROUP BY own_label
    """


@REGISTRY.register(
    "sm10_cluster_quality",
    oracle=_SM10_ORACLE,
    doc="Simplified-silhouette cluster-quality audit per label: a = cosine "
    "distance to the own-label centroid, b = distance to the nearest "
    "other centroid, silhouette = (b-a)/max(a,b) averaged per label, "
    "plus the count of vectors sitting closer to a foreign centroid "
    "(n_misassigned). This is the decision input docs/SCALE.md asks for "
    "before committing embeddings to IVF partition-per-cell layout: "
    "near-zero silhouettes mean cell pruning will not hold recall (the "
    "round-4 sweep's weakly-clustered corpus) and the LSH path should "
    "be used instead. Centroids are 6dp-rounded (sm04 convention) and "
    "cosines 9dp-rounded so both engines agree bit-for-bit. Plan: "
    "centroids broadcast against one corpus scan — no shuffle touches "
    "the embedding vectors; the only aggregation keys are (vec_id) then "
    "(label), both unskewed at any scale.",
    tags=("similarity", "llm", "audit", "clustering"),
)
def sm10(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    cvec = (
        sm04(spark, sf_dir)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "centroid_val"))),
                lambda s: s["centroid_val"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("c_label"), "cvec")
    )
    v = F.transform("embedding", lambda x: x.cast("double"))
    dot = F.aggregate(
        F.zip_with("v", "cvec", lambda a, b: a * b), F.lit(0.0), lambda acc, x: acc + x
    )
    nv = F.sqrt(F.aggregate("v", F.lit(0.0), lambda acc, x: acc + x * x))
    nc = F.sqrt(F.aggregate("cvec", F.lit(0.0), lambda acc, x: acc + x * x))
    scored = (
        emb.select("vec_id", F.col("label").alias("own_label"), v.alias("v"))
        .crossJoin(F.broadcast(cvec))
        .select(
            "vec_id",
            "own_label",
            "c_label",
            F.round(dot / (nv * nc), 9).alias("cos9"),
        )
    )
    ab = scored.groupBy("vec_id", "own_label").agg(
        (1 - F.max(F.when(F.col("c_label") == F.col("own_label"), F.col("cos9")))).alias("a_dist"),
        (1 - F.max(F.when(F.col("c_label") != F.col("own_label"), F.col("cos9")))).alias("b_dist"),
    )
    s = (F.col("b_dist") - F.col("a_dist")) / F.greatest("a_dist", "b_dist")
    return (
        ab.filter(F.greatest("a_dist", "b_dist") > 0)
        .groupBy(F.col("own_label").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg(s), 6).alias("avg_silhouette"),
            F.sum(F.when(F.col("b_dist") < F.col("a_dist"), 1).otherwise(0))
            .cast("long")
            .alias("n_misassigned"),
        )
    )


@REGISTRY.register(
    "sm11_knn_classify",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS q_id, embedding, label AS true_label
      FROM embeddings WHERE vec_id < 10
    ),
    sims AS (
      SELECT q.q_id, q.true_label, e.label,
             row_number() OVER (
               PARTITION BY q.q_id
               ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS rk
      FROM embeddings e JOIN q ON e.vec_id <> q.q_id
    ),
    votes AS (
      SELECT q_id, true_label, label, COUNT(*) AS n
      FROM sims WHERE rk <= 5 GROUP BY 1, 2, 3
    ),
    pred AS (
      SELECT q_id, true_label, label AS pred_label, n,
             row_number() OVER (PARTITION BY q_id ORDER BY n DESC, label) AS pr
      FROM votes
    )
    SELECT q_id, true_label, pred_label, CAST(n AS BIGINT) AS votes,
           pred_label = true_label AS correct
    FROM pred WHERE pr = 1
    """,
    doc="k-NN label classification (k=5, majority vote): for each of 10 "
    "query vectors, the 5 exact-cosine nearest neighbors vote on the "
    "label; ties break on the smaller label id, neighbor rank ties on "
    "vec_id, so the prediction is fully deterministic. The 10-row query "
    "set broadcasts; similarity is the JVM-side zip_with/aggregate fold "
    "(no Python); per-query top-5 is a rank window that Spark executes "
    "as WindowGroupLimit (partial top-k per partition before the "
    "exchange), so the shuffle carries ~5 x #queries x #partitions rows, "
    "not N x #queries. At 100 TB the same shape runs against an ANN "
    "candidate set (sm03/sm05) instead of the full corpus — the voting "
    "tail is identical.",
    tags=("similarity", "llm", "knn", "classify"),
)
def sm11(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id") < 10)
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            F.col("label").alias("true_label"),
        )
    )
    sims = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "true_label",
            "label",
            "vec_id",
            cosine(F.col("embedding"), F.col("q_emb")).alias("_cos"),
        )
    )
    rk = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("_cos"), "vec_id")
    )
    votes = (
        sims.withColumn("rk", rk)
        .filter(F.col("rk") <= 5)
        .groupBy("q_id", "true_label", "label")
        .agg(F.count("*").alias("n"))
    )
    pr = F.row_number().over(
        Window.partitionBy("q_id").orderBy(F.desc("n"), "label")
    )
    return (
        votes.withColumn("pr", pr)
        .filter(F.col("pr") == 1)
        .select(
            "q_id",
            "true_label",
            F.col("label").alias("pred_label"),
            F.col("n").cast("long").alias("votes"),
            (F.col("label") == F.col("true_label")).alias("correct"),
        )
    )


@REGISTRY.register(
    "sm12_embedding_health",
    oracle="""
    WITH dims AS (
      SELECT unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    )
    SELECT CAST(idx AS BIGINT) AS dim,
           round(AVG(val), 6) AS mean_val,
           round(stddev_pop(val), 6) AS std_val,
           round(CAST(SUM(CASE WHEN val = 0 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS zero_frac,
           round(MIN(val), 6) AS min_val,
           round(MAX(val), 6) AS max_val
    FROM dims GROUP BY 1
    """,
    doc="Per-dimension embedding-health audit: mean, population stddev, "
    "exact-zero fraction, min/max for every embedding coordinate — the "
    "production check that catches dead dimensions (std ~ 0), scale "
    "drift between embedding-model versions, and truncation artifacts "
    "before they poison ANN indexes or quantization (sm07's int8 scale "
    "is chosen from exactly these stats). posexplode fans each vector "
    "into (dim, value) rows and one combiner-friendly aggregation keys "
    "on the dimension index — the exchange carries |dims| x partial "
    "states, never the vectors; at 100 TB this is the canonical "
    "narrow-key map-side-combine shape.",
    tags=("similarity", "llm", "audit", "embedding"),
)
def sm12(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    dims = emb.select(
        F.posexplode(F.transform("embedding", lambda x: x.cast("double"))).alias(
            "pos", "val"
        )
    ).select((F.col("pos") + 1).cast("long").alias("dim"), "val")
    return dims.groupBy("dim").agg(
        F.round(F.avg("val"), 6).alias("mean_val"),
        F.round(F.stddev_pop("val"), 6).alias("std_val"),
        F.round(
            F.sum(F.when(F.col("val") == 0, 1).otherwise(0)).cast("double")
            / F.count("*"),
            6,
        ).alias("zero_frac"),
        F.round(F.min("val"), 6).alias("min_val"),
        F.round(F.max("val"), 6).alias("max_val"),
    )


@REGISTRY.register(
    "sm13_embedding_drift",
    oracle="""
    WITH e AS (
      SELECT vec_id, vec_id % 2 = 1 AS cur, u.dim - 1 AS dim, u.v
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS dim) u
    ),
    stats AS (
      SELECT dim,
             AVG(CASE WHEN NOT cur THEN v END) AS mean_ref,
             AVG(CASE WHEN cur THEN v END) AS mean_cur,
             var_samp(CASE WHEN NOT cur THEN v END) AS var_ref,
             var_samp(CASE WHEN cur THEN v END) AS var_cur
      FROM e GROUP BY 1
    )
    SELECT CAST(dim AS INT) AS dim,
           round(mean_ref, 6) AS mean_ref,
           round(mean_cur, 6) AS mean_cur,
           round((mean_cur - mean_ref) / sqrt((var_ref + var_cur) / 2), 6)
               AS smd,
           round(var_cur / var_ref, 6) AS var_ratio,
           CAST(CASE WHEN abs((mean_cur - mean_ref)
                              / sqrt((var_ref + var_cur) / 2)) > 0.1
                       OR var_cur / var_ref < 0.8
                       OR var_cur / var_ref > 1.25
                     THEN 1 ELSE 0 END AS BIGINT) AS drifted
    FROM stats
    """,
    doc="Embedding distribution drift audit: per-dimension standardized "
    "mean difference and variance ratio between a reference and a "
    "current snapshot (deterministic vec_id parity split stands in for "
    "the two snapshots at fixture scale; production passes two table "
    "paths) — the encoder-regression / retrain trigger sm12's single-"
    "snapshot health stats cannot see (each snapshot can look healthy "
    "while the two disagree). Cohen's-d-style SMD > 0.1 or a variance "
    "ratio outside [0.8, 1.25] flags the dim. One posexplode + one "
    "dim-keyed conditional aggregation: the exchange carries |dims| "
    "partial moment states per task, so 100 TB of vectors cost one "
    "scan — same shape as sm12, twice the conditional columns.",
    tags=("similarity", "embedding", "drift", "audit", "llm"),
)
def sm13(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("vec_id") % 2 == 1).alias("cur"),
        F.posexplode("embedding").alias("dim", "v"),
    )
    ref_v = F.when(~F.col("cur"), F.col("v"))
    cur_v = F.when(F.col("cur"), F.col("v"))
    stats = e.groupBy("dim").agg(
        F.avg(ref_v).alias("mean_ref"),
        F.avg(cur_v).alias("mean_cur"),
        F.var_samp(ref_v).alias("var_ref"),
        F.var_samp(cur_v).alias("var_cur"),
    )
    smd = (F.col("mean_cur") - F.col("mean_ref")) / F.sqrt(
        (F.col("var_ref") + F.col("var_cur")) / 2
    )
    vr = F.col("var_cur") / F.col("var_ref")
    return stats.select(
        F.col("dim").cast("int").alias("dim"),
        F.round("mean_ref", 6).alias("mean_ref"),
        F.round("mean_cur", 6).alias("mean_cur"),
        F.round(smd, 6).alias("smd"),
        F.round(vr, 6).alias("var_ratio"),
        F.when((F.abs(smd) > 0.1) | (vr < 0.8) | (vr > 1.25), 1)
        .otherwise(0)
        .cast("long")
        .alias("drifted"),
    )


@REGISTRY.register(
    "sm14_jl_projection",
    oracle="""
    WITH e AS (
      SELECT vec_id, u.dim - 1 AS dim, CAST(u.v AS DOUBLE) AS v
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS dim) u
      WHERE vec_id < 40
    ),
    signs AS (
      SELECT d.dim, j.j,
             CASE WHEN CAST(('0x' || substr(md5(CAST(d.dim AS VARCHAR) || ':'
                           || CAST(j.j AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
                  THEN 1.0 ELSE -1.0 END AS s
      FROM (SELECT DISTINCT dim FROM e) d,
           (SELECT unnest(range(0, 16)) AS j) j
    ),
    proj AS (
      SELECT e.vec_id, s.j, SUM(e.v * s.s) AS p
      FROM e JOIN signs s ON s.dim = e.dim
      GROUP BY 1, 2
    ),
    pn AS (SELECT vec_id, sqrt(SUM(p*p)) AS n FROM proj GROUP BY 1),
    en (vec_id, n) AS (SELECT vec_id, sqrt(SUM(v*v)) FROM e GROUP BY 1),
    pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb FROM pn a JOIN pn b
      ON a.vec_id < b.vec_id
    ),
    exact_cos AS (
      SELECT p.va, p.vb,
             SUM(ea.v * eb.v) / (na.n * nb.n) AS c
      FROM pairs p
      JOIN e ea ON ea.vec_id = p.va
      JOIN e eb ON eb.vec_id = p.vb AND eb.dim = ea.dim
      JOIN en na ON na.vec_id = p.va
      JOIN en nb ON nb.vec_id = p.vb
      GROUP BY 1, 2, na.n, nb.n
    ),
    proj_cos AS (
      SELECT p.va, p.vb,
             SUM(pa.p * pb.p) / (na.n * nb.n) AS c
      FROM pairs p
      JOIN proj pa ON pa.vec_id = p.va
      JOIN proj pb ON pb.vec_id = p.vb AND pb.j = pa.j
      JOIN pn na ON na.vec_id = p.va
      JOIN pn nb ON nb.vec_id = p.vb
      GROUP BY 1, 2, na.n, nb.n
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(AVG(abs(e.c - q.c)), 6) AS mean_abs_err,
           round(MAX(abs(e.c - q.c)), 6) AS max_abs_err
    FROM exact_cos e JOIN proj_cos q ON q.va = e.va AND q.vb = e.vb
    """,
    doc="Johnson-Lindenstrauss random projection 64 -> 16 dims with a "
    "cosine-preservation audit: the projection matrix is ±1 signs "
    "derived from md5(dim:j) — deterministic, shippable as an "
    "expression, and REPLAYABLE IN SQL, so unlike the Gaussian ANN "
    "projections (sm03/sm06) this sketch is fully oracle-checked. "
    "Emits mean/max absolute cosine error over all pairs of a 40-vector "
    "slice — the dimensionality-reduction quality gate (4x cheaper "
    "similarity at a measured cosine distortion; the audit IS the "
    "operator, run before adopting projected vectors for dedup "
    "candidates). Projection is one explode + sign-join + (vec, j) agg "
    "— 100 TB of vectors project in one scan; the pairwise audit runs "
    "on a bounded sample, never the corpus.",
    tags=("similarity", "jl", "projection", "audit", "llm"),
)
def sm14(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
    e = emb.select("vec_id", F.posexplode("embedding").alias("dim", "v")).select(
        "vec_id", "dim", F.col("v").cast("double").alias("v")
    )
    k = 16
    signs = (
        e.select("dim")
        .distinct()
        .crossJoin(spark.range(k).select(F.col("id").cast("int").alias("j")))
        .select(
            "dim",
            "j",
            F.when(
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("dim").cast("string"), F.lit(":"), F.col("j").cast("string")
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
                == 0,
                1.0,
            )
            .otherwise(-1.0)
            .alias("s"),
        )
    )
    proj = (
        e.join(F.broadcast(signs), "dim")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("v") * F.col("s")).alias("p"))
    )
    pn = proj.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("p") * F.col("p"))).alias("n"))
    en = e.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("n"))
    def pair_cos(frame, key_col, val, norms):
        # dense vectors: every ordered pair shares every component key, so
        # joining on the component directly enumerates all pairs
        fa = frame.select(
            F.col("vec_id").alias("va"), F.col(key_col).alias("kk"), F.col(val).alias("xa")
        )
        fb = frame.select(
            F.col("vec_id").alias("vb"), F.col(key_col).alias("kk"), F.col(val).alias("xb")
        )
        na = norms.select(F.col("vec_id").alias("va"), F.col("n").alias("na"))
        nb = norms.select(F.col("vec_id").alias("vb"), F.col("n").alias("nb"))
        return (
            fa.join(fb, "kk")
            .filter(F.col("va") < F.col("vb"))
            .groupBy("va", "vb")
            .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot"))
            .join(na, "va")
            .join(nb, "vb")
            .select("va", "vb", (F.col("dot") / (F.col("na") * F.col("nb"))).alias("c"))
        )

    exact_cos = pair_cos(e, "dim", "v", en)
    proj_cos = pair_cos(proj, "j", "p", pn)
    joined = exact_cos.alias("x").join(
        proj_cos.alias("q"), (F.col("x.va") == F.col("q.va")) & (F.col("x.vb") == F.col("q.vb"))
    )
    err = F.abs(F.col("x.c") - F.col("q.c"))
    return joined.agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.avg(err), 6).alias("mean_abs_err"),
        F.round(F.max(err), 6).alias("max_abs_err"),
    )


@REGISTRY.register(
    "sm15_similarity_histogram",
    oracle="""
    WITH e AS (
      SELECT vec_id, u.dim - 1 AS dim, CAST(u.v AS DOUBLE) AS v
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS v,
                           generate_subscripts(embedding, 1) AS dim) u
      WHERE vec_id < 60
    ),
    en AS (SELECT vec_id, sqrt(SUM(v*v)) AS n FROM e GROUP BY 1),
    cos AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             SUM(a.v * b.v) / (na.n * nb.n) AS c
      FROM e a
      JOIN e b ON b.dim = a.dim AND a.vec_id < b.vec_id
      JOIN en na ON na.vec_id = a.vec_id
      JOIN en nb ON nb.vec_id = b.vec_id
      GROUP BY 1, 2, na.n, nb.n
    )
    SELECT CAST(LEAST(9, GREATEST(0,
               CAST(floor((c + 1) * 5) AS BIGINT))) AS BIGINT) AS bin,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(MIN(c), 6) AS bin_min,
           round(MAX(c), 6) AS bin_max
    FROM cos GROUP BY 1
    """,
    doc="Pairwise-cosine distribution histogram over a bounded vector "
    "sample (60 vecs -> 1770 pairs; 10 bins across [-1, 1]) — the "
    "threshold-selection diagnostic every similarity-based dedup needs "
    "BEFORE running: dd09's 0.9 cutoff, sm02's near-dup band, and the "
    "LSH banding target are all chosen by looking at exactly this "
    "shape (a well-separated bimodal histogram = safe threshold in the "
    "valley; a unimodal blob = no threshold will behave). The sample "
    "pairs compute via the dim-keyed join (bounded rows), never "
    "all-pairs on the corpus — at 100 TB you histogram a deterministic "
    "sample per source/snapshot, corpus-size-independent cost.",
    tags=("similarity", "histogram", "threshold", "audit", "llm"),
)
def sm15(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 60)
    e = emb.select("vec_id", F.posexplode("embedding").alias("dim", "v")).select(
        "vec_id", "dim", F.col("v").cast("double").alias("v")
    )
    en = e.groupBy("vec_id").agg(F.sqrt(F.sum(F.col("v") * F.col("v"))).alias("n"))
    fa = e.select(F.col("vec_id").alias("va"), "dim", F.col("v").alias("xa"))
    fb = e.select(F.col("vec_id").alias("vb"), "dim", F.col("v").alias("xb"))
    na = en.select(F.col("vec_id").alias("va"), F.col("n").alias("na"))
    nb = en.select(F.col("vec_id").alias("vb"), F.col("n").alias("nb"))
    cos = (
        fa.join(fb, "dim")
        .filter(F.col("va") < F.col("vb"))
        .groupBy("va", "vb")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("dot"))
        .join(na, "va")
        .join(nb, "vb")
        .select((F.col("dot") / (F.col("na") * F.col("nb"))).alias("c"))
    )
    bin_ = F.least(
        F.lit(9), F.greatest(F.lit(0), F.floor((F.col("c") + 1) * 5).cast("long"))
    ).cast("long")
    return cos.groupBy(bin_.alias("bin")).agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.round(F.min("c"), 6).alias("bin_min"),
        F.round(F.max("c"), 6).alias("bin_max"),
    )


def pq_codebook(emb: DataFrame, salt: str = "", n_codes: int = 16) -> DataFrame:
    """The 8-subspace x n_codes PQ codebook (j, k, cvec): md5-picked
    seed-vector slices cast to double, code id k the seed's 1-based rank
    in md5(vec_id || salt) order (:func:`_md5_first`: no rank window, no
    single-partition WindowExec). 8 x n_codes rows — always broadcast.

    salt: appended to the md5 seed key. REQUIRED when `emb` holds cell
    RESIDUALS (IVFADC): without it the PQ seed pick shares the IVF
    quantizer's md5 order, every PQ seed is its own cell centroid, all 16
    codewords are the zero vector, and the code table collapses to one
    code (found the hard way — pinned by test_ivfadc)."""
    seeds = _ranked(_md5_first(emb, n_codes, salt), "k")
    return seeds.select(
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"), "k", "v"
    ).select(
        "j",
        "k",
        F.transform(F.slice("v", F.col("j") * 8 + 1, 8), lambda x: x.cast("double")).alias("cvec"),
    )


def pq_best_codes(emb: DataFrame, salt: str = "", n_codes: int = 16) -> DataFrame:
    """Per-(vec_id, subspace) PQ assignment (vec_id, j, k, dotp, cn2):
    argmin L2 to the codebook, ties to the lower code id. Shared by the
    encode audit (sm16) and the ADC search (sm17) so both consume the
    SAME code table — exactly the production layout, where codes are
    written once and every searcher reads them.

    Plan shape: the codebook collapses to 8 broadcast rows (one
    codeword ARRAY per subspace) and the argmin runs as a per-row JVM
    fold — array_min over (dist, k) structs, whose lexicographic
    ordering IS 'min distance, ties to the lower code id'. No
    per-codeword explode, no (vec x code) shuffle, no rank window:
    encode cost stays map-only at any n_codes, which is what made
    PQ8x8 (256 codewords) affordable (the former crossJoin+window
    encode was 16x the rows and a 4M-row sort at fixture scale)."""
    cbarr = pq_codebook(emb, salt, n_codes).groupBy("j").agg(
        F.array_sort(F.collect_list(F.struct("k", "cvec"))).alias("cws")
    )
    xv = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )
    xj = F.slice("x", F.col("j") * 8 + 1, 8)

    def _l2(cv):
        return F.aggregate(
            F.zip_with(xj, cv, lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )

    best = F.array_min(
        F.transform(
            F.col("cws"),
            lambda cw: F.struct(
                _l2(cw["cvec"]).alias("d"), cw["k"].alias("k")
            ),
        )
    )
    won = F.element_at(F.col("cws"), F.col("k"))["cvec"]
    dotp = F.aggregate(
        F.zip_with(xj, won, lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    cn2 = F.aggregate(won, F.lit(0.0), lambda acc, c: acc + c * c)
    return (
        xv.crossJoin(F.broadcast(cbarr))
        .withColumn("k", best["k"])
        .select("vec_id", "j", "k", dotp.alias("dotp"), cn2.alias("cn2"))
    )


def ivfadc_topk(
    emb: DataFrame,
    n_cells: int,
    *,
    n_probe: int = 8,
    shortlist: int = 100,
    k: int = 5,
    n_queries: int = 5,
    n_codes: int = 16,
) -> DataFrame:
    """FAISS-construction IVFADC over an arbitrary (vec_id, embedding)
    frame: PQ codes encode CELL RESIDUALS (x - centroid[cell(x)]), not raw
    vectors — the construction Jégou et al. §IV describe and faiss
    IndexIVFPQ implements, because residuals of a coarse-quantized corpus
    are smaller and better-conditioned than the vectors themselves, so the
    same 8x16 codebook spends its codes on the signal that remains AFTER
    the cell id already captured the coarse position. Query side builds
    one LUT per (query, probed cell) from the query's residual against
    THAT cell, ADC-scans only the probed cells' code lists, and exact-
    reranks the top-`shortlist`. Deterministic end to end (md5 seed picks,
    sequential JVM folds) — the SQL oracle replays the full index.
    Reference parity: this is the repo's scale-tier ANN; the reference
    engine has no ANN (single-process Kafka connector).

    Plan shape: the two small tables of the index, the coarse quantizer
    (n_cells centroids) and the PQ codebook (n_codes residuals), are
    each ONE array row (:func:`_md5_first`) that broadcasts, so every
    per-vector step is a map-side array fold over the corpus rows: the
    cell is the argmax of the centroid cosines, the residual subtracts
    that centroid, and the 8 codes are per-subspace argmins over the
    codebook. The queries' probe lists and LUTs form a third broadcast
    (n_queries x n_probe rows), which the corpus meets on the cell id,
    so the ADC distance is computed where the codes are: the only
    shuffle gathers the probed candidates by query for the shortlist
    and the exact rerank, two windows over one partitioning. No
    checkpoint, no driver round-trip between the build and the search.
    Ties and folds are those of seed_ivf_cells_frame / pq_best_codes:
    cell by (cos9 desc, cell), code by (L2, k), each sum left to right.
    The folds are SQL text: one parse each on the JVM, where the same
    expressions built column by column cost thousands of py4j calls.
    """
    from pyspark.sql import Window

    def l2(a: str, b: str) -> str:
        """Squared L2 of two 8-vectors summed left to right: the value of
        aggregate(zip_with(a, b, (x-y)^2), 0D, +), unrolled (it runs
        n_codes x 8 times per vector)."""
        return " + ".join(f"({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}])" for i in range(8))

    def ranked_cells(x: str) -> str:
        """(cos9, -cell) of x against every centroid: the max is x's
        cell, descending order its probe list."""
        nx = f"sqrt(aggregate({x}, 0D, (acc, v) -> acc + v * v))"
        dot = f"aggregate(zip_with({x}, c.c, (a, b) -> a * b), 0D, (acc, v) -> acc + v)"
        return f"transform(cents, (c, i) -> named_struct('cos9', round({dot} / ({nx} * c.n), 9), 'ncell', -(i + 1)))"

    def resid(x: str, cell: str) -> str:
        return f"zip_with({x}, element_at(cents, {cell}).c, (a, b) -> a - b)"

    def subspaces(v: str) -> str:
        return f"transform(sequence(0, 7), j -> slice({v}, j * 8 + 1, 8))"

    dbl = "transform(embedding, v -> CAST(v AS DOUBLE))"
    # the coarse quantizer: centroid of cell i+1 with its norm
    quant = _md5_first(emb, n_cells).select(
        F.expr(
            "transform(transform(top, s -> transform(s.v, v -> CAST(v AS DOUBLE))), "
            "c -> named_struct('c', c, 'n', sqrt(aggregate(c, 0D, (acc, v) -> acc + v * v))))"
        ).alias("cents")
    )
    # corpus side: cell and residual. spread() the scan: every fold below
    # is per-row map work that would otherwise run single-threaded on a
    # one-task fixture file (§2.5; no-op at scale).
    vecs = (
        spread(emb, "vec_id")
        .crossJoin(F.broadcast(quant))
        .select("vec_id", "embedding", "cents", F.expr(dbl).alias("x"))
        .withColumn("cell", F.expr(f"-array_max({ranked_cells('x')}).ncell"))
        .select("vec_id", "embedding", "cell", F.expr(resid("x", "cell")).alias("r"))
    )
    # the PQ codebook: n_codes residuals, first in md5(vec_id:pq) order
    # (salted so the pick differs from the quantizer's), code k+1 = the
    # k-th, stored per subspace: cws[j][k] is an 8-vector
    book = _md5_first(
        vecs.select("vec_id", F.col("r").alias("embedding")), n_codes, ":pq"
    ).select(F.expr("transform(sequence(0, 7), j -> transform(top, s -> slice(s.v, j * 8 + 1, 8)))").alias("cws"))
    # each vector's 8 codes: argmin L2 per subspace, ties to the lower code
    codes = (
        f"transform({subspaces('r')}, (rj, j) -> "
        f"array_min(transform(cws[j], (cw, i) -> named_struct('d', {l2('rj', 'cw')}, 'k', i + 1))).k)"
    )
    coded = vecs.crossJoin(F.broadcast(book)).select("vec_id", "embedding", "cell", F.expr(codes).alias("codes"))
    # query side: the n_probe best cells and, per (query, cell), the
    # 8 x n_codes LUT of the query residual against that cell's centroid
    luts = (
        emb.filter(F.col("vec_id") < n_queries)
        .crossJoin(F.broadcast(quant))
        .crossJoin(F.broadcast(book))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            "cents",
            "cws",
            F.expr(dbl).alias("x"),
        )
        .select("*", F.expr(f"explode(slice(sort_array({ranked_cells('x')}, false), 1, {n_probe}))").alias("p"))
        .select(
            "q_id",
            "q_emb",
            (-F.col("p.ncell")).alias("cell"),
            F.expr(
                f"transform({subspaces(resid('x', '-p.ncell'))}, "
                f"(qj, j) -> transform(cws[j], cw -> {l2('qj', 'cw')}))"
            ).alias("lut"),
        )
    )
    adc = F.expr("round(aggregate(sequence(0, 7), 0D, (acc, j) -> acc + lut[j][codes[j] - 1]), 6)")
    w_adc = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    w = Window.partitionBy("q_id").orderBy(F.desc("_raw"), "vec_id")
    return (
        coded.join(F.broadcast(luts), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            adc.alias("adc_dist"),
            cosine(F.col("embedding"), F.col("q_emb")).alias("_raw"),
        )
        .withColumn("adc_rk", F.row_number().over(w_adc))
        .filter(F.col("adc_rk") <= shortlist)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            "vec_id",
            F.round("_raw", 6).alias("cos_sim"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


def clustered_embeddings(
    spark: SparkSession,
    n: int = 512,
    d: int = 64,
    n_clusters: int = 16,
    spread: float = 0.15,
) -> DataFrame:
    """Deterministic clustered synthetic corpus (vec_id, embedding): vector
    v belongs to cluster v % n_clusters; each dimension is the cluster
    center (md5-uniform in [-1,1]) plus md5-uniform noise scaled by
    `spread`. This is the STRUCTURED fixture tier the IVFADC design is
    for — the parquet embeddings fixture is i.i.d. Gaussian (no cluster
    structure, the published worst case for IVF family indexes; see
    sm05/sm18 docstrings), so index quality is demonstrated here and
    tracked in bench's ann_recall_at_5."""

    def u(s: F.Column) -> F.Column:
        # md5 prefix -> uniform double in [0, 1) — the dd15/dd23 coin family
        return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("double") / F.lit(
            4294967296.0
        )

    def dim(i: F.Column) -> F.Column:
        c = (F.col("vec_id") % n_clusters).cast("string")
        center = u(F.concat(F.lit("c:"), c, F.lit(":"), i.cast("string"))) * 2 - 1
        noise = (
            u(
                F.concat(
                    F.lit("v:"),
                    F.col("vec_id").cast("string"),
                    F.lit(":"),
                    i.cast("string"),
                )
            )
            * 2
            - 1
        ) * spread
        return center + noise

    return spark.range(n).select(
        F.col("id").alias("vec_id"),
        F.transform(F.sequence(F.lit(0), F.lit(d - 1)), dim).alias("embedding"),
    )



@REGISTRY.register(
    "sm16_pq_quantize",
    oracle="""
    WITH seedrank AS (
      SELECT vec_id AS sid, embedding AS semb,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS k
      FROM embeddings
    ),
    cb AS (
      SELECT j.j, s.k,
             list_transform(list_slice(s.semb, j.j*8 + 1, j.j*8 + 8),
                            x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT unnest(range(8)) AS j) j,
           (SELECT k, semb FROM seedrank WHERE k <= 16) s
    ),
    xv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
      FROM embeddings
    ),
    scored AS (
      SELECT xv.vec_id, cb.j, cb.k,
             list_aggregate(list_transform(range(1, 9),
               i -> (x[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (x[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])),
               'sum') AS dist,
             list_aggregate(list_transform(range(1, 9),
               i -> x[CAST(cb.j*8 + i AS INT)] * cvec[CAST(i AS INT)]),
               'sum') AS dotp,
             list_aggregate(list_transform(cvec, c -> c * c), 'sum') AS cn2
      FROM xv CROSS JOIN cb
    ),
    best AS (
      SELECT vec_id, j, k, dotp, cn2,
             row_number() OVER (PARTITION BY vec_id, j
                                ORDER BY dist, k) AS rk
      FROM scored
    ),
    agg AS (
      SELECT vec_id,
             array_to_string(list(k ORDER BY j), '-') AS code_str,
             SUM(dotp) AS sdot, SUM(cn2) AS scn2
      FROM best WHERE rk = 1 GROUP BY 1
    ),
    nx AS (
      SELECT vec_id,
             sqrt(list_aggregate(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * x), 'sum')) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id, a.code_str,
           round(a.sdot / (n.nrm * sqrt(a.scn2)), 6) AS recon_cos
    FROM agg a JOIN nx n USING (vec_id)
    """,
    doc="Product quantization (Jégou et al. PAMI'11 — the memory tier "
    "under every production-scale ANN index): the 64-dim vector splits "
    "into 8 subspaces of 8 dims; each subspace quantizes to the nearest "
    "of 16 codewords (argmin L2, ties to the lower code id), so a "
    "256-byte float vector compresses to 8 nibble codes (64x). "
    "Codebooks are md5-picked seed-vector slices (k-means with zero "
    "iterations — deterministic, so DuckDB replays assignment exactly; "
    "production Lloyd-iterates per subspace from the same seeds). "
    "Output: per-vector code string plus the reconstruction cosine "
    "(original vs concatenated codewords) — the compression-quality "
    "audit that decides if PQ candidates need exact re-rank. Plan "
    "shape: the 128-row codebook broadcasts, per-(vec, subspace, code) "
    "distances are JVM folds in one codegen stage, argmin is one "
    "(vec_id, j) window under a single vec_id-keyed exchange, and at "
    "100 TB this is exactly the map-side encode pass that writes the "
    "code table next to the corpus (asymmetric-distance query scans "
    "read codes, never raw vectors).",
    tags=("similarity", "llm", "ann", "quantization", "pq"),
)
def sm16(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    best = pq_best_codes(emb)
    agg = best.groupBy("vec_id").agg(
        F.concat_ws(
            "-",
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "k"))),
                lambda s: s["k"].cast("string"),
            ),
        ).alias("code_str"),
        F.sum("dotp").alias("sdot"),
        F.sum("cn2").alias("scn2"),
    )
    nx = emb.select(
        "vec_id",
        F.sqrt(
            F.aggregate(
                F.transform("embedding", lambda x: x.cast("double")),
                F.lit(0.0),
                lambda acc, x: acc + x * x,
            )
        ).alias("nrm"),
    )
    return agg.join(nx, "vec_id").select(
        "vec_id",
        "code_str",
        F.round(F.col("sdot") / (F.col("nrm") * F.sqrt("scn2")), 6).alias("recon_cos"),
    )


@REGISTRY.register(
    "sm17_pq_adc_topk",
    oracle="""
    WITH seedrank AS (
      SELECT vec_id AS sid, embedding AS semb,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS k
      FROM embeddings
    ),
    cb AS (
      SELECT j.j, s.k,
             list_transform(list_slice(s.semb, j.j*8 + 1, j.j*8 + 8),
                            x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT unnest(range(8)) AS j) j,
           (SELECT k, semb FROM seedrank WHERE k <= 16) s
    ),
    xv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
      FROM embeddings
    ),
    scored AS (
      SELECT xv.vec_id, cb.j, cb.k,
             list_aggregate(list_transform(range(1, 9),
               i -> (x[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (x[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])),
               'sum') AS dist
      FROM xv CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, k FROM (
        SELECT vec_id, j, k,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, k) AS rk
        FROM scored
      ) WHERE rk = 1
    ),
    q AS (
      SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qx
      FROM embeddings WHERE vec_id < 5
    ),
    lut AS (
      SELECT q.q_id, cb.j, cb.k,
             list_aggregate(list_transform(range(1, 9),
               i -> (qx[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (qx[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])),
               'sum') AS d
      FROM q CROSS JOIN cb
    ),
    adc AS (
      SELECT l.q_id, c.vec_id, round(SUM(l.d), 6) AS adc_dist
      FROM codes c JOIN lut l ON l.j = c.j AND l.k = c.k
      WHERE c.vec_id <> l.q_id
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist, vec_id) AS adc_rk
        FROM adc
      ) WHERE adc_rk <= 100
    )
    SELECT q_id, vec_id, cos_sim, rk FROM (
      SELECT s.q_id, s.vec_id,
             round({COS}, 6) AS cos_sim,
             row_number() OVER (PARTITION BY s.q_id
                                ORDER BY {COS} DESC, s.vec_id) AS rk
      FROM shortlist s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.q_id
    ) WHERE rk <= 5
    """.replace("{COS}", _ORACLE_COS),
    doc="PQ asymmetric-distance top-k (the search half of sm16's encode "
    "half — together they are the full Jégou-style PQ index): each "
    "query precomputes one 8x16 lookup table of exact "
    "query-subvector-to-codeword distances, and every corpus vector's "
    "ADC distance is then just 8 table lookups summed — the corpus scan "
    "touches the CODE TABLE (8 small ints/vector), never raw "
    "embeddings; the ADC top-100 shortlist then reranks by EXACT cosine "
    "(only 100 raw vectors read per query — the published ADC+rerank "
    "deployment shape). Plan: the 640-row LUT broadcasts, the code join "
    "+ (q_id, vec_id) aggregate is the only wide exchange, ADC ranking "
    "orders by the 6-dp-rounded distance (both engines round before "
    "ranking, the sm05 determinism pattern). recall@5 = 0.64 at a 20% "
    "shortlist on the fixture's i.i.d.-Gaussian corpus — the "
    "no-structure worst case (sm03's caveat); untrained seed codebooks "
    "cost recon_cos 0.56 vs 0.65 at 2 Lloyd rounds (measured; training "
    "is the production knob, kept out to preserve oracle replay). At "
    "100 TB this is why PQ wins: a 64x smaller scan with O(1) distance "
    "evaluation per candidate; combine with dd12's IVF cells for "
    "IVFADC.",
    tags=("similarity", "llm", "ann", "quantization", "pq", "adc"),
)
def sm17(spark: SparkSession, sf_dir: str) -> DataFrame:
    return pq_adc_topk(t(spark, sf_dir, "embeddings"))


def pq_adc_topk(
    emb: DataFrame,
    *,
    shortlist: int = 100,
    k: int = 5,
    n_queries: int = 5,
    n_codes: int = 16,
) -> DataFrame:
    """PQ-ADC top-k over an arbitrary (vec_id, embedding) frame — sm17's
    pipeline factored out (pure code motion, defaults identical) so the
    clustered structured-fixture tier can ride the SAME searcher in
    bench's ann_recall_at_5 and tests/test_ivfadc.py, the way
    ivfadc_topk serves sm18."""
    from pyspark.sql import Window

    codes = pq_best_codes(emb, n_codes=n_codes).select("vec_id", "j", "k")
    cb = pq_codebook(emb, n_codes=n_codes)
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qx"),
    )
    qj = F.slice("qx", F.col("j") * 8 + 1, 8)
    d = F.aggregate(
        F.zip_with(qj, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = q.crossJoin(F.broadcast(cb)).select("q_id", "j", "k", d.alias("d"))
    adc = (
        codes.join(F.broadcast(lut), ["j", "k"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
    )
    w_adc = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    short = (
        adc.withColumn("adc_rk", F.row_number().over(w_adc))
        .filter(F.col("adc_rk") <= shortlist)
        .select("q_id", "vec_id")
    )
    q_emb = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    w = Window.partitionBy("q_id").orderBy(F.desc("_raw"), "vec_id")
    return (
        short.join(emb, "vec_id")
        .join(F.broadcast(q_emb), "q_id")
        .select("q_id", "vec_id", sim.alias("_raw"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            "q_id",
            "vec_id",
            F.round("_raw", 6).alias("cos_sim"),
            F.col("rk").cast("long").alias("rk"),
        )
    )


@REGISTRY.register(
    "sm18_ivfadc",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    cents AS (SELECT srk AS cell, seed_emb FROM seeds),
    probes AS (
      SELECT vec_id AS q_id, srk AS cell FROM sscored
      WHERE rk <= 8 AND vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT p.q_id, c.vec_id, c.cell
      FROM seedcells c JOIN probes p ON c.cell = p.cell
      WHERE c.vec_id <> p.q_id
    ),
    resid AS (
      SELECT e.vec_id,
             list_transform(range(1, len(e.embedding) + 1),
               i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                    - CAST(ct.seed_emb[CAST(i AS INT)] AS DOUBLE)) AS rv
      FROM embeddings e
      JOIN seedcells sc ON sc.vec_id = e.vec_id
      JOIN cents ct ON ct.cell = sc.cell
    ),
    pqseed AS (
      SELECT vec_id AS sid,
             row_number() OVER (
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':pq'), vec_id) AS k
      FROM embeddings
    ),
    pqcb AS (
      SELECT j.j, s.k, list_slice(r.rv, j.j*8 + 1, j.j*8 + 8) AS cvec
      FROM (SELECT unnest(range(8)) AS j) j,
           (SELECT sid, k FROM pqseed WHERE k <= 256) s
      JOIN resid r ON r.vec_id = s.sid
    ),
    pqscored AS (
      SELECT r.vec_id, pqcb.j, pqcb.k,
             list_aggregate(list_transform(range(1, 9),
               i -> (rv[CAST(pqcb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (rv[CAST(pqcb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])),
               'sum') AS dist
      FROM resid r CROSS JOIN pqcb
    ),
    codes AS (
      SELECT vec_id, j, k FROM (
        SELECT vec_id, j, k,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, k) AS rk
        FROM pqscored
      ) WHERE rk = 1
    ),
    q AS (
      SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qx
      FROM embeddings WHERE vec_id < 5
    ),
    qres AS (
      SELECT p.q_id, p.cell,
             list_transform(range(1, len(q.qx) + 1),
               i -> qx[CAST(i AS INT)]
                    - CAST(ct.seed_emb[CAST(i AS INT)] AS DOUBLE)) AS qr
      FROM probes p JOIN q ON q.q_id = p.q_id
      JOIN cents ct ON ct.cell = p.cell
    ),
    lut AS (
      SELECT qres.q_id, qres.cell, pqcb.j, pqcb.k,
             list_aggregate(list_transform(range(1, 9),
               i -> (qr[CAST(pqcb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (qr[CAST(pqcb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])),
               'sum') AS d
      FROM qres CROSS JOIN pqcb
    ),
    adc AS (
      SELECT ca.q_id, ca.vec_id, round(SUM(l.d), 6) AS adc_dist
      FROM cand ca
      JOIN codes c ON c.vec_id = ca.vec_id
      JOIN lut l ON l.q_id = ca.q_id AND l.cell = ca.cell
                AND l.j = c.j AND l.k = c.k
      GROUP BY 1, 2
    ),
    shortlist AS (
      SELECT q_id, vec_id FROM (
        SELECT q_id, vec_id,
               row_number() OVER (PARTITION BY q_id
                                  ORDER BY adc_dist, vec_id) AS adc_rk
        FROM adc
      ) WHERE adc_rk <= 100
    )
    SELECT q_id, vec_id, cos_sim, rk FROM (
      SELECT s.q_id, s.vec_id,
             round({_ORACLE_COS}, 6) AS cos_sim,
             row_number() OVER (PARTITION BY s.q_id
                                ORDER BY {_ORACLE_COS} DESC, s.vec_id) AS rk
      FROM shortlist s
      JOIN embeddings e ON e.vec_id = s.vec_id
      JOIN embeddings q ON q.vec_id = s.q_id
    ) WHERE rk <= 5
    """,
    doc="IVFADC with RESIDUAL encoding — the actual FAISS IndexIVFPQ "
    "construction (Jégou et al. PAMI'11 §IV): PQ codes quantize "
    "x - centroid[cell(x)], NOT raw vectors (round-5 fix — raw-vector "
    "codes waste the codebook re-describing the coarse position the "
    "cell id already stores; residuals are smaller and better-"
    "conditioned, which is where IVFADC's accuracy comes from). The "
    "auto-sized seed quantizer prunes to the query's 8 nearest cells, "
    "each (query, cell) pair builds its own 8x256 LUT from the QUERY "
    "residual against THAT cell (256 codewords per subspace = 8-bit "
    "codes, the FAISS PQ8x8 standard; sm16/sm17 keep the 16-code "
    "nibble tier as the compression audit), the ADC scan reads code "
    "lists within probed cells only, and the top-100 shortlist reranks "
    "by exact cosine. Every stage is md5-deterministic, so the complete "
    "index — coarse quantizer, residuals, codes, LUTs, rerank — replays "
    "in the SQL oracle. On the fixture's i.i.d.-Gaussian corpus "
    "residuals are nearly as large as the vectors (no cluster structure "
    "— the published IVF worst case), so headline recall stays modest "
    "(measured 0.36/0.48/0.52 at 16/64/256 codes, sf0.1); on the "
    "clustered tier (clustered_embeddings, bench ann_recall_at_5"
    "[sm18_ivfadc_clustered], pinned >= 0.8 by pytest) the same "
    "pipeline delivers the production-shaped recall. At 100 TB: corpus "
    "parquet partitioned by cell, codes stored alongside, probes prune "
    "partitions, LUTs broadcast.",
    tags=("similarity", "llm", "ann", "ivf", "pq", "adc", "scale-tier"),
)
def sm18(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = t(spark, sf_dir, "embeddings")
    return ivfadc_topk(emb, math.ceil(math.sqrt(emb.count())), n_codes=256)


def _mmr_oracle(k_sel: int = 5, k_cand: int = 20, lam: float = 0.7) -> str:
    """Unrolled-step MMR oracle: k_sel is small and fixed, so each greedy
    selection step is a plain CTE (no recursion), chained on the previous
    steps' union — the same unrolled structure the Spark plan uses."""

    def cos(a: str, b: str) -> str:
        return (
            f"list_cosine_similarity(list_transform({a}, x -> CAST(x AS "
            f"DOUBLE)), list_transform({b}, x -> CAST(x AS DOUBLE)))"
        )

    steps = [
        "s1 AS (SELECT vec_id, emb, simq, simq AS score FROM cand\n"
        "       ORDER BY simq DESC, vec_id LIMIT 1)"
    ]
    for k in range(2, k_sel + 1):
        sel = " UNION ALL ".join(
            f"SELECT vec_id, emb FROM s{j}" for j in range(1, k)
        )
        steps.append(
            f"s{k} AS (\n"
            f"  SELECT c.vec_id, c.emb, c.simq,\n"
            f"         {lam}*c.simq - {round(1 - lam, 6)}*(\n"
            f"             SELECT MAX({cos('c.emb', 's.emb')})\n"
            f"             FROM ({sel}) s) AS score\n"
            f"  FROM cand c\n"
            f"  WHERE c.vec_id NOT IN (SELECT vec_id FROM ({sel}) x)\n"
            f"  ORDER BY score DESC, c.vec_id LIMIT 1)"
        )
    final = " UNION ALL ".join(
        f"SELECT CAST({k} AS INT) AS rank, vec_id, round(simq, 6) AS "
        f"cos_sim, round(score, 6) AS mmr_score FROM s{k}"
        for k in range(1, k_sel + 1)
    )
    joined_steps = ",\n".join(steps)
    return (
        "WITH q AS (SELECT embedding AS qemb FROM embeddings "
        "WHERE vec_id = 1),\n"
        "cand AS (\n"
        f"  SELECT e.vec_id, e.embedding AS emb,\n"
        f"         {cos('e.embedding', 'q.qemb')} AS simq\n"
        "  FROM embeddings e, q WHERE e.vec_id <> 1\n"
        f"  ORDER BY simq DESC, e.vec_id LIMIT {k_cand}\n"
        "),\n"
        f"{joined_steps}\n"
        f"SELECT * FROM ({final}) ORDER BY rank"
    )


@REGISTRY.register(
    "sm19_mmr_diversified_topk",
    oracle=_mmr_oracle(),
    doc="Maximal Marginal Relevance (Carbonell-Goldstein 1998) "
    "diversified retrieval: from the query's top-20 cosine shortlist, "
    "greedily select 5 results maximizing lambda*sim(q,d) - "
    "(1-lambda)*max_sim(d, selected) with lambda=0.7 — the RAG/dedup-"
    "aware answer set that plain top-k cannot give (it returns five "
    "copies of the same passage when the corpus has near-dups; MMR's "
    "rank-2 pick here has LOWER query similarity than rank-3 precisely "
    "because it is less redundant). Scale shape: the expensive legs — "
    "the shortlist (broadcast query x corpus scan, "
    "TakeOrderedAndProject, identical to sm01) and the 20x20 pairwise "
    "sims — run JVM-side; the greedy 5-step selection then runs on the "
    "COLLECTED shortlist (KB of driver traffic, the MLlib iterative "
    "pattern — a 5-stage unrolled DataFrame plan was measured 10x "
    "slower on pure scheduling overhead for the same 20 rows). The "
    "argmax comparisons are the identical IEEE ops DuckDB runs on the "
    "same cosine doubles, so selection is bit-deterministic (score "
    "desc, vec_id asc tie-break); the oracle unrolls the loop as 5 "
    "chained CTEs.",
    tags=("similarity", "llm", "mmr", "diversity", "rag"),
)
def sm19(spark: SparkSession, sf_dir: str) -> DataFrame:
    lam = 0.7
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).select(
        F.col("embedding").alias("qemb")
    )
    cand = (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select(
            "vec_id",
            F.col("embedding").alias("emb"),
            cosine(F.col("embedding"), F.col("qemb")).alias("simq"),
        )
        .orderBy(F.desc("simq"), "vec_id")
        .limit(20)
    )
    a, b = cand.alias("a"), cand.alias("b")
    pair_rows = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("va"),
            F.col("b.vec_id").alias("vb"),
            cosine(F.col("a.emb"), F.col("b.emb")).alias("s"),
        )
        .collect()
    )
    simq = {r["vec_id"]: r["simq"] for r in cand.select("vec_id", "simq").collect()}
    psim = {(r["va"], r["vb"]): r["s"] for r in pair_rows}
    # greedy selection over the collected shortlist (KB of driver traffic;
    # sims come from the SAME JVM cosine the shortlist ranked by, and the
    # 0.7*x - 0.3*y comparisons are the identical IEEE ops DuckDB runs,
    # so the selection is bit-deterministic, not approximately so)
    selected: list[tuple[int, float, float]] = []
    chosen: set[int] = set()
    first = min(simq, key=lambda v: (-simq[v], v))
    selected.append((first, simq[first], simq[first]))
    chosen.add(first)
    for _ in range(4):
        best = None
        for v, sq in simq.items():
            if v in chosen:
                continue
            score = lam * sq - round(1 - lam, 6) * max(
                psim[(v, s)] for s in chosen
            )
            key = (-score, v)
            if best is None or key < best[0]:
                best = (key, v, sq, score)
        selected.append((best[1], best[2], best[3]))
        chosen.add(best[1])
    rows = [
        (rank, v, round(sq, 6), round(score, 6))
        for rank, (v, sq, score) in enumerate(selected, start=1)
    ]
    return spark.createDataFrame(
        rows, "rank int, vec_id long, cos_sim double, mmr_score double"
    )


_SM20_DIM = 64
_SM20_ITERS = 5

_SM20_ORACLE = f"""
    WITH RECURSIVE X AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      FROM embeddings
    ),
    mu AS (
      SELECT list(m ORDER BY j) AS mu FROM (
        SELECT j, AVG(e[CAST(j AS INT)]) AS m
        FROM X, LATERAL (SELECT unnest(range(1, {_SM20_DIM + 1})) AS j)
        GROUP BY j)
    ),
    XC AS (
      SELECT vec_id,
             list_transform(range(1, {_SM20_DIM + 1}),
                            j -> e[CAST(j AS INT)] - mu[CAST(j AS INT)]) AS c
      FROM X, mu
    ),
    walk(k, v, lam) AS (
      SELECT 0, list_transform(range(1, {_SM20_DIM + 1}),
                               j -> CAST(0.125 AS DOUBLE)),
             CAST(0 AS DOUBLE)
      UNION ALL
      SELECT w.k + 1, list_transform(s.w, x -> x / s.nrm), s.nrm
      FROM walk w, LATERAL (
        SELECT wl AS w, sqrt(list_dot_product(wl, wl)) AS nrm FROM (
          SELECT list(sw ORDER BY j) AS wl FROM (
            SELECT j, SUM(list_dot_product(c, w.v) * c[CAST(j AS INT)]) AS sw
            FROM XC, LATERAL (SELECT unnest(range(1, {_SM20_DIM + 1})) AS j)
            GROUP BY j))
      ) s
      WHERE w.k < {_SM20_ITERS}
    ),
    tot AS (SELECT SUM(list_dot_product(c, c)) AS trace FROM XC),
    fin AS (SELECT v, lam FROM walk WHERE k = {_SM20_ITERS})
    SELECT CAST(j AS INT) AS dim,
           CAST(round(fin.v[CAST(j AS INT)], 6) AS DOUBLE) AS loading,
           CAST(round(fin.lam / tot.trace, 6) AS DOUBLE) AS explained_frac
    FROM fin, tot, LATERAL (SELECT unnest(range(1, {_SM20_DIM + 1})) AS j)
"""


@REGISTRY.register(
    "sm20_pca_power_iteration",
    oracle=_SM20_ORACLE,
    doc="Top principal component of the embedding cloud by power "
    "iteration — the drift-direction / anisotropy primitive behind "
    "embedding-health dashboards (sm12 measures per-dim variance; this "
    "finds the DIRECTION dominating it, and its explained-variance "
    "share: a healthy isotropic space shows ~1/d, a collapsing one "
    "shows a spike). Spark shape for iterative linear algebra: "
    "mean-center once (cachereg-tracked), then each of the 5 "
    "iterations is one distributed pass — s_i = c_i . v JVM-side, "
    "w_j = sum_i s_i c_ij via posexplode + a d-bounded combiner "
    "exchange — with only the d-vector (64 doubles) collected per "
    "iteration, tx32's loop discipline applied to linear algebra. "
    "v0 = uniform 1/8 (deterministic, no sign ambiguity: the iterate's "
    "sign follows v0), normalization uses the same ascending-dim "
    "sequential norm in both engines, and the oracle replays all 5 "
    "data-dependent iterations as a recursive CTE carrying v as a "
    "LIST. Rounding happens ENGINE-side (F.round == DuckDB round "
    "half-away-from-zero; Python round is banker's and never touches "
    "results).",
    tags=("similarity", "llm", "pca", "power-iteration", "iterative"),
)
def sm20(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.cachereg import track

    d, iters = _SM20_DIM, _SM20_ITERS
    emb = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("e"),
    )

    # d-vector frames stay IN-PLAN as 1-row array frames attached by
    # broadcast (x70's iteration shape applied to linear algebra —
    # round-11 verdict task 3): the former per-iteration collect() was a
    # driver round-trip per power step (7 serial jobs for mu + 5 steps +
    # trace); now the ONLY action is the final one and every iteration is
    # a broadcast-chained stage of the same job cascade. The arithmetic
    # is op-for-op identical: per-dim sums are the same partial-agg tree
    # over the same persisted partitioning, the norm is the same
    # ascending-dim left fold (F.aggregate == the old sequential Python
    # loop == DuckDB's list ordering), and division/sqrt are the same
    # IEEE ops — the collected-vs-broadcast values are the same doubles.
    def to_arr(grouped: DataFrame, key: str, val: str, out: str) -> DataFrame:
        # (j, x) rows -> one row holding the d-array in ascending-j order
        return grouped.agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(key, val))),
                lambda s: s[val],
            ).alias(out)
        )

    mu_f = to_arr(
        emb.select(F.posexplode("e").alias("j", "x"))
        .groupBy("j")
        .agg(F.avg("x").alias("m")),
        "j",
        "m",
        "mu",
    )
    xc = track(
        emb.crossJoin(F.broadcast(mu_f))
        .select(
            "vec_id",
            F.zip_with("e", "mu", lambda x, m: x - m).alias("c"),
        )
        .persist()
    )

    def dot(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    def l2(arr):
        # ascending-dim sequential fold == list_dot_product order
        return F.sqrt(
            F.aggregate(arr, F.lit(0.0), lambda acc, x: acc + x * x)
        )

    vf = spark.range(1).select(
        F.array(*[F.lit(0.125)] * d).alias("v"), F.lit(0.0).alias("lam")
    )
    for _ in range(iters):
        wf = to_arr(
            xc.crossJoin(F.broadcast(vf.select("v")))
            .select(
                dot(F.col("c"), F.col("v")).alias("s"),
                F.posexplode("c").alias("j", "cj"),
            )
            .select("j", (F.col("s") * F.col("cj")).alias("p"))
            .groupBy("j")
            .agg(F.sum("p").alias("w")),
            "j",
            "w",
            "warr",
        )
        vf = wf.select(
            F.transform("warr", lambda x: x / l2(F.col("warr"))).alias("v"),
            l2(F.col("warr")).alias("lam"),
        )
    tr = xc.agg(F.sum(dot(F.col("c"), F.col("c"))).alias("trace"))
    return (
        vf.crossJoin(F.broadcast(tr))
        .select(
            F.posexplode("v").alias("j", "loading"),
            (F.col("lam") / F.col("trace")).alias("ef"),
        )
        .select(
            (F.col("j") + 1).cast("int").alias("dim"),
            F.round("loading", 6).alias("loading"),
            F.round("ef", 6).alias("explained_frac"),
        )
    )


_SM21_NPS = (1, 2, 4, 8)

_SM21_ORACLE = f"""
    WITH {_SM05_INDEX_CTES},
    truth AS (
      SELECT q_id, vec_id FROM (
        SELECT q.vec_id AS q_id, e.vec_id,
               row_number() OVER (PARTITION BY q.vec_id ORDER BY
                 round(
                   list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                            * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)), 'sum')
                   / (sqrt(list_aggregate(list_transform(e.embedding,
                              x -> CAST(x AS DOUBLE) * x), 'sum'))
                      * sqrt(list_aggregate(list_transform(q.embedding,
                              x -> CAST(x AS DOUBLE) * x), 'sum'))), 9) DESC,
                 e.vec_id) AS trk
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) WHERE trk <= 5
    ),
    nps(np) AS (VALUES {", ".join(f"({n})" for n in _SM21_NPS)}),
    qprobe AS (
      SELECT n.np, s.vec_id AS q_id, s.cell
      FROM scored s CROSS JOIN nps n
      WHERE s.vec_id < 5 AND s.rk <= n.np
    ),
    cand AS (
      SELECT qp.np, qp.q_id, c.vec_id
      FROM qprobe qp JOIN corpus c ON c.cell = qp.cell
      WHERE c.vec_id <> qp.q_id
    ),
    sizes AS (
      SELECT np, q_id, CAST(COUNT(*) AS DOUBLE) AS n_cand
      FROM cand GROUP BY 1, 2
    ),
    hits AS (
      SELECT n.np, t.q_id,
             SUM(CASE WHEN cd.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS h
      FROM truth t
      CROSS JOIN nps n
      LEFT JOIN cand cd
        ON cd.np = n.np AND cd.q_id = t.q_id AND cd.vec_id = t.vec_id
      GROUP BY 1, 2
    ),
    n_corpus AS (SELECT CAST(COUNT(*) AS DOUBLE) AS nc FROM embeddings)
    SELECT CAST(h.np AS BIGINT) AS n_probe,
           round(SUM(h.h) / (5.0 * COUNT(*)), 6) AS recall_at_5,
           round(AVG(COALESCE(s.n_cand, 0)) / MAX(n_corpus.nc - 1), 6)
               AS candidate_fraction
    FROM hits h
    LEFT JOIN sizes s ON s.np = h.np AND s.q_id = h.q_id
    CROSS JOIN n_corpus
    GROUP BY 1
"""


@REGISTRY.register(
    "sm21_ivf_tuning_curve",
    oracle=_SM21_ORACLE,
    doc="IVF n_probe tuning curve — dd22's operating-curve idea applied "
    "to the vector index: for each n_probe in (1,2,4,8), recall@5 "
    "against the exact in-engine ground truth next to the candidate "
    "fraction the probe list forces the engine to scan. This is the "
    "number pair an operator reads before picking sm05's knob: recall "
    "climbs with probed cells, cost climbs linearly, and the knee is "
    "corpus-specific (on this no-structure fixture the curve is flat "
    "and late — exactly the insight the curve exists to reveal). "
    "Cell assignments and probes reuse sm05's deterministic "
    "label-centroid index (round-9 cosine, label tie-break), so the "
    "whole curve hash-checks. The quadratic truth tier is the audit "
    "economics of sm09: ground truth on 5 probes, never all pairs.",
    tags=("similarity", "llm", "ivf", "tuning", "evaluation"),
)
def sm21(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    n_corpus = emb.count()
    cent = (
        emb.select("label", F.posexplode("embedding").alias("idx", "val"))
        .groupBy("label", "idx")
        .agg(F.round(F.avg(F.col("val").cast("double")), 6).alias("cv"))
        .groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("idx", "cv"))).alias("s"))
        .select(
            F.col("label").cast("long").alias("cell"),
            F.expr("transform(s, x -> x.cv)").alias("cvec"),
        )
    )
    cos9 = F.round(cosine(F.col("embedding"), F.col("cvec")), 9)
    from pyspark.sql.window import Window

    w_vec = Window.partitionBy("vec_id").orderBy(
        F.desc("cos9"), F.col("cell")
    )
    scored = (
        emb.crossJoin(F.broadcast(cent))
        .select("vec_id", "cell", cos9.alias("cos9"))
        .withColumn("rk", F.row_number().over(w_vec))
    )
    corpus = scored.filter(F.col("rk") == 1).select("vec_id", "cell")
    qcos9 = F.round(
        cosine(F.col("e.embedding"), F.col("q.embedding")), 9
    )
    w_q = Window.partitionBy("q_id").orderBy(
        F.desc("qcos9"), F.col("vec_id")
    )
    truth = (
        emb.alias("q")
        .filter(F.col("q.vec_id") < 5)
        .join(emb.alias("e"), F.col("e.vec_id") != F.col("q.vec_id"))
        .select(
            F.col("q.vec_id").alias("q_id"),
            F.col("e.vec_id").alias("vec_id"),
            qcos9.alias("qcos9"),
        )
        .withColumn("trk", F.row_number().over(w_q))
        .filter(F.col("trk") <= 5)
        .select("q_id", "vec_id")
    )
    nps = spark.createDataFrame([(n,) for n in _SM21_NPS], "np int")
    qprobe = (
        scored.filter(F.col("vec_id") < 5)
        .crossJoin(F.broadcast(nps))
        .filter(F.col("rk") <= F.col("np"))
        .select("np", F.col("vec_id").alias("q_id"), "cell")
    )
    cand = qprobe.join(corpus.withColumnRenamed("vec_id", "cv_id"), "cell").filter(
        F.col("cv_id") != F.col("q_id")
    )
    sizes = cand.groupBy("np", "q_id").agg(
        F.count("*").cast("double").alias("n_cand")
    )
    hits = (
        truth.crossJoin(F.broadcast(nps))
        .join(
            cand.withColumnRenamed("cv_id", "vec_id").select(
                "np", "q_id", "vec_id", F.lit(1).alias("hit")
            ),
            ["np", "q_id", "vec_id"],
            "left",
        )
        .groupBy("np", "q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).alias("h"))
    )
    return (
        hits.join(sizes, ["np", "q_id"], "left")
        .groupBy(F.col("np").cast("long").alias("n_probe"))
        .agg(
            F.round(F.sum("h") / (5.0 * F.count("*")), 6).alias(
                "recall_at_5"
            ),
            F.round(
                F.avg(F.coalesce("n_cand", F.lit(0.0)))
                / F.lit(float(n_corpus - 1)),
                6,
            ).alias("candidate_fraction"),
        )
    )


@REGISTRY.register(
    "sm22_rrf_fusion",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    q AS (
      SELECT vec_id AS q_id, embedding FROM embeddings WHERE vec_id < 5
    ),
    r1 AS (
      SELECT q.q_id, e.vec_id,
             row_number() OVER (PARTITION BY q.q_id
                                ORDER BY {_ORACLE_COS} DESC, e.vec_id) AS r
      FROM embeddings e, q WHERE e.vec_id <> q.q_id
    ),
    probes AS (
      SELECT vec_id AS q_id, srk AS cell FROM sscored
      WHERE rk <= 4 AND vec_id < 5
    ),
    cand AS (
      SELECT DISTINCT p.q_id, c.vec_id
      FROM seedcells c JOIN probes p ON c.cell = p.cell
      WHERE c.vec_id <> p.q_id
    ),
    r2 AS (
      SELECT ca.q_id, ca.vec_id,
             row_number() OVER (PARTITION BY ca.q_id
                                ORDER BY {_ORACLE_COS} DESC, ca.vec_id) AS r
      FROM cand ca
      JOIN embeddings e ON e.vec_id = ca.vec_id
      JOIN q ON q.q_id = ca.q_id
    ),
    l1 AS (SELECT * FROM r1 WHERE r <= 20),
    l2 AS (SELECT * FROM r2 WHERE r <= 20),
    fused AS (
      SELECT COALESCE(l1.q_id, l2.q_id) AS q_id,
             COALESCE(l1.vec_id, l2.vec_id) AS vec_id,
             COALESCE(1.0 / (60 + l1.r), 0) + COALESCE(1.0 / (60 + l2.r), 0) AS s,
             CASE WHEN l1.r IS NOT NULL THEN 1 ELSE 0 END AS in_exact,
             CASE WHEN l2.r IS NOT NULL THEN 1 ELSE 0 END AS in_ann
      FROM l1 FULL OUTER JOIN l2
        ON l1.q_id = l2.q_id AND l1.vec_id = l2.vec_id
    )
    SELECT q_id, vec_id, round(s, 6) AS rrf_score,
           CAST(in_exact AS BIGINT) AS in_exact,
           CAST(in_ann AS BIGINT) AS in_ann,
           CAST(rk AS BIGINT) AS rk
    FROM (
      SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY s DESC, vec_id) AS rk
      FROM fused
    ) WHERE rk <= 5
    """,
    doc="Reciprocal Rank Fusion (Cormack et al. SIGIR'09, k=60 — the "
    "score-free list merger every hybrid-retrieval stack ships): fuse "
    "the exact dense top-20 with the IVF 4-probe approximate top-20 per "
    "query by sum(1/(60+rank)); ranks, not scores, so retrievers with "
    "incomparable score scales (cosine vs BM25 vs ADC) fuse without "
    "calibration — here the two lists share a metric but differ by the "
    "ANN candidate restriction, and the audit columns (in_exact/in_ann) "
    "show per-result provenance. The 1/(60+r) terms and their 2-term "
    "sum are bit-identical across engines (fixed addend order), so the "
    "fused ranking replays exactly. Plan: one broadcast cross-score for "
    "the exact list (sm01's shape), the probe-restricted list rides the "
    "IVF index (cells join, never a second full scan at real scale), "
    "fusion is a full-outer on (q, vec) — all per-query windows "
    "partition on q_id.",
    tags=("similarity", "llm", "fusion", "rrf", "hybrid", "ranking"),
)
def sm22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    base = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", sim.alias("c"))
    )
    wq = Window.partitionBy("q_id").orderBy(F.desc("c"), "vec_id")
    l1 = (
        base.withColumn("r1", F.row_number().over(wq))
        .filter(F.col("r1") <= 20)
        .select("q_id", "vec_id", "r1")
    )
    ranked = seed_ivf_cells(spark, sf_dir)
    cells = ranked.filter(F.col("rk") == 1).select("vec_id", "cell")
    probes = ranked.filter((F.col("rk") <= 4) & (F.col("vec_id") < 5)).select(
        F.col("vec_id").alias("q_id"), "cell"
    )
    cand = (
        cells.join(F.broadcast(probes), "cell")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
        .distinct()
    )
    l2 = (
        cand.join(emb, "vec_id")
        .join(F.broadcast(q), "q_id")
        .select("q_id", "vec_id", sim.alias("c"))
        .withColumn("r2", F.row_number().over(wq))
        .filter(F.col("r2") <= 20)
        .select("q_id", "vec_id", "r2")
    )
    fused = l1.join(l2, ["q_id", "vec_id"], "full").select(
        "q_id",
        "vec_id",
        (
            F.coalesce(1.0 / (F.col("r1") + 60), F.lit(0.0))
            + F.coalesce(1.0 / (F.col("r2") + 60), F.lit(0.0))
        ).alias("s"),
        F.col("r1").isNotNull().cast("long").alias("in_exact"),
        F.col("r2").isNotNull().cast("long").alias("in_ann"),
    )
    wf = Window.partitionBy("q_id").orderBy(F.desc("s"), "vec_id")
    return (
        fused.withColumn("rk", F.row_number().over(wf))
        .filter(F.col("rk") <= 5)
        .select(
            "q_id",
            "vec_id",
            F.round("s", 6).alias("rrf_score"),
            "in_exact",
            "in_ann",
            F.col("rk").cast("long").alias("rk"),
        )
    )


_SM23_COS = (
    "list_cosine_similarity("
    "list_transform(a.embedding, x -> CAST(x AS DOUBLE)), "
    "list_transform(b.embedding, x -> CAST(x AS DOUBLE)))"
)


@REGISTRY.register(
    "sm23_hubness_audit",
    oracle=f"""
    WITH p AS (
      SELECT a.vec_id AS q_id, b.vec_id AS n_id,
             round({_SM23_COS}, 9) AS c
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
    ),
    rk AS (
      SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id)
                 AS rn
      FROM p
    ),
    nk AS (
      SELECT e.vec_id, CAST(COUNT(r.n_id) AS DOUBLE) AS k
      FROM embeddings e
      LEFT JOIN (SELECT n_id FROM rk WHERE rn <= 5) r
        ON r.n_id = e.vec_id
      GROUP BY e.vec_id
    ),
    s AS (
      SELECT COUNT(*) AS n, AVG(k) AS mu, AVG(k * k) AS m2r,
             AVG(k * k * k) AS m3r, MAX(k) AS mx,
             SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS n_anti
      FROM nk
    )
    SELECT CAST(n AS BIGINT) AS n_vectors,
           CAST(mx AS BIGINT) AS max_nk,
           (SELECT MIN(vec_id) FROM nk WHERE k = (SELECT mx FROM s))
               AS top_hub_id,
           round(n_anti * 1.0 / n, 6) AS antihub_frac,
           round((m3r - 3 * mu * (m2r - mu * mu) - mu * mu * mu)
                 / power(m2r - mu * mu, 1.5), 6) AS nk_skew
    FROM s
    """,
    doc="Hubness audit (Radovanovic et al. 2010): the k-occurrence "
    "N_k(x) = how often x appears in other points' exact top-5 cosine "
    "lists. High skew of N_k is the high-dimensional hubness "
    "pathology — a few 'hub' vectors dominate every neighbor list and "
    "poison kNN labels (sm11) and near-dup thresholds (sm02); "
    "antihubs (N_k = 0) are unreachable from any query. Reports the "
    "population skewness of N_k, the hub maximum, and the antihub "
    "fraction in one summary row. Plan: the corpus matrix rides an "
    "sc.broadcast (the MLlib small-model pattern) and each Arrow "
    "batch computes its query block's top-5 as ONE numpy matmul "
    "(mapInPandas — the interpreted zip_with fold benched 40x slower "
    "on the 4M-pair shape), then a bounded count by neighbor id. "
    "Both engines round cosine to 9 dp BEFORE ranking (ulp "
    "convention, the sm03/sm06 precedent) so BLAS accumulation order "
    "can't flip the k=5 rank boundary vs the oracle's fold. This "
    "exact all-pairs tier is the AUDIT grain: at 100 TB hubness is "
    "estimated on a deterministic query sample against the ANN index "
    "(sm05/sm18) with blocked-GEMM pairs, same downstream stats.",
    tags=("similarity", "llm", "hubness", "audit", "knn"),
)
def sm23(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # Arrow-vectorized BLAS tier (the sm03/sm06 precedent from the
    # round-5 ulp fix): the corpus matrix rides an sc.broadcast —
    # vec-count x 64 floats, the bounded 'model to executors' MLlib
    # pattern — and each Arrow batch computes its query block's
    # cosines as ONE matmul instead of 4M interpreted zip_with folds
    # (which benched at 89 s vs ~2 s for this shape at sf0.1). Both
    # engines round to 9 dp BEFORE ranking, so the BLAS accumulation
    # order can't flip a rank boundary vs the oracle's fold.
    # audit tier: loud cap + sorted matrix; see docstring for 100 TB
    bc = spark.sparkContext.broadcast(audit_corpus_matrix(emb))

    def topk_batches(it):
        ids, mat, nrm = bc.value
        for pdf in it:
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            qn = np.sqrt((X * X).sum(axis=1))
            S = round9_half_up((X @ mat.T) / (qn[:, None] * nrm[None, :]))
            qids = pdf["vec_id"].to_numpy()
            out_q, out_n, out_r = [], [], []
            for i, qid in enumerate(qids):
                s = S[i].copy()
                s[ids == qid] = -np.inf  # exclude self
                # rank by (-cos, n_id): stable exact top-5
                order = np.lexsort((ids, -s))[:5]
                out_q.extend([qid] * len(order))
                out_n.extend(ids[order])
                out_r.extend(range(1, len(order) + 1))
            yield pd.DataFrame(
                {"q_id": out_q, "n_id": out_n, "rn": out_r}
            )

    top = emb.mapInPandas(
        topk_batches, schema="q_id long, n_id long, rn int"
    )
    nk = (
        emb.select("vec_id")
        .join(
            top.groupBy("n_id").agg(F.count("*").alias("cnt")),
            F.col("vec_id") == F.col("n_id"),
            "left",
        )
        .select(
            "vec_id", F.coalesce("cnt", F.lit(0)).cast("double").alias("k")
        )
    )
    s = nk.agg(
        F.count("*").alias("n"),
        F.avg("k").alias("mu"),
        F.avg(F.col("k") * F.col("k")).alias("m2r"),
        F.avg(F.col("k") * F.col("k") * F.col("k")).alias("m3r"),
        F.max("k").alias("mx"),
        F.sum((F.col("k") == 0).cast("int")).alias("anti"),
    )
    mu, m2r, m3r = F.col("mu"), F.col("m2r"), F.col("m3r")
    m2 = m2r - mu * mu
    m3 = m3r - 3 * mu * m2 - mu * mu * mu
    hub = nk.agg(F.max("k").alias("mx2")).join(
        nk, F.col("k") == F.col("mx2")
    ).agg(F.min("vec_id").alias("top_hub_id"))
    return s.crossJoin(F.broadcast(hub)).select(
        F.col("n").cast("long").alias("n_vectors"),
        F.col("mx").cast("long").alias("max_nk"),
        "top_hub_id",
        F.round(F.col("anti") / F.col("n"), 6).alias("antihub_frac"),
        F.round(m3 / F.pow(m2, 1.5), 6).alias("nk_skew"),
    )


# Shared by sm23b/sm30b: the per-(query, candidate) 9-dp cosine where the
# candidate comes from the query's probed IVF cells — the exact fold both
# engines accumulate left-to-right, dd12's proven idiom.
_IVF_PAIR_COS = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(q.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))), 9)"""

_SM23B_N_PROBE = 4
_SM23B_SAMPLE = 0.25


@REGISTRY.register(
    "sm23b_hubness_scaled",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    probes AS (
      SELECT vec_id AS q_id, srk AS q_cell FROM sscored
      WHERE rk <= {_SM23B_N_PROBE}
        AND CAST(('0x' || substr(md5('hub:' || CAST(vec_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) / 4294967296.0
            < {_SM23B_SAMPLE}
    ),
    pair AS (
      SELECT p.q_id, c.vec_id AS n_id, {_IVF_PAIR_COS} AS c
      FROM probes p
      JOIN seedcells c ON c.cell = p.q_cell AND c.vec_id <> p.q_id
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings q ON q.vec_id = p.q_id
    ),
    rk AS (
      SELECT q_id, n_id,
             row_number() OVER (PARTITION BY q_id ORDER BY c DESC, n_id) AS rn
      FROM pair
    ),
    nk AS (
      SELECT e.vec_id, CAST(COUNT(r.n_id) AS DOUBLE) AS k
      FROM embeddings e
      LEFT JOIN (SELECT n_id FROM rk WHERE rn <= 5) r ON r.n_id = e.vec_id
      GROUP BY e.vec_id
    ),
    nq AS (SELECT COUNT(DISTINCT q_id) AS n_queries FROM probes),
    s AS (
      SELECT COUNT(*) AS n, AVG(k) AS mu, AVG(k * k) AS m2r,
             AVG(k * k * k) AS m3r, MAX(k) AS mx,
             SUM(CASE WHEN k = 0 THEN 1 ELSE 0 END) AS n_anti
      FROM nk
    )
    SELECT CAST(s.n AS BIGINT) AS n_vectors,
           CAST(nq.n_queries AS BIGINT) AS n_queries,
           CAST(s.mx AS BIGINT) AS max_nk,
           (SELECT MIN(vec_id) FROM nk WHERE k = (SELECT mx FROM s))
               AS top_hub_id,
           round(s.n_anti * 1.0 / s.n, 6) AS antihub_frac,
           round((s.m3r - 3 * s.mu * (s.m2r - s.mu * s.mu)
                  - s.mu * s.mu * s.mu)
                 / power(s.m2r - s.mu * s.mu, 1.5), 6) AS nk_skew
    FROM s, nq
    """,
    doc="Hubness audit, SCALE tier — the production shape of sm23 "
    "(round-7 verdict task #2, the dd09->dd12 precedent): N_k is "
    "ESTIMATED from a deterministic md5 query sample (coin "
    "md5('hub:'||vec_id) < 0.25) ranked against IVF candidates only — "
    "each sampled query scores the vectors in its n_probe=4 nearest "
    "cells of the auto-sized ceil(sqrt(N)) seed quantizer "
    "(seed_ivf_cells/_SEED_IVF_CTES, the sm05/sm24/dd12 shared index) "
    "— so the corpus matrix is NEVER collected to the driver and no "
    "all-pairs join exists. Downstream stats identical to sm23 "
    "(population skew of k, max, antihub fraction) plus the sample "
    "size; antihub_frac is relative to the sampled query set by "
    "construction. Because the IVF assignment is a JVM fold DuckDB "
    "replays bit-for-bit, this scale tier is FULLY oracle-checked. "
    "Plan: one broadcast-seed assignment pass, a cell-keyed "
    "corpus-probe join (at 100 TB: corpus written partitioned by cell "
    "-> shuffle-free probe), a q_id-partitioned top-5 window over "
    "~4*sqrt(N) candidates per query, and a bounded count by neighbor "
    "id. tests/test_llm_ops.py pins agreement with sm23's exact "
    "top-hub on the fixtures.",
    tags=("similarity", "llm", "hubness", "audit", "ann", "scale-tier"),
)
def sm23b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    ranked = seed_ivf_cells(spark, sf_dir)
    corpus = ranked.filter(F.col("rk") == 1).select(
        "vec_id",
        "embedding",
        "cell",
        vector_norm(F.col("embedding")).alias("nrm"),
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("hub:"), F.col("vec_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    probes = (
        ranked.filter((F.col("rk") <= _SM23B_N_PROBE) & (coin < _SM23B_SAMPLE))
        .select(
            F.col("vec_id").alias("q_id"),
            F.col("cell").alias("q_cell"),
            F.col("embedding").alias("q_emb"),
            vector_norm(F.col("embedding")).alias("q_nrm"),
        )
    )
    # parallelism floor on the candidate join inputs (sm30b's comment)
    corpus = spread_on(corpus, emb, "cell")
    probes = spread_on(probes, emb, "q_cell")
    cos = pair_dot(F.col("embedding"), F.col("q_emb")) / (
        F.col("nrm") * F.col("q_nrm")
    )
    pair = corpus.join(
        probes,
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
    ).select("q_id", F.col("vec_id").alias("n_id"), F.round(cos, 9).alias("c"))
    w = Window.partitionBy("q_id").orderBy(F.desc("c"), "n_id")
    top = (
        pair.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("n_id")
    )
    nk = (
        emb.select("vec_id")
        .join(
            top.groupBy("n_id").agg(F.count("*").alias("cnt")),
            F.col("vec_id") == F.col("n_id"),
            "left",
        )
        .select(
            "vec_id", F.coalesce("cnt", F.lit(0)).cast("double").alias("k")
        )
    )
    nq = probes.agg(F.count_distinct("q_id").alias("n_queries"))
    s = nk.agg(
        F.count("*").alias("n"),
        F.avg("k").alias("mu"),
        F.avg(F.col("k") * F.col("k")).alias("m2r"),
        F.avg(F.col("k") * F.col("k") * F.col("k")).alias("m3r"),
        F.max("k").alias("mx"),
        F.sum((F.col("k") == 0).cast("int")).alias("anti"),
    )
    mu, m2r, m3r = F.col("mu"), F.col("m2r"), F.col("m3r")
    m2 = m2r - mu * mu
    m3 = m3r - 3 * mu * m2 - mu * mu * mu
    hub = nk.agg(F.max("k").alias("mx2")).join(
        nk, F.col("k") == F.col("mx2")
    ).agg(F.min("vec_id").alias("top_hub_id"))
    return (
        s.crossJoin(F.broadcast(hub))
        .crossJoin(F.broadcast(nq))
        .select(
            F.col("n").cast("long").alias("n_vectors"),
            F.col("n_queries").cast("long").alias("n_queries"),
            F.col("mx").cast("long").alias("max_nk"),
            "top_hub_id",
            F.round(F.col("anti") / F.col("n"), 6).alias("antihub_frac"),
            F.round(m3 / F.pow(m2, 1.5), 6).alias("nk_skew"),
        )
    )


@REGISTRY.register(
    "sm24_ivf_balance_audit",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    sizes AS (
      SELECT cell, CAST(COUNT(*) AS DOUBLE) AS csz
      FROM seedcells GROUP BY cell
    ),
    s AS (
      SELECT SUM(csz) AS n, COUNT(*) AS used, MAX(csz) AS mx,
             MIN(csz) AS mn, AVG(csz) AS mu, AVG(csz * csz) AS m2r
      FROM sizes
    )
    SELECT CAST(s.n AS BIGINT) AS n_vectors,
           CAST(cnt.n_cells AS BIGINT) AS n_cells,
           CAST(cnt.n_cells - s.used AS BIGINT) AS n_empty_cells,
           CAST(s.mx AS BIGINT) AS max_cell_size,
           CAST(s.mn AS BIGINT) AS min_cell_size,
           (SELECT MIN(cell) FROM sizes WHERE csz = (SELECT mx FROM s))
               AS largest_cell_id,
           round(s.mx * cnt.n_cells / s.n, 6) AS imbalance_factor,
           round(sqrt(s.m2r - s.mu * s.mu) / s.mu, 6) AS size_cv
    FROM s, cnt
    """,
    doc="IVF cell-balance audit — the operational health metric of the "
    "inverted-file family (sm05/dd12/sm18): per-cell population sizes "
    "of the auto-sized ceil(sqrt(N)) seed quantizer, reported as the "
    "imbalance factor max_cell * nlist / N (1.0 = perfectly even; "
    "FAISS docs flag >~3 as a probe-latency hazard because probe cost "
    "is proportional to the PROBED cells' sizes, not N/nlist), the "
    "population CV, and empty-cell count (codebook waste). This is "
    "the measurement that decides when to re-train the coarse "
    "quantizer as the corpus drifts. Plan: one assignment pass "
    "(broadcast seed table, map-side argmax — the shared "
    "seed_ivf_cells_frame), a cell-sized groupBy, and a one-row agg; "
    "at 100 TB the sizes frame is nlist rows (~sqrt N) and nothing "
    "else survives the first agg.",
    tags=("similarity", "ivf", "audit", "balance", "ops"),
)
def sm24(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    emb = t(spark, sf_dir, "embeddings")
    n = emb.count()
    nc = math.ceil(math.sqrt(n))
    cells = (
        seed_ivf_cells_frame(emb, nc)
        .filter(F.col("rk") == 1)
        .select("vec_id", "cell")
    )
    sizes = cells.groupBy("cell").agg(
        F.count("*").cast("double").alias("csz")
    )
    s = sizes.agg(
        F.sum("csz").alias("n"),
        F.count("*").alias("used"),
        F.max("csz").alias("mx"),
        F.min("csz").alias("mn"),
        F.avg("csz").alias("mu"),
        F.avg(F.col("csz") * F.col("csz")).alias("m2r"),
    )
    largest = (
        sizes.agg(F.max("csz").alias("mx2"))
        .join(sizes, F.col("csz") == F.col("mx2"))
        .agg(F.min("cell").cast("long").alias("largest_cell_id"))
    )
    return s.crossJoin(F.broadcast(largest)).select(
        F.col("n").cast("long").alias("n_vectors"),
        F.lit(nc).cast("long").alias("n_cells"),
        (F.lit(nc) - F.col("used")).cast("long").alias("n_empty_cells"),
        F.col("mx").cast("long").alias("max_cell_size"),
        F.col("mn").cast("long").alias("min_cell_size"),
        "largest_cell_id",
        F.round(F.col("mx") * nc / F.col("n"), 6).alias("imbalance_factor"),
        F.round(
            F.sqrt(F.col("m2r") - F.col("mu") * F.col("mu")) / F.col("mu"), 6
        ).alias("size_cv"),
    )


_SM25_K = 8

# Squared-L2 fold between an embedding and a centroid list, rounded to
# 9 dp before any argmin/tie decision (the repo's ulp convention). The
# same sequential left-fold both engines use for the sm05 cosine.
_SM25_D9 = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                         - c.cvec[CAST(i AS INT)])
                        * (CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                           - c.cvec[CAST(i AS INT)])), 'sum'), 9)"""


@REGISTRY.register(
    "sm25_kmeans_lloyd",
    oracle=f"""
    WITH seedrank AS (
      SELECT vec_id AS seed_id, embedding AS seed_emb,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                vec_id) AS srk
      FROM embeddings
    ),
    c0 AS (
      SELECT srk AS cluster,
             list_transform(seed_emb, x -> CAST(x AS DOUBLE)) AS cvec
      FROM seedrank WHERE srk <= {_SM25_K}
    ),
    a0 AS (
      SELECT vec_id, cluster, d9 FROM (
        SELECT e.vec_id, c.cluster, {_SM25_D9} AS d9,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SM25_D9}, c.cluster) AS rk
        FROM embeddings e CROSS JOIN c0 c
      ) WHERE rk = 1
    ),
    cells AS (
      SELECT a.cluster, unnest(range(1, len(e.embedding) + 1)) AS idx,
             unnest(list_transform(e.embedding,
                                   x -> CAST(x AS DOUBLE))) AS val
      FROM a0 a JOIN embeddings e ON e.vec_id = a.vec_id
    ),
    c1d AS (
      SELECT cluster, idx, round(AVG(val), 6) AS cv
      FROM cells GROUP BY 1, 2
    ),
    c1 AS (
      SELECT cluster, list(cv ORDER BY idx) AS cvec FROM c1d GROUP BY 1
    ),
    a1 AS (
      SELECT vec_id, cluster, d9 FROM (
        SELECT e.vec_id, c.cluster, {_SM25_D9} AS d9,
               row_number() OVER (PARTITION BY e.vec_id
                                  ORDER BY {_SM25_D9}, c.cluster) AS rk
        FROM embeddings e CROSS JOIN c1 c
      ) WHERE rk = 1
    ),
    s0 AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_init
      FROM a0 GROUP BY 1
    ),
    s1 AS (
      SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n_final,
             round(CAST(SUM(CAST(d9 AS DECIMAL(28, 9))) AS DOUBLE), 6)
                 AS inertia
      FROM a1 GROUP BY 1
    )
    SELECT CAST(s0.cluster AS BIGINT) AS cluster, s0.n_init,
           COALESCE(s1.n_final, 0) AS n_final,
           COALESCE(s1.inertia, 0.0) AS inertia,
           CASE WHEN COALESCE(s1.n_final, 0) > 0
                THEN round(s1.inertia / s1.n_final, 6) ELSE 0.0 END
               AS mean_dist
    FROM s0 LEFT JOIN s1 USING (cluster)
    ORDER BY cluster
    """,
    doc="Explicit Lloyd k-means (k=8, one full assign->update->assign "
    "round) — the training loop behind every coarse quantizer in this "
    "module (sm05's docstring and the _SEED_IVF_CTES note both say "
    "'a production run would Lloyd-iterate the same seeds'; this query "
    "IS that iteration, oracle-replayed end to end). Init = the k "
    "md5-ranked seed vectors (ivf_seed_frame, no RNG); assignment = "
    "broadcast k x d centroid table, squared-L2 JVM fold rounded to "
    "9 dp before the argmin tie-break (cluster asc); update = per-"
    "(cluster, dim) AVG rounded to 6 dp — the sm04 centroid "
    "determinism barrier, so iteration 2 starts from bit-identical "
    "doubles in both engines; inertia = DECIMAL-exact sum of the "
    "rounded distances (order-independent under any partitioning). "
    "Emits per-cluster init/final populations, within-cluster SSE and "
    "mean distance — the convergence/health readout that decides when "
    "a quantizer is trained. Plan: two map-only broadcast-assignment "
    "passes (no shuffle of the corpus beyond the vec_id-keyed argmin "
    "window), one (k x d)-row centroid agg between them, k-row output. "
    "At 100 TB each extra Lloyd round is one more linear pass — "
    "mini-batch on a deterministic hash-sample is the documented "
    "escape hatch, and at large k the assignment calls for the same "
    "batched matmul kernel as sm05's note.",
    tags=("similarity", "llm", "kmeans", "quantizer", "iterative"),
)
def sm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb_v = t(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    cents0 = ivf_seed_frame(t(spark, sf_dir, "embeddings"), _SM25_K).select(
        F.col("srk").cast("long").alias("cluster"),
        F.transform("seed_emb", lambda x: x.cast("double")).alias("cvec"),
    )

    def assign(cents: DataFrame) -> DataFrame:
        d = F.aggregate(
            F.zip_with("v", "cvec", lambda a, b: (a - b) * (a - b)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        scored = emb_v.crossJoin(F.broadcast(cents)).select(
            "vec_id", "cluster", F.round(d, 9).alias("d9")
        )
        w = Window.partitionBy("vec_id").orderBy("d9", "cluster")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .drop("rk")
        )

    a0 = assign(cents0)
    cells = a0.join(emb_v, "vec_id").select(
        "cluster", F.posexplode("v").alias("pos", "val")
    )
    cents1 = (
        cells.groupBy("cluster", F.col("pos").alias("idx"))
        .agg(F.round(F.avg("val"), 6).alias("cv"))
        .groupBy("cluster")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("idx", "cv"))),
                lambda s: s["cv"],
            ).alias("cvec")
        )
    )
    a1 = assign(cents1)
    s0 = a0.groupBy("cluster").agg(F.count("*").cast("long").alias("n_init"))
    s1 = a1.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_final"),
        F.round(
            F.sum(F.col("d9").cast("decimal(28,9)")).cast("double"), 6
        ).alias("inertia"),
    )
    joined = s0.join(s1, "cluster", "left").select(
        F.col("cluster").cast("long").alias("cluster"),
        "n_init",
        F.coalesce("n_final", F.lit(0).cast("long")).alias("n_final"),
        F.coalesce("inertia", F.lit(0.0)).alias("inertia"),
    )
    return (
        joined.select(
            "cluster",
            "n_init",
            "n_final",
            "inertia",
            F.when(
                F.col("n_final") > 0,
                F.round(F.col("inertia") / F.col("n_final"), 6),
            )
            .otherwise(F.lit(0.0))
            .alias("mean_dist"),
        )
        .orderBy("cluster")
    )


_SM26_COS_X = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * x.xv[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          y -> CAST(y AS DOUBLE) * y), 'sum'))
                  * sqrt(list_aggregate(list_transform(x.xv,
                          y -> y * y), 'sum'))), 9)"""

_SM26_COS_Q = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * q.qv[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          y -> CAST(y AS DOUBLE) * y), 'sum'))
                  * sqrt(list_aggregate(list_transform(q.qv,
                          y -> y * y), 'sum'))), 9)"""


@REGISTRY.register(
    "sm26_rocchio_prf",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, y -> CAST(y AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 1
    ),
    top10 AS (
      SELECT e.vec_id, e.embedding, {_SM26_COS_Q} AS cos_q
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 1
      ORDER BY {_SM26_COS_Q} DESC, e.vec_id
      LIMIT 10
    ),
    md AS (
      SELECT idx, round(AVG(val), 6) AS mv FROM (
        SELECT unnest(range(1, len(embedding) + 1)) AS idx,
               CAST(unnest(embedding) AS DOUBLE) AS val
        FROM top10
      ) GROUP BY idx
    ),
    mv AS (SELECT list(mv ORDER BY idx) AS m FROM md),
    x AS (
      SELECT list_transform(range(1, len(q.qv) + 1),
                 i -> round(q.qv[CAST(i AS INT)]
                            + 0.75 * mv.m[CAST(i AS INT)], 6)) AS xv
      FROM q, mv
    ),
    final AS (
      SELECT e.vec_id, {_SM26_COS_X} AS cos9
      FROM embeddings e CROSS JOIN x
      WHERE e.vec_id <> 1
      ORDER BY {_SM26_COS_X} DESC, e.vec_id
      LIMIT 10
    ),
    ranked AS (
      SELECT vec_id, cos9,
             row_number() OVER (ORDER BY cos9 DESC, vec_id) AS rk
      FROM final
    )
    SELECT r.vec_id, round(r.cos9, 6) AS cos_sim,
           CAST(r.rk AS BIGINT) AS rk,
           CAST(CASE WHEN t.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
               AS was_in_initial
    FROM ranked r LEFT JOIN top10 t USING (vec_id)
    """,
    doc="Rocchio pseudo-relevance feedback (the classic query-expansion "
    "loop, positive-only form x' = q + 0.75 * centroid(top-10)): the "
    "query vector's exact top-10 act as pseudo-relevant documents, "
    "their per-dimension mean (rounded to 6 dp — the sm04 determinism "
    "barrier) folds into an expanded query, and the re-ranked top-10 "
    "under the expanded vector reports each hit with its rank and "
    "whether the INITIAL retrieval already had it — the was_in_initial "
    "column is the expansion's discovery readout. Fully deterministic "
    "and oracle-replayed (expansion arithmetic is exact: 0.75 is a "
    "binary-exact scale, each expanded component rounds once, "
    "identically in both engines). Plan: two broadcast-query "
    "TakeOrdered passes over the corpus plus a 10-row-frame dim agg "
    "between them; the final ranks come from rank_small_frame "
    "(triangular broadcast join on a proven-10-row frame), no global "
    "window. At 100 TB each pass is the sm01 shape — corpus never "
    "shuffles, only k rows per partition surface.",
    tags=("similarity", "llm", "retrieval", "rocchio", "prf"),
)
def sm26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.operators.rankops import rank_small_frame

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 1).select(
        F.transform("embedding", lambda y: y.cast("double")).alias("qv")
    )
    cos_q = cosine(F.col("embedding"), F.col("qv"))
    top10 = (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(q))
        .select("vec_id", "embedding", F.round(cos_q, 9).alias("cos_q"))
        .orderBy(F.desc("cos_q"), "vec_id")
        .limit(10)
    )
    md = (
        top10.select(
            F.posexplode(
                F.transform("embedding", lambda y: y.cast("double"))
            ).alias("pos", "val")
        )
        .groupBy("pos")
        .agg(F.round(F.avg("val"), 6).alias("mv"))
    )
    mv = md.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "mv"))),
            lambda s: s["mv"],
        ).alias("m")
    )
    x = q.crossJoin(F.broadcast(mv)).select(
        F.transform(
            F.zip_with("qv", "m", lambda a, b: a + F.lit(0.75) * b),
            lambda v: F.round(v, 6),
        ).alias("xv")
    )
    cos_x = cosine(F.col("embedding"), F.col("xv"))
    final = (
        emb.filter(F.col("vec_id") != 1)
        .crossJoin(F.broadcast(x))
        .select("vec_id", F.round(cos_x, 9).alias("cos9"))
        .orderBy(F.desc("cos9"), "vec_id")
        .limit(10)
    )
    ranked = rank_small_frame(
        final,
        F.struct((-F.col("cos9")).alias("kneg"), F.col("vec_id").alias("kid")),
        rank_col="rk",
    )
    initial = top10.select("vec_id", F.lit(1).alias("hit"))
    return ranked.join(F.broadcast(initial), "vec_id", "left").select(
        "vec_id",
        F.round("cos9", 6).alias("cos_sim"),
        F.col("rk").cast("long").alias("rk"),
        F.coalesce("hit", F.lit(0)).cast("long").alias("was_in_initial"),
    )


_SM27_IP = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * q.qv[CAST(i AS INT)]), 'sum'), 9)"""

_SM27_BOUND = """round(
               sqrt(list_aggregate(list_transform(e.embedding,
                        y -> CAST(y AS DOUBLE) * y), 'sum'))
               * sqrt(list_aggregate(list_transform(q.qv,
                        y -> y * y), 'sum')), 6)"""


@REGISTRY.register(
    "sm27_mips_norm_pruned",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, y -> CAST(y AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 2
    ),
    s AS (
      SELECT e.vec_id, {_SM27_IP} AS ip9, {_SM27_BOUND} AS norm_bound
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 2
    )
    SELECT vec_id, round(ip9, 6) AS ip, norm_bound
    FROM s ORDER BY ip9 DESC, vec_id LIMIT 10
    """,
    doc="Exact maximum-inner-product top-10 (MIPS — the retrieval scoring "
    "mode un-normalized two-tower models use) with Cauchy-Schwarz "
    "norm-bound pruning, the LEMP/FEXIPRO family's admissible filter: "
    "a deterministic 1/16 sample (vec_id % 16 == 2) yields a lower "
    "bound on the 10th-best inner product, and every vector whose "
    "||x||*||q|| upper bound falls below it (minus a 1e-6 absolute "
    "slack that absorbs double-rounding on the bound side) is skipped "
    "before its full dot product is evaluated. The bound is admissible "
    "— ip(x,q) <= ||x||*||q|| — so the pruned top-10 is IDENTICAL to "
    "brute force, which is exactly what the oracle checks: the DuckDB "
    "twin is the unpruned scan, and a hash match PROVES the pruning "
    "dropped no true neighbor. Plan: two broadcast-query map-only "
    "passes (sample pass -> 1-row threshold broadcast -> bounded pass), "
    "each ending in TakeOrderedAndProject; the corpus never shuffles. "
    "At 100 TB the second pass evaluates the cheap two-norm first and "
    "the full d-dim dot only on survivors — the norm column would be "
    "precomputed/stored in a production index, turning the scan into "
    "a one-column filter for most of the corpus.",
    tags=("similarity", "llm", "mips", "topk", "pruning"),
)
def sm27(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 2).select(
        F.transform("embedding", lambda y: y.cast("double")).alias("qv")
    )
    ed = F.transform("embedding", lambda y: y.cast("double"))
    ip = F.aggregate(
        F.zip_with(ed, F.col("qv"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    norm_e = F.sqrt(F.aggregate(ed, F.lit(0.0), lambda acc, x: acc + x * x))
    norm_q = F.sqrt(
        F.aggregate(F.col("qv"), F.lit(0.0), lambda acc, x: acc + x * x)
    )
    sample = (
        emb.filter((F.col("vec_id") % 16 == 2) & (F.col("vec_id") != 2))
        .crossJoin(F.broadcast(q))
        .select(F.round(ip, 9).alias("ip9"))
        .orderBy(F.desc("ip9"))
        .limit(10)
    )
    thr = sample.agg(F.min("ip9").alias("thr"))
    final = (
        emb.filter(F.col("vec_id") != 2)
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(thr))
        .withColumn("norm_bound", F.round(norm_e * norm_q, 6))
        .filter(
            F.col("norm_bound")
            >= F.coalesce(F.col("thr"), F.lit(-1e300)) - F.lit(1e-6)
        )
        .select("vec_id", F.round(ip, 9).alias("ip9"), "norm_bound")
        .orderBy(F.desc("ip9"), "vec_id")
        .limit(10)
    )
    return final.select(
        "vec_id", F.round("ip9", 6).alias("ip"), "norm_bound"
    )


_SM28_COS = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * q.qv[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          y -> CAST(y AS DOUBLE) * y), 'sum'))
                  * sqrt(list_aggregate(list_transform(q.qv,
                          y -> y * y), 'sum'))), 9)"""


@REGISTRY.register(
    "sm28_hard_negative_mining",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS q_label,
             list_transform(embedding, y -> CAST(y AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id IN (1, 2, 3, 4, 5)
    )
    SELECT q.query_id, e.vec_id AS neg_id,
           CAST(e.label AS BIGINT) AS neg_label,
           round({_SM28_COS}, 6) AS cos_sim,
           CAST(row_number() OVER (PARTITION BY q.query_id
                                   ORDER BY {_SM28_COS} DESC, e.vec_id)
                AS BIGINT) AS rk
    FROM embeddings e CROSS JOIN q
    WHERE e.label <> q.q_label
    QUALIFY rk <= 3
    """,
    doc="Hard-negative mining for contrastive / two-tower training: for "
    "each of 5 fixed probe queries (vec_id 1-5), the top-3 most-similar "
    "vectors carrying a DIFFERENT label — the near-miss negatives that "
    "produce informative gradients, mined exactly. One broadcast-query "
    "TakeOrdered pass per probe (the sm26 idiom: the query row, its "
    "label and vector, broadcasts; the corpus is scanned map-only with "
    "the cross-label filter fused into the scan; TakeOrderedAndProject "
    "keeps 3 rows per partition), ranks attached by rank_small_frame "
    "on each proven-3-row slice, then a 15-row union. Cosines round to "
    "9 dp before the rank decision (house determinism barrier). At "
    "100 TB this shape serves a bounded probe set; for mining over ALL "
    "anchors the documented path is the IVF tier (sm05/dd12): assign "
    "anchors and corpus to cells once, mine within cell x cross-label "
    "— the same exchange the semantic-dedup family already runs.",
    tags=("similarity", "llm", "contrastive", "hard-negatives", "topk"),
)
def sm28(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    from pyconnect_spark.operators.rankops import rank_small_frame

    emb = t(spark, sf_dir, "embeddings")
    passes = []
    for qid in (1, 2, 3, 4, 5):
        qi = emb.filter(F.col("vec_id") == qid).select(
            F.col("label").alias("q_label"),
            F.transform("embedding", lambda y: y.cast("double")).alias("qv"),
        )
        cos = cosine(F.col("embedding"), F.col("qv"))
        top3 = (
            emb.crossJoin(F.broadcast(qi))
            .filter(F.col("label") != F.col("q_label"))
            .select(
                F.col("vec_id").alias("neg_id"),
                F.col("label").cast("long").alias("neg_label"),
                F.round(cos, 9).alias("cos9"),
            )
            .orderBy(F.desc("cos9"), "neg_id")
            .limit(3)
        )
        ranked = rank_small_frame(
            top3,
            F.struct((-F.col("cos9")).alias("kneg"), F.col("neg_id").alias("kid")),
            rank_col="rk",
        )
        passes.append(
            ranked.select(
                F.lit(qid).cast("long").alias("query_id"),
                "neg_id",
                "neg_label",
                F.round("cos9", 6).alias("cos_sim"),
                F.col("rk").cast("long").alias("rk"),
            )
        )
    return reduce(DataFrame.unionByName, passes)


@REGISTRY.register(
    "sm29_diag_lda_probe",
    oracle="""
    WITH e AS (
      SELECT vec_id, label % 2 AS cls, embedding FROM embeddings
    ),
    d AS (
      SELECT cls, unnest(range(1, len(embedding) + 1)) AS idx,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM e
    ),
    st AS (
      SELECT idx, cls, COUNT(*) AS n,
             round(AVG(v), 6) AS m, round(VAR_SAMP(v), 6) AS s2
      FROM d GROUP BY 1, 2
    ),
    piv AS (
      SELECT idx,
             MAX(CASE WHEN cls = 0 THEN m END) AS m0,
             MAX(CASE WHEN cls = 1 THEN m END) AS m1,
             MAX(CASE WHEN cls = 0 THEN s2 END) AS s20,
             MAX(CASE WHEN cls = 1 THEN s2 END) AS s21,
             MAX(CASE WHEN cls = 0 THEN n END) AS n0,
             MAX(CASE WHEN cls = 1 THEN n END) AS n1
      FROM st GROUP BY 1
    ),
    wv AS (
      SELECT idx, m0, m1,
             round((m1 - m0)
                   / (round(((n0 - 1) * s20 + (n1 - 1) * s21)
                            / (n0 + n1 - 2), 9) + 1e-6), 6) AS w
      FROM piv
    ),
    wl AS (SELECT list(w ORDER BY idx) AS wlist FROM wv),
    cth AS (
      SELECT CAST(SUM(CAST(round(w * (m0 + m1) / 2, 9) AS DECIMAL(20, 9)))
                  AS DOUBLE) AS c
      FROM wv
    ),
    scored AS (
      SELECT e.cls,
             list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                 i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                      * wl.wlist[CAST(i AS INT)]), 'sum') AS s
      FROM e CROSS JOIN wl
    )
    SELECT CAST(cls AS BIGINT) AS cls,
           CAST(CASE WHEN round(s - cth.c, 9) > 0 THEN 1 ELSE 0 END
                AS BIGINT) AS pred,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(AVG(s), 6) AS mean_score
    FROM scored CROSS JOIN cth
    GROUP BY 1, 2, cth.c
    ORDER BY 1, 2
    """,
    doc="Linear-probe evaluation of the embedding space — the standard "
    "'are these representations any good?' check run on every learned "
    "embedding table, here as closed-form diagonal LDA (Gaussian "
    "Naive Bayes probe, the no-iteration member of the linear-probe "
    "family): binary target label%2, per-dimension class means and "
    "variances (6 dp barrier) give w_d = (m1-m0)/(pooled var + 1e-6), "
    "every vector scores w.x against the midpoint threshold (DECIMAL-"
    "exact sum of 9 dp terms), and the readout is the 2x2 confusion "
    "matrix with mean scores. Fully oracle-replayed: the weight "
    "vector assembles in dimension order in both engines and the dot "
    "products accumulate left-to-right. Plan: one posexplode agg to "
    "(dim, class) stats — 2d rows — the d-row weight table folds to "
    "ONE broadcast array + one broadcast scalar, scoring is a map-"
    "only pass, the confusion agg is 4 rows. At 100 TB this is two "
    "linear passes and a KB broadcast; upgrading to full-covariance "
    "LDA or ridge probes swaps the diagonal fold for x12's Gram-"
    "matrix pattern (d^2 agg cells), same shape.",
    tags=("similarity", "llm", "probe", "lda", "eval"),
)
def sm29(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    e = emb.select(
        (F.col("label") % 2).alias("cls"),
        "embedding",
    )
    d = e.select(
        "cls",
        F.posexplode(
            F.transform("embedding", lambda y: y.cast("double"))
        ).alias("pos", "v"),
    )
    st = d.groupBy("pos", "cls").agg(
        F.count("*").alias("n"),
        F.round(F.avg("v"), 6).alias("m"),
        F.round(F.var_samp("v"), 6).alias("s2"),
    )
    piv = st.groupBy("pos").agg(
        F.max(F.when(F.col("cls") == 0, F.col("m"))).alias("m0"),
        F.max(F.when(F.col("cls") == 1, F.col("m"))).alias("m1"),
        F.max(F.when(F.col("cls") == 0, F.col("s2"))).alias("s20"),
        F.max(F.when(F.col("cls") == 1, F.col("s2"))).alias("s21"),
        F.max(F.when(F.col("cls") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("cls") == 1, F.col("n"))).alias("n1"),
    )
    vp = F.round(
        ((F.col("n0") - 1) * F.col("s20") + (F.col("n1") - 1) * F.col("s21"))
        / (F.col("n0") + F.col("n1") - 2),
        9,
    )
    wv = piv.select(
        "pos",
        "m0",
        "m1",
        F.round((F.col("m1") - F.col("m0")) / (vp + 1e-6), 6).alias("w"),
    )
    wl = wv.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))),
            lambda s: s["w"],
        ).alias("wlist")
    )
    cth = wv.agg(
        F.sum(
            F.round(F.col("w") * (F.col("m0") + F.col("m1")) / 2, 9).cast(
                "decimal(20,9)"
            )
        )
        .cast("double")
        .alias("c")
    )
    ed = F.transform("embedding", lambda y: y.cast("double"))
    s = F.aggregate(
        F.zip_with(ed, F.col("wlist"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        e.crossJoin(F.broadcast(wl))
        .crossJoin(F.broadcast(cth))
        .select(
            F.col("cls").cast("long").alias("cls"),
            s.alias("s"),
            F.col("c"),
        )
    )
    return (
        scored.select(
            "cls",
            F.when(F.round(F.col("s") - F.col("c"), 9) > 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("pred"),
            "s",
        )
        .groupBy("cls", "pred")
        .agg(
            F.count("*").cast("long").alias("n"),
            F.round(F.avg("s"), 6).alias("mean_score"),
        )
        .orderBy("cls", "pred")
    )


_SM30_COS = """round(
               list_aggregate(list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(a.embedding,
                          y -> CAST(y AS DOUBLE) * y), 'sum'))
                  * sqrt(list_aggregate(list_transform(b.embedding,
                          y -> CAST(y AS DOUBLE) * y), 'sum'))), 9)"""


@REGISTRY.register(
    "sm30_reciprocal_nn_pairs",
    oracle=f"""
    WITH nn AS (
      SELECT a.vec_id AS src, b.vec_id AS dst, {_SM30_COS} AS c9,
             row_number() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SM30_COS} DESC, b.vec_id) AS rn
      FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
      QUALIFY rn = 1
    )
    SELECT x.src AS vec_a, x.dst AS vec_b, round(x.c9, 6) AS cos_sim
    FROM nn x JOIN nn y ON x.dst = y.src AND y.dst = x.src
    WHERE x.src < x.dst
    ORDER BY x.src
    """,
    doc="Reciprocal nearest-neighbor (RNN) consensus pairs: (a, b) where "
    "b is a's top-1 neighbor AND a is b's — the mutual-best-match "
    "criterion unsupervised alignment (MUSE/VecMap), bitext mining and "
    "high-precision semantic dedup all use, because one-directional "
    "top-1 is hub-polluted (sm23 measures exactly that pathology; RNN "
    "is its standard antidote). Exact audit grain on sm23's Arrow-BLAS "
    "pattern (round-6 verdict task #2; the interpreted zip_with "
    "all-pairs join this replaces benched >20 min at 10x): the corpus "
    "matrix rides an sc.broadcast and each Arrow batch computes its "
    "query block's top-1 as ONE numpy matmul with a 9 dp rounding "
    "barrier BEFORE the (cos DESC, vec_id) rank decision, so BLAS "
    "accumulation order can't flip a rank boundary vs the oracle's "
    "left-to-right fold; the mutuality self-join on (src,dst) is "
    "unchanged. Plan: at 100 TB swap in the IVF/LSH candidate "
    "generators (sm05/sm03) for the per-batch block — argmax within "
    "candidates and the (src,dst)-keyed equi-join are unchanged.",
    tags=("similarity", "llm", "rnn", "mutual-nn", "dedup"),
)
def sm30(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    # audit tier (loud cap, sm23 broadcast-matmul donor pattern)
    bc = spark.sparkContext.broadcast(audit_corpus_matrix(emb))

    def top1_batches(it):
        ids, mat, nrm = bc.value
        for pdf in it:
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            qn = np.sqrt((X * X).sum(axis=1))
            S = round9_half_up((X @ mat.T) / (qn[:, None] * nrm[None, :]))
            qids = pdf["vec_id"].to_numpy()
            out_s, out_d, out_c = [], [], []
            for i, qid in enumerate(qids):
                s = S[i].copy()
                s[ids == qid] = -np.inf  # exclude self
                j = np.lexsort((ids, -s))[0]  # rank by (-cos, vec_id)
                out_s.append(qid)
                out_d.append(ids[j])
                out_c.append(s[j])
            yield pd.DataFrame({"src": out_s, "dst": out_d, "c9": out_c})

    nn = emb.mapInPandas(top1_batches, schema="src long, dst long, c9 double")
    x = nn.alias("x")
    y = nn.alias("y")
    return (
        x.join(
            y,
            (F.col("x.dst") == F.col("y.src"))
            & (F.col("y.dst") == F.col("x.src")),
        )
        .filter(F.col("x.src") < F.col("x.dst"))
        .select(
            F.col("x.src").alias("vec_a"),
            F.col("x.dst").alias("vec_b"),
            F.round(F.col("x.c9"), 6).alias("cos_sim"),
        )
        .orderBy("vec_a")
    )


_SM30B_N_PROBE = 4


@REGISTRY.register(
    "sm30b_reciprocal_nn_scaled",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    pair AS (
      SELECT p.vec_id AS src, c.vec_id AS dst, {_IVF_PAIR_COS} AS c9
      FROM sscored p
      JOIN seedcells c ON c.cell = p.srk AND c.vec_id <> p.vec_id
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings q ON q.vec_id = p.vec_id
      WHERE p.rk <= {_SM30B_N_PROBE}
    ),
    nn AS (
      SELECT src, dst, c9,
             row_number() OVER (PARTITION BY src
                                ORDER BY c9 DESC, dst) AS rn
      FROM pair QUALIFY rn = 1
    )
    SELECT x.src AS vec_a, x.dst AS vec_b, round(x.c9, 6) AS cos_sim
    FROM nn x JOIN nn y ON x.dst = y.src AND y.dst = x.src
    WHERE x.src < x.dst
    ORDER BY x.src
    """,
    doc="Reciprocal nearest-neighbor pairs, SCALE tier — the production "
    "shape of sm30 (round-7 verdict task #2, the dd09->dd12 "
    "precedent): each vector's top-1 is the argmax over its IVF "
    "CANDIDATES — the vectors assigned to its n_probe=4 nearest cells "
    "of the auto-sized ceil(sqrt(N)) seed quantizer (seed_ivf_cells/"
    "_SEED_IVF_CTES, the sm05/sm24/dd12 shared index) — then the same "
    "(src,dst)-keyed mutuality self-join. The corpus matrix is NEVER "
    "collected to the driver and no all-pairs join exists: per-query "
    "candidate count is ~n_probe*sqrt(N), so total pair evaluations "
    "are O(N^1.5) instead of N^2, and at 100 TB the corpus is written "
    "partitioned by cell so the candidate join is shuffle-free. "
    "Because the IVF assignment is a JVM fold DuckDB replays "
    "bit-for-bit, this scale tier is FULLY oracle-checked; "
    "tests/test_llm_ops.py pins its pair recall against exact sm30 on "
    "the fixtures. 9-dp rounding barrier before the (cos DESC, "
    "vec_id) rank decision, the repo-wide ulp convention.",
    tags=("similarity", "llm", "rnn", "mutual-nn", "ann", "scale-tier"),
)
def sm30b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    ranked = seed_ivf_cells(spark, sf_dir)
    corpus = ranked.filter(F.col("rk") == 1).select(
        "vec_id",
        "embedding",
        "cell",
        vector_norm(F.col("embedding")).alias("nrm"),
    )
    probes = ranked.filter(F.col("rk") <= _SM30B_N_PROBE).select(
        F.col("vec_id").alias("q_id"),
        F.col("cell").alias("q_cell"),
        F.col("embedding").alias("q_emb"),
        vector_norm(F.col("embedding")).alias("q_nrm"),
    )
    # Both sides of the cell-keyed candidate join repartitioned on the
    # join key (no-op at scale): the SMJ reuses the explicit exchanges,
    # which AQE's byte-based coalescing leaves alone, so the interpreted
    # per-pair cosine folds downstream keep >= cores tasks (§2.5).
    corpus = spread_on(corpus, emb, "cell")
    probes = spread_on(probes, emb, "q_cell")
    cos = pair_dot(F.col("embedding"), F.col("q_emb")) / (
        F.col("nrm") * F.col("q_nrm")
    )
    pair = corpus.join(
        probes,
        (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
    ).select(
        F.col("q_id").alias("src"),
        F.col("vec_id").alias("dst"),
        F.round(cos, 9).alias("c9"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("c9"), "dst")
    nn = (
        pair.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("src", "dst", "c9")
    )
    x = nn.alias("x")
    y = nn.alias("y")
    return (
        x.join(
            y,
            (F.col("x.dst") == F.col("y.src"))
            & (F.col("y.dst") == F.col("x.src")),
        )
        .filter(F.col("x.src") < F.col("x.dst"))
        .select(
            F.col("x.src").alias("vec_a"),
            F.col("x.dst").alias("vec_b"),
            F.round(F.col("x.c9"), 6).alias("cos_sim"),
        )
        .orderBy("vec_a")
    )


def _sm31_d2(e: str, vlist: str) -> str:
    """DuckDB squared-L2 between embedding column `e` and a DOUBLE list
    expression `vlist`, left-to-right — mirrors the zip_with fold."""
    return f"""list_aggregate(list_transform(range(1, len({e}) + 1),
        i -> (CAST({e}[CAST(i AS INT)] AS DOUBLE) - {vlist}[CAST(i AS INT)])
             * (CAST({e}[CAST(i AS INT)] AS DOUBLE)
                - {vlist}[CAST(i AS INT)])), 'sum')"""


@REGISTRY.register(
    "sm31_farthest_first_coreset",
    oracle=f"""
    WITH s1 AS (
      SELECT vec_id, list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
      FROM embeddings
      ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
    ),
    c2 AS (
      SELECT e.vec_id, list_transform(e.embedding, y -> CAST(y AS DOUBLE)) AS v,
             round({_sm31_d2('e.embedding', 's1.v')}, 9) AS mind
      FROM embeddings e, s1 WHERE e.vec_id <> s1.vec_id
      ORDER BY mind DESC, e.vec_id LIMIT 1
    ),
    c3 AS (
      SELECT e.vec_id, list_transform(e.embedding, y -> CAST(y AS DOUBLE)) AS v,
             least(round({_sm31_d2('e.embedding', 's1.v')}, 9),
                   round({_sm31_d2('e.embedding', 'c2.v')}, 9)) AS mind
      FROM embeddings e, s1, c2
      WHERE e.vec_id <> s1.vec_id AND e.vec_id <> c2.vec_id
      ORDER BY mind DESC, e.vec_id LIMIT 1
    ),
    c4 AS (
      SELECT e.vec_id, list_transform(e.embedding, y -> CAST(y AS DOUBLE)) AS v,
             least(round({_sm31_d2('e.embedding', 's1.v')}, 9),
                   round({_sm31_d2('e.embedding', 'c2.v')}, 9),
                   round({_sm31_d2('e.embedding', 'c3.v')}, 9)) AS mind
      FROM embeddings e, s1, c2, c3
      WHERE e.vec_id NOT IN (s1.vec_id, c2.vec_id, c3.vec_id)
      ORDER BY mind DESC, e.vec_id LIMIT 1
    ),
    c5 AS (
      SELECT e.vec_id, list_transform(e.embedding, y -> CAST(y AS DOUBLE)) AS v,
             least(round({_sm31_d2('e.embedding', 's1.v')}, 9),
                   round({_sm31_d2('e.embedding', 'c2.v')}, 9),
                   round({_sm31_d2('e.embedding', 'c3.v')}, 9),
                   round({_sm31_d2('e.embedding', 'c4.v')}, 9)) AS mind
      FROM embeddings e, s1, c2, c3, c4
      WHERE e.vec_id NOT IN (s1.vec_id, c2.vec_id, c3.vec_id, c4.vec_id)
      ORDER BY mind DESC, e.vec_id LIMIT 1
    )
    SELECT CAST(1 AS BIGINT) AS rk, vec_id, 0.0 AS radius FROM s1
    UNION ALL SELECT 2, vec_id, round(mind, 6) FROM c2
    UNION ALL SELECT 3, vec_id, round(mind, 6) FROM c3
    UNION ALL SELECT 4, vec_id, round(mind, 6) FROM c4
    UNION ALL SELECT 5, vec_id, round(mind, 6) FROM c5
    ORDER BY rk
    """,
    doc="Farthest-first traversal (Gonzalez's 2-approximate k-center) — "
    "the greedy coreset selector data-curation pipelines use to pick "
    "maximally-diverse exemplars (and the classic k-means++ "
    "deterministic cousin; dd29 balances WITHIN clusters, this picks "
    "the frontier BETWEEN them): start from the md5-ranked seed "
    "(sm25's init idiom), then 4x pick the vector maximizing its "
    "min squared-L2 distance to everything chosen so far. Emits "
    "(order, vec_id, radius-at-selection) — the radius column is the "
    "k-center coverage guarantee curve, the number a curation run "
    "reports as 'how much of the space do k exemplars cover'. "
    "Distances round to 9 dp before min/argmax (house barrier); ties "
    "break on vec_id; the DuckDB twin unrolls all four greedy steps "
    "as chained CTEs. Plan: k-1 map-only passes, each broadcasting "
    "the <=k chosen rows and ending in TakeOrdered(1) — at 100 TB "
    "each greedy step is one linear pass (the standard trade: k "
    "passes for the 2-approximation guarantee; GonzalezFL/streaming "
    "variants trade guarantee for passes).",
    tags=("similarity", "llm", "coreset", "k-center", "curation"),
)
def sm31(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    emb_v = t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
        F.md5(F.col("vec_id").cast("string")).alias("h"),
    )
    s1 = (
        emb_v.orderBy("h", "vec_id")
        .limit(1)
        .select(
            F.lit(1).cast("long").alias("rk"),
            "vec_id",
            F.col("v").alias("cvec"),
            F.lit(0.0).alias("radius"),
        )
        # each greedy step's 1-row result is pinned (lazy localCheckpoint,
        # the connected_components idiom) — without it step k's plan
        # re-embeds every earlier step's subtree exponentially
        .localCheckpoint(eager=False)
    )
    chosen = [s1]
    d2 = F.aggregate(
        F.zip_with("v", "cvec", lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    for k in range(2, 6):
        seeds = reduce(
            DataFrame.unionByName,
            [c.select("vec_id", "cvec") for c in chosen],
        )
        nxt = (
            emb_v.join(
                seeds.select(F.col("vec_id").alias("_sid")),
                F.col("vec_id") == F.col("_sid"),
                "left_anti",
            )
            .crossJoin(F.broadcast(seeds.select("cvec")))
            .select("vec_id", "v", F.round(d2, 9).alias("d9"))
            .groupBy("vec_id")
            .agg(F.min("d9").alias("mind"), F.first("v").alias("v"))
            .orderBy(F.desc("mind"), "vec_id")
            .limit(1)
            .select(
                F.lit(k).cast("long").alias("rk"),
                "vec_id",
                F.col("v").alias("cvec"),
                F.col("mind").alias("radius"),
            )
            .localCheckpoint(eager=False)
        )
        chosen.append(nxt)
    out = reduce(
        DataFrame.unionByName,
        [c.select("rk", "vec_id", F.round("radius", 6).alias("radius")) for c in chosen],
    )
    return out.orderBy("rk")


_SM32_DIMS = (64, 32, 16, 8)


def _sm32_cos(prefix: int) -> str:
    return f"""round(
               list_aggregate(list_transform(range(1, {prefix} + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * q.qv[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform(range(1, {prefix} + 1),
                          i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                               * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)),
                       'sum'))
                  * sqrt(list_aggregate(list_transform(range(1, {prefix} + 1),
                          i -> q.qv[CAST(i AS INT)] * q.qv[CAST(i AS INT)]),
                       'sum'))), 9)"""


@REGISTRY.register(
    "sm32_matryoshka_recall",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, y -> CAST(y AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 3
    ),
    {", ".join(
        f'''t{d} AS (
      SELECT e.vec_id FROM embeddings e CROSS JOIN q
      WHERE e.vec_id <> 3
      ORDER BY {_sm32_cos(d)} DESC, e.vec_id LIMIT 5
    )''' for d in _SM32_DIMS
    )}
    {"".join(
        f'''
    SELECT CAST({d} AS BIGINT) AS n_dims,
           CAST((SELECT COUNT(*) FROM t{d} a JOIN t64 b
                 ON a.vec_id = b.vec_id) AS BIGINT) AS n_overlap,
           round((SELECT COUNT(*) FROM t{d} a JOIN t64 b
                  ON a.vec_id = b.vec_id) / 5.0, 6)
               AS recall_vs_full
    {"UNION ALL" if d != _SM32_DIMS[-1] else ""}''' for d in _SM32_DIMS
    )}
    ORDER BY n_dims DESC
    """,
    doc="Matryoshka / truncated-dimension retrieval audit — the "
    "evaluation run before shipping MRL-style embeddings at a reduced "
    "dimension (store d/8 of the bytes, keep how much of the "
    "ranking?): the probe query's exact top-5 under prefix-truncated "
    "cosines (64/32/16/8 dims) is compared against the full-dimension "
    "top-5, reporting overlap and recall per truncation level — the "
    "memory-vs-recall curve that sizes a vector store (sm07's int8 "
    "audit asks the same question about precision; this asks it about "
    "WIDTH; JL projection sm14 is the dense-rotation alternative). "
    "Each tier is the sm01 broadcast-query TakeOrdered shape over a "
    "PREFIX of the stored array — column pruning still reads the full "
    "vector here, but a production Matryoshka store lays prefixes out "
    "as separate columns so the scan itself shrinks; 9 dp barrier "
    "before every rank decision. At 100 TB: four map-only passes (or "
    "one pass emitting four scores), KB-sized overlap joins after.",
    tags=("similarity", "llm", "matryoshka", "recall", "truncation"),
)
def sm32(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 3).select(
        F.transform("embedding", lambda y: y.cast("double")).alias("qv")
    )

    def top5(prefix: int) -> DataFrame:
        ep = F.slice(
            F.transform("embedding", lambda y: y.cast("double")), 1, prefix
        )
        qp = F.slice(F.col("qv"), 1, prefix)
        dot = F.aggregate(
            F.zip_with(ep, qp, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        ne = F.sqrt(F.aggregate(ep, F.lit(0.0), lambda acc, x: acc + x * x))
        nq = F.sqrt(F.aggregate(qp, F.lit(0.0), lambda acc, x: acc + x * x))
        return (
            emb.filter(F.col("vec_id") != 3)
            .crossJoin(F.broadcast(q))
            .select("vec_id", F.round(dot / (ne * nq), 9).alias("c9"))
            .orderBy(F.desc("c9"), "vec_id")
            .limit(5)
            .select("vec_id")
        )

    full = top5(_SM32_DIMS[0]).localCheckpoint(eager=False)
    outs = []
    for d in _SM32_DIMS:
        td = full if d == _SM32_DIMS[0] else top5(d)
        ov = td.join(full, "vec_id").agg(F.count("*").alias("n_overlap"))
        outs.append(
            ov.select(
                F.lit(d).cast("long").alias("n_dims"),
                F.col("n_overlap").cast("long").alias("n_overlap"),
                F.round(F.col("n_overlap") / 5.0, 6).alias("recall_vs_full"),
            )
        )
    return reduce(DataFrame.unionByName, outs).orderBy(F.desc("n_dims"))


_SM33_LEVELS = (1, 2, 4, 8)

_SM33_PAIR_COS = """round(
               list_aggregate(list_transform(range(1, len(e.embedding) + 1),
                   i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(e.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(q.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))), 9)"""


@REGISTRY.register(
    "sm33_probe_recall_curve",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    probes AS (
      SELECT vec_id AS q_id, srk AS q_cell, rk AS prk FROM sscored
      WHERE rk <= {max(_SM33_LEVELS)} AND vec_id < 5
    ),
    cand AS (
      SELECT p.q_id, c.vec_id, p.prk, {_SM33_PAIR_COS} AS cos9
      FROM probes p
      JOIN seedcells c ON c.cell = p.q_cell AND c.vec_id <> p.q_id
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings q ON q.vec_id = p.q_id
    ),
    truth AS (
      SELECT * FROM (
        SELECT q.vec_id AS q_id, e.vec_id, {_SM33_PAIR_COS} AS cos9,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SM33_PAIR_COS} DESC, e.vec_id) AS rk
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) WHERE rk <= 5
    ),
    lv AS (SELECT unnest(ARRAY{list(_SM33_LEVELS)}) AS n_probe),
    got AS (
      SELECT * FROM (
        SELECT l.n_probe, c.q_id, c.vec_id,
               row_number() OVER (PARTITION BY l.n_probe, c.q_id
                                  ORDER BY c.cos9 DESC, c.vec_id) AS rk
        FROM lv l JOIN cand c ON c.prk <= l.n_probe
      ) WHERE rk <= 5
    ),
    ncand AS (
      SELECT l.n_probe, COUNT(*) AS n_candidates
      FROM lv l JOIN cand c ON c.prk <= l.n_probe GROUP BY 1
    ),
    hits AS (
      SELECT g.n_probe, CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits
      FROM got g LEFT JOIN truth t
        ON t.q_id = g.q_id AND t.vec_id = g.vec_id
      GROUP BY 1
    )
    SELECT CAST(h.n_probe AS BIGINT) AS n_probe,
           cnt.n_cells,
           round(h.n_probe * 1.0 / cnt.n_cells, 6) AS cells_scanned_frac,
           CAST(n.n_candidates AS BIGINT) AS n_candidates,
           round(h.n_hits / 25.0, 6) AS recall_at_5
    FROM hits h JOIN ncand n USING (n_probe) CROSS JOIN cnt
    ORDER BY n_probe
    """,
    doc="IVF probe-count tuning curve — recall@5 vs exact ground truth at "
    f"n_probe in {_SM33_LEVELS}, with candidate volume and the fraction "
    "of cells scanned per level: THE production knob for any IVF "
    "deployment (sm05 fixed n_probe=8 after exactly this sweep was run "
    "by hand; this query makes the sweep a declared, hash-checked "
    "artifact a pipeline can re-run when the corpus drifts). One shared "
    "auto-sized seed quantizer (ceil(sqrt(N)) cells, the FAISS nlist "
    "convention), ONE candidate-cosine computation carrying each "
    "candidate's probe rank — a candidate reached via the p-th probed "
    "cell participates in every level >= p, so the four levels are "
    "filters over one frame, never four index scans; per-(level, query) "
    "top-5 ranks partition by their own keys, and ground truth is one "
    "broadcast-query exact pass (sm01's shape). All cosines cross the "
    "9 dp barrier before ranking; recall and candidate counts are exact "
    "integers with single divisions. At 100 TB each level's candidate "
    "set is cell-bounded (the corpus is partitioned by cell, a query "
    "touches n_probe partitions) and the curve runs on a deterministic "
    "query sample exactly as here.",
    tags=("similarity", "llm", "ann", "ivf", "tuning", "recall"),
)
def sm33(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    n_cells = math.ceil(math.sqrt(emb.count()))
    ranked = seed_ivf_cells_frame(emb, n_cells).localCheckpoint(eager=False)
    cells = ranked.filter(F.col("rk") == 1).select("vec_id", "cell")
    probes = ranked.filter(
        (F.col("rk") <= max(_SM33_LEVELS)) & (F.col("vec_id") < 5)
    ).select(F.col("vec_id").alias("q_id"), F.col("cell").alias("q_cell"), F.col("rk").alias("prk"))
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    cand = (
        cells.join(
            F.broadcast(probes),
            (F.col("cell") == F.col("q_cell")) & (F.col("vec_id") != F.col("q_id")),
        )
        .join(F.broadcast(q_emb), "q_id")
        .join(emb, "vec_id")
        .select("q_id", "vec_id", "prk", F.round(sim, 9).alias("cos9"))
        .localCheckpoint(eager=False)
    )
    truth = (
        emb.join(F.broadcast(q_emb), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(sim, 9).alias("cos9"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("cos9"), "vec_id")
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("q_id", "vec_id")
    )
    lv = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _SM33_LEVELS])).alias("n_probe")
    )
    leveled = lv.join(cand, F.col("prk") <= F.col("n_probe"))
    got = (
        leveled.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_probe", "q_id").orderBy(
                    F.desc("cos9"), "vec_id"
                )
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("n_probe", "q_id", "vec_id")
    )
    ncand = leveled.groupBy("n_probe").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    hits = (
        got.join(truth.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left")
        .groupBy("n_probe")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
    )
    return (
        hits.join(ncand, "n_probe")
        .select(
            F.col("n_probe").cast("long").alias("n_probe"),
            F.lit(n_cells).cast("long").alias("n_cells"),
            F.round(F.col("n_probe") * 1.0 / n_cells, 6).alias(
                "cells_scanned_frac"
            ),
            "n_candidates",
            F.round(F.col("n_hits") / 25.0, 6).alias("recall_at_5"),
        )
        .orderBy("n_probe")
    )


@REGISTRY.register(
    "sm34_anisotropy_audit",
    oracle="""
    WITH v AS (
      SELECT vec_id,
             list_transform(embedding, y -> CAST(y AS DOUBLE)) AS x
      FROM embeddings
    ),
    dims AS (
      SELECT v.vec_id, u.i, v.x[u.i] AS val
      FROM v, unnest(range(1, len(v.x) + 1)) AS u(i)
    ),
    cent AS (
      SELECT i,
             round(CAST(SUM(CAST(round(val, 9) AS DECIMAL(28,9)))
                        AS DOUBLE) / COUNT(*), 9) AS c
      FROM dims GROUP BY 1
    ),
    carr AS (
      SELECT list(c ORDER BY i) AS c FROM cent
    ),
    scored AS (
      SELECT v.vec_id,
             round(list_aggregate(list_transform(range(1, len(v.x) + 1),
                       i -> v.x[CAST(i AS INT)] * ca.c[CAST(i AS INT)]), 'sum')
                   / (sqrt(list_aggregate(list_transform(v.x,
                              y -> y * y), 'sum'))
                      * sqrt(list_aggregate(list_transform(ca.c,
                              y -> y * y), 'sum'))), 9) AS cc,
             round(sqrt(list_aggregate(list_transform(v.x, y -> y * y),
                                       'sum')), 9) AS nrm
      FROM v CROSS JOIN carr ca
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           round(CAST(SUM(CAST(cc AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_cos_to_centroid,
           round(CAST(SUM(CAST(round(cc * cc, 9) AS DECIMAL(28,9)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_sq_cos,
           round(MIN(nrm), 6) AS min_norm,
           round(CAST(SUM(CAST(nrm AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 6) AS mean_norm,
           round(MAX(nrm), 6) AS max_norm,
           round(MAX(nrm) / MIN(nrm), 6) AS norm_spread
    FROM scored
    """,
    doc="Embedding-space anisotropy / norm-health audit — the QA pass an "
    "embedding pipeline runs BEFORE trusting cosine math downstream "
    "(Ethayarajh 2019: contextual embedding spaces are anisotropic — "
    "vectors crowd a narrow cone, so raw cosines saturate and "
    "centering/whitening is needed; Timkey & van Schijndel 2021 trace "
    "it to rogue dimensions): mean cosine to the corpus centroid (the "
    "standard anisotropy estimate — near 0 is isotropic, near 1 is a "
    "cone), its second moment, and the norm distribution "
    "(min/mean/max, spread) that decides whether dot-product and "
    "cosine retrieval will even agree (sm27's MIPS pruning assumes "
    "bounded norm spread). Consumes the same per-dim posexplode agg "
    "as sm04/sm20 (d-row exchange), the centroid broadcasts as one "
    "array, and scoring is one map-only JVM fold pass; per-dim means "
    "and per-vector cosines cross the round-9/DECIMAL-sum barrier so "
    "the audit is hash-replayed end to end. At 100 TB: one d-row "
    "exchange + one linear scan — nothing quadratic, nothing "
    "collected.",
    tags=("similarity", "llm", "embeddings", "anisotropy", "audit", "qa"),
)
def sm34(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )
    dims = v.select(
        "vec_id", F.posexplode("x").alias("i0", "val")
    ).select("vec_id", (F.col("i0") + 1).alias("i"), "val")
    dec = "decimal(28,9)"
    cent = dims.groupBy("i").agg(
        F.round(
            F.sum(F.round(F.col("val"), 9).cast(dec)).cast("double")
            / F.count("*"),
            9,
        ).alias("c")
    )
    carr = cent.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("c")
    )
    dot = F.aggregate(
        F.zip_with("x", "c", lambda a, b: a * b),
        F.lit(0.0),
        lambda acc, y: acc + y,
    )
    nx = F.sqrt(
        F.aggregate("x", F.lit(0.0), lambda acc, y: acc + y * y)
    )
    nc = F.sqrt(
        F.aggregate("c", F.lit(0.0), lambda acc, y: acc + y * y)
    )
    scored = v.crossJoin(F.broadcast(carr)).select(
        F.round(dot / (nx * nc), 9).alias("cc"),
        F.round(nx, 9).alias("nrm"),
    )
    return scored.agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.round(
            F.sum(F.col("cc").cast(dec)).cast("double") / F.count("*"), 6
        ).alias("mean_cos_to_centroid"),
        F.round(
            F.sum(F.round(F.col("cc") * F.col("cc"), 9).cast(dec)).cast("double")
            / F.count("*"),
            6,
        ).alias("mean_sq_cos"),
        F.round(F.min("nrm"), 6).alias("min_norm"),
        F.round(
            F.sum(F.col("nrm").cast(dec)).cast("double") / F.count("*"), 6
        ).alias("mean_norm"),
        F.round(F.max("nrm"), 6).alias("max_norm"),
        F.round(F.max("nrm") / F.min("nrm"), 6).alias("norm_spread"),
    )


_SM35_CENT_CTES = """
    v AS (
      SELECT vec_id,
             list_transform(embedding, y -> CAST(y AS DOUBLE)) AS x
      FROM embeddings
    ),
    dims AS (
      SELECT v.vec_id, u.i, v.x[u.i] AS val
      FROM v, unnest(range(1, len(v.x) + 1)) AS u(i)
    ),
    cent AS (
      SELECT i,
             round(CAST(SUM(CAST(round(val, 9) AS DECIMAL(28,9)))
                        AS DOUBLE) / COUNT(*), 9) AS c
      FROM dims GROUP BY 1
    ),
    carr AS (SELECT list(c ORDER BY i) AS c FROM cent),
    cv AS (
      SELECT v.vec_id,
             list_transform(range(1, len(v.x) + 1),
                            i -> v.x[CAST(i AS INT)]
                                 - ca.c[CAST(i AS INT)]) AS x
      FROM v CROSS JOIN carr ca
    )"""


def _sm35_cos(a: str, b: str) -> str:
    return f"""round(
               list_aggregate(list_transform(range(1, len({a}.x) + 1),
                   i -> {a}.x[CAST(i AS INT)] * {b}.x[CAST(i AS INT)]), 'sum')
               / (sqrt(list_aggregate(list_transform({a}.x,
                          y -> y * y), 'sum'))
                  * sqrt(list_aggregate(list_transform({b}.x,
                          y -> y * y), 'sum'))), 9)"""


@REGISTRY.register(
    "sm35_mean_removal_shift",
    oracle=f"""
    WITH {_SM35_CENT_CTES},
    raw AS (
      SELECT * FROM (
        SELECT q.vec_id AS q_id, e.vec_id, {_sm35_cos('e', 'q')} AS c9,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_sm35_cos('e', 'q')} DESC,
                                           e.vec_id) AS rk
        FROM v q JOIN v e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) WHERE rk <= 5
    ),
    ctr AS (
      SELECT * FROM (
        SELECT q.vec_id AS q_id, e.vec_id, {_sm35_cos('e', 'q')} AS c9,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_sm35_cos('e', 'q')} DESC,
                                           e.vec_id) AS rk
        FROM cv q JOIN cv e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) WHERE rk <= 5
    )
    SELECT r.q_id,
           CAST(COUNT(c.vec_id) AS BIGINT) AS n_overlap,
           CAST(MAX(CASE WHEN r.rk = 1 THEN r.vec_id END) AS BIGINT)
               AS top1_raw,
           (SELECT MAX(CASE WHEN rk = 1 THEN vec_id END)
            FROM ctr WHERE ctr.q_id = r.q_id) AS top1_centered,
           CAST(CASE WHEN MAX(CASE WHEN r.rk = 1 THEN r.vec_id END) =
                  (SELECT MAX(CASE WHEN rk = 1 THEN vec_id END)
                   FROM ctr WHERE ctr.q_id = r.q_id)
                THEN 1 ELSE 0 END AS BIGINT) AS top1_same
    FROM raw r
    LEFT JOIN ctr c ON c.q_id = r.q_id AND c.vec_id = r.vec_id
    GROUP BY r.q_id
    ORDER BY r.q_id
    """,
    doc="Mean-removal retrieval-shift audit — the actionable follow-up to "
    "sm34's anisotropy number: re-rank each probe query's exact top-5 "
    "after subtracting the corpus centroid (the standard 'all-but-the-"
    "mean' anisotropy correction: Mu & Viswanath 2018 drop the mean "
    "and top PCs; this measures the mean term alone) and report "
    "per-query overlap with the RAW top-5 plus top-1 agreement. On an "
    "isotropic corpus (the fixture: sm34 reads mean cos 0.049) "
    "rankings barely move and the audit PROVES centering is a no-op "
    "cost; on a real anisotropic embedding table the overlap drop is "
    "exactly the retrieval shift the correction would cause — the "
    "go/no-go a pipeline owner needs before toggling centering in "
    "production. One d-row centroid agg (sm34's exchange, 9 dp "
    "DECIMAL-barrier per dim), two sm01-shaped broadcast-query exact "
    "passes (raw and centered) whose cosines cross the 9 dp barrier "
    "before ranking, 5-row overlap joins. At 100 TB: two linear scans "
    "+ one d-row exchange; the centered scan reuses the same "
    "cell-partitioned layout because centering is rank-preserving "
    "within a cell up to the audited shift.",
    tags=("similarity", "llm", "anisotropy", "centering", "audit"),
)
def sm35(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("x")
    )
    dims = v.select("vec_id", F.posexplode("x").alias("i0", "val")).select(
        "vec_id", (F.col("i0") + 1).alias("i"), "val"
    )
    cent = dims.groupBy("i").agg(
        F.round(
            F.sum(F.round(F.col("val"), 9).cast("decimal(28,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("c")
    )
    carr = cent.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("c")
    )
    cv = v.crossJoin(F.broadcast(carr)).select(
        "vec_id", F.zip_with("x", "c", lambda a, b: a - b).alias("x")
    )

    def top5(frame):
        q = frame.where(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("q_id"), F.col("x").alias("qx")
        )
        dot = F.aggregate(
            F.zip_with("x", "qx", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        )
        nx = F.sqrt(F.aggregate("x", F.lit(0.0), lambda acc, y: acc + y * y))
        nq = F.sqrt(F.aggregate("qx", F.lit(0.0), lambda acc, y: acc + y * y))
        scored = (
            frame.join(F.broadcast(q), F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id", F.round(dot / (nx * nq), 9).alias("c9"))
        )
        w = Window.partitionBy("q_id").orderBy(F.desc("c9"), "vec_id")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 5)
            .select("q_id", "vec_id", "rk")
        )

    raw = top5(v)
    ctr = top5(cv)
    top1 = raw.where(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("top1_raw")
    )
    top1c = ctr.where(F.col("rk") == 1).select(
        "q_id", F.col("vec_id").alias("top1_centered")
    )
    overlap = (
        raw.join(
            ctr.select("q_id", "vec_id").withColumn("hit", F.lit(1)),
            ["q_id", "vec_id"],
            "left",
        )
        .groupBy("q_id")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_overlap"))
    )
    return (
        overlap.join(top1, "q_id")
        .join(top1c, "q_id")
        .select(
            "q_id",
            "n_overlap",
            "top1_raw",
            "top1_centered",
            F.when(F.col("top1_raw") == F.col("top1_centered"), 1)
            .otherwise(0)
            .cast("long")
            .alias("top1_same"),
        )
        .orderBy("q_id")
    )


@REGISTRY.register(
    "sm36_cell_silhouette",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    two AS (
      SELECT vec_id,
             MAX(CASE WHEN rk = 1 THEN srk END) AS cell,
             MAX(CASE WHEN rk = 1 THEN cos9 END) AS c1,
             MAX(CASE WHEN rk = 2 THEN cos9 END) AS c2
      FROM sscored WHERE rk <= 2 GROUP BY vec_id
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           round(CAST(SUM(CAST(round(c1 - c2, 9) AS DECIMAL(20,9)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_margin,
           round(SUM(CASE WHEN round(c1 - c2, 9) < 0.05 THEN 1.0 ELSE 0 END)
                 / COUNT(*), 6) AS boundary_frac
    FROM two GROUP BY cell ORDER BY cell
    """,
    doc="Per-cell assignment-margin audit (a centroid-based silhouette): "
    "for every vector, margin = cos(own centroid) - cos(second-best "
    "centroid) — both already computed by the shared seed-IVF index "
    "build (sm05/sm24/dd12/_SEED_IVF_CTES), so the audit is nearly "
    "free. Low mean margin / high boundary fraction (< 0.05) says the "
    "Voronoi boundaries cut through the data: probe misses will be "
    "common and the IVF family degrades toward brute force. This is "
    "the MEASURED input to the index-choice gate docs/SCALE.md §2 "
    "prescribes (with sm24 balance and sm33's recall curve): the "
    "round-8 OPQ experiment showed rotation cannot rescue a "
    "structure-free corpus, so the decision must come from audits "
    "like this one, run per-corpus before committing a cell layout. "
    "Plan: the N x sqrt(N) scoring pass IS the index build; this adds "
    "one conditional agg at vec grain and a cell-count-sized rollup — "
    "no new corpus-scale exchange. tests pin clustered >> uniform "
    "margins (the gate actually separates the two fixtures).",
    tags=("similarity", "ivf", "audit", "silhouette", "scale-tier"),
)
def sm36(spark: SparkSession, sf_dir: str) -> DataFrame:
    ranked = seed_ivf_cells(spark, sf_dir)
    two = (
        ranked.filter(F.col("rk") <= 2)
        .groupBy("vec_id")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("cell"))).alias("cell"),
            F.max(F.when(F.col("rk") == 1, F.col("cos9"))).alias("c1"),
            F.max(F.when(F.col("rk") == 2, F.col("cos9"))).alias("c2"),
        )
    )
    m = F.round(F.col("c1") - F.col("c2"), 9)
    return (
        two.select(F.col("cell").cast("long").alias("cell"), m.alias("m"))
        .groupBy("cell")
        .agg(
            F.count("*").cast("long").alias("n_vectors"),
            F.round(
                F.sum(F.col("m").cast("decimal(20,9)")).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_margin"),
            F.round(
                F.sum(F.when(F.col("m") < 0.05, 1.0).otherwise(0.0))
                / F.count("*"),
                6,
            ).alias("boundary_frac"),
        )
        .orderBy("cell")
    )


_SM37_LEVELS = (2, 4, 8, 12)


@REGISTRY.register(
    "sm37_lsh_table_curve",
    oracle=f"""
    WITH planes AS (
      SELECT p.p, d.d,
             (CAST(('0x'||substr(md5('plane_'||p.p||'_'||d.d),1,12)) AS BIGINT)
              % 1000001)/1000000.0 - 0.5 AS w
      FROM (SELECT unnest(range(72)) AS p) p,
           (SELECT unnest(range(64)) AS d) d
    ), ev AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ), bits AS (
      SELECT ev.vec_id, pl.p,
             CASE WHEN round(sum(ev.val * pl.w), 9) > 0 THEN 1 ELSE 0 END AS bit
      FROM ev JOIN planes pl ON ev.d = pl.d
      GROUP BY ev.vec_id, pl.p
    ), buckets AS (
      SELECT vec_id, p // 6 AS tbl,
             CAST(sum(bit * (1::BIGINT << (p % 6))) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id, p // 6
    ), qb AS (
      SELECT vec_id AS q_id, tbl, bucket FROM buckets WHERE vec_id < 5
    ), pairs AS (
      SELECT q.q_id, c.vec_id, CAST(MIN(c.tbl) AS BIGINT) AS mt
      FROM buckets c JOIN qb q ON c.tbl = q.tbl AND c.bucket = q.bucket
      WHERE c.vec_id <> q.q_id GROUP BY 1, 2
    ), scored AS (
      SELECT p.q_id, p.vec_id, p.mt, {_SM33_PAIR_COS} AS cos9
      FROM pairs p
      JOIN embeddings e ON e.vec_id = p.vec_id
      JOIN embeddings q ON q.vec_id = p.q_id
    ), truth AS (
      SELECT * FROM (
        SELECT q.vec_id AS q_id, e.vec_id, {_SM33_PAIR_COS} AS cos9,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SM33_PAIR_COS} DESC, e.vec_id) AS rk
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) WHERE rk <= 5
    ), lv AS (SELECT unnest(ARRAY{list(_SM37_LEVELS)}) AS n_tables),
    got AS (
      SELECT * FROM (
        SELECT l.n_tables, s.q_id, s.vec_id,
               row_number() OVER (PARTITION BY l.n_tables, s.q_id
                                  ORDER BY s.cos9 DESC, s.vec_id) AS rk
        FROM lv l JOIN scored s ON s.mt < l.n_tables
      ) WHERE rk <= 5
    ),
    ncand AS (
      SELECT l.n_tables, COUNT(*) AS n_candidates
      FROM lv l JOIN scored s ON s.mt < l.n_tables GROUP BY 1
    ),
    hits AS (
      SELECT g.n_tables, CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits
      FROM got g LEFT JOIN truth t
        ON t.q_id = g.q_id AND t.vec_id = g.vec_id
      GROUP BY 1
    ),
    nn AS (SELECT COUNT(*) AS n FROM embeddings)
    SELECT CAST(h.n_tables AS BIGINT) AS n_tables,
           CAST(c.n_candidates AS BIGINT) AS n_candidates,
           round(c.n_candidates / (5.0 * (nn.n - 1)), 6) AS candidate_frac,
           round(h.n_hits / 25.0, 6) AS recall_at_5
    FROM hits h JOIN ncand c USING (n_tables) CROSS JOIN nn
    ORDER BY n_tables
    """,
    doc="LSH table-count tuning curve — sm33's IVF probe sweep for the "
    f"OTHER index family: recall@5 and candidate volume at L in "
    f"{_SM37_LEVELS} tables of sm03's 12x6-bit single-probe index "
    "(a candidate reached first in table t participates in every "
    "level > t, so the four levels are filters over ONE collision "
    "frame carrying min-table ranks — never four index builds). "
    "Together sm33 (IVF knob) + sm37 (LSH knob) + sm36 (structure "
    "margin) are the complete measured basis for the index-choice "
    "gate in docs/SCALE.md §2: run all three on a corpus sample, read "
    "off which family buys recall cheapest. The md5-derived "
    "hyperplanes regenerate inside DuckDB (sm03's oracle pattern), so "
    "bits -> buckets -> collision -> rerank replay exactly; 9 dp "
    "barrier before every rank. At 100 TB the exploded (table|bucket) "
    "index is written once (L-fold storage, the LSH trade) and the "
    "curve runs on a deterministic query sample.",
    tags=("similarity", "llm", "ann", "lsh", "tuning", "recall"),
)
def sm37(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    planes = _hyperplanes(64, n_planes=72)
    keys = (
        emb.select(
            "vec_id",
            F.explode(lsh_tables(F.col("embedding"), planes, 12, 6)).alias("key"),
        )
        .select("vec_id", F.shiftright(F.col("key"), 32).alias("tbl"), "key")
    )
    qk = keys.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("key").alias("qkey")
    )
    pairs = (
        keys.join(F.broadcast(qk), F.col("key") == F.col("qkey"))
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.min("tbl").cast("long").alias("mt"))
    )
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    scored = (
        pairs.join(emb, "vec_id")
        .join(F.broadcast(q_emb), "q_id")
        .select("q_id", "vec_id", "mt", F.round(sim, 9).alias("cos9"))
        .localCheckpoint(eager=False)
    )
    truth = (
        emb.join(F.broadcast(q_emb), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(sim, 9).alias("cos9"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("cos9"), "vec_id")
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("q_id", "vec_id")
    )
    lv = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _SM37_LEVELS])).alias("n_tables")
    )
    leveled = lv.join(scored, F.col("mt") < F.col("n_tables"))
    got = (
        leveled.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("n_tables", "q_id").orderBy(
                    F.desc("cos9"), "vec_id"
                )
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("n_tables", "q_id", "vec_id")
    )
    ncand = leveled.groupBy("n_tables").agg(
        F.count("*").cast("long").alias("n_candidates")
    )
    hits = (
        got.join(truth.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left")
        .groupBy("n_tables")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
    )
    n = emb.count()
    return (
        hits.join(ncand, "n_tables")
        .select(
            F.col("n_tables").cast("long").alias("n_tables"),
            "n_candidates",
            F.round(F.col("n_candidates") / (5.0 * (n - 1)), 6).alias(
                "candidate_frac"
            ),
            F.round(F.col("n_hits") / 25.0, 6).alias("recall_at_5"),
        )
        .orderBy("n_tables")
    )


_SM38_DEPTHS = (10, 25, 50, 100)
# rerank cosine between shortlist member e and query q — the shared
# left-to-right fold idiom (same expression sm33's truth uses)
_SM38_RERANK_COS = _SM33_PAIR_COS


@REGISTRY.register(
    "sm38_rerank_depth_curve",
    oracle=f"""
    WITH seedrank AS (
      SELECT vec_id AS sid, embedding AS semb,
             row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS k
      FROM embeddings
    ),
    cb AS (
      SELECT j.j, s.k,
             list_transform(list_slice(s.semb, j.j*8 + 1, j.j*8 + 8),
                            x -> CAST(x AS DOUBLE)) AS cvec
      FROM (SELECT unnest(range(8)) AS j) j,
           (SELECT k, semb FROM seedrank WHERE k <= 16) s
    ),
    xv AS (
      SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS x
      FROM embeddings
    ),
    scored AS (
      SELECT xv.vec_id, cb.j, cb.k,
             list_aggregate(list_transform(range(1, 9),
               i -> (x[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (x[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])),
               'sum') AS dist
      FROM xv CROSS JOIN cb
    ),
    codes AS (
      SELECT vec_id, j, k FROM (
        SELECT vec_id, j, k,
               row_number() OVER (PARTITION BY vec_id, j ORDER BY dist, k) AS rk
        FROM scored
      ) WHERE rk = 1
    ),
    q AS (
      SELECT vec_id AS q_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qx
      FROM embeddings WHERE vec_id < 5
    ),
    lut AS (
      SELECT q.q_id, cb.j, cb.k,
             list_aggregate(list_transform(range(1, 9),
               i -> (qx[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])
                    * (qx[CAST(cb.j*8 + i AS INT)] - cvec[CAST(i AS INT)])),
               'sum') AS d
      FROM q CROSS JOIN cb
    ),
    adc AS (
      SELECT l.q_id, c.vec_id, round(SUM(l.d), 6) AS adc_dist
      FROM codes c JOIN lut l ON l.j = c.j AND l.k = c.k
      WHERE c.vec_id <> l.q_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT q_id, vec_id,
             row_number() OVER (PARTITION BY q_id
                                ORDER BY adc_dist, vec_id) AS adc_rk
      FROM adc
    ),
    truth AS (
      SELECT * FROM (
        SELECT q.vec_id AS q_id, e.vec_id, {_SM33_PAIR_COS} AS cos9,
               row_number() OVER (PARTITION BY q.vec_id
                                  ORDER BY {_SM33_PAIR_COS} DESC, e.vec_id) AS rk
        FROM embeddings q JOIN embeddings e ON e.vec_id <> q.vec_id
        WHERE q.vec_id < 5
      ) WHERE rk <= 5
    ),
    lv AS (SELECT unnest(ARRAY{list(_SM38_DEPTHS)}) AS depth),
    got AS (
      SELECT * FROM (
        SELECT l.depth, r.q_id, r.vec_id,
               row_number() OVER (PARTITION BY l.depth, r.q_id
                                  ORDER BY {_SM38_RERANK_COS} DESC, r.vec_id)
                   AS rk
        FROM lv l
        JOIN ranked r ON r.adc_rk <= l.depth
        JOIN embeddings e ON e.vec_id = r.vec_id
        JOIN embeddings q ON q.vec_id = r.q_id
      ) WHERE rk <= 5
    ),
    hits AS (
      SELECT g.depth, CAST(COUNT(t.vec_id) AS BIGINT) AS n_hits
      FROM got g LEFT JOIN truth t
        ON t.q_id = g.q_id AND t.vec_id = g.vec_id
      GROUP BY 1
    ),
    ncand AS (
      SELECT l.depth, CAST(COUNT(*) AS BIGINT) AS n_reranked
      FROM lv l JOIN ranked r ON r.adc_rk <= l.depth GROUP BY 1
    )
    SELECT CAST(h.depth AS BIGINT) AS depth, c.n_reranked,
           round(h.n_hits / 25.0, 6) AS recall_at_5
    FROM hits h JOIN ncand c USING (depth)
    ORDER BY depth
    """,
    doc="PQ-ADC rerank-depth tuning curve — the LAST knob of the "
    "quantized-search family: recall@5 vs exact at shortlist depths "
    f"{_SM38_DEPTHS} of sm17's ADC ranking (sm33 tunes IVF probes, "
    "sm37 LSH tables, dd37 MinHash width; this prices the rerank I/O — "
    "each depth step reads that many RAW vectors per query, which at "
    "100 TB is the random-read budget a vector store bills for). ONE "
    "ADC ranking carries the depth ranks, so the four levels are "
    "filters joined to the code-table scan output, never four "
    "pipelines; ground truth is the exact all-pairs top-5 for the 5 "
    "probe queries; md5 seed codebook replays in DuckDB (sm17's "
    "oracle verbatim) and every rerank cosine crosses the 9 dp "
    "barrier. The curve's shape on the i.i.d. fixture (ADC order is "
    "weakly informative when residual variance dominates) is exactly "
    "the measurement that justifies sm17's depth-100 default.",
    tags=("similarity", "llm", "ann", "pq", "tuning", "recall"),
)
def sm38(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings")
    codes = pq_best_codes(emb, n_codes=16).select("vec_id", "j", "k")
    cb = pq_codebook(emb, n_codes=16)
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.transform("embedding", lambda x: x.cast("double")).alias("qx"),
    )
    qj = F.slice("qx", F.col("j") * 8 + 1, 8)
    d = F.aggregate(
        F.zip_with(qj, F.col("cvec"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    lut = q.crossJoin(F.broadcast(cb)).select("q_id", "j", "k", d.alias("d"))
    adc = (
        codes.join(F.broadcast(lut), ["j", "k"])
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.round(F.sum("d"), 6).alias("adc_dist"))
    )
    w_adc = Window.partitionBy("q_id").orderBy("adc_dist", "vec_id")
    ranked = adc.withColumn("adc_rk", F.row_number().over(w_adc)).select(
        "q_id", "vec_id", "adc_rk"
    ).localCheckpoint(eager=False)
    q_emb = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb")
    )
    sim = cosine(F.col("embedding"), F.col("q_emb"))
    truth = (
        emb.join(F.broadcast(q_emb), F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id", F.round(sim, 9).alias("cos9"))
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("q_id").orderBy(F.desc("cos9"), "vec_id")
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("q_id", "vec_id")
    )
    lv = spark.range(1).select(
        F.explode(F.array(*[F.lit(x) for x in _SM38_DEPTHS])).alias("depth")
    )
    leveled = (
        lv.join(ranked, F.col("adc_rk") <= F.col("depth"))
        .join(emb, "vec_id")
        .join(F.broadcast(q_emb), "q_id")
        .select("depth", "q_id", "vec_id", F.round(sim, 9).alias("cos9"))
    )
    got = (
        leveled.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("depth", "q_id").orderBy(
                    F.desc("cos9"), "vec_id"
                )
            ),
        )
        .filter(F.col("rk") <= 5)
        .select("depth", "q_id", "vec_id")
    )
    ncand = lv.join(ranked, F.col("adc_rk") <= F.col("depth")).groupBy(
        "depth"
    ).agg(F.count("*").cast("long").alias("n_reranked"))
    hits = (
        got.join(truth.withColumn("hit", F.lit(1)), ["q_id", "vec_id"], "left")
        .groupBy("depth")
        .agg(F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hits"))
    )
    return (
        hits.join(ncand, "depth")
        .select(
            F.col("depth").cast("long").alias("depth"),
            "n_reranked",
            F.round(F.col("n_hits") / 25.0, 6).alias("recall_at_5"),
        )
        .orderBy("depth")
    )


_SM39_BITS = (8, 4, 2)  # symmetric-range levels: L = 2^(b-1) - 1
_SM39_L = {8: 127, 4: 7, 2: 1}


def _sm39_sql_dq(bits: int) -> str:
    """DuckDB: dequantized corpus element j of e.embedding at `bits`."""
    lim = _SM39_L[bits]
    mx = ("list_aggregate(list_transform(e.embedding, "
          "x -> abs(CAST(x AS DOUBLE))), 'max')")
    scale = f"(CASE WHEN {mx} > 0 THEN {mx} / {lim} ELSE 1.0 END)"
    return (f"round(CAST(e.embedding[CAST(j AS INT)] AS DOUBLE)"
            f" / {scale}) * {scale}")


def _sm39_sql_top(bits: int | None, k: int = 10) -> str:
    """DuckDB CTE body: top-k vec_ids for query 3 at a quantization level
    (None = exact full-precision)."""
    if bits is None:
        elem = "CAST(e.embedding[CAST(j AS INT)] AS DOUBLE)"
    else:
        elem = _sm39_sql_dq(bits)
    dot = (f"list_aggregate(list_transform(range(1, len(e.embedding) + 1),"
           f" j -> {elem} * CAST(q.qv[CAST(j AS INT)] AS DOUBLE)), 'sum')")
    nrm = (f"sqrt(list_aggregate(list_transform("
           f"range(1, len(e.embedding) + 1), j -> {elem} * {elem}), 'sum'))")
    nq = ("sqrt(list_aggregate(list_transform(q.qv, "
          "x -> CAST(x AS DOUBLE) * x), 'sum'))")
    return (f"SELECT e.vec_id, round({dot} / (CASE WHEN {nrm} > 0 THEN {nrm}"
            f" ELSE 1.0 END * {nq}), 9) AS c9"
            f" FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 3"
            f" ORDER BY c9 DESC, e.vec_id LIMIT {k}")


@REGISTRY.register(
    "sm39_quantization_recall_curve",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding, y -> CAST(y AS DOUBLE)) AS qv
      FROM embeddings WHERE vec_id = 3
    ),
    texact AS ({_sm39_sql_top(None)}),
    {", ".join(f"t{b} AS ({_sm39_sql_top(b)})" for b in _SM39_BITS)}
    {"".join(
        f'''
    SELECT CAST({b} AS BIGINT) AS bits,
           CAST((SELECT COUNT(*) FROM t{b} a JOIN texact x
                 ON a.vec_id = x.vec_id) AS BIGINT) AS n_overlap,
           round((SELECT COUNT(*) FROM t{b} a JOIN texact x
                  ON a.vec_id = x.vec_id) / 10.0, 6) AS recall_at_10,
           (SELECT round(CAST(SUM(CAST(round(abs(a.c9 - x.c9), 9)
                                       AS DECIMAL(20,9))) AS DOUBLE)
                         / COUNT(*), 6)
            FROM t{b} a JOIN texact x ON a.vec_id = x.vec_id)
               AS mean_abs_cos_err
    {"UNION ALL" if b != _SM39_BITS[-1] else ""}''' for b in _SM39_BITS
    )}
    ORDER BY bits DESC
    """,
    doc="Scalar-quantization recall curve — sm32 asked the "
    "memory-vs-recall question about WIDTH (prefix dims); this asks "
    "it about DEPTH (bits per element), the other axis a vector store "
    "is sized on: the probe query's asymmetric top-10 (full-precision "
    "query against per-vector max-abs symmetric-scalar-quantized "
    "corpus at 8/4/2 bits — sm17's ADC convention) is compared to the "
    "exact top-10, reporting overlap, recall@10, and the mean |cosine "
    "error| over the agreeing candidates. Quantize/dequantize is pure "
    "IEEE arithmetic on identical doubles in both engines (round() "
    "half-up to the integer grid — the scale division and "
    "remultiplication are exact-input ops, no libm anywhere before "
    "the 9 dp barrier), so the quantized CODES themselves are "
    "bit-identical cross-engine. Plan (round-10 fusion, the sm23 "
    "Arrow-BLAS donor): ONE mapInPandas corpus pass emits every "
    "level's 9-dp cosine — each Arrow batch quantizes its block at "
    "all levels and keeps only its local top-10 per level under the "
    "global (c9 DESC, vec_id) order, so the partitioned global rank "
    "window sees batches×40 candidate rows, never the corpus (any "
    "global top-10 row survives its batch filter ⇒ bit-identical "
    "across partitionings); both engines round to 9 dp BEFORE "
    "ranking, so a BLAS-vs-sequential-fold rank or error-cell flip "
    "requires the unrounded values to straddle a 0.5e-9 rounding "
    "boundary within an ulp — accepted as negligible-but-possible "
    "under the sm23/sm30 ulp convention, not impossible (a boundary "
    "sweep failure here is diagnosable, not a contradiction). "
    "The pre-fusion shape ran 5 full interpreted-fold corpus scans "
    "(one per tier) and benched 20.9 s at sf0.1; at 100 TB the fused "
    "pass is the only corpus touch and the overlap joins are k-row.",
    tags=("similarity", "llm", "quantization", "recall", "int8"),
)
def sm39(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    from pyspark.sql import Window

    emb = t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = np.asarray(
        emb.filter(F.col("vec_id") == 3).head()[1], dtype=np.float64
    )
    nq = float(np.sqrt((qv * qv).sum()))
    levels = ((64, None),) + tuple((b, _SM39_L[b]) for b in _SM39_BITS)

    def scored_batches(it):
        for pdf in it:
            if not len(pdf):
                continue
            X = np.array(list(pdf["embedding"]), dtype=np.float64)
            ids = pdf["vec_id"].to_numpy()
            mx = np.abs(X).max(axis=1)
            out_b, out_i, out_c = [], [], []
            for bits, lim in levels:
                if lim is None:
                    Xq = X
                else:
                    scale = np.where(mx > 0, mx / lim, 1.0)[:, None]
                    # round() half-up to the integer grid, the same
                    # tie-break as F.round/DuckDB round (np.round is
                    # banker's): codes stay bit-identical cross-engine.
                    Z = X / scale
                    Xq = (np.sign(Z) * np.floor(np.abs(Z) + 0.5)) * scale
                ne = np.sqrt((Xq * Xq).sum(axis=1))
                c9 = round9_half_up(
                    (Xq @ qv) / (np.where(ne > 0, ne, 1.0) * nq)
                )
                # local top-10 under the global (c9 DESC, vec_id) order
                order = np.lexsort((ids, -c9))[:10]
                out_b.extend([bits] * len(order))
                out_i.extend(ids[order])
                out_c.extend(c9[order])
            yield pd.DataFrame(
                {"bits": out_b, "vec_id": out_i, "c9": out_c}
            )

    cand = emb.filter(F.col("vec_id") != 3).mapInPandas(
        scored_batches, schema="bits int, vec_id long, c9 double"
    )
    w = Window.partitionBy("bits").orderBy(F.desc("c9"), "vec_id")
    tops = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .drop("rn")
    )
    # instead of a tops⋈tops self-join (which would double the corpus
    # pass in the plan), a vec_id-partitioned window over the ≤40-row
    # candidate frame carries each id's exact-tier cosine onto its
    # quantized rows; cx9 NULL ⇔ the id missed the exact top-10, the
    # same membership semantics as the oracle's inner join. One
    # grouped job; a left join from the literal level frame keeps a
    # zero-overlap level as (0, 0.0, NULL), the oracle's
    # SUM/COUNT-over-empty semantics.
    wv = Window.partitionBy("vec_id")
    ov = (
        tops.withColumn(
            "cx9",
            F.max(F.when(F.col("bits") == 64, F.col("c9"))).over(wv),
        )
        .filter((F.col("bits") != 64) & F.col("cx9").isNotNull())
        .groupBy("bits")
        .agg(
            F.count("*").alias("n_overlap"),
            F.round(
                F.sum(
                    F.round(F.abs(F.col("c9") - F.col("cx9")), 9).cast(
                        "decimal(20,9)"
                    )
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_abs_cos_err"),
        )
    )
    lv = spark.createDataFrame([(b,) for b in _SM39_BITS], "bits int")
    return (
        lv.join(F.broadcast(ov), "bits", "left")
        .select(
            F.col("bits").cast("long").alias("bits"),
            F.coalesce("n_overlap", F.lit(0)).cast("long").alias(
                "n_overlap"
            ),
            F.round(F.coalesce("n_overlap", F.lit(0)) / 10.0, 6).alias(
                "recall_at_10"
            ),
            "mean_abs_cos_err",
        )
        .orderBy(F.desc("bits"))
    )


@REGISTRY.register(
    "sm42_knn_label_agreement",
    oracle=f"""
    WITH pairs AS (
      SELECT q.vec_id AS qid, q.label AS qlabel,
             e.vec_id AS nid, e.label AS nlabel,
             {_IVF_PAIR_COS} AS c
      FROM embeddings q JOIN embeddings e ON q.vec_id <> e.vec_id
    ),
    knn AS (
      SELECT qid, qlabel, nlabel
      FROM (
        SELECT qid, qlabel, nlabel,
               row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid)
                   AS rk
        FROM pairs
      ) WHERE rk <= 5
    ),
    votes AS (
      SELECT qid, qlabel, nlabel, COUNT(*) AS v
      FROM knn GROUP BY 1, 2, 3
    ),
    winner AS (
      SELECT qid, qlabel, nlabel AS pred,
             row_number() OVER (PARTITION BY qid ORDER BY v DESC, nlabel)
                 AS wrk
      FROM votes
    ),
    agree AS (
      SELECT qid,
             CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_same
      FROM knn GROUP BY 1
    )
    SELECT CAST(w.qlabel AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN w.pred = w.qlabel THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(SUM(CASE WHEN w.pred = w.qlabel THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS knn_accuracy,
           round(SUM(a.n_same) * 1.0 / (5 * COUNT(*)), 6)
               AS mean_neighbor_agreement
    FROM winner w JOIN agree a USING (qid)
    WHERE w.wrk = 1
    GROUP BY 1 ORDER BY 1
    """,
    doc="Embedding-quality audit via leave-one-out 5-NN label "
    "agreement: for every vector, take its 5 exact cosine neighbors "
    "(self excluded), majority-vote their labels (count DESC, label "
    "ASC tiebreak) and score per-class accuracy plus the mean share "
    "of neighbors sharing the query's own label — the label-noise / "
    "cluster-coherence detector run before trusting labels for "
    "stratified sampling (dd29) or hard-negative mining (sm28): a "
    "class with low neighbor agreement is mislabeled or entangled in "
    "embedding space. Rank decisions order by the 9-dp-rounded "
    "left-to-right cosine fold with vec_id tiebreak (the sm42b/sm30b "
    "barrier: both engines evaluate the same fixed-order fold, and "
    "the F.round/_IVF_PAIR_COS barrier keeps a 1-ulp builtin "
    "divergence from flipping top-5 membership), votes are exact "
    "integers. This is the exact "
    "AUDIT grain (all-pairs, |corpus|^2 bounded like sm02); at real "
    "corpus scale the identical vote/agreement stages run over "
    "sm05/sm18 ANN candidate lists instead — the sm23b/sm30b "
    "precedent. Plan: one self-join keyed nothing (broadcast right "
    "side), (qid)-partitioned windows for rank and vote-argmax, two "
    "|corpus|-row aggs, final |labels|-row rollup.",
    tags=("similarity", "llm", "labels", "knn", "audit"),
)
def sm42(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = t(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "label", "embedding",
        vector_norm(F.col("embedding")).alias("nrm"),
    )
    q = normed.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    e = normed.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    sim = pair_dot(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )
    pairs = q.join(F.broadcast(e), F.col("qid") != F.col("nid")).select(
        "qid", "qlabel", "nlabel", "nid", F.round(sim, 9).alias("c")
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("nid"))
    knn = (
        pairs.select(
            "qid", "qlabel", "nlabel", F.row_number().over(wr).alias("rk")
        )
        .filter(F.col("rk") <= 5)
        # pinned: the vote-argmax and the agreement agg both read it
        .localCheckpoint(eager=False)
    )
    votes = knn.groupBy("qid", "qlabel", "nlabel").agg(
        F.count("*").alias("v")
    )
    ww = Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("nlabel"))
    winner = votes.select(
        "qid",
        "qlabel",
        F.col("nlabel").alias("pred"),
        F.row_number().over(ww).alias("wrk"),
    ).filter(F.col("wrk") == 1)
    agree = knn.groupBy("qid").agg(
        F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
        .cast("long")
        .alias("n_same")
    )
    correct = F.when(F.col("pred") == F.col("qlabel"), 1).otherwise(0)
    return (
        winner.join(agree, "qid")
        .groupBy(F.col("qlabel").cast("long").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(F.sum(correct) * 1.0 / F.count("*"), 6).alias(
                "knn_accuracy"
            ),
            F.round(F.sum("n_same") * 1.0 / (5 * F.count("*")), 6).alias(
                "mean_neighbor_agreement"
            ),
        )
        .orderBy("label")
    )


@REGISTRY.register(
    "sm43_filtered_topk",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding
      FROM embeddings WHERE vec_id % 50 = 0
    ),
    scored AS (
      SELECT q.qid, q.qlabel, e.vec_id AS nid,
             {_IVF_PAIR_COS} AS c
      FROM q JOIN embeddings e
        ON e.label = q.qlabel AND e.vec_id <> q.qid
    )
    SELECT qid, CAST(qlabel AS BIGINT) AS qlabel, rank, nid,
           round(c, 6) AS cos_sim
    FROM (
      SELECT qid, qlabel, nid, c,
             row_number() OVER (PARTITION BY qid ORDER BY c DESC, nid)
                 AS rank
      FROM scored
    ) WHERE rank <= 3
    ORDER BY qid, rank
    """,
    doc="Metadata-filtered vector search: for a deterministic query "
    "sample (vec_id % 50 = 0), the exact top-3 cosine neighbors "
    "RESTRICTED to the query's own label — the filtered-ANN primitive "
    "every production vector store ships (search within a tenant / "
    "language / license class), which naive post-filtering of an "
    "unfiltered top-k silently breaks when the filter is selective. "
    "Here the filter is an equi-join predicate, so the plan is a "
    "label-KEYED join (each query only meets its label partition — "
    "1/|labels| of the corpus) rather than a crossJoin + discard; "
    "ranking orders by the 9-dp-rounded left-to-right cosine fold "
    "with vec_id tiebreak (the sm42b barrier, so a 1-ulp builtin "
    "divergence cannot flip top-3 membership near a tie). At 100 TB: partition the corpus by the filter "
    "column (the docs/SCALE.md layout rule), broadcast the query "
    "sample, and the per-label IVF tier (sm05) drops in when a label "
    "partition alone is corpus-scale. Plan: broadcast query sample -> "
    "label-keyed join -> (qid)-partitioned rank window -> top-3.",
    tags=("similarity", "llm", "topk", "filtered", "ann"),
)
def sm43(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("q_emb"),
        vector_norm(F.col("embedding")).alias("q_nrm"),
    )
    e = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("n_emb"),
        vector_norm(F.col("embedding")).alias("n_nrm"),
    )
    sim = pair_dot(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )
    scored = (
        F.broadcast(q)
        .join(
            e,
            (F.col("nlabel") == F.col("qlabel"))
            & (F.col("nid") != F.col("qid")),
        )
        .select("qid", "qlabel", "nid", F.round(sim, 9).alias("c"))
    )
    w = Window.partitionBy("qid").orderBy(F.desc("c"), F.asc("nid"))
    return (
        scored.select(
            "qid",
            F.col("qlabel").cast("long").alias("qlabel"),
            "nid",
            "c",
            F.row_number().over(w).alias("rank"),
        )
        .filter(F.col("rank") <= 3)
        .select(
            "qid",
            "qlabel",
            F.col("rank").cast("long").alias("rank"),
            "nid",
            F.round("c", 6).alias("cos_sim"),
        )
        .orderBy("qid", "rank")
    )


@REGISTRY.register(
    "sm42b_knn_label_scaled",
    oracle=f"""
    WITH {_SEED_IVF_CTES},
    pair AS (
      SELECT p.vec_id AS qid, q.label AS qlabel,
             c.vec_id AS nid, e.label AS nlabel,
             {_IVF_PAIR_COS} AS c9
      FROM sscored p
      JOIN seedcells c ON c.cell = p.srk AND c.vec_id <> p.vec_id
      JOIN embeddings e ON e.vec_id = c.vec_id
      JOIN embeddings q ON q.vec_id = p.vec_id
      WHERE p.rk <= {_SM30B_N_PROBE}
    ),
    knn AS (
      SELECT qid, qlabel, nlabel
      FROM (
        SELECT qid, qlabel, nlabel,
               row_number() OVER (PARTITION BY qid
                                  ORDER BY c9 DESC, nid) AS rk
        FROM pair
      ) WHERE rk <= 5
    ),
    votes AS (
      SELECT qid, qlabel, nlabel, COUNT(*) AS v
      FROM knn GROUP BY 1, 2, 3
    ),
    winner AS (
      SELECT qid, qlabel, nlabel AS pred,
             row_number() OVER (PARTITION BY qid ORDER BY v DESC, nlabel)
                 AS wrk
      FROM votes
    ),
    agree AS (
      SELECT qid,
             CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_same,
             CAST(COUNT(*) AS BIGINT) AS n_nn
      FROM knn GROUP BY 1
    )
    SELECT CAST(w.qlabel AS BIGINT) AS label,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(SUM(CASE WHEN w.pred = w.qlabel THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           round(SUM(CASE WHEN w.pred = w.qlabel THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS knn_accuracy,
           round(SUM(a.n_same) * 1.0 / SUM(a.n_nn), 6)
               AS mean_neighbor_agreement
    FROM winner w JOIN agree a USING (qid)
    WHERE w.wrk = 1
    GROUP BY 1 ORDER BY 1
    """,
    doc="5-NN label agreement, SCALE tier — sm42's audit over IVF "
    "CANDIDATES instead of all pairs (the sm23b/sm30b precedent, "
    "sharing seed_ivf_cells / _SEED_IVF_CTES): each query votes among "
    "its top-5 candidates from its n_probe=4 nearest cells of the "
    "auto-sized ceil(sqrt(N)) seed quantizer, so pair evaluations are "
    "O(N^1.5) not N^2 (sm42's measured 22.3x at 10x is the quadratic "
    "audit cost this tier replaces) and no corpus matrix or all-pairs "
    "join exists. Candidate lists can be shorter than 5 near empty "
    "cells, so agreement normalizes by ACTUAL neighbor count (sum "
    "n_nn, not 5*n). Fully oracle-checked because the IVF assignment "
    "is the md5-seeded JVM fold DuckDB replays bit-for-bit; "
    "tests/test_llm_ops.py pins per-label accuracy agreement with "
    "exact sm42 on the fixture. 9-dp rounding barrier before every "
    "rank decision. Plan: broadcast seed quantizer -> cell-keyed "
    "candidate join -> (qid)-partitioned rank/vote windows -> "
    "|labels|-row rollup; at 100 TB the corpus is written partitioned "
    "by cell and the candidate join is shuffle-free.",
    tags=("similarity", "llm", "labels", "knn", "ann", "scale-tier"),
)
def sm42b(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = t(spark, sf_dir, "embeddings")
    labels = emb.select("vec_id", "label")
    ranked = seed_ivf_cells(spark, sf_dir)
    corpus = ranked.filter(F.col("rk") == 1).select(
        "vec_id",
        "embedding",
        "cell",
        vector_norm(F.col("embedding")).alias("nrm"),
    )
    probes = ranked.filter(F.col("rk") <= _SM30B_N_PROBE).select(
        F.col("vec_id").alias("qid"),
        F.col("cell").alias("q_cell"),
        F.col("embedding").alias("q_emb"),
        vector_norm(F.col("embedding")).alias("q_nrm"),
    )
    # parallelism floor on the candidate join inputs (sm30b's comment)
    corpus = spread_on(corpus, emb, "cell")
    probes = spread_on(probes, emb, "q_cell")
    cos = pair_dot(F.col("embedding"), F.col("q_emb")) / (
        F.col("nrm") * F.col("q_nrm")
    )
    pair = (
        corpus.join(
            probes,
            (F.col("cell") == F.col("q_cell"))
            & (F.col("vec_id") != F.col("qid")),
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("qv"),
                    F.col("label").alias("qlabel"),
                )
            ),
            F.col("qid") == F.col("qv"),
        )
        .join(
            F.broadcast(
                labels.select(
                    F.col("vec_id").alias("nv"),
                    F.col("label").alias("nlabel"),
                )
            ),
            F.col("vec_id") == F.col("nv"),
        )
        .select(
            "qid",
            "qlabel",
            F.col("vec_id").alias("nid"),
            "nlabel",
            F.round(cos, 9).alias("c9"),
        )
    )
    wr = Window.partitionBy("qid").orderBy(F.desc("c9"), F.asc("nid"))
    knn = (
        pair.select(
            "qid", "qlabel", "nlabel", F.row_number().over(wr).alias("rk")
        )
        .filter(F.col("rk") <= 5)
        # pinned: the vote-argmax and the agreement agg both read it
        .localCheckpoint(eager=False)
    )
    votes = knn.groupBy("qid", "qlabel", "nlabel").agg(
        F.count("*").alias("v")
    )
    ww = Window.partitionBy("qid").orderBy(F.desc("v"), F.asc("nlabel"))
    winner = votes.select(
        "qid",
        "qlabel",
        F.col("nlabel").alias("pred"),
        F.row_number().over(ww).alias("wrk"),
    ).filter(F.col("wrk") == 1)
    agree = knn.groupBy("qid").agg(
        F.sum(F.when(F.col("nlabel") == F.col("qlabel"), 1).otherwise(0))
        .cast("long")
        .alias("n_same"),
        F.count("*").cast("long").alias("n_nn"),
    )
    correct = F.when(F.col("pred") == F.col("qlabel"), 1).otherwise(0)
    return (
        winner.join(agree, "qid")
        .groupBy(F.col("qlabel").cast("long").alias("label"))
        .agg(
            F.count("*").cast("long").alias("n_vecs"),
            F.sum(correct).cast("long").alias("n_correct"),
            F.round(F.sum(correct) * 1.0 / F.count("*"), 6).alias(
                "knn_accuracy"
            ),
            F.round(F.sum("n_same") * 1.0 / F.sum("n_nn"), 6).alias(
                "mean_neighbor_agreement"
            ),
        )
        .orderBy("label")
    )


@REGISTRY.register(
    "sm45_dot_cosine_rank_overlap",
    oracle=f"""
    WITH qs AS (
      SELECT vec_id AS qid, embedding FROM embeddings WHERE vec_id % 50 = 0
    ),
    scored AS (
      SELECT q.qid, e.vec_id AS nid,
             {_IVF_PAIR_COS} AS c9,
             round(list_aggregate(list_transform(
                       range(1, len(e.embedding) + 1),
                       i -> CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)
                            * CAST(q.embedding[CAST(i AS INT)] AS DOUBLE)),
                       'sum'), 9) AS d9
      FROM qs q JOIN embeddings e ON e.vec_id <> q.qid
    ),
    ranked AS (
      SELECT qid, nid,
             row_number() OVER (PARTITION BY qid
                                ORDER BY c9 DESC, nid) AS rc,
             row_number() OVER (PARTITION BY qid
                                ORDER BY d9 DESC, nid) AS rd
      FROM scored
    )
    SELECT qid,
           CAST(SUM(CASE WHEN rc <= 5 AND rd <= 5 THEN 1 ELSE 0 END)
                AS BIGINT) AS top5_overlap,
           CAST(MAX(CASE WHEN rc = 1 AND rd = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS top1_agree
    FROM ranked GROUP BY 1 ORDER BY 1
    """,
    doc="Dot-product vs cosine ranking agreement per query (vec_id % 50 "
    "sample): top-5 overlap size and whether the two metrics crown "
    "the same top-1 — the norm-signal audit run before choosing the "
    "MIPS tier (sm27) over the cosine tier (sm01): if overlap is "
    "5/5 everywhere the corpus norms carry no ranking signal and the "
    "cheaper normalized index serves both query types; low overlap "
    "means norm information is real and dot-product queries need "
    "their own index. Both scores are 9-dp-rounded fixed-order folds "
    "(cosine divides by precomputed row norms — bit-identical to the "
    "fused expression per vector_norm's contract), both rank windows "
    "tiebreak on nid, and the per-query readout is exact integers. "
    "Plan: broadcast query sample -> one corpus scan scoring both "
    "metrics in the SAME projection -> two (qid)-partitioned rank "
    "windows in one exchange -> |queries|-row agg. At 100 TB: same "
    "broadcast-scan shape as sm01; the corpus never self-joins.",
    tags=("similarity", "llm", "mips", "cosine", "audit"),
)
def sm45(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    emb = t(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "embedding", vector_norm(F.col("embedding")).alias("nrm")
    )
    q = normed.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    e = normed.select(
        F.col("vec_id").alias("nid"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    dot = pair_dot(F.col("q_emb"), F.col("n_emb"))
    scored = (
        F.broadcast(q)
        .join(e, F.col("nid") != F.col("qid"))
        .select(
            "qid",
            "nid",
            F.round(dot / (F.col("q_nrm") * F.col("n_nrm")), 9).alias("c9"),
            F.round(dot, 9).alias("d9"),
        )
    )
    wc = Window.partitionBy("qid").orderBy(F.desc("c9"), F.asc("nid"))
    wd = Window.partitionBy("qid").orderBy(F.desc("d9"), F.asc("nid"))
    ranked = scored.select(
        "qid",
        F.row_number().over(wc).alias("rc"),
        F.row_number().over(wd).alias("rd"),
    )
    return (
        ranked.groupBy("qid")
        .agg(
            F.sum(
                F.when((F.col("rc") <= 5) & (F.col("rd") <= 5), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("top5_overlap"),
            F.max(
                F.when((F.col("rc") == 1) & (F.col("rd") == 1), 1).otherwise(
                    0
                )
            )
            .cast("long")
            .alias("top1_agree"),
        )
        .orderBy("qid")
    )


@REGISTRY.register(
    "sm46_class_margin_matrix",
    oracle=f"""
    WITH pairs AS (
      SELECT least(q.label, e.label) AS la,
             greatest(q.label, e.label) AS lb,
             {_IVF_PAIR_COS} AS c9
      FROM embeddings q JOIN embeddings e ON q.vec_id < e.vec_id
    ),
    cells AS (
      SELECT la, lb,
             CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(c9 AS DECIMAL(20,9))) AS s
      FROM pairs GROUP BY 1, 2
    ),
    per AS (
      SELECT la AS label, (la = lb) AS intra, n, s FROM cells
      UNION ALL
      SELECT lb AS label, FALSE AS intra, n, s FROM cells WHERE la <> lb
    ),
    fold AS (
      SELECT label,
             CAST(SUM(CASE WHEN intra THEN n END) AS BIGINT) AS n_intra,
             CAST(SUM(CASE WHEN intra THEN s END) AS DOUBLE) AS s_intra,
             CAST(SUM(CASE WHEN NOT intra THEN n END) AS BIGINT)
                 AS n_inter,
             CAST(SUM(CASE WHEN NOT intra THEN s END) AS DOUBLE) AS s_inter
      FROM per GROUP BY 1
    )
    SELECT CAST(label AS BIGINT) AS label, n_intra, n_inter,
           round(s_intra / n_intra, 6) AS mean_intra_cos,
           round(s_inter / n_inter, 6) AS mean_inter_cos,
           round(s_intra / n_intra - s_inter / n_inter, 6) AS margin
    FROM fold ORDER BY 1
    """,
    doc="Class-separation margin per label: mean within-label cosine vs "
    "mean cosine to every other label, and their difference — the "
    "metric-learning sanity number (a label with margin near 0 is "
    "not a cluster in this embedding space, so sm28's hard-negative "
    "mining and sm42's kNN-label vote will both thrash on it). "
    "Complements sm36 (silhouette at the IVF-CELL grain — geometry "
    "of the index) and sm29 (can a linear probe separate labels) by "
    "scoring the LABELS' own cohesion at pair grain. Pair cosines "
    "are 9-dp-rounded fixed-order folds summed as DECIMAL(20,9) "
    "(order-independent across engines and partitionings); the "
    "unordered-pair grid aggregates once and each off-diagonal cell "
    "attributes to both its labels. This is the exact AUDIT grain "
    "(|corpus|^2 bounded like sm02/sm42); at real corpus scale the "
    "same fold runs over sm04's label centroids or sm23b-style ANN "
    "candidates. Plan: one broadcast self-join -> |labels|^2-cell "
    "combiner agg -> |labels|-row fold.",
    tags=("similarity", "llm", "labels", "margin", "audit"),
)
def sm46(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "label", "embedding",
        vector_norm(F.col("embedding")).alias("nrm"),
    )
    q = normed.select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_nrm"),
    )
    e = normed.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_nrm"),
    )
    sim = pair_dot(F.col("q_emb"), F.col("n_emb")) / (
        F.col("q_nrm") * F.col("n_nrm")
    )
    pairs = q.join(F.broadcast(e), F.col("qid") < F.col("nid")).select(
        F.least("qlabel", "nlabel").alias("la"),
        F.greatest("qlabel", "nlabel").alias("lb"),
        F.round(sim, 9).alias("c9"),
    )
    cells = pairs.groupBy("la", "lb").agg(
        F.count("*").cast("long").alias("n"),
        # stays DECIMAL through the downstream fold agg (ADVICE r09:
        # a DOUBLE partial here re-enters order-dependent accumulation
        # exactly where the ts67/ts68 fix removed it)
        F.sum(F.col("c9").cast("decimal(20,9)")).alias("s"),
    )
    per = cells.select(
        F.col("la").alias("label"),
        (F.col("la") == F.col("lb")).alias("intra"),
        "n",
        "s",
    ).unionByName(
        cells.filter(F.col("la") != F.col("lb")).select(
            F.col("lb").alias("label"),
            F.lit(False).alias("intra"),
            "n",
            "s",
        )
    )
    fold = per.groupBy("label").agg(
        F.sum(F.when(F.col("intra"), F.col("n"))).cast("long").alias("n_intra"),
        F.sum(F.when(F.col("intra"), F.col("s"))).cast("double").alias("s_intra"),
        F.sum(F.when(~F.col("intra"), F.col("n"))).cast("long").alias("n_inter"),
        F.sum(F.when(~F.col("intra"), F.col("s"))).cast("double").alias("s_inter"),
    )
    intra = F.col("s_intra") / F.col("n_intra")
    inter = F.col("s_inter") / F.col("n_inter")
    return fold.select(
        F.col("label").cast("long").alias("label"),
        "n_intra",
        "n_inter",
        F.round(intra, 6).alias("mean_intra_cos"),
        F.round(inter, 6).alias("mean_inter_cos"),
        F.round(intra - inter, 6).alias("margin"),
    ).orderBy("label")


@REGISTRY.register(
    "sm47_centroid_distance_anova",
    oracle=f"""
    WITH {_SM35_CENT_CTES},
    nr AS (
      SELECT e.label,
             round(sqrt(list_aggregate(list_transform(cv.x,
                       y -> y * y), 'sum')), 9) AS nrm
      FROM cv JOIN embeddings e ON e.vec_id = cv.vec_id
    ),
    st AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             SUM(CAST(nrm AS DECIMAL(20,9))) AS s,
             SUM(CAST(round(nrm * nrm, 9) AS DECIMAL(20,9))) AS ss
      FROM nr GROUP BY 1
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS nt,
             CAST(SUM(s) AS DOUBLE) AS st_,
             CAST(SUM(ss) AS DOUBLE) AS sst,
             CAST(COUNT(*) AS BIGINT) AS k
      FROM st
    ),
    sg AS (
      SELECT CAST(SUM(CAST(round(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n,
                                 9) AS DECIMAL(38,9)))
                  AS DOUBLE) AS sgm
      FROM st
    ),
    f AS (
      SELECT sg.sgm - st_ * st_ / nt AS ssb,
             sst - sg.sgm AS ssw,
             k, nt
      FROM tot, sg
    )
    SELECT k AS n_labels, nt AS n_vecs,
           round(ssb / (k - 1) / (ssw / (nt - k)), 6) AS f_stat,
           round(ssb / (ssb + ssw), 6) AS eta_squared
    FROM f
    """,
    doc="Class-conditional anisotropy ANOVA: does a vector's distance "
    "from the corpus centroid depend on its label? One-way ANOVA "
    "(F and eta^2) of centered-vector norm ~ label, using sm35's "
    "deterministic centroid (per-dim 9-dp DECIMAL means, broadcast "
    "array). This is the fairness leg of the anisotropy suite: sm34 "
    "measures the mean offset globally, sm35 shows what centering "
    "does to rankings, and THIS says whether the offset is shared or "
    "class-specific — a high eta^2 means mean-removal moves classes "
    "unequally, so any centering/whitening step changes class "
    "geometry and must be validated against sm42/sm46 before "
    "shipping. The RAW-norm version of this test is degenerate by "
    "construction on a unit-normalized corpus (the fixture: every "
    "raw norm is 1.0 to 9 dp, measured), which is exactly why the "
    "audit runs on centered norms. Centered norms round at 9 dp, "
    "their squares re-round, all moments accumulate as DECIMAL, and "
    "the between-group sum crosses the same round9+DECIMAL barrier "
    "(the ts68 fix precedent) before one identically-written final F "
    "expression rounded 6 dp. Plan: one posexplode combiner agg for "
    "the d-row centroid, a KB broadcast, one map-only centered-norm "
    "pass, a |labels|-row agg, a 1-row fold.",
    tags=("similarity", "llm", "anisotropy", "anova", "audit"),
)
def sm47(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = emb.select(
        "vec_id",
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("x"),
    )
    dims = v.select("vec_id", F.posexplode("x").alias("i0", "val")).select(
        "vec_id", (F.col("i0") + 1).alias("i"), "val"
    )
    cent = dims.groupBy("i").agg(
        F.round(
            F.sum(F.round(F.col("val"), 9).cast("decimal(28,9)")).cast(
                "double"
            )
            / F.count("*"),
            9,
        ).alias("c")
    )
    carr = cent.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "c"))), lambda s: s["c"]
        ).alias("c")
    )
    cnorm = F.round(
        F.sqrt(
            F.aggregate(
                F.zip_with("x", "c", lambda a, b: (a - b) * (a - b)),
                F.lit(0.0),
                lambda acc, y: acc + y,
            )
        ),
        9,
    )
    nr = v.crossJoin(F.broadcast(carr)).select(
        "label", cnorm.alias("nrm")
    )
    st = nr.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        # stay DECIMAL through the tot fold (ADVICE r09: DOUBLE
        # partials here re-enter order-dependent accumulation — the
        # ts67/ts68 class); cast to double only inside single-row
        # expressions downstream
        F.sum(F.col("nrm").cast("decimal(20,9)")).alias("s"),
        F.sum(
            F.round(F.col("nrm") * F.col("nrm"), 9).cast("decimal(20,9)")
        ).alias("ss"),
    )
    sd = F.col("s").cast("double")
    tot = st.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("double").alias("st_"),
        F.sum("ss").cast("double").alias("sst"),
        F.count("*").cast("long").alias("k"),
        F.sum(
            F.round(sd * sd / F.col("n"), 9).cast("decimal(38,9)")
        )
        .cast("double")
        .alias("sgm"),
    )
    ssb = F.col("sgm") - F.col("st_") * F.col("st_") / F.col("nt")
    ssw = F.col("sst") - F.col("sgm")
    return tot.select(
        F.col("k").alias("n_labels"),
        F.col("nt").alias("n_vecs"),
        F.round(
            ssb / (F.col("k") - 1) / (ssw / (F.col("nt") - F.col("k"))), 6
        ).alias("f_stat"),
        F.round(ssb / (ssb + ssw), 6).alias("eta_squared"),
    )


# sm48: the groups act as the two "languages" of a bitext-mining run —
# a deterministic split of the label space; ratio-margin per Artetxe &
# Schwenk (CCMatrix/LASER), k=2 neighbors in the denominator.
_SM48_ACCEPT = 1.05


def _sm48_oracle_sql() -> str:
    return f"""
    WITH a AS (
      SELECT vec_id, embedding FROM embeddings WHERE label < 5
    ),
    b AS (
      SELECT vec_id, embedding FROM embeddings WHERE label >= 5
    ),
    scored AS (
      SELECT q.vec_id AS a_id, e.vec_id AS b_id, {_IVF_PAIR_COS} AS c9
      FROM a q JOIN b e ON TRUE
    ),
    ranked AS (
      SELECT a_id, b_id, c9,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY c9 DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
                                ORDER BY c9 DESC, a_id) AS rb
      FROM scored
    ),
    ma AS (
      SELECT a_id,
             MAX(CASE WHEN ra = 1 THEN c9 END) AS c1,
             MAX(CASE WHEN ra = 2 THEN c9 END) AS c2,
             MAX(CASE WHEN ra = 3 THEN c9 END) AS c3
      FROM ranked GROUP BY 1
    ),
    mb AS (
      SELECT b_id,
             MAX(CASE WHEN rb = 1 THEN c9 END) AS c1,
             MAX(CASE WHEN rb = 2 THEN c9 END) AS c2,
             MAX(CASE WHEN rb = 3 THEN c9 END) AS c3
      FROM ranked GROUP BY 1
    ),
    mutual AS (
      SELECT a_id, b_id, c9 FROM ranked WHERE ra = 1 AND rb = 1
    )
    SELECT m.a_id, m.b_id, round(m.c9, 6) AS cos_sim,
           round(ma.c1 / ((ma.c2 + ma.c3) / 2), 6) AS margin_a,
           round(mb.c1 / ((mb.c2 + mb.c3) / 2), 6) AS margin_b,
           CAST(CASE WHEN least(ma.c1 / ((ma.c2 + ma.c3) / 2),
                                mb.c1 / ((mb.c2 + mb.c3) / 2))
                          >= {_SM48_ACCEPT}
                     THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM mutual m
    JOIN ma ON ma.a_id = m.a_id
    JOIN mb ON mb.b_id = m.b_id
    ORDER BY m.a_id
    """


@REGISTRY.register(
    "sm48_bitext_margin_mining",
    oracle=_sm48_oracle_sql(),
    doc="Margin-based bitext mining (Artetxe & Schwenk 2019 — the "
    "CCMatrix/LASER parallel-corpus miner): across two disjoint "
    "vector groups (labels <5 vs >=5 standing in for the two "
    "languages), emit MUTUAL nearest-neighbor pairs scored by the "
    "ratio margin cos(x,y) / mean(cos to the next-2 neighbors), "
    "accepted when BOTH directions clear the published ~1.05 bar — "
    "the operator that builds aligned training pairs from "
    "independently-crawled corpora, where raw cosine thresholds fail "
    "(hubness inflates some rows' cosines globally; the margin "
    "normalizes by each point's own neighborhood — sm23's hubness "
    "audit measures exactly the pathology this corrects). Both "
    "rank directions come from ONE scored frame (two windows, "
    "opposite partition keys); cosines are 9-dp-rounded fixed-order "
    "folds, margins are single IEEE expressions of those values "
    "rounded 6 dp, ranks tiebreak on ids. This is the exact audit "
    "grain (|A|x|B| pairs, broadcast-side join — sm02's class); at "
    "real corpus scale the scored frame comes from sm05/sm18 ANN "
    "candidates per side (the sm23b precedent) and the margin/"
    "mutuality stages run unchanged on candidate lists. Plan: one "
    "broadcast cross-group scan -> two rank windows in one exchange "
    "each -> two 3-row-per-point margin aggs -> mutual equi-join.",
    tags=("similarity", "llm", "bitext", "margin", "mining"),
)
def sm48(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    normed = emb.select(
        "vec_id", "label", "embedding",
        vector_norm(F.col("embedding")).alias("nrm"),
    )
    a = normed.filter(F.col("label") < 5).select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = normed.filter(F.col("label") >= 5).select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sim = pair_dot(F.col("a_emb"), F.col("b_emb")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    scored = a.crossJoin(F.broadcast(b)).select(
        "a_id", "b_id", F.round(sim, 9).alias("c9")
    )
    return _sm48_margin_mutual_tail(scored)


def _sm48_margin_mutual_tail(scored: DataFrame) -> DataFrame:
    """Rank/margin/mutuality stages of bitext mining over a scored
    (a_id, b_id, c9) frame — shared verbatim by the exact tier (sm48,
    all pairs) and the ANN-candidate scale tier (sm48b): the miner's
    semantics live here, only candidate generation differs."""
    from pyspark.sql.window import Window

    wa = Window.partitionBy("a_id").orderBy(F.desc("c9"), F.asc("b_id"))
    wb = Window.partitionBy("b_id").orderBy(F.desc("c9"), F.asc("a_id"))
    ranked = scored.select(
        "a_id",
        "b_id",
        "c9",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
        # pinned: the two margin aggs and the mutual filter all read it
    ).localCheckpoint(eager=False)

    def margins(key: str, rk: str, out: str) -> DataFrame:
        g = ranked.groupBy(key).agg(
            F.max(F.when(F.col(rk) == 1, F.col("c9"))).alias("c1"),
            F.max(F.when(F.col(rk) == 2, F.col("c9"))).alias("c2"),
            F.max(F.when(F.col(rk) == 3, F.col("c9"))).alias("c3"),
        )
        return g.select(
            key,
            (
                F.col("c1") / ((F.col("c2") + F.col("c3")) / 2)
            ).alias(out),
        )

    ma = margins("a_id", "ra", "m_a")
    mb = margins("b_id", "rb", "m_b")
    mutual = ranked.filter((F.col("ra") == 1) & (F.col("rb") == 1)).select(
        "a_id", "b_id", "c9"
    )
    return (
        mutual.join(ma, "a_id")
        .join(mb, "b_id")
        .select(
            "a_id",
            "b_id",
            F.round("c9", 6).alias("cos_sim"),
            F.round("m_a", 6).alias("margin_a"),
            F.round("m_b", 6).alias("margin_b"),
            F.when(
                F.least(F.col("m_a"), F.col("m_b")) >= _SM48_ACCEPT, 1
            )
            .otherwise(0)
            .cast("long")
            .alias("accepted"),
        )
        .orderBy("a_id")
    )


# sm48b: probe depth of the candidate generator (cells each vector's
# probe list covers — the sm30b convention)
_SM48B_N_PROBE = 4


def _sm48b_oracle_sql() -> str:
    return f"""
    WITH {_SEED_IVF_CTES},
    ah AS (
      SELECT s.vec_id AS a_id, s.cell FROM seedcells s
      JOIN embeddings e ON e.vec_id = s.vec_id WHERE e.label < 5
    ),
    bh AS (
      SELECT s.vec_id AS b_id, s.cell FROM seedcells s
      JOIN embeddings e ON e.vec_id = s.vec_id WHERE e.label >= 5
    ),
    apr AS (
      SELECT p.vec_id AS a_id, p.srk AS cell FROM sscored p
      JOIN embeddings e ON e.vec_id = p.vec_id
      WHERE p.rk <= {_SM48B_N_PROBE} AND e.label < 5
    ),
    bpr AS (
      SELECT p.vec_id AS b_id, p.srk AS cell FROM sscored p
      JOIN embeddings e ON e.vec_id = p.vec_id
      WHERE p.rk <= {_SM48B_N_PROBE} AND e.label >= 5
    ),
    cand AS (
      SELECT DISTINCT a_id, b_id FROM (
        SELECT apr.a_id, bh.b_id FROM apr JOIN bh ON apr.cell = bh.cell
        UNION ALL
        SELECT ah.a_id, bpr.b_id FROM ah JOIN bpr ON ah.cell = bpr.cell
      )
    ),
    scored AS (
      SELECT c.a_id, c.b_id, {_IVF_PAIR_COS} AS c9
      FROM cand c
      JOIN embeddings q ON q.vec_id = c.a_id
      JOIN embeddings e ON e.vec_id = c.b_id
    ),
    ranked AS (
      SELECT a_id, b_id, c9,
             row_number() OVER (PARTITION BY a_id
                                ORDER BY c9 DESC, b_id) AS ra,
             row_number() OVER (PARTITION BY b_id
                                ORDER BY c9 DESC, a_id) AS rb
      FROM scored
    ),
    ma AS (
      SELECT a_id,
             MAX(CASE WHEN ra = 1 THEN c9 END) AS c1,
             MAX(CASE WHEN ra = 2 THEN c9 END) AS c2,
             MAX(CASE WHEN ra = 3 THEN c9 END) AS c3
      FROM ranked GROUP BY 1
    ),
    mb AS (
      SELECT b_id,
             MAX(CASE WHEN rb = 1 THEN c9 END) AS c1,
             MAX(CASE WHEN rb = 2 THEN c9 END) AS c2,
             MAX(CASE WHEN rb = 3 THEN c9 END) AS c3
      FROM ranked GROUP BY 1
    ),
    mutual AS (
      SELECT a_id, b_id, c9 FROM ranked WHERE ra = 1 AND rb = 1
    )
    SELECT m.a_id, m.b_id, round(m.c9, 6) AS cos_sim,
           round(ma.c1 / ((ma.c2 + ma.c3) / 2), 6) AS margin_a,
           round(mb.c1 / ((mb.c2 + mb.c3) / 2), 6) AS margin_b,
           CAST(CASE WHEN least(ma.c1 / ((ma.c2 + ma.c3) / 2),
                                mb.c1 / ((mb.c2 + mb.c3) / 2))
                          >= {_SM48_ACCEPT}
                     THEN 1 ELSE 0 END AS BIGINT) AS accepted
    FROM mutual m
    JOIN ma ON ma.a_id = m.a_id
    JOIN mb ON mb.b_id = m.b_id
    ORDER BY m.a_id
    """


@REGISTRY.register(
    "sm48b_bitext_margin_scaled",
    oracle=_sm48b_oracle_sql(),
    doc="Bitext margin mining, SCALE tier — the production shape of "
    "sm48 (the sm23b/sm30b/sm42b precedent, round-9 verdict task #2): "
    "candidate (a, b) pairs come from the shared auto-sized "
    "ceil(sqrt(N)) seed IVF quantizer (seed_ivf_cells/_SEED_IVF_CTES, "
    "the sm05/sm24/dd12 index) instead of the |A|x|B| grid — a pair "
    "is scored iff one side's home cell (rk=1) lies in the other "
    "side's n_probe=4 probe list, applied in BOTH directions so the "
    "candidate relation is symmetric (mutual-NN semantics need it). "
    "The margin/mutuality stages then run UNCHANGED on the candidate "
    "lists (_sm48_margin_mutual_tail, shared verbatim with sm48). "
    "Per-point candidates are ~2*n_probe*sqrt(N), so total pair "
    "evaluations are O(N^1.5) not N^2, the corpus matrix never "
    "reaches the driver, and at 100 TB each side is written "
    "partitioned by cell so the candidate joins are shuffle-free. "
    "The IVF assignment is a JVM fold DuckDB replays bit-for-bit, so "
    "this scale tier is FULLY oracle-checked; "
    "tests/test_llm_ops.py pins its accepted pairs against exact "
    "sm48 on the clustered fixture. 9-dp rounding barrier before "
    "every rank decision, the repo-wide ulp convention.",
    tags=("similarity", "llm", "bitext", "margin", "ann", "scale-tier"),
)
def sm48b(spark: SparkSession, sf_dir: str) -> DataFrame:
    asg = seed_ivf_cells(spark, sf_dir)
    lab = t(spark, sf_dir, "embeddings").select("vec_id", "label")
    cells = asg.select("vec_id", "cell", "rk").join(lab, "vec_id")
    ah = cells.filter((F.col("rk") == 1) & (F.col("label") < 5)).select(
        F.col("vec_id").alias("a_id"), "cell"
    )
    bh = cells.filter((F.col("rk") == 1) & (F.col("label") >= 5)).select(
        F.col("vec_id").alias("b_id"), "cell"
    )
    apr = cells.filter(
        (F.col("rk") <= _SM48B_N_PROBE) & (F.col("label") < 5)
    ).select(F.col("vec_id").alias("a_id"), "cell")
    bpr = cells.filter(
        (F.col("rk") <= _SM48B_N_PROBE) & (F.col("label") >= 5)
    ).select(F.col("vec_id").alias("b_id"), "cell")
    emb = t(spark, sf_dir, "embeddings")
    cand = (
        apr.join(bh, "cell")
        .select("a_id", "b_id")
        .unionByName(ah.join(bpr, "cell").select("a_id", "b_id"))
        .distinct()
        # ~16 bytes/pair: AQE's byte-based coalescing shrinks the distinct
        # output to 1-2 tasks at fixture scale, single-threading the
        # interpreted cosine folds that follow — floor it (no-op at scale).
    )
    cand = spread_on(cand, emb, "a_id", "b_id")
    normed = emb.select(
        "vec_id", "embedding", vector_norm(F.col("embedding")).alias("nrm")
    )
    a = normed.select(
        F.col("vec_id").alias("a_id"),
        F.col("embedding").alias("a_emb"),
        F.col("nrm").alias("a_nrm"),
    )
    b = normed.select(
        F.col("vec_id").alias("b_id"),
        F.col("embedding").alias("b_emb"),
        F.col("nrm").alias("b_nrm"),
    )
    sim = pair_dot(F.col("a_emb"), F.col("b_emb")) / (
        F.col("a_nrm") * F.col("b_nrm")
    )
    scored = (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .select("a_id", "b_id", F.round(sim, 9).alias("c9"))
    )
    return _sm48_margin_mutual_tail(scored)


def _sm46b_oracle_sql() -> str:
    return """
    WITH v AS (
      SELECT vec_id, label,
             list_transform(embedding, y -> CAST(y AS DOUBLE)) AS x
      FROM embeddings
    ),
    nu AS (
      SELECT vec_id, label,
             list_transform(range(1, len(x) + 1),
               i -> round(x[CAST(i AS INT)]
                          / sqrt(list_aggregate(list_transform(x,
                                y -> y * y), 'sum')), 9)) AS u
      FROM v
    ),
    dims AS (
      SELECT nu.label, uu.i, nu.u[uu.i] AS uv
      FROM nu, unnest(range(1, len(nu.u) + 1)) AS uu(i)
    ),
    ls AS (
      SELECT label, i,
             CAST(SUM(CAST(uv AS DECIMAL(20,9))) AS DOUBLE) AS sd
      FROM dims GROUP BY 1, 2
    ),
    svec AS (SELECT label, list(sd ORDER BY i) AS sv FROM ls GROUP BY 1),
    lt AS (
      SELECT i, CAST(SUM(CAST(uv AS DECIMAL(20,9))) AS DOUBLE) AS td
      FROM dims GROUP BY 1
    ),
    tvec AS (SELECT list(td ORDER BY i) AS tv FROM lt),
    per AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CAST(round(list_aggregate(list_transform(u,
                  y -> y * y), 'sum'), 9) AS DECIMAL(20,9)))
                  AS DOUBLE) AS t
      FROM nu GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS ntot FROM per),
    g AS (
      SELECT s.label,
             list_aggregate(list_transform(range(1, len(s.sv) + 1),
               i -> s.sv[CAST(i AS INT)] * s.sv[CAST(i AS INT)]),
               'sum') AS gaa,
             list_aggregate(list_transform(range(1, len(s.sv) + 1),
               i -> s.sv[CAST(i AS INT)] * tv.tv[CAST(i AS INT)]),
               'sum') AS sga
      FROM svec s CROSS JOIN tvec tv
    )
    SELECT CAST(p.label AS BIGINT) AS label,
           CAST(p.n * (p.n - 1) / 2 AS BIGINT) AS n_intra,
           CAST(p.n * (tot.ntot - p.n) AS BIGINT) AS n_inter,
           round((g.gaa - p.t) / (p.n * (p.n - 1)), 6) AS mean_intra_cos,
           round((g.sga - g.gaa) / (p.n * (tot.ntot - p.n)), 6)
               AS mean_inter_cos,
           round((g.gaa - p.t) / (p.n * (p.n - 1))
                 - (g.sga - g.gaa) / (p.n * (tot.ntot - p.n)), 6)
               AS margin
    FROM per p JOIN g ON g.label = p.label CROSS JOIN tot
    ORDER BY 1
    """


@REGISTRY.register(
    "sm46b_class_margin_sums",
    oracle=_sm46b_oracle_sql(),
    doc="Class-separation margins, SCALE tier — not an approximation "
    "but an algebraic REWRITE of sm46's |corpus|^2 pair grid: on "
    "per-vector normalized embeddings u = x/|x|, the sum of pairwise "
    "cosines within label a is (S_a.S_a - sum_j u_j.u_j)/2 and "
    "between a and everything else is S_a.S_tot - S_a.S_a, where S_a "
    "is label a's per-dimension SUM VECTOR — so the exact class "
    "margins cost ONE O(N*d) map + a |labels| x d aggregate instead "
    "of N^2 pair evaluations (the textbook sum-of-pairs moment "
    "identity). Every per-dim sum accumulates 9-dp-rounded components "
    "as DECIMAL(20,9) (order-independent across engines and "
    "partitionings), the per-label self-dot crosses the same barrier, "
    "and the final d-length dot folds run left-to-right over "
    "identical doubles in both engines. Output schema and pair-count "
    "semantics match sm46 exactly; the only delta vs sm46's values "
    "is WHERE the 9-dp rounding sits (per component here, per pair "
    "there) — tests pin cell-for-cell EQUALITY at 6 dp on the fixture "
    "(measured 0 diff; the worst-case class bound is ~2e-6). "
    "Labels with n=1 produce a NULL intra mean in both engines. At "
    "100 TB this is a map + two shuffles of d-row partials; nothing "
    "quadratic exists at any scale.",
    tags=("similarity", "llm", "labels", "margin", "scale-tier"),
)
def sm46b(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = t(spark, sf_dir, "embeddings")
    v = emb.select(
        "label",
        F.transform("embedding", lambda x: x.cast("double")).alias("x"),
    )
    nrm = F.sqrt(
        F.aggregate("x", F.lit(0.0), lambda acc, y: acc + y * y)
    )
    nu = v.select(
        "label",
        F.transform("x", lambda xi: F.round(xi / nrm, 9)).alias("u"),
    )
    dims = nu.select(
        "label", F.posexplode("u").alias("i0", "uv")
    ).select("label", (F.col("i0") + 1).alias("i"), "uv")
    ls = dims.groupBy("label", "i").agg(
        F.sum(F.col("uv").cast("decimal(20,9)")).cast("double").alias("sd")
    )
    svec = ls.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("i", "sd"))),
            lambda s: s["sd"],
        ).alias("sv")
    )
    tvec = (
        dims.groupBy("i")
        .agg(
            F.sum(F.col("uv").cast("decimal(20,9)"))
            .cast("double")
            .alias("td")
        )
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "td"))),
                lambda s: s["td"],
            ).alias("tv")
        )
    )
    selfdot = F.round(
        F.aggregate("u", F.lit(0.0), lambda acc, y: acc + y * y), 9
    )
    per = nu.groupBy("label").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(selfdot.cast("decimal(20,9)")).cast("double").alias("t"),
    )
    tot = per.agg(F.sum("n").cast("long").alias("ntot"))
    g = svec.crossJoin(F.broadcast(tvec)).select(
        "label",
        F.aggregate(
            F.zip_with("sv", "sv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ).alias("gaa"),
        F.aggregate(
            F.zip_with("sv", "tv", lambda a, b: a * b),
            F.lit(0.0),
            lambda acc, y: acc + y,
        ).alias("sga"),
    )
    n, ntot = F.col("n"), F.col("ntot")
    intra = (F.col("gaa") - F.col("t")) / (n * (n - 1))
    inter = (F.col("sga") - F.col("gaa")) / (n * (ntot - n))
    return (
        per.join(g, "label")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("label").cast("long").alias("label"),
            (n * (n - 1) / 2).cast("long").alias("n_intra"),
            (n * (ntot - n)).cast("long").alias("n_inter"),
            F.round(intra, 6).alias("mean_intra_cos"),
            F.round(inter, 6).alias("mean_inter_cos"),
            F.round(intra - inter, 6).alias("margin"),
        )
        .orderBy("label")
    )
