"""Deduplication operators for LLM data pipelines.

Four tiers, by scale posture:

- **exact** (`dd01`): hash/groupBy distinct — embarrassingly parallel, one
  shuffle on the dedup key.
- **n-gram Jaccard, exact pairwise** (`dd02`): shingle-explode + self-join
  on shingle + group-count. Quadratic in the worst case — this is the
  *oracle-checkable* ground truth that the sketch variants are validated
  against at small SF; not the 100 TB path.
- **MinHash + banded LSH** (`dd03`): the scale path. Shingles → k minhash
  values (one pass, deterministic hash family) → band buckets → candidate
  pairs only within buckets. Cost is ~linear in corpus size for fixed
  band/row parameters; the full pairwise comparison never happens.
- **SimHash** (`dd04`): 64-bit signature per doc; near-dups have small
  Hamming distance. Linear, join-free signature computation.

Hash functions are md5-derived (first 15 hex chars → 60-bit ints) — a
public hash BOTH engines compute identically, so even the sketch variants
(dd03 MinHash+LSH, dd04 SimHash) are oracle-checked bit-for-bit: DuckDB
replays the full signature/band pipeline, not just a spot check. The
sketches remain deterministic across runs/partitionings at any
parallelism, and are additionally validated against the exact tiers
(dd02) in tests/test_llm_ops.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.cachereg import track
from pyconnect_spark.operators._util import spread, spread_on, t
from pyconnect_spark.query import QueryRegistry
from pyconnect_spark.session import java_udf

REGISTRY = QueryRegistry()

# MinHash parameters: 64 hashes = 8 bands × 8 rows — candidate threshold
# s ≈ (1/8)^(1/8) ≈ 0.77 Jaccard, the near-duplicate regime. (4-row bands
# put the threshold at ~0.5, which on a vocabulary-dense corpus marks
# nearly half of all pairs as candidates — measured 5.2M candidate pairs
# over 5k docs at sf0.1 — defeating the point of LSH.)
_N_HASHES = 64
_N_BANDS = 8
_ROWS_PER_BAND = _N_HASHES // _N_BANDS
# 31-bit Mersenne prime field: a*h + b stays under 2^62, so the affine
# permutations never overflow a long (the Java kernel's or DuckDB's BIGINT).
_MERSENNE = (1 << 31) - 1
# Deterministic affine hash family h_i(x) = (a_i*x + b_i) mod p — constants
# from a fixed LCG so every run/partitioning agrees.


def _hash_params(i: int) -> tuple[int, int]:
    a = (6364136223846793005 * (i + 1) + 1442695040888963407) % (_MERSENNE - 1) + 1
    b = (2862933555777941757 * (i + 1) + 3037000493) % _MERSENNE
    return a, b


@REGISTRY.register(
    "dd01_exact_dedup",
    oracle="""
    SELECT (SELECT COUNT(*) FROM documents) AS n_total,
           (SELECT COUNT(DISTINCT text) FROM documents) AS n_after_dedup,
           (SELECT COUNT(*) FROM (SELECT DISTINCT lang, source FROM documents)) AS n_lang_source
    """,
    doc="Exact dedup counts in ONE aggregate: the total, the distinct "
    "contents and the distinct (lang, source) pairs (Spark expands the two "
    "distinct keys into one shuffle on hash(key)); at 100 TB count "
    "distinct sha2(text) instead to shuffle 32-byte keys, not documents "
    "(see tx03_fingerprint).",
    tags=("dedup", "llm"),
)
def dd01(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The (lang, source) key is one struct, which is never null, so a
    # pair with a null member still counts as a distinct pair (SELECT
    # DISTINCT semantics), unlike a two-argument count(DISTINCT ...).
    return t(spark, sf_dir, "documents").agg(
        F.count("*").alias("n_total"),
        F.count_distinct("text").alias("n_after_dedup"),
        F.count_distinct(F.struct("lang", "source")).alias("n_lang_source"),
    )


def _shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """Distinct character n-gram shingles per doc: doc_id, sh.

    O(len²) per doc (substring at every offset) — fine for the exact
    oracle-checked Jaccard (dd02); the sketch path uses word shingles."""
    arr = F.array_distinct(
        F.expr(f"transform(sequence(1, greatest(length(text) - {n - 1}, 0)), i -> substring(text, i, {n}))")
    )
    return docs.select("doc_id", F.explode(arr).alias("sh"))


def _word_shingle_sql(toks: str, n: int = 3) -> str:
    """SQL for the distinct word n-grams of token-array column ``toks``,
    in first-seen order. (SQL text: one parse on the JVM instead of a
    py4j call per expression node.)"""
    return (
        f"array_distinct(transform(sequence(1, greatest(size({toks}) - {n - 1}, 1)), "
        f"i -> concat_ws(' ', slice({toks}, i, {n}))))"
    )


def _word_shingles(
    docs: DataFrame, n: int = 3, *, spread_input: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles per doc: doc_id, sh.

    Word-level shingling is the published choice for document-scale
    MinHash dedup (e.g. the C4/Gopher/RefinedWeb pipelines): ~10× fewer
    shingles than char n-grams and O(len) to produce — split once, then
    join n-token windows of the token array."""
    # Tokenize+shingle+explode is map-heavy; floor its parallelism so it
    # never fuses to a one-task single-file scan (guide §2.5) — no-op when
    # the scan already carries >= cores partitions. Callers shingling a
    # deliberately tiny frame (dd22's 30-doc audit sample) pass
    # spread_input=False: a 1-partition LIMIT sample looks identical to a
    # 1-partition corpus scan to the floor, and fanning 30 rows across
    # the cluster costs more scheduling than it buys.
    if spread_input:
        docs = spread(docs, "doc_id")
    with_toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    return with_toks.select(
        "doc_id", F.explode(F.expr(_word_shingle_sql("toks", n))).alias("sh")
    )


@REGISTRY.register(
    "dd02_ngram_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(length(text) - 2, 0) + 1),
               i -> substr(text, CAST(i AS INT), 3)))) AS sh
      FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(nc AS DOUBLE) / (za.n + zb.n - nc), 6) AS jacc
    FROM common
    JOIN sz za ON za.doc_id = doc_a
    JOIN sz zb ON zb.doc_id = doc_b
    ORDER BY CAST(nc AS DOUBLE) / (za.n + zb.n - nc) DESC, doc_a, doc_b
    LIMIT 50
    """,
    doc="Exact pairwise 3-gram Jaccard (top-50 most similar pairs). "
    "Quadratic ground truth used to validate the MinHash sketch; the 100 TB "
    "path is dd03.",
    tags=("dedup", "llm", "jaccard"),
)
def dd02(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # No cache() — same rationale as dd07: plan reuses one scan, recompute
    # is cheap, and a session-lifetime cache would outlive the query.
    sh = _shingles(docs)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("nc"))
    )
    za = sz.alias("za")
    zb = sz.alias("zb")
    jacc = F.col("nc").cast("double") / (F.col("za.n") + F.col("zb.n") - F.col("nc"))
    return (
        common.join(F.broadcast(za), F.col("doc_a") == F.col("za.doc_id"))
        .join(F.broadcast(zb), F.col("doc_b") == F.col("zb.doc_id"))
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jacc"), jacc.alias("_j"))
        .orderBy(F.desc("_j"), "doc_a", "doc_b")
        .limit(50)
        .drop("_j")
    )


def minhash_signatures(
    docs: DataFrame, n_hashes: int = _N_HASHES, param_offset: int = 0
) -> DataFrame:
    """doc_id → array<long> minhash signature — shuffle-free.

    The tokens are Spark's own ``split(trim(text), '\\s+')``; the package
    jar's ``pyconnect.dedup.MinHash`` (a Java UDF) takes the token array and
    returns the signature: its word 3-grams, each hashed to the first 15 hex
    chars of md5 (60 bits) mod the Mersenne field, and for each
    ``_hash_params(i + param_offset)`` the minimum affine image over them.
    md5 is a public hash and the rest is integer math, so DuckDB replays the
    whole MinHash+LSH pipeline bit-identically (``_minhash_pipeline_ctes``).
    One narrow projection: no explode, no groupBy, no shuffle, and no
    per-element interpretation of SQL lambdas (docs/SCALE.md §6)."""
    with_toks = docs.select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks")
    )
    udf = java_udf(docs.sparkSession, "pyconnect_minhash", "pyconnect.dedup.MinHash", "array<bigint>")
    # Small local files arrive as one partition; spread the map work
    # (conditional + keyed: no-op when the scan already has >= cores
    # partitions, hash-keyed so no round-robin pre-sort).
    return spread(with_toks, "doc_id").select(
        "doc_id",
        F.call_udf(udf, F.col("toks"), F.lit(n_hashes), F.lit(param_offset)).alias("signature"),
    )


def band_keys(
    sig: DataFrame, n_bands: int = _N_BANDS, salt: str = ""
) -> DataFrame:
    """(doc_id, band, bhash) band-bucket keys from minhash signatures.

    Band key: md5 of "band:v0:...:v7" (same public-hash rationale as the
    shingle hash — DuckDB replays the identical band buckets). Shared by
    the batch candidate join (lsh_candidate_pairs) and the streaming
    near-dup filter (streaming/neardup.py), so both tiers bucket
    identically. ``salt`` prefixes the band label (dd42 draws an
    independent bucket family with it; '' = the canonical dd03 keys)."""
    rows = _N_HASHES // n_bands
    keys = ", ".join(
        f"CAST(conv(substring(md5(concat_ws(':', '{salt}{i}', "
        + ", ".join(f"signature[{i * rows + j}]" for j in range(rows))
        + ")), 1, 15), 16, 10) AS BIGINT)"
        for i in range(n_bands)
    )
    return sig.select("doc_id", F.expr(f"posexplode(array({keys}))").alias("band", "bhash"))


def lsh_candidate_pairs(
    sig: DataFrame, n_bands: int = _N_BANDS, salt: str = ""
) -> DataFrame:
    """Banded LSH: hash each band of the signature, bucket-join within
    (band, band_hash). Only co-bucketed docs ever meet — no full cross join."""
    bands = band_keys(sig, n_bands, salt=salt)
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bhash") == F.col("b.bhash"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def _minhash_pipeline_ctes() -> str:
    """Shared DuckDB CTE prefix replaying the MinHash+LSH pipeline:
    word-3-gram shingles → md5-based shingle hashes → 64 affine-
    permutation minima → md5 band keys → bucket-join candidate pairs.
    Used by both the dd03 candidate oracle and the dd10 calibration
    oracle so the two can never drift apart."""
    p = _MERSENNE
    rows = _N_HASHES // _N_BANDS
    mins = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {p}) AS s{i}"
        for i, (a, b) in ((i, _hash_params(i)) for i in range(_N_HASHES))
    )
    band_selects = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, CAST(('0x' || substr(md5('{b}:' || {cat}), 1, 15)) AS BIGINT) AS bhash FROM sig".format(
            b=b,
            cat=" || ':' || ".join(
                f"CAST(s{b * rows + j} AS VARCHAR)" for j in range(rows)
            ),
        )
        for b in range(_N_BANDS)
    )
    word_shingles = """
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                               CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS sh
      FROM documents
    """
    return f"""shingles AS ({word_shingles}),
    hs AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(sh), 1, 15)) AS BIGINT) % {p} AS h
      FROM shingles
    ),
    sig AS (
      SELECT doc_id,
             {mins}
      FROM hs GROUP BY doc_id
    ),
    bands AS (
      {band_selects}
    ),
    pairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    )"""


def _sql_est_agree() -> str:
    return " + ".join(
        f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(_N_HASHES)
    )


def _dd03_oracle_sql() -> str:
    """DuckDB replay of the ENTIRE MinHash+LSH pipeline (CTEs shared with
    dd10). Possible only because every hash in the pipeline is md5-derived
    (a public hash both engines compute identically); est_jaccard is k/64,
    which has ≤6 decimal digits, so round(…,6) is exact on both sides."""
    return f"""
    WITH {_minhash_pipeline_ctes()}
    SELECT p.doc_a, p.doc_b,
           round(CAST({_sql_est_agree()} AS DOUBLE) / {_N_HASHES}, 6) AS est_jaccard
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    """


@REGISTRY.register(
    "dd03_minhash_lsh",
    oracle=_dd03_oracle_sql(),
    doc="MinHash(64) + 8-band LSH near-dup candidates with signature-"
    "estimated Jaccard. Linear scale path: shuffle keys are (band, hash) "
    "buckets, never document pairs. Every hash in the pipeline (shingle "
    "hash, band key) is md5-derived, so DuckDB replays the ENTIRE sketch "
    "bit-for-bit — the LSH candidate set itself is oracle-checked, not "
    "just spot-validated against dd02.",
    tags=("dedup", "llm", "minhash", "lsh"),
)
def dd03(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # No cache: three branches read the signatures (band join and both
    # sides of the estimate join), and recomputing the map-only Java
    # kernel costs less than an eager cache fill, which was two of the
    # query's Spark jobs (docs/SCALE.md §11).
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sig)
    a = sig.alias("sa")
    b = sig.alias("sb")
    est = (
        F.size(
            F.filter(
                F.zip_with(F.col("sa.signature"), F.col("sb.signature"), lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("double")
        / _N_HASHES
    )
    return (
        pairs.join(a, F.col("doc_a") == F.col("sa.doc_id"))
        .join(b, F.col("doc_b") == F.col("sb.doc_id"))
        .select("doc_a", "doc_b", F.round(est, 6).alias("est_jaccard"))
        .orderBy(F.desc("est_jaccard"), "doc_a", "doc_b")
    )


# SimHash bit width: 60 bits = 15 hex chars of md5, so the per-token hash
# is computable IDENTICALLY in Spark (conv) and DuckDB (hex cast) and the
# packed signature stays inside a positive BIGINT.
_SIMHASH_BITS = 60

_DD04_ORACLE = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    h AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5(tok), 1, 15)) AS BIGINT) AS h
      FROM tok
    ),
    v AS (
      SELECT doc_id,
             {", ".join(f"SUM(((h >> {i}) & 1) * 2 - 1) AS v{i}" for i in range(_SIMHASH_BITS))}
      FROM h GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(_SIMHASH_BITS))}
               AS BIGINT) AS simhash
    FROM v
"""


@REGISTRY.register(
    "dd04_simhash",
    oracle=_DD04_ORACLE,
    doc="60-bit SimHash per document from whitespace tokens. The per-token "
    "hash is the first 15 hex chars of md5 — a public hash both engines "
    "compute bit-identically, which makes the whole sketch "
    "oracle-checkable (DuckDB replays the same bit votes), unlike "
    "engine-private hash families. Join-free: explode tokens, one "
    "60-column vote aggregation (combiner-friendly), pack sign bits. "
    "Near-dup = small Hamming distance; candidate pairs via "
    "simhash_hamming_pairs' pigeonhole block join.",
    tags=("dedup", "llm", "simhash"),
)
def dd04(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).withColumn(
        "h", F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long")
    )
    # Vote per bit: +1 if bit set else -1; sign of the sum becomes the bit.
    votes = [
        F.sum(
            (F.shiftright(F.col("h"), i).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v{i}")
        for i in range(_SIMHASH_BITS)
    ]
    agg = toks.groupBy("doc_id").agg(*votes)
    bits = [
        F.when(F.col(f"v{i}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        * F.lit(1 << i).cast("long")
        for i in range(_SIMHASH_BITS)
    ]
    total = bits[0]
    for piece in bits[1:]:
        total = total + piece
    return agg.select("doc_id", total.alias("simhash"))


def connected_components(
    nodes: DataFrame, edges: DataFrame, *, max_iter: int = 20
) -> DataFrame:
    """Connected components by iterative min-label propagation.

    nodes(node) ∪ edges(a, b) → (node, root) where root = min node id in
    the component; ``nodes`` holds each node once. Each round every node
    takes the min of its own label and its neighbours' labels, and the
    loop stops when no label changes. Should convergence not arrive
    within the first few rounds (deep, path-like components), a
    pointer-doubling shortcut (root := root's root) kicks in so labels
    travel 2^k hops per round: convergence is O(log diameter), and the
    default cap covers any realistic component at no cost for the shallow
    graphs near-dup clustering produces.

    Plan shape (guide §1.2: fewer serial passes). Rounds run over the
    nodes that touch an edge only, so at 100 TB the label frame is
    |dup-suspects|, not |corpus|. A label row carries its node's
    adjacency list (vertex-centric, as in Pregel), so a round is a single
    shuffle with no join: every node sends its label along its adjacency
    to its neighbours, and one aggregation by node takes the min of the
    messages and its own row, keeps the adjacency and sets a "changed"
    flag. (A hub's adjacency is one row of its degree; an edge-list join
    would spread it instead.) Each round is checkpointed eagerly, which
    truncates the lineage (reliable checkpoint() when the session has a
    checkpoint dir: the cluster path, survives executor loss;
    localCheckpoint() otherwise), and the flag rides that same job as an
    observed metric (DataFrame.observe): there is no separate
    convergence probe, and no emptiness probe either, since an empty edge
    list makes an empty round 0 whose flag is unset. Isolated nodes join
    once at the end through one more aggregation by node. A shallow graph
    therefore costs the edge derivation plus two jobs per round
    (shuffle, checkpoint) and two for the final attach.
    """
    from pyspark.sql import Observation

    def _round(labels: DataFrame) -> tuple[DataFrame, bool]:
        obs = Observation()
        labels = labels.observe(obs, F.max("_changed").alias("changed"))
        if labels.sparkSession.sparkContext.getCheckpointDir() is not None:
            labels = labels.checkpoint(eager=True)
        else:
            labels = labels.localCheckpoint(eager=True)
        return labels.drop("_changed"), bool(obs.get["changed"])

    # Round 0 builds the adjacency rows from the symmetric edge list; its
    # two directions come from ONE explode over the edge rows (not edges
    # UNION reversed edges, which plans the upstream edge derivation
    # twice). Every label starts as the node itself, so round 0 is the
    # min over the neighbours' ids.
    sym = edges.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("a"), F.col("b").alias("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    labels, changed = _round(
        sym.groupBy(F.col("a").alias("node"))
        .agg(F.min("b").alias("nroot"), F.collect_set("b").alias("nbrs"))
        .select(
            "node",
            F.least("node", "nroot").alias("root"),
            "nbrs",
            (F.col("nroot") < F.col("node")).alias("_changed"),
        )
    )
    # If a component is deeper than _DOUBLING_AFTER hops (path-like
    # graphs), pointer doubling moves labels 2^k hops after k rounds, so
    # the cap covers diameters up to ~2^max_iter rather than max_iter.
    # Without it any component with diameter > max_iter silently
    # converged to WRONG labels.
    _DOUBLING_AFTER = 6
    for it in range(1, max_iter):
        if not changed:
            break
        sent = labels.select(
            F.explode("nbrs").alias("node"), "root", F.lit(None).alias("nbrs")
        )
        new_labels = (
            labels.unionByName(sent)
            .groupBy("node")
            .agg(
                F.min("root").alias("root"),
                # the node's own row is the one that carries an adjacency
                F.min(F.when(F.col("nbrs").isNotNull(), F.col("root"))).alias("old"),
                F.first("nbrs", ignorenulls=True).alias("nbrs"),
            )
            .select("node", "root", "nbrs", (F.col("root") < F.col("old")).alias("_changed"))
        )
        if it >= _DOUBLING_AFTER:
            parent = new_labels.select(
                F.col("node").alias("p_node"), F.col("root").alias("p_root")
            )
            new_labels = new_labels.join(
                parent, new_labels.root == F.col("p_node"), "left"
            ).select(
                "node",
                F.least(F.col("root"), F.coalesce(F.col("p_root"), F.col("root"))).alias("root"),
                "nbrs",
                (F.col("_changed") | (F.col("p_root") < F.col("root"))).alias("_changed"),
            )
        labels, changed = _round(new_labels)
    # Every labelled node's root is at most its own id, so the min over
    # the labels and the nodes' identity rows attaches the isolated nodes
    # without a join against the corpus-scale node frame.
    return (
        labels.select("node", "root")
        .unionByName(nodes.select("node", F.col("node").alias("root")))
        .groupBy("node")
        .agg(F.min("root").alias("root"))
    )


def word_jaccard_edges(docs: DataFrame, threshold: float) -> DataFrame:
    """Exact word-3-gram Jaccard pairs ≥ threshold: (a, b) with a < b.
    Quadratic in co-bucketed shingles — the oracle-able edge set;
    at scale, swap in lsh_candidate_pairs as the edge source.

    Shingles are xxhash64-ed before the self-join: the shuffle ships and
    compares 8-byte longs instead of ~30-byte strings (measured ~2x on
    the edge derivation). A 64-bit collision would need ~2^32 distinct
    shingles per join key-space to matter (birthday bound) — far beyond
    any per-corpus shingle count this engine shuffles.

    The join carries each doc's shingle count and applies the size-ratio
    bound as an extra join predicate: J(A,B) ≤ min(|A|,|B|)/max(|A|,|B|),
    so any pair with least(n)/greatest(n) < threshold can never reach the
    threshold and is dropped BEFORE the pair-count aggregation — an
    exactness-preserving prune (the final J ≥ t filter is unchanged).
    On corpora with heterogeneous doc lengths this collapses the
    candidate-pair shuffle; carrying n through the join also replaces the
    two post-aggregation broadcast joins the sizes previously needed."""
    base = _word_shingles(docs).select("doc_id", F.xxhash64("sh").alias("h"))
    sz = base.groupBy("doc_id").agg(F.count("*").alias("n"))
    sh = base.join(F.broadcast(sz), "doc_id")
    x, y = sh.alias("x"), sh.alias("y")
    size_ok = F.least(F.col("x.n"), F.col("y.n")) >= threshold * F.greatest(
        F.col("x.n"), F.col("y.n")
    )
    common = (
        x.join(
            y,
            (F.col("x.h") == F.col("y.h"))
            & (F.col("x.doc_id") < F.col("y.doc_id"))
            & size_ok,
        )
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("nc"), F.first("x.n").alias("na"), F.first("y.n").alias("nb"))
    )
    jacc = F.col("nc").cast("double") / (F.col("na") + F.col("nb") - F.col("nc"))
    return common.filter(jacc >= threshold).select("a", "b")


# Broadcast cap for dd44's cluster-member frame: 1M rows is well inside
# executor memory at any deployment size, far under the 8 GB broadcast
# hard cap. Above it the member restriction is a plain semi-join.
_VERIFY_BCAST_CAP = 1_000_000

# Doc-count cap for dd34's measured broadcast-vs-merge decision: under it
# the doc-grain split map (long + 5-char split per row — ~60 MB as a
# relation at the cap) broadcasts onto the gram stream; over it the join
# is forced to sort-merge.
_SPLIT_BCAST_CAP = 2_000_000


def lsh_verified_edges(
    docs: DataFrame, threshold: float = 0.8, n_bands: int = _N_BANDS
) -> DataFrame:
    """The SCALE tier of word_jaccard_edges: banded-LSH candidate pairs
    (dd03's signatures — only co-bucketed docs ever meet) verified by
    EXACT word-3-gram Jaccard computed on the candidates alone. The
    all-pairs-within-bucket quadratic of the exact tier is replaced by
    |candidates| x shingles work, which is what survives 100 TB.

    Exactness: candidate recall is the banded-LSH S-curve (8 bands x 8
    rows: ~0.9998 at J=0.9, lower right at the 0.8 threshold edge); the
    verify step restores precision to 1.0. On the fixtures the candidate
    set contains every exact edge (pinned by
    test_llm_ops::test_dd05_lsh_tier_agrees_with_exact_tier), so dd05's
    exact-edge oracle stays hash-green while the declared plan is the
    scale-shaped one.

    Plan: one plan, no action. The signatures are minhash_signatures'
    own plan, so a session that cached them (dd10) reads them from its
    cache (CacheManager matches by canonical plan). Each document's shingle
    set is one row (doc_id, array of xxhash64 shingle hashes, the same
    hashes the exact tier joins on) computed over the same spread
    token frame as the signatures (one reused exchange). A candidate
    pair meets both sets by doc key, and the intersection is an array
    operation on that row, so no shingle-grain row is ever exploded,
    shuffled or grouped. Both set joins read the one `sets` frame, so
    the planner builds it once: a broadcast while its size estimate is
    under the session's threshold, a shuffle join on doc_id beyond —
    the planner's choice, with no driver-side size probe."""
    cand = lsh_candidate_pairs(minhash_signatures(docs), n_bands)
    toks = docs.select("doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("toks"))
    sets = spread(toks, "doc_id").select(
        "doc_id", F.expr(f"transform({_word_shingle_sql('toks')}, sh -> xxhash64(sh))").alias("hs")
    )
    x, y = sets.alias("x"), sets.alias("y")
    na, nb = F.size("x.hs"), F.size("y.hs")
    nc = F.size(F.array_intersect("x.hs", "y.hs"))
    return (
        cand.join(x, F.col("doc_a") == F.col("x.doc_id"))
        .join(y, F.col("doc_b") == F.col("y.doc_id"))
        # size-ratio bound, exactness-preserving (same prune as the exact
        # tier): J <= min/max, so ratio < t can never pass the J >= t gate
        .filter(F.least(na, nb) >= threshold * F.greatest(na, nb))
        .filter(nc.cast("double") / (na + nb - nc) >= threshold)
        .select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    )


_DD05_SHINGLES_SQL = """
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                               CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS sh
      FROM documents
"""


@REGISTRY.register(
    "dd05_dedup_clusters",
    oracle=f"""
    WITH RECURSIVE sh AS ({_DD05_SHINGLES_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS doc_id, MIN(root) AS cluster_root,
           CAST(CASE WHEN node = MIN(root) THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM reach GROUP BY node
    """,
    doc="Full near-dup dedup decision: LSH-candidate edges verified by "
    "exact word-Jaccard(≥0.8) on the candidates only (lsh_verified_edges "
    "— the scale tier is now the DECLARED plan, round-5 verdict task) → "
    "connected components (iterative min-label propagation) → keep-first "
    "(min doc_id) per cluster. Oracle: DuckDB recursive CTE over the "
    "EXACT all-pairs edge set — the cross-engine check is therefore also "
    "the exact-vs-LSH-tier agreement check (hash-green means the banded "
    "candidates caught every true edge; agreement additionally pinned by "
    "pytest at both fixture SFs).",
    tags=("dedup", "llm", "components", "scale-tier"),
)
def dd05(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    edges = lsh_verified_edges(docs, 0.8)
    nodes = docs.select(F.col("doc_id").alias("node"))
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("root").alias("cluster_root"),
        F.when(F.col("node") == F.col("root"), 1).otherwise(0).cast("long").alias("keep"),
    )


def simhash_hamming_pairs(sig: DataFrame, max_dist: int = 8) -> DataFrame:
    """Candidate pairs within Hamming distance via 4-block LSH: split the
    60-bit signature into 4 blocks of 15 bits; any pair within distance 3
    must share ≥1 exact block (pigeonhole) — bucket-join on block value.
    Pairs up to ``max_dist`` are still surfaced when they co-bucket."""
    blocks = sig.select(
        "doc_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftright(F.col("simhash"), i * 15).bitwiseAND(F.lit((1 << 15) - 1))
                    for i in range(4)
                ]
            )
        ).alias("blk", "bval"),
    )
    a = blocks.alias("a")
    b = blocks.alias("b")
    dist = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_dist)
    )


@REGISTRY.register(
    "dd06_keep_best",
    oracle="""
    WITH g AS (
      SELECT doc_id, n_chars,
             md5(substr(text, 1, 100)) AS grp,
             row_number() OVER (PARTITION BY md5(substr(text, 1, 100))
                                ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY md5(substr(text, 1, 100))) AS n_dups
      FROM documents
    )
    SELECT doc_id AS kept_doc_id, grp, CAST(n_dups AS BIGINT) AS n_dups
    FROM g WHERE rk = 1 AND n_dups > 1
    """,
    doc="Canonical-document selection: the post-dedup step every training "
    "pipeline needs — given duplicate clusters (here: md5 of the first 100 "
    "chars, a same-lead heuristic; in production the cluster id from "
    "dd03/dd05), keep ONE representative per cluster by an explicit "
    "keep-best rule (longest text, doc_id tiebreak). One window shuffle "
    "keyed on the 16-byte fingerprint — documents themselves never "
    "re-shuffle, and the rule is deterministic so any partitioning/retry "
    "keeps the same survivor set.",
    tags=("dedup", "llm", "canonical"),
)
def dd06(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5(F.substring("text", 1, 100)).alias("grp")
    )
    w = Window.partitionBy("grp")
    wo = w.orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        docs.select(
            "doc_id",
            "grp",
            F.row_number().over(wo).alias("rk"),
            F.count("*").over(w).alias("n_dups"),
        )
        .filter((F.col("rk") == 1) & (F.col("n_dups") > 1))
        .select(
            F.col("doc_id").alias("kept_doc_id"),
            "grp",
            F.col("n_dups").cast("long").alias("n_dups"),
        )
    )


@REGISTRY.register(
    "dd07_contamination",
    oracle="""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(length(text) - 4, 0) + 1),
               i -> substr(text, CAST(i AS INT), 5)))) AS sh
      FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(nc AS DOUBLE) / za.n, 6) AS containment
    FROM common
    JOIN sz za ON za.doc_id = doc_a
    JOIN sz zb ON zb.doc_id = doc_b
    ORDER BY CAST(nc AS DOUBLE) / za.n DESC, doc_a, doc_b
    LIMIT 50
    """,
    doc="N-gram containment — the benchmark-decontamination measure: "
    "containment(a in b) = |shingles(a) ∩ shingles(b)| / |shingles(a)|, "
    "the ASYMMETRIC cousin of Jaccard that catches a short eval document "
    "embedded inside a long training document (their Jaccard is tiny, "
    "their containment is ~1). Ordered pairs, 5-gram chars. Exact "
    "formulation oracle-checked here; at 100 TB run it only on LSH "
    "candidate pairs (dd03) exactly like the Jaccard verification tier.",
    tags=("dedup", "llm", "contamination", "containment"),
)
def dd07(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # No cache(): the plan reuses the same scan, recompute is cheap, and a
    # session-lifetime cached DataFrame would linger in executor memory
    # across the many registry queries bench.py runs in one session.
    sh = _shingles(docs, n=5)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("nc"))
    )
    za = sz.alias("za")
    zb = sz.alias("zb")
    cont = F.col("nc").cast("double") / F.col("za.n")
    return (
        common.join(F.broadcast(za), F.col("doc_a") == F.col("za.doc_id"))
        .join(F.broadcast(zb), F.col("doc_b") == F.col("zb.doc_id"))
        .select("doc_a", "doc_b", F.round(cont, 6).alias("containment"), cont.alias("_c"))
        .orderBy(F.desc("_c"), "doc_a", "doc_b")
        .limit(50)
        .drop("_c")
    )


@REGISTRY.register(
    "dd08_split_decontamination",
    oracle="""
    WITH split AS (
      SELECT doc_id, text,
             CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) % 100 < 80
                  THEN 'train' ELSE 'eval' END AS split
      FROM documents
    ),
    sh AS (
      SELECT doc_id, split, unnest(list_distinct(list_transform(
               range(1, greatest(length(text) - 4, 0) + 1),
               i -> substr(text, CAST(i AS INT), 5)))) AS sh
      FROM split
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT e.doc_id AS eval_doc, t.doc_id AS train_doc, COUNT(*) AS nc
      FROM sh e JOIN sh t ON e.sh = t.sh
      WHERE e.split = 'eval' AND t.split = 'train'
      GROUP BY 1, 2
    )
    SELECT eval_doc, train_doc,
           round(CAST(nc AS DOUBLE) / ze.n, 6) AS containment
    FROM common JOIN sz ze ON ze.doc_id = eval_doc
    ORDER BY CAST(nc AS DOUBLE) / ze.n DESC, eval_doc, train_doc
    LIMIT 20
    """,
    doc="Train/eval split decontamination — the composition every LLM "
    "pipeline runs before training: deterministic content-hash split "
    "(tx07's md5 bucketing) x n-gram containment (dd07's asymmetric "
    "measure), reporting the eval documents whose 5-gram shingles are "
    "most contained in any train document. At 100 TB the eval side is "
    "tiny (broadcast) and the train side streams — the join here is the "
    "exact tier; swap in dd03's LSH candidates to prune first, exactly "
    "like dd07.",
    tags=("dedup", "llm", "contamination", "split"),
)
def dd08(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast("long") % 100
    split = docs.select(
        "doc_id", "text", F.when(bucket < 80, "train").otherwise("eval").alias("split")
    )
    sh = _shingles(split, n=5).join(split.select("doc_id", "split"), "doc_id")
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    e = sh.filter(F.col("split") == "eval").alias("e")
    tr = sh.filter(F.col("split") == "train").alias("t")
    common = (
        e.join(tr, F.col("e.sh") == F.col("t.sh"))
        .groupBy(F.col("e.doc_id").alias("eval_doc"), F.col("t.doc_id").alias("train_doc"))
        .agg(F.count("*").alias("nc"))
    )
    cont = F.col("nc").cast("double") / F.col("ze.n")
    return (
        common.join(F.broadcast(sz.alias("ze")), F.col("eval_doc") == F.col("ze.doc_id"))
        .select("eval_doc", "train_doc", F.round(cont, 6).alias("containment"), cont.alias("_c"))
        .orderBy(F.desc("_c"), "eval_doc", "train_doc")
        .limit(20)
        .drop("_c")
    )


_DD09_COS_SQL = """
               list_aggregate(list_transform(range(1, len(a.embedding) + 1),
                   i -> CAST(a.embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(b.embedding[CAST(i AS INT)] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(a.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum'))
                  * sqrt(list_aggregate(list_transform(b.embedding,
                          x -> CAST(x AS DOUBLE) * x), 'sum')))
"""


@REGISTRY.register(
    "dd09_semantic_dedup",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT a.vec_id AS a, b.vec_id AS b
      FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      WHERE round({_DD09_COS_SQL}, 9) >= 0.45
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS vec_id, MIN(root) AS cluster_root,
           CAST(CASE WHEN node = MIN(root) THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM reach GROUP BY node
    """,
    doc="Semantic (embedding-space) dedup decision — the third dedup tier "
    "after exact (dd01) and lexical (dd03/dd05): cosine >= 0.45 edges "
    "over the embedding column -> connected components -> keep-first per "
    "cluster. Both engines compute the cosine with the SAME sequential "
    "fold and the threshold applies to round(cos, 9), so edge sets match "
    "bit-for-bit. The all-pairs edge derivation here is the exact "
    "oracle-able tier; at 100 TB the edge source is the ANN candidate "
    "set (sm03/sm06 buckets, or sm05 cells) exactly like dd05 swaps in "
    "LSH candidates — the component/keep machinery is shared "
    "(connected_components).",
    tags=("dedup", "llm", "semantic", "components"),
)
def dd09(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.operators.similarity import pair_dot, vector_norm

    emb = t(spark, sf_dir, "embeddings")
    # norms precomputed per vector (N evals, not N^2) — bit-identical to
    # the fused cosine, see similarity.vector_norm
    normed = emb.select(
        "vec_id", "embedding", vector_norm(F.col("embedding")).alias("nrm")
    )
    a, b = normed.alias("a"), normed.alias("b")
    cos = pair_dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    edges = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            F.round(cos, 9).alias("c9"),
        )
        .filter(F.col("c9") >= 0.45)
        .select("a", "b")
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("root").alias("cluster_root"),
        F.when(F.col("node") == F.col("root"), 1).otherwise(0).cast("long").alias("keep"),
    )


def _dd10_oracle_sql() -> str:
    """Calibration oracle: the shared MinHash CTEs plus the exact
    word-shingle Jaccard restricted to the candidate pairs."""
    return f"""
    WITH {_minhash_pipeline_ctes()},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id),
    common AS (
      SELECT p.doc_a, p.doc_b, COUNT(*) AS nc
      FROM pairs p
      JOIN shingles a ON a.doc_id = p.doc_a
      JOIN shingles b ON b.doc_id = p.doc_b AND b.sh = a.sh
      GROUP BY 1, 2
    )
    SELECT p.doc_a, p.doc_b,
           round(CAST({_sql_est_agree()} AS DOUBLE) / {_N_HASHES}, 6)
               AS est_jaccard,
           round(CAST(COALESCE(c.nc, 0) AS DOUBLE)
                 / (za.n + zb.n - COALESCE(c.nc, 0)), 6) AS exact_jaccard,
           round(abs(round(CAST({_sql_est_agree()} AS DOUBLE) / {_N_HASHES}, 6)
                     - round(CAST(COALESCE(c.nc, 0) AS DOUBLE)
                             / (za.n + zb.n - COALESCE(c.nc, 0)), 6)), 6)
               AS abs_err
    FROM pairs p
    JOIN sig sa ON sa.doc_id = p.doc_a
    JOIN sig sb ON sb.doc_id = p.doc_b
    JOIN sz za ON za.doc_id = p.doc_a
    JOIN sz zb ON zb.doc_id = p.doc_b
    LEFT JOIN common c ON c.doc_a = p.doc_a AND c.doc_b = p.doc_b
    """


@REGISTRY.register(
    "dd10_minhash_calibration",
    oracle=_dd10_oracle_sql(),
    doc="Sketch calibration audit: for every LSH candidate pair, the "
    "MinHash signature estimate next to the EXACT word-shingle Jaccard "
    "and the absolute error — the query a pipeline owner runs before "
    "trusting a dedup threshold at 100 TB. The exact tier is computed "
    "ONLY on the candidate pairs (shingle join pre-filtered by the "
    "candidate doc set), so it stays linear in candidates, never "
    "all-pairs; at full scale this runs on a sampled candidate slice. "
    "Shares the signature/band code (and the oracle CTE prefix) with "
    "dd03 so the audited pipeline is literally the production one.",
    tags=("dedup", "llm", "minhash", "audit"),
)
def dd10(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sig = track(minhash_signatures(docs).cache())
    sig.count()  # three downstream consumers (bands + both estimate sides)
    cand = lsh_candidate_pairs(sig)
    # exact tier, restricted to candidate docs then candidate pairs
    sh = _word_shingles(docs)
    cand_docs = cand.select(F.col("doc_a").alias("doc_id")).union(
        cand.select(F.col("doc_b"))
    ).distinct()
    # Cache: the candidate-restricted shingle frame is tiny (dup-suspect
    # docs only) and BOTH the pair-intersection join and the per-doc size
    # aggregate consume it — uncached, the explode + semi-join runs twice.
    sh_c = track(sh.join(F.broadcast(cand_docs), "doc_id").cache())
    a = sh_c.alias("ca")
    b = sh_c.alias("cb")
    common = (
        cand.join(a, F.col("doc_a") == F.col("ca.doc_id"))
        .join(
            b,
            (F.col("doc_b") == F.col("cb.doc_id"))
            & (F.col("ca.sh") == F.col("cb.sh")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
    )
    sz = sh_c.groupBy("doc_id").agg(F.count("*").alias("n"))
    sa = sig.alias("sa")
    sb = sig.alias("sb")
    est = F.round(
        F.size(
            F.filter(
                F.zip_with(F.col("sa.signature"), F.col("sb.signature"), lambda x, y: x == y),
                lambda v: v,
            )
        ).cast("double")
        / _N_HASHES,
        6,
    )
    nc = F.coalesce(F.col("nc"), F.lit(0))
    exact = F.round(nc.cast("double") / (F.col("za.n") + F.col("zb.n") - nc), 6)
    return (
        cand.join(sa, F.col("doc_a") == F.col("sa.doc_id"))
        .join(sb, F.col("doc_b") == F.col("sb.doc_id"))
        .join(F.broadcast(sz.alias("za")), F.col("doc_a") == F.col("za.doc_id"))
        .join(F.broadcast(sz.alias("zb")), F.col("doc_b") == F.col("zb.doc_id"))
        .join(common, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            est.alias("est_jaccard"),
            exact.alias("exact_jaccard"),
            F.round(F.abs(est - exact), 6).alias("abs_err"),
        )
    )


@REGISTRY.register(
    "dd11_source_overlap",
    oracle=r"""
    WITH fp AS (
      SELECT DISTINCT source,
             md5(array_to_string(
                 list_slice(string_split_regex(trim(text), '\s+'), 1, 8), ' '))
                 AS fp
      FROM documents
    ),
    counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM fp GROUP BY 1
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_fingerprints
      FROM fp a JOIN fp b ON a.fp = b.fp AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT p.source_a, p.source_b, p.shared_fingerprints,
           ca.n AS n_a, cb.n AS n_b,
           round(CAST(p.shared_fingerprints AS DOUBLE)
                 / (ca.n + cb.n - p.shared_fingerprints), 6) AS jaccard
    FROM pairs p
    JOIN counts ca ON ca.source = p.source_a
    JOIN counts cb ON cb.source = p.source_b
    """,
    doc="Cross-source duplicate-leakage matrix: head fingerprints (md5 of "
    "the first 8 whitespace tokens — the mirror-site heuristic: re-"
    "crawled copies share their head even when trailing boilerplate "
    "differs) intersected between every pair of sources, with "
    "the pairwise Jaccard overlap of their distinct-fingerprint sets — "
    "the corpus-level audit that catches mirror sites / re-crawled "
    "feeds before they bias a training mix (doc-level dedup alone says "
    "WHICH docs collide; this says which SOURCES systematically "
    "overlap). One distinct on (source, 16-byte fp), a self-equi-join "
    "on fp (never all-pairs of docs: only fingerprints present in >=2 "
    "sources produce join matches), and a #sources^2-row result. The "
    "tiny per-source count table joins broadcast. At 100 TB the fp "
    "self-join shuffles fixed-width hashes once, and skew is bounded by "
    "|sources| per fingerprint, not doc count.",
    tags=("dedup", "llm", "audit", "contamination"),
)
def dd11(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    head = F.concat_ws(" ", F.slice(F.split(F.trim(F.col("text")), r"\s+"), 1, 8))
    fp = docs.select("source", F.md5(head).alias("fp")).distinct()
    counts = fp.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    a = fp.alias("a")
    b = fp.alias("b")
    pairs = (
        a.join(b, (F.col("a.fp") == F.col("b.fp")) & (F.col("a.source") < F.col("b.source")))
        .groupBy(
            F.col("a.source").alias("source_a"), F.col("b.source").alias("source_b")
        )
        .agg(F.count("*").cast("long").alias("shared_fingerprints"))
    )
    ca = counts.select(F.col("source").alias("source_a"), F.col("n").alias("n_a"))
    cb = counts.select(F.col("source").alias("source_b"), F.col("n").alias("n_b"))
    return (
        pairs.join(F.broadcast(ca), "source_a")
        .join(F.broadcast(cb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_fingerprints",
            "n_a",
            "n_b",
            F.round(
                F.col("shared_fingerprints").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("shared_fingerprints")),
                6,
            ).alias("jaccard"),
        )
    )


def _dd12_oracle() -> str:
    from pyconnect_spark.operators.similarity import _SEED_IVF_CTES

    return f"""
    WITH RECURSIVE {_SEED_IVF_CTES},
    edges AS (
      SELECT ca.vec_id AS a, cb.vec_id AS b
      FROM seedcells ca
      JOIN seedcells cb ON ca.cell = cb.cell AND ca.vec_id < cb.vec_id
      JOIN embeddings a ON a.vec_id = ca.vec_id
      JOIN embeddings b ON b.vec_id = cb.vec_id
      WHERE round({_DD09_COS_SQL}, 9) >= 0.45
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT vec_id, vec_id FROM embeddings
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    )
    SELECT node AS vec_id, MIN(root) AS cluster_root,
           CAST(CASE WHEN node = MIN(root) THEN 1 ELSE 0 END AS BIGINT) AS keep
    FROM reach GROUP BY node
    """


@REGISTRY.register(
    "dd12_semantic_dedup_ivf",
    oracle=_dd12_oracle(),
    doc="Semantic dedup, SCALE tier — the production shape of dd09: "
    "candidate edges come from an AUTO-SIZED IVF index (vectors sharing "
    "an argmax-cosine cell over ceil(sqrt(N)) md5-picked seed centroids "
    "— the FAISS nlist sizing convention, via seed_ivf_cells/"
    "_SEED_IVF_CTES), cosine >= 0.45 applies only within cells, then "
    "the shared connected-components + keep-first machinery. Because "
    "the IVF assignment is a JVM fold replayed bit-for-bit by DuckDB, "
    "this scale tier is FULLY oracle-checked — the usual trade (exact "
    "tier auditable, scale tier trusted) doesn't apply here: both "
    "tiers are checked, and dd09-vs-dd12 cluster disagreement measures "
    "exactly what the cell pruning loses (cross-cell near-dups). At "
    "100 TB the corpus never self-joins all-pairs: the edge join is "
    "per-cell (write the corpus partitioned by cell and it is "
    "shuffle-free), and components iterate over edge-touching nodes "
    "only. n_cells GROWS WITH N automatically: per-cell candidate "
    "pairs are quadratic in cell population, so the earlier fixed "
    "10-cell quantizer measured 22.7x cost at 10x data (BASELINE.md); "
    "auto-sqrt sizing holds the 10x replica to ~3x "
    "(test_dd12_auto_nlist_scales_sublinearly). A production run "
    "Lloyd-iterates the same seeds as N grows.",
    tags=("dedup", "llm", "semantic", "components", "ann", "scale-tier"),
)
def dd12(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.operators.similarity import (
        pair_dot,
        seed_ivf_cells,
        vector_norm,
    )

    emb = t(spark, sf_dir, "embeddings")
    corpus = (
        seed_ivf_cells(spark, sf_dir)
        .filter(F.col("rk") == 1)
        .select(
            "vec_id",
            "embedding",
            "cell",
            vector_norm(F.col("embedding")).alias("nrm"),
        )
    )
    # parallelism floor on the cell self-join input: the interpreted
    # per-pair cosine folds below otherwise run on the 1-2 tasks AQE's
    # byte-based coalescing leaves at fixture scale (§2.5; no-op at scale)
    corpus = spread_on(corpus, emb, "cell")
    a = corpus.alias("a")
    b = corpus.alias("b")
    cos = pair_dot(F.col("a.embedding"), F.col("b.embedding")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    edges = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("a"),
            F.col("b.vec_id").alias("b"),
            F.round(cos, 9).alias("c9"),
        )
        .filter(F.col("c9") >= 0.45)
        .select("a", "b")
    )
    nodes = emb.select(F.col("vec_id").alias("node"))
    comp = connected_components(nodes, edges)
    return comp.select(
        F.col("node").alias("vec_id"),
        F.col("root").alias("cluster_root"),
        F.when(F.col("node") == F.col("root"), 1).otherwise(0).cast("long").alias("keep"),
    )


@REGISTRY.register(
    "dd13_soft_dedup_weights",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, md5(text) AS f FROM documents
    ),
    ex AS (
      SELECT fp.doc_id, c.n_exact
      FROM fp JOIN (SELECT f, COUNT(*) AS n_exact FROM fp GROUP BY 1) c
      USING (f)
    ),
    base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(w, g*8+1, g*8+8), ' ')) AS chunk_key
      FROM base,
           LATERAL (SELECT unnest(range(0, CAST(floor(len(w)/8.0) AS BIGINT))) AS g)
    ),
    freq AS (
      SELECT chunk_key, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1
    ),
    sf AS (
      SELECT c.doc_id,
             SUM(CASE WHEN f.df >= 2 THEN 1.0 ELSE 0 END) / COUNT(*) AS shared_frac
      FROM chunks c JOIN freq f USING (chunk_key) GROUP BY 1
    )
    SELECT e.doc_id,
           CAST(e.n_exact AS BIGINT) AS n_exact,
           round(COALESCE(s.shared_frac, 0), 6) AS shared_frac,
           round((1.0 / e.n_exact) * (1 - COALESCE(s.shared_frac, 0) / 2), 6)
               AS weight
    FROM ex e LEFT JOIN sf s USING (doc_id)
    """,
    doc="Soft deduplication: per-document SAMPLING WEIGHTS instead of "
    "binary drop decisions — the SoftDedup idea (down-weight duplicated "
    "content in the training sampler rather than discarding it, which "
    "preserves rare-but-repeated text at reduced influence). Two "
    "duplication signals compose: exact-copy multiplicity (weight "
    "1/n_exact splits a cluster's total influence to one doc's worth) "
    "and tx16's chunk-level shared fraction (a further (1 - frac/2) "
    "discount for partially-boilerplate docs). Exact multiplicity is "
    "computed on md5 fingerprints, so the count exchange moves 16-byte "
    "keys, never document text — at 100 TB this is the same two "
    "hash-keyed aggregations the dedup pass already runs, emitting a "
    "weight column the shard writer carries to the data loader.",
    tags=("dedup", "llm", "weights", "soft"),
)
def dd13(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", F.md5("text").alias("f"))
    counts = fp.groupBy("f").agg(F.count("*").alias("n_exact"))
    ex = fp.join(counts, "f").select("doc_id", "n_exact")
    w = F.split(F.trim(F.col("text")), r"\s+")
    n_chunks = F.floor(F.size(w) / F.lit(8.0)).cast("int")
    idx = F.when(n_chunks > 0, F.sequence(F.lit(0), n_chunks - 1)).otherwise(
        F.array().cast("array<int>")
    )
    chunk_keys = F.transform(idx, lambda g: F.md5(F.concat_ws(" ", F.slice(w, g * 8 + 1, 8))))
    chunks = docs.select("doc_id", F.explode(chunk_keys).alias("chunk_key"))
    freq = chunks.groupBy("chunk_key").agg(F.count_distinct("doc_id").alias("df"))
    shared = F.when(F.col("df") >= 2, 1.0).otherwise(0.0)
    sf = (
        chunks.join(freq, "chunk_key")
        .groupBy("doc_id")
        .agg((F.sum(shared) / F.count("*")).alias("shared_frac"))
    )
    return (
        ex.join(sf, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_exact").cast("long").alias("n_exact"),
            F.round(F.coalesce("shared_frac", F.lit(0.0)), 6).alias("shared_frac"),
            F.round(
                (F.lit(1.0) / F.col("n_exact"))
                * (F.lit(1.0) - F.coalesce("shared_frac", F.lit(0.0)) / 2),
                6,
            ).alias("weight"),
        )
    )


@REGISTRY.register(
    "dd14_prefix_filter_join",
    oracle=r"""
    WITH sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 4, 1) + 1),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'),
                                               CAST(i AS INT), CAST(i + 4 AS INT)), ' ')))) AS sh
      FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(nc AS DOUBLE) / (za.n + zb.n - nc), 6) AS jaccard
    FROM common
    JOIN sz za ON za.doc_id = doc_a
    JOIN sz zb ON zb.doc_id = doc_b
    WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    """,
    doc="EXACT set-similarity join via prefix filtering (AllPairs/PPJoin, "
    "Bayardo et al. WWW'07; Xiao et al. WWW'08): every doc pair with "
    "word-5-gram Jaccard >= 0.8, WITHOUT the quadratic self-join and "
    "WITHOUT "
    "approximation — the lossless middle tier between dd02 (quadratic "
    "exact) and dd03 (sketch). Why it is lossless: order each doc's "
    "shingles by ascending global frequency; if two sets reach Jaccard "
    "t, they must share a token within each one's first n - ceil(t*n) + "
    "1 rarest tokens (pigeonhole on the required overlap), so joining "
    "ONLY prefix tokens generates a candidate superset, then a length "
    "filter (|b| >= t*|a|) and an exact intersection-count verify "
    "finish the job. The oracle is the straight quadratic form — the "
    "hash-match IS the losslessness proof. At 100 TB: the prefix join "
    "keys on the rarest tokens (smallest posting lists — candidate "
    "volume tracks true near-dups, not pair count), the frequency table "
    "is one combiner-shrunk agg, and verification touches candidate "
    "pairs only — the published exact-join at web scale. Shingle and "
    "threshold choice MATTER on a vocabulary-dense corpus (measured "
    "here): char 3-grams at t=0.5 made the ANSWER quadratic (4.6M "
    "pairs = 37% of all pairs at sf0.1), and even at t=0.8 every "
    "3-gram's posting list spanned thousands of docs, so candidate "
    "generation stayed corpus-quadratic — no exact algorithm beats "
    "its own candidate/output volume. Word 5-grams restore the "
    "Zipfian rare-token premise (posting lists ~1 except true dups) "
    "and 0.8 matches dd03's banding threshold (~0.77); run dd01 "
    "exact dedup first so identical texts collapse before the join.",
    tags=("dedup", "llm", "jaccard", "prefix-filter", "exact"),
)
def dd14(spark: SparkSession, sf_dir: str, threshold: float = 0.8) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # The shingle frame feeds seven plan references; measured at sf0.1,
    # NOT caching it wins 3.6x (5.2 s vs 18.8 s): a deserialized row
    # cache of the exploded strings costs more to rescan than re-running
    # the columnar parquet scan + codegen-fused explode per reference.
    # At 100 TB the staging move is writing the shingle table to parquet
    # (columnar, stays codegen-scannable) — not .cache(). That staged
    # variant is implemented as stage_shingles() + dd14_staged() and
    # proven result-identical in tests/test_llm_ops.py.
    return _dd14_from_shingles(_word_shingles(docs, 5), threshold)


def stage_shingles(docs: DataFrame, path: str, n: int = 5, buckets: int = 32) -> None:
    """Write the distinct word-n-gram shingle table to parquet, hash-
    distributed on the shingle so each downstream shingle-keyed join
    reads co-located postings: the 100 TB staging move dd14's docstring
    names. Columnar parquet keeps the re-scans codegen-fused (unlike a
    deserialized .cache()), and the explode runs ONCE instead of once
    per plan reference."""
    sh = _word_shingles(docs, n)
    sh.repartition(buckets, "sh").write.mode("overwrite").parquet(path)


def dd14_staged(spark: SparkSession, staged_path: str, threshold: float = 0.8) -> DataFrame:
    """dd14 over a pre-staged shingle table (see stage_shingles):
    result-identical to dd14, but the corpus explode is amortized into
    one write — the shape a 100 TB run uses, where the shingle table is
    also reused by dd17's funnel and dd20's containment join."""
    return _dd14_from_shingles(spark.read.parquet(staged_path), threshold)


def _dd14_from_shingles(sh: DataFrame, threshold: float = 0.8) -> DataFrame:
    from pyspark.sql import Window

    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    freq = sh.groupBy("sh").agg(F.count("*").alias("f"))
    ranked = sh.join(freq, "sh").select(
        "doc_id",
        "sh",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("f", "sh"))
        .alias("rk"),
    )
    # prefix length p = n - ceil(t*n) + 1 (rarest-first ordering)
    pref = ranked.join(sz, "doc_id").filter(
        F.col("rk") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    a, b = pref.alias("a"), pref.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.sh") == F.col("b.sh"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            # length filter: |b| in [t*|a|, |a|/t] is necessary for J >= t
            & (F.col("b.n") >= F.lit(threshold) * F.col("a.n"))
            & (F.col("a.n") >= F.lit(threshold) * F.col("b.n")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # verify tier: exact intersection counts for candidate docs only
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select("doc_b"))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cand_docs), "doc_id")
    ca, cb = sh_c.alias("ca"), sh_c.alias("cb")
    # Filter to candidate PAIRS before aggregating: two docs can co-occur
    # in the candidate-doc set without being a candidate pair (each paired
    # with some third doc), and aggregating their shingle matches first
    # would push never-needed pairs through the verify shuffle. The
    # broadcast of the 16-byte pair ids keeps the filter shuffle-free, so
    # the groupBy's exchange carries candidate-pair rows only (map-side
    # partial counts shrink it further).
    common = (
        ca.join(
            cb,
            (F.col("ca.sh") == F.col("cb.sh")) & (F.col("ca.doc_id") < F.col("cb.doc_id")),
        )
        .select(F.col("ca.doc_id").alias("doc_a"), F.col("cb.doc_id").alias("doc_b"))
        .join(F.broadcast(cand), ["doc_a", "doc_b"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
    )
    za, zb = sz.alias("za"), sz.alias("zb")
    jacc = F.col("nc").cast("double") / (F.col("za.n") + F.col("zb.n") - F.col("nc"))
    return (
        common.join(F.broadcast(za), F.col("doc_a") == F.col("za.doc_id"))
        .join(F.broadcast(zb), F.col("doc_b") == F.col("zb.doc_id"))
        .filter(jacc >= threshold)
        .select("doc_a", "doc_b", F.round(jacc, 6).alias("jaccard"))
    )


@REGISTRY.register(
    "dd15_weighted_sample",
    oracle=r"""
    WITH fp AS (
      SELECT doc_id, md5(text) AS f FROM documents
    ),
    ex AS (
      SELECT fp.doc_id, c.n_exact
      FROM fp JOIN (SELECT f, COUNT(*) AS n_exact FROM fp GROUP BY 1) c
      USING (f)
    ),
    base AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    chunks AS (
      SELECT doc_id,
             md5(array_to_string(list_slice(w, g*8+1, g*8+8), ' ')) AS chunk_key
      FROM base,
           LATERAL (SELECT unnest(range(0, CAST(floor(len(w)/8.0) AS BIGINT))) AS g)
    ),
    freq AS (
      SELECT chunk_key, COUNT(DISTINCT doc_id) AS df FROM chunks GROUP BY 1
    ),
    sf AS (
      SELECT c.doc_id,
             SUM(CASE WHEN f.df >= 2 THEN 1.0 ELSE 0 END) / COUNT(*) AS shared_frac
      FROM chunks c JOIN freq f USING (chunk_key) GROUP BY 1
    ),
    wts AS (
      SELECT e.doc_id,
             (1.0 / e.n_exact) * (1 - round(COALESCE(s.shared_frac, 0), 6) / 2)
                 AS weight,
             CAST(('0x' || substr(md5(CAST(e.doc_id AS VARCHAR) || ':sample'),
                                  1, 8)) AS BIGINT) / 4294967296.0 AS u
      FROM ex e LEFT JOIN sf s USING (doc_id)
    ),
    docs2 AS (SELECT d.doc_id, d.source, w.weight, w.u
              FROM documents d JOIN wts w USING (doc_id))
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           round(SUM(weight), 6) AS expected_docs,
           CAST(SUM(CASE WHEN u < weight THEN 1 ELSE 0 END) AS BIGINT)
               AS n_sampled
    FROM docs2 GROUP BY 1
    """,
    doc="Duplication-aware weighted sampling — the consumption side of "
    "dd13: each doc is kept with probability equal to its soft-dedup "
    "weight, but the coin flip is md5(doc_id:'sample') mapped to [0,1) "
    "instead of an RNG, so the SAMPLED CORPUS ITSELF is deterministic — "
    "re-runs, retries, and engines all select the identical subset "
    "(tx07's hash-split idea applied to Bernoulli sampling; change the "
    "salt to draw an independent epoch). Report: per source, the doc "
    "count, the expected post-sampling size (sum of weights — what the "
    "sampler is converging to), and the realized sample count. Weight "
    "computation reuses dd13's two hash-keyed aggregations; the "
    "sampling predicate is a pure column expression — at 100 TB the "
    "sample materializes in the same pass that computes it, no second "
    "shuffle.",
    tags=("dedup", "llm", "sampling", "weights", "deterministic"),
)
def dd15(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    wts = dd13(spark, sf_dir).select(
        "doc_id",
        # recompute unrounded weight components? dd13 rounds to 6dp; the
        # oracle here uses UNROUNDED weights, so derive them identically:
        # weight = (1/n_exact) * (1 - shared_frac/2) from dd13's columns
        # would double-round. Instead use dd13's exact inputs:
        "n_exact",
        "shared_frac",
    )
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":sample"))), 1, 8),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    weight = (F.lit(1.0) / F.col("n_exact")) * (
        F.lit(1.0) - F.col("shared_frac") / 2
    )
    joined = docs.select("doc_id", "source").join(wts, "doc_id").select(
        "source", weight.alias("weight"), u.alias("u")
    )
    return joined.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.round(F.sum("weight"), 6).alias("expected_docs"),
        F.sum((F.col("u") < F.col("weight")).cast("int")).cast("long").alias("n_sampled"),
    )


def lsh_plan(threshold: float, n_hashes: int = _N_HASHES) -> dict:
    """Choose the (bands, rows) split of an ``n_hashes`` MinHash signature
    for a target Jaccard ``threshold`` — the S-curve planning every LSH
    deployment does by hand, done once and tested here.

    For b bands of r rows, a pair with true Jaccard s becomes a candidate
    with P(s) = 1 - (1 - s^r)^b (the S-curve); its inflection sits near
    s* = (1/b)^(1/r). Among all integer splits of n_hashes, pick the one
    minimizing expected error mass under an (uninformative) uniform prior
    on s: FP = ∫_0^t P(s) ds (pairs below threshold that still collide →
    wasted verification) + FN = ∫_t^1 (1 - P(s)) ds (true near-dups the
    buckets miss → lost recall). Returns the chosen split, its s*, and
    both error integrals so callers can trade recall against candidate
    volume deliberately (raise bands → fewer FNs, more FPs). dd03's 8×8
    at threshold≈0.77 is exactly what this planner picks."""
    best = None
    for rows in range(1, n_hashes + 1):
        if n_hashes % rows:
            continue
        bands = n_hashes // rows
        n_steps = 1000
        fp = fn = 0.0
        for i in range(n_steps):
            s = (i + 0.5) / n_steps
            p = 1 - (1 - s**rows) ** bands
            if s < threshold:
                fp += p / n_steps
            else:
                fn += (1 - p) / n_steps
        cand = {
            "bands": bands,
            "rows": rows,
            "s_star": (1.0 / bands) ** (1.0 / rows) if rows > 0 else 0.0,
            "fp_mass": round(fp, 6),
            "fn_mass": round(fn, 6),
            "error": round(fp + fn, 6),
        }
        if best is None or cand["error"] < best["error"]:
            best = cand
    return best


@REGISTRY.register(
    "dd16_bow_dedup",
    oracle=r"""
    WITH canon AS (
      SELECT doc_id,
             md5(array_to_string(list_sort(string_split_regex(trim(text),
                 '\s+')), ' ')) AS bow_key,
             md5(text) AS exact_key
      FROM documents
    ),
    grp AS (
      SELECT bow_key,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(COUNT(DISTINCT exact_key) AS BIGINT) AS n_texts,
             MIN(doc_id) AS keeper
      FROM canon GROUP BY 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_bow_groups,
           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_groups,
           CAST(SUM(n_docs - 1) AS BIGINT) AS n_removable,
           CAST(SUM(CASE WHEN n_texts > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_reorder_only_groups
    FROM grp
    """,
    doc="Reorder-invariant exact dedup: the canonical key is the md5 of "
    "the SORTED token multiset, so documents that differ only by word "
    "order — shuffled spam, template variable reordering, scraped "
    "list-page permutations — collapse into one group where dd01's "
    "raw-text key sees distinct docs. Reports group counts, removable "
    "rows, and specifically the groups containing MORE THAN ONE "
    "distinct raw text (n_reorder_only_groups: the dups only this tier "
    "catches — the fixture's word-soup corpus has them). Sorting "
    "happens inside a per-row array expression; the exchange carries "
    "16-byte keys, identical cost profile to dd01. Between this and "
    "dd03: bag-identical is EXACT (no threshold), shingle-based "
    "near-dup is fuzzy — pipelines run both.",
    tags=("dedup", "llm", "bow", "exact"),
)
def dd16(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    canon = docs.select(
        "doc_id",
        F.md5(
            F.concat_ws(" ", F.array_sort(F.split(F.trim(F.col("text")), r"\s+")))
        ).alias("bow_key"),
        F.md5("text").alias("exact_key"),
    )
    grp = canon.groupBy("bow_key").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.count_distinct("exact_key").cast("long").alias("n_texts"),
    )
    return grp.agg(
        F.count("*").cast("long").alias("n_bow_groups"),
        F.sum((F.col("n_docs") > 1).cast("int")).cast("long").alias("n_dup_groups"),
        F.sum(F.col("n_docs") - 1).cast("long").alias("n_removable"),
        F.sum((F.col("n_texts") > 1).cast("int")).cast("long").alias(
            "n_reorder_only_groups"
        ),
    )


@REGISTRY.register(
    "dd17_dedup_funnel",
    oracle=r"""
    WITH keys AS (
      SELECT doc_id, md5(text) AS exact_key,
             md5(array_to_string(list_sort(string_split_regex(trim(text),
                 '\s+')), ' ')) AS bow_key
      FROM documents
    ),
    counts AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS raw,
             CAST(COUNT(DISTINCT exact_key) AS DOUBLE) AS after_exact,
             CAST(COUNT(DISTINCT bow_key) AS DOUBLE) AS after_bow
      FROM keys
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 4, 1) + 1),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'),
                                               CAST(i AS INT), CAST(i + 4 AS INT)), ' ')))) AS sh
      FROM documents
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    nd AS (
      SELECT CAST(COUNT(*) AS DOUBLE) AS pairs FROM (
        SELECT a.doc_id, b.doc_id
        FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
        GROUP BY 1, 2
        HAVING COUNT(*) * 1.0 /
               ((SELECT n FROM sz WHERE doc_id = a.doc_id)
                + (SELECT n FROM sz WHERE doc_id = b.doc_id) - COUNT(*)) >= 0.8
      )
    )
    SELECT * FROM (
      SELECT 'raw_docs' AS stage, raw AS value FROM counts
      UNION ALL SELECT 'after_exact_dedup', after_exact FROM counts
      UNION ALL SELECT 'exact_removed', raw - after_exact FROM counts
      UNION ALL SELECT 'after_bow_dedup', after_bow FROM counts
      UNION ALL SELECT 'bow_removed_beyond_exact', after_exact - after_bow
      FROM counts
      UNION ALL SELECT 'neardup_pairs_t080', pairs FROM nd
    )
    """,
    doc="Dedup funnel report — the one-page answer to 'how duplicated is "
    "this corpus, and which tier earns its cost': raw docs, survivors "
    "after exact (raw-text md5) and after bag-of-words "
    "(reorder-invariant) dedup, the incremental removal each tier adds, "
    "and the count of ≥0.8-Jaccard near-dup pairs the fuzzy tier would "
    "still have to arbitrate — the numbers a pipeline owner reads "
    "BEFORE deciding whether to run the expensive tiers at all (a "
    "near-zero neardup_pairs row means dd03/dd14 can be skipped this "
    "snapshot). The exact/bow stages are two distinct-counts over one "
    "fingerprint scan; the near-dup pair count reuses dd14's exact "
    "join. Six fixed rows regardless of corpus size.",
    tags=("dedup", "llm", "funnel", "report"),
)
def dd17(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    keys = docs.select(
        F.md5("text").alias("exact_key"),
        F.md5(
            F.concat_ws(" ", F.array_sort(F.split(F.trim(F.col("text")), r"\s+")))
        ).alias("bow_key"),
    )
    counts = keys.agg(
        F.count("*").cast("double").alias("raw"),
        F.count_distinct("exact_key").cast("double").alias("after_exact"),
        F.count_distinct("bow_key").cast("double").alias("after_bow"),
    )
    nd = dd14(spark, sf_dir).agg(F.count("*").cast("double").alias("pairs"))
    stage_rows = counts.select(
        F.expr(
            "stack(5, 'raw_docs', raw,"
            " 'after_exact_dedup', after_exact,"
            " 'exact_removed', raw - after_exact,"
            " 'after_bow_dedup', after_bow,"
            " 'bow_removed_beyond_exact', after_exact - after_bow)"
            " AS (stage, value)"
        )
    )
    return stage_rows.unionAll(
        nd.select(F.lit("neardup_pairs_t080").alias("stage"), F.col("pairs").alias("value"))
    )


@REGISTRY.register(
    "dd18_cluster_sizes",
    oracle="""
    WITH grp AS (
      SELECT md5(text) AS f, CAST(COUNT(*) AS BIGINT) AS size
      FROM documents GROUP BY 1
    )
    SELECT size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM grp GROUP BY 1
    """,
    doc="Duplicate cluster-size distribution: how many exact-dup clusters "
    "exist at each size, the docs they hold, and the removable excess — "
    "the histogram that tells you whether duplication is a few huge "
    "template clusters (one hot fingerprint = a skew hazard for every "
    "hash-keyed dedup shuffle; pre-aggregate or salt THAT key) or a "
    "long tail of pairs (combiner-friendly, nothing to do). dd01 "
    "reports the scalar totals; dd17 the funnel; this is the SHAPE, "
    "which is what decides the physical plan at 100 TB. One 16-byte-"
    "fingerprint aggregation plus a size-keyed rollup of the tiny "
    "cluster frame.",
    tags=("dedup", "llm", "histogram", "skew"),
)
def dd18(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    grp = docs.groupBy(F.md5("text").alias("f")).agg(
        F.count("*").cast("long").alias("size")
    )
    return grp.groupBy("size").agg(
        F.count("*").cast("long").alias("n_clusters"),
        (F.col("size") * F.count("*")).cast("long").alias("n_docs"),
        ((F.col("size") - 1) * F.count("*")).cast("long").alias("n_removable"),
    )


@REGISTRY.register(
    "dd19_novelty_rate",
    oracle="""
    WITH bounds AS (
      SELECT MIN(doc_id) + CAST(floor((MAX(doc_id) - MIN(doc_id)) / 2.0)
                                AS BIGINT) AS mid
      FROM documents
    ),
    snap AS (
      SELECT d.source, md5(d.text) AS f,
             CASE WHEN d.doc_id < b.mid THEN 'old' ELSE 'new' END AS snapshot
      FROM documents d CROSS JOIN bounds b
    ),
    seen AS (SELECT DISTINCT f FROM snap WHERE snapshot = 'old')
    SELECT s.source,
           CAST(COUNT(*) AS BIGINT) AS n_new_docs,
           CAST(SUM(CASE WHEN seen.f IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_seen_before,
           round(1 - SUM(CASE WHEN seen.f IS NOT NULL THEN 1.0 ELSE 0 END)
                     / COUNT(*), 6) AS novelty_frac
    FROM snap s LEFT JOIN seen ON seen.f = s.f
    WHERE s.snapshot = 'new'
    GROUP BY 1
    """,
    doc="Cross-snapshot novelty rate: what fraction of the NEW crawl "
    "snapshot's documents carry content never seen in the OLD snapshot "
    "(doc_id halves stand in for the two snapshots at fixture scale; "
    "production passes two table paths) — the recrawl-budget metric: a "
    "source whose novelty collapses toward zero is re-serving the same "
    "pages and should be crawled less, the exact signal S26 enforces "
    "row-by-row at ingest, aggregated to the per-source planning view. "
    "Old-snapshot fingerprints reduce to a distinct 16-byte set, the "
    "new snapshot left-joins it (broadcast when the old set is "
    "dictionary-sized, shuffle-hash otherwise) — no text in any "
    "exchange.",
    tags=("dedup", "llm", "novelty", "crawl"),
)
def dd19(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # explicit floor — Spark's double->long cast truncates, DuckDB's
    # rounds half-even (the x52 lesson applied to the snapshot midpoint)
    bounds = docs.agg(
        (
            F.min("doc_id")
            + F.floor((F.max("doc_id") - F.min("doc_id")) / 2.0).cast("long")
        ).alias("mid")
    )
    snap = docs.crossJoin(F.broadcast(bounds)).select(
        "source",
        F.md5("text").alias("f"),
        F.when(F.col("doc_id") < F.col("mid"), "old").otherwise("new").alias("snapshot"),
    )
    seen = snap.filter(F.col("snapshot") == "old").select("f").distinct().withColumn(
        "seen", F.lit(1)
    )
    new = snap.filter(F.col("snapshot") == "new").join(seen, "f", "left")
    return new.groupBy("source").agg(
        F.count("*").cast("long").alias("n_new_docs"),
        F.sum(F.col("seen").isNotNull().cast("int")).cast("long").alias("n_seen_before"),
        F.round(
            1 - F.sum(F.col("seen").isNotNull().cast("double")) / F.count("*"), 6
        ).alias("novelty_frac"),
    )


@REGISTRY.register(
    "dd20_containment_join",
    oracle=r"""
    WITH e AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 4, 1) + 1),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'),
                                               CAST(i AS INT), CAST(i + 4 AS INT)), ' ')))) AS sh
      FROM documents
    ),
    sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM e GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
      FROM e a JOIN e b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(CAST(nc AS DOUBLE) / za.n, 6) AS containment
    FROM common
    JOIN sz za ON za.doc_id = doc_a
    WHERE CAST(nc AS DOUBLE) / za.n >= 0.9
    """,
    doc="Asymmetric containment join (|A∩B| / |A| >= 0.9 on word "
    "5-grams): finds docs SUBSUMED by others — quotes, excerpts, "
    "boilerplate-wrapped reposts — which symmetric Jaccard (dd14) "
    "misses whenever the container is much larger than the contained "
    "doc (J = |A|/|B| can sit far below any Jaccard threshold while "
    "containment is 1.0). Prefix filtering still applies but "
    "asymmetrically (Xiao et al.'s PPJoin containment variant): a "
    "contained doc can miss at most floor((1-t)*|A|) of its shingles, "
    "so joining A's |A| - ceil(t*|A|) + 1 RAREST shingles against B's "
    "FULL posting lists yields a lossless candidate superset — the "
    "oracle is the quadratic form, so the hash-match proves "
    "losslessness. The B side indexes every shingle (containment has "
    "no length filter in the container direction — that asymmetry is "
    "the algorithm, not an oversight); candidate volume still tracks "
    "rare-token posting lists. At 100 TB: same staging as dd14 "
    "(shingle table to parquet, partitioned by token hash), and pairs "
    "whose containment ~1 with |B|>>|A| are the 'quoted inside' edges "
    "a dedup policy usually DROPS the small side of.",
    tags=("dedup", "llm", "containment", "prefix-filter", "exact"),
)
def dd20(spark: SparkSession, sf_dir: str, threshold: float = 0.9) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    sh = _word_shingles(docs, 5)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    freq = sh.groupBy("sh").agg(F.count("*").alias("f"))
    ranked = sh.join(freq, "sh").select(
        "doc_id",
        "sh",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("f", "sh"))
        .alias("rk"),
    )
    # asymmetric prefix: only the CONTAINED side (A) is pruned to its
    # rarest |A| - ceil(t*|A|) + 1 shingles; the container side joins full
    pref_a = ranked.join(sz, "doc_id").filter(
        F.col("rk") <= F.col("n") - F.ceil(F.lit(threshold) * F.col("n")) + 1
    )
    # Candidate generation joins on xxhash64(sh) — an 8-byte exchange key
    # instead of the shingle string. A hash collision can only ADD a
    # candidate (superset preserved; equal shingles always hash equal),
    # and the verify tier below intersects on the exact strings, so
    # losslessness is untouched — the oracle hash-match still proves it.
    cand = (
        pref_a.select("doc_id", F.xxhash64("sh").alias("hs"))
        .alias("a")
        .join(
            sh.select("doc_id", F.xxhash64("sh").alias("hs")).alias("b"),
            (F.col("a.hs") == F.col("b.hs"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    cand_docs = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionAll(cand.select("doc_b"))
        .distinct()
    )
    sh_c = sh.join(F.broadcast(cand_docs), "doc_id")
    common = (
        sh_c.alias("ca")
        .join(
            sh_c.alias("cb"),
            (F.col("ca.sh") == F.col("cb.sh"))
            & (F.col("ca.doc_id") != F.col("cb.doc_id")),
        )
        .select(F.col("ca.doc_id").alias("doc_a"), F.col("cb.doc_id").alias("doc_b"))
        .join(F.broadcast(cand), ["doc_a", "doc_b"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
    )
    containment = F.col("nc").cast("double") / F.col("n")
    return (
        common.join(F.broadcast(sz), F.col("doc_a") == F.col("doc_id"))
        .filter(containment >= threshold)
        .select("doc_a", "doc_b", F.round(containment, 6).alias("containment"))
    )


@REGISTRY.register(
    "dd21_source_precedence_dedup",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, md5(text) AS f FROM documents
    ),
    ranked AS (
      SELECT doc_id, source, f,
             row_number() OVER (PARTITION BY f ORDER BY source, doc_id) AS rk,
             min(source) OVER (PARTITION BY f) AS keeper_source
      FROM fp
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk > 1 AND source = keeper_source
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_self_dup,
           CAST(SUM(CASE WHEN rk > 1 AND source <> keeper_source
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_shadowed
    FROM ranked GROUP BY 1
    """,
    doc="Source-precedence exact dedup ledger: when corpora merge (crawl "
    "snapshots, licensed dumps, curated sets), identical texts keep ONE "
    "copy from the highest-precedence source (here: lexicographic "
    "source order, ties by doc_id — swap in an explicit priority table "
    "at will) and every source gets an audit row: docs kept, dupes of "
    "its own keeper (n_self_dup), and docs SHADOWED by a higher-"
    "precedence source — the number that tells you what a new source "
    "actually added vs re-sent (dd11 measures pairwise overlap; this "
    "resolves it into per-doc keep decisions under a total precedence "
    "order). One shuffle on the 16-byte md5 fingerprint (text never "
    "moves), two window passes under the same exchange, one per-source "
    "rollup.",
    tags=("dedup", "llm", "precedence", "audit"),
)
def dd21(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", "source", F.md5("text").alias("f"))
    wf = Window.partitionBy("f")
    ranked = fp.select(
        "source",
        F.row_number().over(wf.orderBy("source", "doc_id")).alias("rk"),
        F.min("source").over(wf).alias("keeper_source"),
    )
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(F.when(F.col("rk") == 1, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(
            F.when((F.col("rk") > 1) & (F.col("source") == F.col("keeper_source")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_self_dup"),
        F.sum(
            F.when((F.col("rk") > 1) & (F.col("source") != F.col("keeper_source")), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_shadowed"),
    )


@REGISTRY.register(
    "dd22_lsh_tuning_curve",
    oracle=r"""
    WITH sample AS (
      SELECT doc_id, text FROM (
        SELECT doc_id, text,
               row_number() OVER (
                 ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS srk
        FROM documents
      ) WHERE srk <= 30
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\s+')) - 2, 1) + 1),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\s+'),
                                               CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS sh
      FROM sample
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS nc
      FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    jacc AS (
      SELECT CAST(nc AS DOUBLE) / (za.n + zb.n - nc) AS s
      FROM common
      JOIN sz za ON za.doc_id = doc_a
      JOIN sz zb ON zb.doc_id = doc_b
    ),
    splits AS (
      SELECT * FROM (VALUES (64, 1), (32, 2), (16, 4), (8, 8),
                            (4, 16), (2, 32), (1, 64)) AS v(bands, rows)
    ),
    curve AS (
      SELECT sp.bands, sp.rows, j.s,
             1 - pow(1 - pow(j.s, sp.rows), sp.bands) AS p
      FROM splits sp CROSS JOIN jacc j
    )
    SELECT CAST(bands AS BIGINT) AS bands, CAST(rows AS BIGINT) AS rows,
           CAST(COUNT(*) AS BIGINT) AS n_overlapping_pairs,
           round(SUM(p), 6) AS expected_candidates,
           CAST(SUM(CASE WHEN s >= 0.77 THEN 1 ELSE 0 END) AS BIGINT) AS n_high_pairs,
           round(SUM(CASE WHEN s >= 0.77 THEN p END)
                 / NULLIF(SUM(CASE WHEN s >= 0.77 THEN 1 END), 0), 6)
               AS expected_recall_high
    FROM curve GROUP BY 1, 2
    """,
    doc="LSH banding tuned against the CORPUS, not a uniform prior: for "
    "every (bands, rows) split of the 64-hash signature, the expected "
    "candidate volume (sum of S-curve collision probabilities "
    "P = 1-(1-s^r)^b over the exact word-3-gram Jaccards of a "
    "30-doc md5-deterministic sample = 435 pairs) and the expected "
    "recall among pairs at/above the dd03 banding threshold (~0.77). "
    "lsh_plan() picks the split under an uninformative prior; this "
    "query is the empirical check that the chosen 8x8 actually "
    "separates THIS corpus's similarity distribution (a corpus whose "
    "near-dup mass sits at 0.6 wants more bands). The sample is "
    "O(30 docs) regardless of corpus size — the audit stays constant-"
    "cost at 100 TB while the exact Jaccards inside it replay in the "
    "oracle.",
    tags=("dedup", "llm", "lsh", "tuning"),
)
def dd22(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.cachereg import track

    docs = t(spark, sf_dir, "documents")
    sample = (
        docs.select(
            "doc_id", "text", F.md5(F.col("doc_id").cast("string")).alias("h")
        )
        .orderBy("h", "doc_id")
        .limit(30)
        .drop("h")
    )
    # The shingle frame feeds three branches (sizes + both join sides);
    # unpersisted, each branch re-runs the full-corpus TakeOrdered sample
    # scan (measured 4.7 s vs 1.0 s at sf0.1 for a 30-doc audit).
    sh = track(_word_shingles(sample, 3, spread_input=False).persist())
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = sh.alias("a"), sh.alias("b")
    common = (
        a.join(b, (F.col("a.sh") == F.col("b.sh")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("nc"))
    )
    za, zb = sz.alias("za"), sz.alias("zb")
    jacc = (
        common.join(F.broadcast(za), F.col("doc_a") == F.col("za.doc_id"))
        .join(F.broadcast(zb), F.col("doc_b") == F.col("zb.doc_id"))
        .select(
            (F.col("nc").cast("double") / (F.col("za.n") + F.col("zb.n") - F.col("nc"))).alias("s")
        )
    )
    splits = docs.sparkSession.createDataFrame(
        [(64, 1), (32, 2), (16, 4), (8, 8), (4, 16), (2, 32), (1, 64)],
        "bands long, rows long",
    )
    p = 1 - F.pow(1 - F.pow(F.col("s"), F.col("rows")), F.col("bands"))
    curve = jacc.crossJoin(F.broadcast(splits)).select("bands", "rows", "s", p.alias("p"))
    high = F.col("s") >= 0.77
    return curve.groupBy("bands", "rows").agg(
        F.count("*").cast("long").alias("n_overlapping_pairs"),
        F.round(F.sum("p"), 6).alias("expected_candidates"),
        F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("n_high_pairs"),
        F.round(
            F.sum(F.when(high, F.col("p"))) / F.nullif(F.sum(F.when(high, F.lit(1))), F.lit(0)),
            6,
        ).alias("expected_recall_high"),
    )


@REGISTRY.register(
    "dd23_temperature_mixing",
    oracle=r"""
    WITH per_doc AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
                 AS n_tokens
      FROM documents
    ),
    per_src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
      FROM per_doc GROUP BY 1
    ),
    shares AS (
      SELECT source, n_docs, n_tokens,
             n_tokens / SUM(n_tokens) OVER () AS nat_share,
             pow(n_tokens, 0.7) / SUM(pow(n_tokens, 0.7)) OVER ()
                 AS temp_share
      FROM per_src
    ),
    rates AS (
      SELECT *, temp_share / nat_share AS rate FROM shares
    ),
    sampled AS (
      SELECT d.source,
             SUM(CAST(floor(r.rate) AS BIGINT)
                 + CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                                       || ':mix'), 1, 8))
                             AS BIGINT) / 4294967296.0
                             < r.rate - floor(r.rate)
                        THEN 1 ELSE 0 END) AS n_sampled
      FROM per_doc d JOIN rates r USING (source)
      GROUP BY 1
    )
    SELECT r.source, r.n_docs, r.n_tokens,
           round(r.nat_share, 6) AS nat_share,
           round(r.temp_share, 6) AS temp_share,
           round(r.rate, 6) AS sampling_rate,
           round(r.rate * r.n_tokens, 2) AS expected_tokens,
           CAST(s.n_sampled AS BIGINT) AS sampled_docs
    FROM rates r JOIN sampled s USING (source)
    ORDER BY r.source
    """,
    doc="Temperature-based source mixing (tau=0.7, the mT5/data-mixture "
    "standard): per-source token mass is re-shared as n^tau / sum(n^tau), "
    "up-weighting rare sources, and each source's sampling rate = "
    "temperature share / natural share; rate > 1 means epochs of "
    "upsampling. Per-document realization uses floor(rate) guaranteed "
    "copies plus one md5-coin Bernoulli copy for the fractional part — "
    "the same deterministic reproducible-coin family as dd15, so the "
    "realized sample hash-checks. Shape at 100 TB: one map-side-combined "
    "pass builds the |sources|-row stats table, the rate table broadcasts "
    "back onto the doc stream (no shuffle of documents at all — the "
    "per-doc leg re-aggregates by source with a combiner), and the "
    "output is |sources| rows. This is the standard front door of a "
    "pretraining mixture pipeline; dd15's soft-dedup weights compose "
    "with it by multiplying into the per-doc coin threshold.",
    tags=("dedup", "llm", "sampling", "mixture", "temperature"),
)
def dd23(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    per_doc = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
    )
    per_src = per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
    )
    # grand totals via broadcast scalar (ReusedExchange on the |sources|-row
    # agg), not SUM() OVER () single-partition windows
    tots = per_src.agg(
        F.sum("n_tokens").alias("_tot_n"),
        F.sum(F.pow("n_tokens", F.lit(0.7))).alias("_tot_p"),
    )
    shares = per_src.crossJoin(F.broadcast(tots)).select(
        "source",
        "n_docs",
        "n_tokens",
        (F.col("n_tokens") / F.col("_tot_n")).alias("nat_share"),
        (F.pow("n_tokens", F.lit(0.7)) / F.col("_tot_p")).alias("temp_share"),
    )
    rates = shares.withColumn(
        "rate", F.col("temp_share") / F.col("nat_share")
    )
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":mix"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    copies = F.floor("rate").cast("long") + F.when(
        coin < F.col("rate") - F.floor("rate"), F.lit(1).cast("long")
    ).otherwise(F.lit(0).cast("long"))
    sampled = (
        per_doc.join(F.broadcast(rates.select("source", "rate")), "source")
        .groupBy("source")
        .agg(F.sum(copies).cast("long").alias("sampled_docs"))
    )
    return (
        rates.join(sampled, "source")
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round("nat_share", 6).alias("nat_share"),
            F.round("temp_share", 6).alias("temp_share"),
            F.round("rate", 6).alias("sampling_rate"),
            F.round(F.col("rate") * F.col("n_tokens"), 2).alias(
                "expected_tokens"
            ),
            "sampled_docs",
        )
        .orderBy("source")
    )


_KMV_K = 64
_KMV_2P60 = 1152921504606846976.0  # 2^60, the hash-space width as double


@REGISTRY.register(
    "dd24_theta_source_overlap",
    oracle=f"""
    WITH sh0 AS (
      SELECT source, unnest(list_distinct(list_transform(
               range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - 2, 1) + 1),
               i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                               CAST(i AS INT), CAST(i + 2 AS INT)), ' ')))) AS sh
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5('kmv:' || sh), 1, 15)) AS BIGINT) AS hv
      FROM sh0
    ),
    counts AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM sh GROUP BY 1
    ),
    bk AS (
      SELECT source, hv FROM (
        SELECT source, hv,
               row_number() OVER (PARTITION BY source ORDER BY hv) AS rn
        FROM sh
      ) WHERE rn <= {_KMV_K}
    ),
    exact AS (
      SELECT x.source AS source_a, y.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS exact_shared
      FROM sh x JOIN sh y ON x.hv = y.hv AND x.source < y.source
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b,
             a.n AS n_a, b.n AS n_b
      FROM counts a JOIN counts b ON a.source < b.source
    ),
    m AS (
      SELECT p.source_a, p.source_b, u.hv,
             MAX(u.in_a) AS in_a, MAX(u.in_b) AS in_b
      FROM pairs p JOIN (
        SELECT source, hv, 1 AS in_a, 0 AS in_b FROM bk
        UNION ALL
        SELECT source, hv, 0, 1 FROM bk
      ) u ON (u.in_a = 1 AND u.source = p.source_a)
          OR (u.in_b = 1 AND u.source = p.source_b)
      GROUP BY 1, 2, 3
    ),
    topk AS (
      SELECT * FROM (
        SELECT m.*, row_number() OVER (PARTITION BY source_a, source_b
                                       ORDER BY hv) AS rn
        FROM m
      ) WHERE rn <= {_KMV_K}
    ),
    stats AS (
      SELECT source_a, source_b,
             COUNT(*) AS kk, MAX(hv) AS kth,
             SUM(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END) AS c
      FROM topk GROUP BY 1, 2
    ),
    est AS (
      SELECT source_a, source_b,
             CASE WHEN kk < {_KMV_K} THEN CAST(kk AS DOUBLE)
                  ELSE {_KMV_K - 1} * {_KMV_2P60!r} / CAST(kth AS DOUBLE)
             END AS est_union,
             CAST(c AS DOUBLE) / kk AS est_jacc
      FROM stats
    )
    SELECT p.source_a, p.source_b, p.n_a, p.n_b,
           COALESCE(x.exact_shared, 0) AS exact_shared,
           CAST(floor(round(e.est_jacc * e.est_union, 9)) AS BIGINT)
               AS est_shared,
           round(e.est_jacc, 6) AS est_jaccard
    FROM pairs p
    JOIN est e USING (source_a, source_b)
    LEFT JOIN exact x USING (source_a, source_b)
    ORDER BY source_a, source_b
    """,
    doc="Approximate cross-source content overlap via md5-deterministic "
    f"KMV/bottom-k sketches (the Theta sketch's core, k={_KMV_K}) — the "
    "scale tier of dd11's exact matrix, at word-3-shingle grain (content "
    "overlap, the contamination signal head fingerprints miss): each "
    "source keeps only its k smallest md5 shingle hashes (KB regardless "
    "of corpus size), and every pairwise shared-count / Jaccard estimate "
    "comes from sketch set-algebra on the k-row samples — no cross-"
    "source shingle join for the estimates at all, which is the "
    "difference between a 100 TB overlap audit reading each source once "
    "and one shuffling a shingle exchange per source pair. KMV (not "
    "HLL) because intersection is first-class: the k smallest of the "
    "merged sample form a uniform coordinated sample of the union, "
    "est_jaccard = matches/k (Beyer et al. 2007), est_union = "
    "(k-1)/U_(k); below capacity the sketch degrades to exact set "
    "algebra. Because the hash is md5, DuckDB rebuilds the IDENTICAL "
    "sketches — the estimator itself is hash-checked (tx31's "
    "replayable-sketch trade; round-6 verdict task #3). Bottom-k is "
    "tournament-mergeable, so the per-source sketch builds as a "
    "two-level rank (16 md5 sub-shards, then k-of-16k) — no task ever "
    "sorts more than one shard, the tx34 idiom; the exact_shared audit "
    "column joins only fingerprints present in >=2 sources (dd11's "
    "shape) and is the one corpus-scale exchange, dropped at 100 TB "
    "where the sketch IS the product. DataSketches theta_sketch_agg is "
    "the interop alternative; this variant trades cross-system sketch "
    "bytes for replayability.",
    tags=("dedup", "llm", "sketch", "theta", "kmv", "overlap", "mergeable"),
)
def dd24(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    sh = (
        _word_shingles(docs.select(F.col("source").alias("doc_id"), "text"))
        .select(
            F.col("doc_id").alias("source"),
            F.conv(
                F.substring(F.md5(F.concat(F.lit("kmv:"), F.col("sh"))), 1, 15),
                16,
                10,
            )
            .cast("long")
            .alias("hv"),
        )
        .distinct()
    )
    sh = track(sh.cache())  # counts + exact + sketch all read it
    counts = sh.groupBy("source").agg(F.count("*").cast("long").alias("n"))
    # two-level tournament bottom-k: per-(source, md5-shard) rank first so
    # no task sorts more than a shard, then k-of-(16k) per source — exact
    # because bottom-k is tournament-mergeable.
    lvl1 = (
        sh.withColumn("shard", F.col("hv").bitwiseAND(F.lit(15)))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("source", "shard").orderBy("hv")
            ),
        )
        .where(F.col("rn") <= _KMV_K)
    )
    bk = (
        lvl1.withColumn(
            "rn2",
            F.row_number().over(Window.partitionBy("source").orderBy("hv")),
        )
        .where(F.col("rn2") <= _KMV_K)
        .select("source", "hv")
    )
    exact = (
        sh.alias("x")
        .join(
            sh.alias("y"),
            (F.col("x.hv") == F.col("y.hv"))
            & (F.col("x.source") < F.col("y.source")),
        )
        .groupBy(
            F.col("x.source").alias("source_a"),
            F.col("y.source").alias("source_b"),
        )
        .agg(F.count("*").cast("long").alias("exact_shared"))
    )
    a, b = counts.alias("a"), counts.alias("b")
    pairs = a.join(b, F.col("a.source") < F.col("b.source")).select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        F.col("a.n").alias("n_a"),
        F.col("b.n").alias("n_b"),
    )
    u = bk.select("source", "hv", F.lit(1).alias("in_a"), F.lit(0).alias("in_b")).unionAll(
        bk.select("source", "hv", F.lit(0), F.lit(1))
    )
    m = (
        pairs.select("source_a", "source_b")
        .join(
            u,
            ((F.col("in_a") == 1) & (F.col("source") == F.col("source_a")))
            | ((F.col("in_b") == 1) & (F.col("source") == F.col("source_b"))),
        )
        .groupBy("source_a", "source_b", "hv")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    topk = m.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("source_a", "source_b").orderBy("hv")
        ),
    ).where(F.col("rn") <= _KMV_K)
    stats = topk.groupBy("source_a", "source_b").agg(
        F.count("*").alias("kk"),
        F.max("hv").alias("kth"),
        F.sum(
            F.when((F.col("in_a") == 1) & (F.col("in_b") == 1), 1).otherwise(0)
        ).alias("c"),
    )
    est = stats.select(
        "source_a",
        "source_b",
        F.when(F.col("kk") < _KMV_K, F.col("kk").cast("double"))
        .otherwise(
            F.lit(float(_KMV_K - 1)) * _KMV_2P60 / F.col("kth").cast("double")
        )
        .alias("est_union"),
        (F.col("c").cast("double") / F.col("kk")).alias("est_jacc"),
    )
    return (
        pairs.join(est, ["source_a", "source_b"])
        .join(exact, ["source_a", "source_b"], "left")
        .fillna(0, subset=["exact_shared"])
        .select(
            "source_a",
            "source_b",
            "n_a",
            "n_b",
            "exact_shared",
            F.floor(F.round(F.col("est_jacc") * F.col("est_union"), 9))
            .cast("long")
            .alias("est_shared"),
            F.round("est_jacc", 6).alias("est_jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


@REGISTRY.register(
    "dd25_exact_substring_spans",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w FROM documents
    ),
    grams AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos,
             md5(array_to_string(
                 list_slice(w, CAST(i AS INT), CAST(i AS INT) + 7), ' ')) AS g
      FROM toks,
           LATERAL (SELECT unnest(range(1, greatest(len(w) - 7, 0) + 1)) AS i)
    ),
    df AS (SELECT g, COUNT(DISTINCT doc_id) AS d FROM grams GROUP BY 1),
    keep AS (SELECT g FROM df WHERE d BETWEEN 2 AND 50),
    hits AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pa, b.pos AS pb
      FROM grams a JOIN keep USING (g) JOIN grams b USING (g)
      WHERE a.doc_id < b.doc_id
    ),
    runs AS (
      SELECT doc_a, doc_b, pa - pb AS diag, pa,
             pa - row_number() OVER (
               PARTITION BY doc_a, doc_b, pa - pb ORDER BY pa) AS run_id
      FROM hits
    ),
    spans AS (
      SELECT doc_a, doc_b, diag, run_id, COUNT(*) AS run_len
      FROM runs GROUP BY 1, 2, 3, 4
    )
    SELECT doc_a, doc_b,
           CAST(MAX(run_len) + 7 AS BIGINT) AS span_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(SUM(run_len) AS BIGINT) AS n_shared_grams
    FROM spans GROUP BY 1, 2
    HAVING MAX(run_len) + 7 >= 12
    """,
    doc="Exact-substring duplication spans (the Lee et al. 2022 "
    "'Deduplicating Training Data' exact tier): for every doc pair, the "
    "LONGEST exactly-shared token run — the memorized-passage / quoted-"
    "boilerplate detector that set-based Jaccard (dd02/dd03) and "
    "containment (dd20) cannot localize. Positional 8-token-gram md5s "
    "join on equal hash (diagonal matches), and each (pair, pos_a - "
    "pos_b) diagonal's consecutive positions collapse to runs via the "
    "classic pos - row_number() islands trick; the longest run + k-1 is "
    "the exact shared span length in tokens. Scale controls: a df "
    "BETWEEN 2 AND 50 gram filter (df=1 cannot pair; df>50 is "
    "boilerplate the quadratic join must not fan out on — at 100 TB "
    "that cap is the difference between candidate-bounded and "
    "all-pairs), 16-byte hashes in every exchange, and the islands "
    "window partitioned per (pair, diagonal) so no global sort exists. "
    "Matches at span >= 12 tokens; both engines share the md5 gram "
    "family, so the whole detector hash-checks.",
    tags=("dedup", "llm", "exact-substring", "spans", "islands"),
)
def dd25(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents")
    # per-position 8-gram md5 is the heavy map chain — floor its
    # parallelism (guide §2.5; the subtree also plans twice: the keep
    # aggregate and the pruned join).
    toks = spread(docs, "doc_id").select(
        "doc_id", F.split(F.trim(F.col("text")), r"\s+").alias("w")
    )
    idx = F.when(
        F.size("w") >= 8, F.sequence(F.lit(1), F.size("w") - 7)
    ).otherwise(F.array().cast("array<int>"))
    grams = toks.select(
        "doc_id",
        F.explode(
            F.transform(
                idx,
                lambda i: F.struct(
                    i.cast("long").alias("pos"),
                    F.md5(F.concat_ws(" ", F.slice("w", i, F.lit(8)))).alias(
                        "g"
                    ),
                ),
            )
        ).alias("s"),
    ).select("doc_id", "s.pos", "s.g")
    keep = (
        grams.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("d"))
        .filter(F.col("d").between(2, 50))
        .select("g")
    )
    pruned = grams.join(keep, "g")
    a, b = pruned.alias("a"), pruned.alias("b")
    hits = a.join(
        b,
        (F.col("a.g") == F.col("b.g"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.col("a.pos").alias("pa"),
        F.col("b.pos").alias("pb"),
    )
    diag = (F.col("pa") - F.col("pb")).alias("diag")
    w_diag = Window.partitionBy(
        "doc_a", "doc_b", F.col("pa") - F.col("pb")
    ).orderBy("pa")
    runs = hits.select(
        "doc_a",
        "doc_b",
        diag,
        "pa",
        (F.col("pa") - F.row_number().over(w_diag)).alias("run_id"),
    )
    spans = runs.groupBy("doc_a", "doc_b", "diag", "run_id").agg(
        F.count("*").alias("run_len")
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            (F.max("run_len") + F.lit(7)).cast("long").alias("span_tokens"),
            F.count("*").cast("long").alias("n_runs"),
            F.sum("run_len").cast("long").alias("n_shared_grams"),
        )
        .filter(F.col("span_tokens") >= 12)
    )


@REGISTRY.register(
    "dd26_source_quota_sample",
    oracle="""
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (
               PARTITION BY source
               ORDER BY md5(CAST(doc_id AS VARCHAR) || ':quota'), doc_id) AS rk
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN rk <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           CAST(SUM(CASE WHEN rk <= 50 THEN n_chars ELSE 0 END) AS BIGINT)
               AS kept_chars,
           round(SUM(CASE WHEN rk <= 50 THEN 1.0 ELSE 0 END) / COUNT(*), 6)
               AS kept_frac,
           md5(array_to_string(
               list(doc_id ORDER BY doc_id) FILTER (WHERE rk <= 50), ','))
               AS kept_ids_md5
    FROM ranked GROUP BY 1
    """,
    doc="Per-source document quota — the CommonCrawl-style curation cap "
    "that stops one domain from dominating a mixture (the hard-cap "
    "sibling of dd23's temperature softening and x38's de-domination): "
    "each source keeps at most 50 documents, selected by md5(doc_id) "
    "rank — a deterministic uniform sample, reproducible across reruns "
    "and engines, which is what makes cap changes diffable. Output pins "
    "the EXACT kept set per source (md5 of the sorted kept ids), not "
    "just counts. Plan: one source-keyed exchange; the rank filter is "
    "optimizer-visible so WindowGroupLimit prunes to ~cap rows per "
    "source BEFORE the final sort — a hot source ships its cap, not its "
    "catalog... except the audit also reports totals, so the count agg "
    "sees every row (16-byte keys, map-side combined). At 100 TB the "
    "cap path and the audit path are one job.",
    tags=("dedup", "llm", "sampling", "quota", "curation"),
)
def dd26(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":quota"))), "doc_id"
    )
    ranked = docs.withColumn("rk", F.row_number().over(w))
    kept = F.col("rk") <= 50
    return ranked.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.sum(F.when(kept, F.col("n_chars")).otherwise(0)).cast("long").alias(
            "kept_chars"
        ),
        F.round(F.sum(kept.cast("double")) / F.count("*"), 6).alias("kept_frac"),
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(F.when(kept, F.col("doc_id")))
                ).cast("array<string>"),
            )
        ).alias("kept_ids_md5"),
    )


@REGISTRY.register(
    "dd27_incremental_dedup",
    oracle="""
    WITH tagged AS (
      SELECT doc_id, source, md5(text) AS fp,
             CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                       % 100 < 80
                  THEN 'index' ELSE 'batch' END AS side
      FROM documents
    ),
    idx AS (SELECT DISTINCT fp FROM tagged WHERE side = 'index'),
    batch AS (
      SELECT b.doc_id, b.source, b.fp,
             CASE WHEN i.fp IS NOT NULL THEN 1 ELSE 0 END AS in_index,
             row_number() OVER (PARTITION BY b.fp ORDER BY b.doc_id)
                 AS rn
      FROM tagged b LEFT JOIN idx i ON b.fp = i.fp
      WHERE b.side = 'batch'
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN in_index = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_index,
           CAST(SUM(CASE WHEN in_index = 0 AND rn > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup_batch,
           CAST(SUM(CASE WHEN in_index = 0 AND rn = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_kept
    FROM batch GROUP BY source
    """,
    doc="Incremental (snapshot-vs-batch) exact dedup — the daily-crawl "
    "shape dd01 doesn't model: an 80/20 md5-bucket split stands in for "
    "the historical index and the incoming batch; each batch doc is "
    "dropped as a duplicate OF THE INDEX, deduped WITHIN the batch "
    "(first doc_id wins), or kept, reported per source. This is the op "
    "a continuously-ingesting pipeline runs every cycle: the index "
    "side reduces to a DISTINCT over 16-byte fingerprints (never "
    "documents), the anti/semi membership test is an equi-join on fp, "
    "and the within-batch winner is a rank window PARTITIONED by fp — "
    "all keys are fixed-width hashes, so at 100 TB the shuffle volume "
    "is fingerprint-sized and the historical index never rescans "
    "document bytes (in production the fp set is the persisted dedup "
    "ledger, per dd21). AQE skew-split covers hot fingerprints (the "
    "empty-document pathology) because the window key equals the "
    "shuffle key.",
    tags=("dedup", "llm", "incremental", "exact"),
)
def dd27(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    docs = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    tagged = docs.select(
        "doc_id",
        "source",
        F.md5("text").alias("fp"),
        F.when(bucket < 80, "index").otherwise("batch").alias("side"),
    )
    idx = (
        tagged.filter(F.col("side") == "index")
        .select("fp")
        .distinct()
        .withColumn("in_index", F.lit(1))
    )
    rn = F.row_number().over(Window.partitionBy("fp").orderBy("doc_id"))
    batch = (
        tagged.filter(F.col("side") == "batch")
        .withColumn("rn", rn)
        .join(idx, "fp", "left")
        .select(
            "source",
            F.coalesce("in_index", F.lit(0)).alias("in_index"),
            "rn",
        )
    )
    return batch.groupBy("source").agg(
        F.count("*").cast("long").alias("n_batch"),
        F.sum(F.when(F.col("in_index") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_dup_index"),
        F.sum(
            F.when((F.col("in_index") == 0) & (F.col("rn") > 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_dup_batch"),
        F.sum(
            F.when((F.col("in_index") == 0) & (F.col("rn") == 1), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_kept"),
    )


def _dd28_oracle_sql() -> str:
    return f"""
    WITH {_minhash_pipeline_ctes()},
    tagged AS (
      SELECT doc_id, source,
             CASE WHEN CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT)
                       % 100 < 80
                  THEN 'index' ELSE 'batch' END AS side
      FROM documents
    ),
    cand AS (
      SELECT DISTINCT tb.doc_id AS batch_doc, ti.doc_id AS index_doc
      FROM bands a
      JOIN bands b ON a.band = b.band AND a.bhash = b.bhash
                   AND a.doc_id <> b.doc_id
      JOIN tagged tb ON tb.doc_id = a.doc_id AND tb.side = 'batch'
      JOIN tagged ti ON ti.doc_id = b.doc_id AND ti.side = 'index'
    ),
    agree AS (
      SELECT c.batch_doc, MAX({_sql_est_agree()}) AS best
      FROM cand c
      JOIN sig sa ON sa.doc_id = c.batch_doc
      JOIN sig sb ON sb.doc_id = c.index_doc
      GROUP BY c.batch_doc
    ),
    batch AS (
      SELECT t.source, t.doc_id, COALESCE(g.best, 0) AS best
      FROM tagged t LEFT JOIN agree g ON g.batch_doc = t.doc_id
      WHERE t.side = 'batch'
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_batch,
           CAST(SUM(CASE WHEN best > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_candidates,
           CAST(SUM(CASE WHEN best >= 45 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_neardup,
           CAST(SUM(CASE WHEN best < 45 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM batch GROUP BY source
    """


@REGISTRY.register(
    "dd28_incremental_neardup",
    oracle=_dd28_oracle_sql(),
    doc="Incremental NEAR-dup against a persisted index — the sketch twin "
    "of dd27's exact ledger and the op a continuously-crawling pipeline "
    "actually runs: the historical side keeps only its MinHash band "
    "buckets (the 80/20 md5 split stands in for index vs incoming "
    "batch), each batch doc meets index docs ONLY inside shared "
    "(band, bhash) buckets — an asymmetric bucket join, never "
    "batch x index — and is dropped when its best signature agreement "
    "reaches 45/64 (~0.70 estimated Jaccard, the near-dup regime "
    "between dd03's 0.77 banding threshold and dd10's calibration "
    "curve). Per source: batch size, docs with any index candidate, "
    "near-dups dropped, kept. Integer agreement counts compare "
    "exactly — no fp threshold to drift. At 100 TB the index is a "
    "parquet band-bucket table maintained additively (new batch bands "
    "append after each cycle; S29 is the streaming twin), batch "
    "signatures are map-only (minhash_signatures), and the bucket "
    "join's shuffle carries (band, 60-bit hash) keys — the whole "
    "cycle cost is proportional to the BATCH, not the corpus.",
    tags=("dedup", "llm", "minhash", "lsh", "incremental"),
)
def dd28(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    bucket = F.conv(F.substring(F.md5("text"), 1, 8), 16, 10).cast(
        "long"
    ) % 100
    tagged = docs.select(
        "doc_id",
        "source",
        F.when(bucket < 80, "index").otherwise("batch").alias("side"),
    )
    sig = track(minhash_signatures(docs).cache())
    sig.count()  # one materialization; bands + both agree legs reuse it
    bt = band_keys(sig).join(tagged.select("doc_id", "side"), "doc_id")
    ba = bt.filter(F.col("side") == "batch").select(
        F.col("doc_id").alias("batch_doc"), "band", "bhash"
    )
    bi = bt.filter(F.col("side") == "index").select(
        F.col("doc_id").alias("index_doc"), "band", "bhash"
    )
    cand = (
        ba.join(bi, ["band", "bhash"])
        .filter(F.col("batch_doc") != F.col("index_doc"))
        .select("batch_doc", "index_doc")
        .distinct()
    )
    est = F.size(
        F.filter(
            F.zip_with(
                F.col("sa.signature"),
                F.col("sb.signature"),
                lambda x, y: x == y,
            ),
            lambda v: v,
        )
    )
    agree = (
        cand.join(sig.alias("sa"), F.col("batch_doc") == F.col("sa.doc_id"))
        .join(sig.alias("sb"), F.col("index_doc") == F.col("sb.doc_id"))
        .groupBy("batch_doc")
        .agg(F.max(est).alias("best"))
    )
    batch = (
        tagged.filter(F.col("side") == "batch")
        .join(agree, F.col("doc_id") == F.col("batch_doc"), "left")
        .select("source", F.coalesce("best", F.lit(0)).alias("best"))
    )
    return batch.groupBy("source").agg(
        F.count("*").cast("long").alias("n_batch"),
        F.sum((F.col("best") > 0).cast("int")).cast("long").alias(
            "n_candidates"
        ),
        F.sum((F.col("best") >= 45).cast("int")).cast("long").alias(
            "n_neardup"
        ),
        F.sum((F.col("best") < 45).cast("int")).cast("long").alias("n_kept"),
    )


def _seed_ivf_ctes_fixed(n_cells: int) -> str:
    """_SEED_IVF_CTES with a FIXED cell count instead of the auto
    ceil(sqrt(N)) sizing — same quantizer, same md5 seed pick, same
    argmax-cos assignment, so the oracle stays shared verbatim with the
    sm05/dd12 index replay."""
    from pyconnect_spark.operators.similarity import _SEED_IVF_CTES

    return _SEED_IVF_CTES.replace(
        "CAST(ceil(sqrt(COUNT(*))) AS BIGINT)", f"CAST({n_cells} AS BIGINT)"
    )


@REGISTRY.register(
    "dd29_cluster_balanced_sample",
    oracle=f"""
    WITH {_seed_ivf_ctes_fixed(8)},
    ranked AS (
      SELECT vec_id, cell,
             row_number() OVER (
               PARTITION BY cell
               ORDER BY md5(CAST(vec_id AS VARCHAR) || ':cbal'), vec_id)
                 AS rk
      FROM seedcells
    )
    SELECT CAST(cell AS BIGINT) AS cell,
           CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(SUM(CASE WHEN rk <= 40 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept,
           round(SUM(CASE WHEN rk <= 40 THEN 1.0 ELSE 0 END) / COUNT(*), 6)
               AS kept_frac,
           md5(array_to_string(
               list(vec_id ORDER BY vec_id) FILTER (WHERE rk <= 40), ','))
               AS kept_ids_md5
    FROM ranked GROUP BY cell
    """,
    doc="Cluster-balanced sampling (the Minipile / DataComp curation "
    "move, and the selection-side cousin of SemDeDup): embeddings are "
    "assigned to a FIXED 8-cell seed quantizer (the shared "
    "sm05/dd12/sm24 index build — md5 seed pick, argmax-cos JVM fold, "
    "fully oracle-replayed) and each CLUSTER keeps at most 40 vectors "
    "by md5 rank — an equal per-cluster budget, so dominant modes stop "
    "swamping the mixture and small clusters survive verbatim; dd26 "
    "applies the same hard cap per SOURCE label, this applies it per "
    "LEARNED mode, which is what curation uses when labels lie or "
    "don't exist. Output pins the exact kept set per cluster (md5 of "
    "sorted kept ids) next to the population and kept fraction. Plan: "
    "one broadcast assignment pass (seed table is k rows), ONE "
    "cell-keyed exchange for the rank window (window key == shuffle "
    "key, AQE skew-split covers a hot mode), and a cluster-sized "
    "output. At 100 TB the quota path ships at most cap rows per "
    "cluster; the audit counts ride the same exchange as 12-byte "
    "(cell, vec_id) pairs — embeddings never shuffle.",
    tags=("dedup", "llm", "sampling", "cluster-balance", "curation"),
)
def dd29(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from pyconnect_spark.operators.similarity import seed_ivf_cells_frame

    emb = t(spark, sf_dir, "embeddings")
    cells = (
        seed_ivf_cells_frame(emb, 8)
        .filter(F.col("rk") == 1)
        .select("vec_id", F.col("cell").cast("long").alias("cell"))
    )
    w = Window.partitionBy("cell").orderBy(
        F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":cbal"))),
        "vec_id",
    )
    ranked = cells.withColumn("rk2", F.row_number().over(w))
    kept = F.col("rk2") <= 40
    return ranked.groupBy("cell").agg(
        F.count("*").cast("long").alias("n_vectors"),
        F.sum(kept.cast("int")).cast("long").alias("n_kept"),
        F.round(F.sum(kept.cast("double")) / F.count("*"), 6).alias("kept_frac"),
        F.md5(
            F.concat_ws(
                ",",
                F.array_sort(
                    F.collect_list(F.when(kept, F.col("vec_id")))
                ).cast("array<string>"),
            )
        ).alias("kept_ids_md5"),
    )


_DD30_COS = """round(
               list_aggregate(list_transform(range(1, len(t.embedding) + 1),
                   i -> CAST(t.embedding[CAST(i AS INT)] AS DOUBLE)
                        * CAST(e.embedding[CAST(i AS INT)] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(t.embedding,
                          y -> CAST(y AS DOUBLE) * y), 'sum'))
                  * sqrt(list_aggregate(list_transform(e.embedding,
                          y -> CAST(y AS DOUBLE) * y), 'sum'))), 9)"""


@REGISTRY.register(
    "dd30_semantic_decontamination",
    oracle=f"""
    WITH pairs AS (
      SELECT t.vec_id AS tv, t.label AS lbl, {_DD30_COS} AS c9
      FROM embeddings t JOIN embeddings e
        ON t.vec_id % 20 <> 0 AND e.vec_id % 20 = 0 AND {_DD30_COS} >= 0.4
    ),
    hits AS (
      SELECT lbl, COUNT(*) AS n_pairs,
             COUNT(DISTINCT tv) AS n_flagged,
             round(MAX(c9), 6) AS max_cos
      FROM pairs GROUP BY 1
    ),
    tr AS (
      SELECT label AS lbl, COUNT(*) AS n_train
      FROM embeddings WHERE vec_id % 20 <> 0 GROUP BY 1
    )
    SELECT CAST(tr.lbl AS BIGINT) AS label,
           CAST(tr.n_train AS BIGINT) AS n_train,
           CAST(COALESCE(h.n_flagged, 0) AS BIGINT) AS n_flagged,
           CAST(COALESCE(h.n_pairs, 0) AS BIGINT) AS n_pairs,
           h.max_cos
    FROM tr LEFT JOIN hits h USING (lbl)
    ORDER BY label
    """,
    doc="Embedding-space eval-set decontamination — the semantic twin of "
    "dd08's n-gram split decontamination and the check the Llama/GPT "
    "training reports run before training: a deterministic 5% eval "
    "split (vec_id % 20, standing in for the benchmark suite) is "
    "swept against every train vector, and any train vector with "
    "cosine >= 0.4 to ANY eval vector is flagged as a semantic "
    "near-duplicate of the eval set (paraphrases and translations "
    "that n-gram decontamination provably misses). Output: per-label "
    "train size, flagged-vector and flagged-pair counts, max cosine. "
    "Cosines round to 9 dp before the threshold decision (the dd09 "
    "barrier). Plan: the eval side BROADCASTS — eval benches are "
    "KB-MB scale by construction, so the join is a map-only "
    "BroadcastNestedLoop filter over the train scan, no shuffle of "
    "the corpus, then a label-keyed agg of the (tiny) hit frame. At "
    "100 TB this is one linear pass (a BLAS matmul per Arrow batch in "
    "the production tier, the dd12 IVF cells when even that is too "
    "hot); the exact tier here is the oracle-checked semantics.",
    tags=("dedup", "llm", "contamination", "semantic", "eval"),
)
def dd30(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.operators.similarity import pair_dot, vector_norm

    emb = t(spark, sf_dir, "embeddings")
    # norms precomputed per side (linear evals, not |train| x |eval|) —
    # bit-identical to the fused cosine, see similarity.vector_norm
    ev = emb.filter(F.col("vec_id") % 20 == 0).select(
        F.col("embedding").alias("e_emb"),
        vector_norm(F.col("embedding")).alias("e_nrm"),
    )
    tr = emb.withColumn("t_nrm", vector_norm(F.col("embedding"))).filter(
        F.col("vec_id") % 20 != 0
    )
    c9 = F.round(
        pair_dot(F.col("embedding"), F.col("e_emb"))
        / (F.col("t_nrm") * F.col("e_nrm")),
        9,
    )
    pairs = (
        tr.crossJoin(F.broadcast(ev))
        .select("vec_id", "label", c9.alias("c9"))
        .filter(F.col("c9") >= 0.4)
    )
    hits = pairs.groupBy("label").agg(
        F.count("*").cast("long").alias("n_pairs"),
        F.countDistinct("vec_id").cast("long").alias("n_flagged"),
        F.round(F.max("c9"), 6).alias("max_cos"),
    )
    base = tr.groupBy("label").agg(F.count("*").cast("long").alias("n_train"))
    return (
        base.join(hits, "label", "left")
        .select(
            F.col("label").cast("long").alias("label"),
            "n_train",
            F.coalesce("n_flagged", F.lit(0).cast("long")).alias("n_flagged"),
            F.coalesce("n_pairs", F.lit(0).cast("long")).alias("n_pairs"),
            "max_cos",
        )
        .orderBy("label")
    )


@REGISTRY.register(
    "dd32_dedup_manifest",
    oracle=f"""
    WITH RECURSIVE fp AS (SELECT doc_id, md5(text) AS f FROM documents),
    ex AS (SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY 1),
    lab AS (SELECT fp.doc_id, ex.rep FROM fp JOIN ex USING (f)),
    reps AS (SELECT doc_id FROM lab WHERE doc_id = rep),
    sh0 AS ({_DD05_SHINGLES_SQL}),
    sh AS (SELECT sh0.* FROM sh0 JOIN reps USING (doc_id)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM reps
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ),
    cc AS (SELECT node, MIN(root) AS root FROM reach GROUP BY 1)
    SELECT l.doc_id,
           CASE WHEN l.doc_id <> l.rep THEN 'dup_exact'
                WHEN c.root <> l.doc_id THEN 'dup_near'
                ELSE 'kept' END AS verdict,
           CASE WHEN l.doc_id <> l.rep THEN l.rep
                WHEN c.root <> l.doc_id THEN c.root
                ELSE l.doc_id END AS representative
    FROM lab l LEFT JOIN cc c ON c.node = l.doc_id
    ORDER BY l.doc_id
    """,
    doc="Per-document dedup decision manifest — the 'why was my document "
    "dropped' audit table a production dedup pipeline ships NEXT TO "
    "the curated corpus (dd17 reports the funnel's COUNTS; this is the "
    "same funnel at document grain, the provenance record): tier 1 "
    "collapses exact copies onto the min-id fingerprint representative "
    "(dd01/dd21 semantics), tier 2 runs near-dup clustering over the "
    "exact SURVIVORS only (dd05's LSH-verified edges + connected "
    "components), and every document gets (verdict, representative) "
    "with verdicts in {{kept, dup_exact, dup_near}} — dup_exact points "
    "at its fingerprint twin, dup_near at its cluster root. The "
    "DuckDB twin replays both tiers (recursive-CTE components over "
    "the exact edge set), so a hash match re-proves LSH-candidate "
    "completeness at manifest grain. Plan: one fingerprint agg "
    "(16-byte keys), the dd05 candidate/verify/CC machinery on the "
    "exact-rep slice, two label joins — at 100 TB identical posture "
    "to dd01 + dd05, and the manifest ships as parquet keyed by "
    "doc_id for point lookups.",
    tags=("dedup", "llm", "manifest", "provenance", "funnel"),
)
def dd32(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fp = docs.select("doc_id", F.md5("text").alias("f"))
    ex = fp.groupBy("f").agg(F.min("doc_id").alias("rep"))
    # pinned: the rep slice (feeding the whole LSH/CC tier) and the final
    # verdict join both read it — unpinned, the md5 fingerprint agg over
    # the corpus is planned twice per consumer (§1.2)
    lab = fp.join(ex, "f").select("doc_id", "rep").localCheckpoint(eager=False)
    reps = docs.join(
        lab.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    edges = lsh_verified_edges(reps, 0.8)
    comp = connected_components(
        reps.select(F.col("doc_id").alias("node")), edges
    )
    return (
        lab.join(
            comp.select(F.col("node").alias("doc_id"), "root"),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.when(F.col("doc_id") != F.col("rep"), "dup_exact")
            .when(F.col("root") != F.col("doc_id"), "dup_near")
            .otherwise("kept")
            .alias("verdict"),
            F.when(F.col("doc_id") != F.col("rep"), F.col("rep"))
            .when(F.col("root") != F.col("doc_id"), F.col("root"))
            .otherwise(F.col("doc_id"))
            .alias("representative"),
        )
        .orderBy("doc_id")
    )


# Shared by dd33 (split summary) and dd34 (cross-split contamination):
# the group-grain split assignment — dd32's two-tier dedup-group root,
# md5-hashed 80/10/10 — as a DuckDB CTE chain ending in
# split(doc_id, grp, split).
_DD33_SPLIT_CTES = f"""fp AS (SELECT doc_id, md5(text) AS f FROM documents),
    ex AS (SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY 1),
    lab AS (SELECT fp.doc_id, ex.rep FROM fp JOIN ex USING (f)),
    reps AS (SELECT doc_id FROM lab WHERE doc_id = rep),
    sh0 AS ({_DD05_SHINGLES_SQL}),
    sh AS (SELECT sh0.* FROM sh0 JOIN reps USING (doc_id)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM reps
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ),
    cc AS (SELECT node, MIN(root) AS root FROM reach GROUP BY 1),
    grp AS (
      SELECT l.doc_id, COALESCE(c.root, l.rep) AS grp
      FROM lab l LEFT JOIN cc c ON c.node = l.rep
    ),
    split AS (
      SELECT g.doc_id, g.grp,
             CASE WHEN CAST(('0x' || substr(md5('split:' || CAST(g.grp AS VARCHAR)),
                                            1, 8)) AS BIGINT) / 4294967296.0 < 0.8
                  THEN 'train'
                  WHEN CAST(('0x' || substr(md5('split:' || CAST(g.grp AS VARCHAR)),
                                            1, 8)) AS BIGINT) / 4294967296.0 < 0.9
                  THEN 'val' ELSE 'test' END AS split
      FROM grp g
    )"""


def split_coin(col: Column) -> Column:
    """md5-uniform [0,1) coin keyed 'split:<value>' — dd33/dd34's shared
    deterministic split hash (the dd15/dd23 coin family)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("split:"), col.cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )


def leakage_safe_splits_frame(docs: DataFrame) -> DataFrame:
    """(doc_id, grp, split): dd32's two-tier dedup-group root per doc,
    md5-hashed into train/val/test 80/10/10 at GROUP grain — the split
    key every member of a dedup cluster shares. Oracle twin:
    _DD33_SPLIT_CTES. Shared by dd33 (summary) and dd34 (cross-split
    contamination).

    Scope of the leakage guarantee: groups come from
    :func:`lsh_verified_edges` (banded-LSH candidates, then exact
    word-Jaccard >= 0.8 on candidates only), so "zero leaked groups by
    construction" is relative to LSH candidate RECALL — a true >= 0.8
    pair whose signatures collide in no band would be split apart and
    not counted. That recall is measured (dd05's agreement tests pin it
    at 1.0 on the fixtures; banding theory bounds the miss rate at the
    0.8 threshold to ~(1-0.8^8)^8 ≈ 1.6%) and the residual is exactly
    what dd34 reports as cross-split near-dup contamination — the audit
    that would catch a banding miss in production."""
    fp = docs.select("doc_id", F.md5("text").alias("f"))
    ex = fp.groupBy("f").agg(F.min("doc_id").alias("rep"))
    lab = fp.join(ex, "f").select("doc_id", "rep")
    reps = docs.join(
        lab.filter(F.col("doc_id") == F.col("rep")).select("doc_id"),
        "doc_id",
        "left_semi",
    )
    edges = lsh_verified_edges(reps, 0.8)
    comp = connected_components(
        reps.select(F.col("doc_id").alias("node")), edges
    )
    grp = lab.join(
        comp.select(F.col("node").alias("rep"), "root"), "rep", "left"
    ).select("doc_id", F.coalesce("root", "rep").alias("grp"))
    u = split_coin(F.col("grp"))
    # Pinned: dd33 reads this assignment four ways (doc-grain coin,
    # root-split attach twice, the summary agg) and dd34 twice (train
    # side, eval side) — unpinned, EACH consumer re-plans the whole
    # fingerprint + LSH-verify chain above (the round-open dd33 plan
    # scanned `documents` 42 times; guide §1.2/§5). The frame is
    # doc-grain (3 narrow columns), far below the corpus payload.
    return grp.select(
        "doc_id",
        "grp",
        F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test").alias("split"),
    ).localCheckpoint(eager=False)



@REGISTRY.register(
    "dd33_leakage_safe_splits",
    oracle=f"""
    WITH RECURSIVE fp AS (SELECT doc_id, md5(text) AS f FROM documents),
    ex AS (SELECT f, MIN(doc_id) AS rep FROM fp GROUP BY 1),
    lab AS (SELECT fp.doc_id, ex.rep FROM fp JOIN ex USING (f)),
    reps AS (SELECT doc_id FROM lab WHERE doc_id = rep),
    sh0 AS ({_DD05_SHINGLES_SQL}),
    sh AS (SELECT sh0.* FROM sh0 JOIN reps USING (doc_id)),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM reps
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ),
    cc AS (SELECT node, MIN(root) AS root FROM reach GROUP BY 1),
    grp AS (
      SELECT l.doc_id, COALESCE(c.root, l.rep) AS grp
      FROM lab l LEFT JOIN cc c ON c.node = l.rep
    ),
    assigned AS (
      SELECT g.doc_id, g.grp,
             CAST(('0x' || substr(md5('split:' || CAST(g.grp AS VARCHAR)),
                                  1, 8)) AS BIGINT) / 4294967296.0 AS ug,
             CAST(('0x' || substr(md5('split:' || CAST(g.doc_id AS VARCHAR)),
                                  1, 8)) AS BIGINT) / 4294967296.0 AS ud
      FROM grp g
    ),
    named AS (
      SELECT a.doc_id, a.grp,
             CASE WHEN a.ug < 0.8 THEN 'train'
                  WHEN a.ug < 0.9 THEN 'val' ELSE 'test' END AS split,
             CASE WHEN a.ud < 0.8 THEN 'train'
                  WHEN a.ud < 0.9 THEN 'val' ELSE 'test' END AS doc_grain_split,
             CASE WHEN r.ud < 0.8 THEN 'train'
                  WHEN r.ud < 0.9 THEN 'val' ELSE 'test' END AS root_doc_grain_split,
             CASE WHEN r.ug < 0.8 THEN 'train'
                  WHEN r.ug < 0.9 THEN 'val' ELSE 'test' END AS root_group_split
      FROM assigned a JOIN assigned r ON r.doc_id = a.grp
    ),
    toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS nt
      FROM documents
    ),
    total AS (SELECT COUNT(*) AS n FROM documents)
    SELECT n.split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT n.grp) AS BIGINT) AS n_groups,
           CAST(SUM(t.nt) AS BIGINT) AS n_tokens,
           round(COUNT(*) * 1.0 / MAX(total.n), 6) AS doc_share,
           CAST(SUM(CASE WHEN n.doc_grain_split <> n.root_doc_grain_split
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS leaked_docs_doc_grain,
           CAST(SUM(CASE WHEN n.split <> n.root_group_split THEN 1 ELSE 0 END)
                AS BIGINT) AS leaked_docs_group_grain
    FROM named n JOIN toks t USING (doc_id) CROSS JOIN total
    GROUP BY 1 ORDER BY 1
    """,
    doc="Leakage-safe train/val/test split assignment — the splitter a "
    "training pipeline must run AFTER dedup, not before: hashing "
    "doc_id into splits leaks near-duplicates across the boundary "
    "(an eval doc whose paraphrase sits in train), so the split key "
    "is each document's DEDUP-GROUP root — dd32's two-tier "
    "representative (exact fingerprint twin, then the exact-survivor's "
    "LSH-verified near-dup cluster root), which every member shares — "
    "hashed md5-uniform into 80/10/10. Emits per split: docs, distinct "
    "groups, tokens, doc share, and the LEAKAGE AUDIT: how many "
    "documents WOULD have landed on a different side than their group "
    "root under naive doc-grain hashing (the avoided contamination, "
    "measured from the data) next to the group-grain count (zero BY "
    "CONSTRUCTION — the column computes it rather than asserting it). "
    "Plan: dd01's fingerprint agg + dd05's candidate/verify/CC "
    "machinery on the exact-rep slice (identical posture to dd32, the "
    "manifest this splitter consumes in production), then one md5 coin "
    "per group and a broadcast-sized split summary; the only corpus-"
    "scale exchanges are the fingerprint agg and the shingle join "
    "already inside the dedup tiers. The group-as-unit split is the "
    "Pile/C4-era published practice for decontamination-safe holdouts.",
    tags=("dedup", "llm", "splits", "leakage", "decontamination", "curation"),
)
def dd33(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    assigned0 = leakage_safe_splits_frame(docs)
    grp = assigned0.select("doc_id", "grp")

    def coin(col):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("split:"), col.cast("string"))), 1, 8
                ),
                16,
                10,
            ).cast("long")
            / F.lit(4294967296.0)
        )

    def split_of(u):
        return (
            F.when(u < 0.8, "train").when(u < 0.9, "val").otherwise("test")
        )

    assigned = assigned0.join(
        grp.select("doc_id", split_of(coin(F.col("doc_id"))).alias("doc_grain_split")),
        "doc_id",
    )
    root_split = assigned.select(
        F.col("doc_id").alias("grp"),
        F.col("doc_grain_split").alias("root_doc_grain_split"),
        F.col("split").alias("root_group_split"),
    )
    named = assigned.join(root_split, "grp")
    toks = docs.select(
        "doc_id",
        F.size(F.split(F.trim(F.col("text")), r"\s+")).cast("long").alias("nt"),
    )
    total = docs.count()
    return (
        named.join(toks, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.count_distinct("grp").cast("long").alias("n_groups"),
            F.sum("nt").cast("long").alias("n_tokens"),
            F.round(F.count("*") * 1.0 / total, 6).alias("doc_share"),
            F.sum(
                F.when(
                    F.col("doc_grain_split") != F.col("root_doc_grain_split"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("leaked_docs_doc_grain"),
            F.sum(
                F.when(F.col("split") != F.col("root_group_split"), 1).otherwise(0)
            )
            .cast("long")
            .alias("leaked_docs_group_grain"),
        )
        .orderBy("split")
    )


@REGISTRY.register(
    "dd34_split_contamination",
    oracle=f"""
    WITH RECURSIVE {_DD33_SPLIT_CTES},
    toks AS (
      SELECT s.doc_id, s.split, string_split_regex(trim(d.text), '\\s+') AS w
      FROM split s JOIN documents d USING (doc_id)
    ),
    grams AS (
      SELECT doc_id, split,
             unnest(list_transform(range(1, len(w) - 2),
                    i -> md5(w[i] || ' ' || w[i + 1] || ' '
                             || w[i + 2] || ' ' || w[i + 3]))) AS g
      FROM toks WHERE len(w) >= 4
    ),
    train_set AS (SELECT DISTINCT g FROM grams WHERE split = 'train'),
    ev AS (
      SELECT e.split, e.doc_id, e.g,
             CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM grams e LEFT JOIN train_set t USING (g)
      WHERE e.split <> 'train'
    )
    SELECT split,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_gram_instances,
           CAST(SUM(hit) AS BIGINT) AS n_seen_in_train,
           round(CAST(SUM(hit) AS DOUBLE) / COUNT(*), 6)
               AS contamination_rate
    FROM ev GROUP BY 1 ORDER BY 1
    """,
    doc="Residual contamination audit ACROSS dd33's leakage-safe splits: "
    "for the val and test sides, what fraction of their word-4-gram "
    "instances already occur anywhere in train (tx42's GPT-3-paper "
    "statistic, pointed at the split boundary instead of a content "
    "split). dd33 guarantees no exact or >=0.8-Jaccard near-duplicate "
    "straddles a split; THIS query measures what remains below that "
    "threshold — shared boilerplate, quotations, low-overlap "
    "paraphrases — which is exactly the number a release report must "
    "publish next to the split table (group-safe splitting bounds "
    "pair-level duplication; it cannot bound gram-level overlap, so "
    "measure it, don't assert it). Plan: the dd33 split assignment "
    "(dd01 fingerprint agg + dd05 candidate/verify/CC on exact reps) "
    "joins back to ONE gram explode; grams travel as md5 digests "
    "(16-byte keys, the tx42/dd01 shape); the train side reduces to a "
    "distinct digest set before the probe join, so the exchange "
    "carries |distinct grams|, never |instances|. At 100 TB identical "
    "posture to tx42 plus dd33's machinery, both already scale-shaped.",
    tags=("dedup", "llm", "splits", "contamination", "decontamination", "audit"),
)
def dd34(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyconnect_spark.streaming.decontam import gram_digests

    docs = t(spark, sf_dir, "documents")
    splits = leakage_safe_splits_frame(docs).select("doc_id", "split")
    # The pinned splits frame is an ExistingRDD scan with unknown
    # (defaulted-huge) statistics, while the gram explode's estimate
    # stays at SCAN size — left to the planner, it broadcasts the
    # corpus-scale EXPLODE as the build side (measured 9.6 s -> 223 s at
    # sf0.1 when the pin first landed; at 100 TB a failed TB-scale
    # broadcast). Decide from a MEASURED count instead: under the cap,
    # broadcast the doc-grain split map — the gram stream then never
    # shuffles at all (strictly better than the round-open SMJ, which
    # exchanged every gram instance by doc_id); over the cap force
    # sort-merge, the right strategy when both sides are corpus-grain.
    if docs.count() <= _SPLIT_BCAST_CAP:
        grams = gram_digests(docs).join(F.broadcast(splits), "doc_id")
    else:
        grams = gram_digests(docs).hint("merge").join(splits, "doc_id")
    train_set = (
        grams.where(F.col("split") == "train").select("g").distinct()
    )
    ev = (
        grams.where(F.col("split") != "train")
        .join(train_set.withColumn("hit", F.lit(1)), "g", "left")
        .select("split", "doc_id", F.coalesce("hit", F.lit(0)).alias("hit"))
    )
    return (
        ev.groupBy("split")
        .agg(
            F.count_distinct("doc_id").cast("long").alias("n_docs"),
            F.count("*").cast("long").alias("n_gram_instances"),
            F.sum("hit").cast("long").alias("n_seen_in_train"),
            F.round(
                F.sum("hit").cast("double") / F.count("*"), 6
            ).alias("contamination_rate"),
        )
        .orderBy("split")
    )


_DD35_THRESHOLDS = (0.5, 0.6, 0.7, 0.8, 0.9)


@REGISTRY.register(
    "dd35_threshold_sensitivity",
    oracle=f"""
    WITH sh0 AS ({_DD05_SHINGLES_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh0 GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh0 x JOIN sh0 y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b,
             round(CAST(nc AS DOUBLE) / (za.n + zb.n - nc), 9) AS j9
      FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
    ),
    th AS (SELECT unnest(ARRAY{list(_DD35_THRESHOLDS)}) AS t),
    base AS (
      SELECT th.t AS threshold,
             CAST(COUNT(e.a) AS BIGINT) AS n_pairs,
             round(CAST(SUM(CAST(e.j9 AS DECIMAL(20,9))) AS DOUBLE)
                   / greatest(COUNT(e.a), 1), 6) AS mean_jaccard
      FROM th LEFT JOIN edges e ON round(e.j9, 9) >= th.t
      GROUP BY 1
    ),
    docs_in AS (
      SELECT t AS threshold,
             CAST(COUNT(DISTINCT doc) AS BIGINT) AS n_docs
      FROM (
        SELECT th.t, e.a AS doc FROM th JOIN edges e ON round(e.j9, 9) >= th.t
        UNION
        SELECT th.t, e.b FROM th JOIN edges e ON round(e.j9, 9) >= th.t
      ) GROUP BY 1
    )
    SELECT b.threshold, b.n_pairs,
           COALESCE(d.n_docs, 0) AS n_docs, b.mean_jaccard
    FROM base b LEFT JOIN docs_in d ON d.threshold = b.threshold
    ORDER BY b.threshold
    """,
    doc="Dedup-threshold sensitivity curve: candidate near-dup pairs and "
    "their mean Jaccard at every policy threshold 0.5-0.9 from ONE "
    "pairwise-similarity computation (thresholds are filters over one "
    "edge frame, never five re-joins) — the tuning artifact a pipeline "
    "owner reads before freezing dd05's 0.8 (dd22 plots the LSH "
    "S-curve in SIGNATURE space; this is the same decision in "
    "VERIFIED-jaccard space, where the policy actually binds). "
    "n_docs counts the documents involved at each threshold (distinct "
    "union of pair endpoints). Word-3-gram shingles (dd05's grain), "
    "exact integer intersections, jaccard through the 9 dp barrier, "
    "DECIMAL-sum means. Plan: dd02's shingle equi-join (only shingles "
    "present in >=2 docs produce matches) + one combiner agg per pair, "
    "then a 5-row threshold explode over the edge frame. At 100 TB the "
    "edge source swaps to dd03's LSH candidates exactly like dd05 — "
    "the curve math above the edges is unchanged.",
    tags=("dedup", "llm", "threshold", "tuning", "sensitivity"),
)
def dd35(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sh = _word_shingles(docs, 3)  # dd05's grain (_DD05_SHINGLES_SQL twin)
    sz = sh.groupBy("doc_id").agg(F.count("*").alias("n"))
    x, y = sh.alias("x"), sh.alias("y")
    common = (
        x.join(
            y,
            (F.col("x.sh") == F.col("y.sh"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .groupBy(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .agg(F.count("*").alias("nc"))
    )
    edges = (
        common.join(sz.select(F.col("doc_id").alias("a"), F.col("n").alias("na")), "a")
        .join(sz.select(F.col("doc_id").alias("b"), F.col("n").alias("nb")), "b")
        .select(
            "a",
            "b",
            F.round(
                F.col("nc").cast("double")
                / (F.col("na") + F.col("nb") - F.col("nc")),
                9,
            ).alias("j9"),
        )
    )
    edges = track(edges.cache())  # threshold filters + endpoint union read it
    th = spark.range(1).select(
        F.explode(
            F.array(*[F.lit(x) for x in _DD35_THRESHOLDS])
        ).alias("threshold")
    )
    joined = th.join(
        edges, F.round(F.col("j9"), 9) >= F.col("threshold"), "left"
    )
    base = joined.groupBy("threshold").agg(
        F.count("a").cast("long").alias("n_pairs"),
        F.round(
            F.sum(F.col("j9").cast("decimal(20,9)")).cast("double")
            / F.greatest(F.count("a"), F.lit(1)),
            6,
        ).alias("mean_jaccard"),
    )
    docs_in = (
        joined.where(F.col("a").isNotNull())
        .select("threshold", F.explode(F.array("a", "b")).alias("doc"))
        .groupBy("threshold")
        .agg(F.count_distinct("doc").cast("long").alias("n_docs"))
    )
    return (
        base.join(docs_in, "threshold", "left")
        .select(
            "threshold",
            "n_pairs",
            F.coalesce("n_docs", F.lit(0)).cast("long").alias("n_docs"),
            "mean_jaccard",
        )
        .orderBy("threshold")
    )


@REGISTRY.register(
    "dd36_source_copy_matrix",
    oracle=f"""
    WITH sh AS ({_DD05_SHINGLES_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    lab AS (
      SELECT e.a, e.b,
             least(da.source, db.source) AS src_a,
             greatest(da.source, db.source) AS src_b
      FROM edges e
      JOIN documents da ON da.doc_id = e.a
      JOIN documents db ON db.doc_id = e.b
    )
    SELECT src_a, src_b,
           CAST(COUNT(*) AS BIGINT) AS n_edges,
           CAST(COUNT(DISTINCT a) AS BIGINT) AS n_docs_a,
           CAST(COUNT(DISTINCT b) AS BIGINT) AS n_docs_b,
           CAST(SUM(CASE WHEN src_a = src_b THEN 1 ELSE 0 END) AS BIGINT)
               AS n_within
    FROM lab GROUP BY 1, 2 ORDER BY 1, 2
    """,
    doc="Cross-source near-duplicate matrix: >= 0.8 word-Jaccard edges "
    "(the dd05 edge machinery — declared plan = banded-LSH candidates "
    "+ exact verify on candidates) aggregated to (source, source) "
    "grain with the pair normalized by least/greatest — the 'who "
    "copies from whom' provenance audit (mirror detection, licensing "
    "exposure, and the mixture-weight double-count dd13 soft-weights "
    "against; dd11 is the pairwise EXACT-text version, this is its "
    "near-dup completion). n_within counts intra-source edges — a "
    "high off-diagonal says dedup must run across source boundaries, "
    "not per-source. Same edge-recall scope note as dd33: the declared "
    "tier's completeness is relative to LSH candidate recall, pinned "
    "1.0 on the fixtures by test_dd05_lsh_tier_agrees_with_exact_tier. "
    "Plan: the edge build is dd05's (banded buckets, candidate-only "
    "verify), then two doc_id-keyed label joins and a "
    "|sources|^2-bounded rollup — nothing new touches corpus scale.",
    tags=("dedup", "llm", "provenance", "sources", "matrix"),
)
def dd36(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    edges = lsh_verified_edges(docs, 0.8)
    src = docs.select("doc_id", "source")
    lab = (
        edges.join(
            src.select(F.col("doc_id").alias("a"), F.col("source").alias("sa")),
            "a",
        )
        .join(
            src.select(F.col("doc_id").alias("b"), F.col("source").alias("sb")),
            "b",
        )
        .select(
            "a",
            "b",
            F.least("sa", "sb").alias("src_a"),
            F.greatest("sa", "sb").alias("src_b"),
            (F.col("sa") == F.col("sb")).cast("int").alias("within"),
        )
    )
    return (
        lab.groupBy("src_a", "src_b")
        .agg(
            F.count("*").cast("long").alias("n_edges"),
            F.count_distinct("a").cast("long").alias("n_docs_a"),
            F.count_distinct("b").cast("long").alias("n_docs_b"),
            F.sum("within").cast("long").alias("n_within"),
        )
        .orderBy("src_a", "src_b")
    )


_DD37_SIZES = (16, 32, 64)


def _dd37_oracle() -> str:
    prefix = {
        k: " + ".join(
            f"(CASE WHEN sa.s{i} = sb.s{i} THEN 1 ELSE 0 END)" for i in range(k)
        )
        for k in _DD37_SIZES
    }
    est_case = " ".join(
        f"WHEN l.k = {k} THEN ({prefix[k]}) * 1.0 / {k}" for k in _DD37_SIZES
    )
    return f"""
    WITH {_minhash_pipeline_ctes()},
    sz AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY 1),
    common AS (
      SELECT p.doc_a AS a, p.doc_b AS b, COUNT(*) AS nc
      FROM pairs p
      JOIN shingles x ON x.doc_id = p.doc_a
      JOIN shingles y ON y.doc_id = p.doc_b AND y.sh = x.sh
      GROUP BY 1, 2
    ),
    ex AS (
      SELECT p.doc_a AS a, p.doc_b AS b,
             CAST(COALESCE(cm.nc, 0) AS DOUBLE)
                 / (za.n + zb.n - COALESCE(cm.nc, 0)) AS j
      FROM pairs p
      LEFT JOIN common cm ON cm.a = p.doc_a AND cm.b = p.doc_b
      JOIN sz za ON za.doc_id = p.doc_a
      JOIN sz zb ON zb.doc_id = p.doc_b
    ),
    lv AS (SELECT unnest(ARRAY{list(_DD37_SIZES)}) AS k),
    est AS (
      SELECT l.k, e.j, CASE {est_case} END AS est
      FROM ex e
      JOIN sig sa ON sa.doc_id = e.a
      JOIN sig sb ON sb.doc_id = e.b
      CROSS JOIN lv l
    )
    SELECT CAST(k AS BIGINT) AS n_hashes,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(CAST(SUM(CAST(round(abs(est - j), 9) AS DECIMAL(20,9)))
                      AS DOUBLE) / COUNT(*), 6) AS mean_abs_err,
           CAST(SUM(CASE WHEN est >= 0.7 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_est_above_07
    FROM est GROUP BY k ORDER BY k
    """


@REGISTRY.register(
    "dd37_minhash_size_curve",
    oracle=_dd37_oracle(),
    doc="MinHash signature-size sensitivity curve: estimate error vs "
    "exact Jaccard over dd03's own candidate pairs at 16/32/64 hashes "
    "— the knob that prices the dedup index (signature bytes per doc "
    "and band-join width are both linear in n_hashes; estimator "
    "std-dev is sqrt(J(1-J)/k), so the curve should halve per 4x and "
    "the measured table verifies it on THIS corpus before a deploy "
    "commits 64 when 32 would do). The first-k prefix of the 64-hash "
    "signature IS a valid k-hash MinHash (each row is an independent "
    "affine permutation), so the three levels are arithmetic over ONE "
    "signature table — never three pipelines. est = agree/k is exact "
    "binary (k a power of two); exact J joins shingles on candidate "
    "pairs only (the lsh_verified_edges posture); per-pair error "
    "crosses the 9 dp barrier before the DECIMAL mean. At 100 TB: the "
    "candidate set is band-bounded, the signature table is one row per "
    "doc, and the curve is |levels| x |candidates| arithmetic.",
    tags=("dedup", "llm", "minhash", "tuning", "calibration"),
)
def dd37(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    sig = minhash_signatures(docs)
    pairs = lsh_candidate_pairs(sig)
    base = _word_shingles(docs)
    sz = base.groupBy("doc_id").agg(F.count("*").alias("n"))
    x = base.select(F.col("doc_id").alias("doc_a"), "sh")
    y = base.select(F.col("doc_id").alias("doc_b"), "sh")
    common = (
        pairs.join(x, "doc_a")
        .join(y, ["doc_b", "sh"])
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("nc"))
    )
    ex = (
        pairs.join(common, ["doc_a", "doc_b"], "left")
        .join(
            sz.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na")),
            "doc_a",
        )
        .join(
            sz.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            (
                F.coalesce(F.col("nc"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("nc"), F.lit(0)))
            ).alias("j"),
        )
    )
    sa = sig.select(F.col("doc_id").alias("doc_a"), F.col("signature").alias("siga"))
    sb = sig.select(F.col("doc_id").alias("doc_b"), F.col("signature").alias("sigb"))

    def est(k: int):
        agree = F.size(
            F.filter(
                F.zip_with(
                    F.slice("siga", 1, k),
                    F.slice("sigb", 1, k),
                    lambda p, q: p == q,
                ),
                lambda v: v,
            )
        )
        return agree.cast("double") / F.lit(float(k))

    leveled = (
        ex.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "j",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(k).cast("long").alias("k"),
                            est(k).alias("est"),
                        )
                        for k in _DD37_SIZES
                    ]
                )
            ).alias("lv"),
        )
        .select("j", F.col("lv.k").alias("n_hashes"), F.col("lv.est").alias("est"))
    )
    return (
        leveled.groupBy("n_hashes")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.sum(
                    F.round(F.abs(F.col("est") - F.col("j")), 9).cast(
                        "decimal(20,9)"
                    )
                ).cast("double")
                / F.count("*"),
                6,
            ).alias("mean_abs_err"),
            F.sum((F.col("est") >= 0.7).cast("int"))
            .cast("long")
            .alias("n_est_above_07"),
        )
        .orderBy("n_hashes")
    )


@REGISTRY.register(
    "dd38_cluster_source_purity",
    oracle=f"""
    WITH RECURSIVE sh AS ({_DD05_SHINGLES_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ),
    cc AS (SELECT node AS doc_id, MIN(root) AS root FROM reach GROUP BY 1),
    mem AS (
      SELECT cc.root, d.source FROM cc JOIN documents d USING (doc_id)
    ),
    sizes AS (
      SELECT root, CAST(COUNT(*) AS BIGINT) AS size FROM mem GROUP BY 1
    ),
    bysrc AS (
      SELECT root, source, CAST(COUNT(*) AS BIGINT) AS c
      FROM mem GROUP BY 1, 2
    ),
    ent AS (
      SELECT b.root,
             CAST(COUNT(*) AS BIGINT) AS n_sources,
             MAX(b.c) AS maxc,
             CAST(SUM(CAST(round((b.c * 1.0 / s.size)
                                 * ln(b.c * 1.0 / s.size), 9)
                           AS DECIMAL(20,9))) AS DOUBLE) AS se
      FROM bysrc b JOIN sizes s USING (root) GROUP BY 1
    )
    SELECT s.root AS cluster_root, s.size,
           e.n_sources,
           round(-e.se + 0.0, 6) AS source_entropy,
           round(e.maxc * 1.0 / s.size, 6) AS majority_frac
    FROM sizes s JOIN ent e USING (root)
    WHERE s.size >= 2
    ORDER BY s.size DESC, s.root
    """,
    doc="Source purity of near-duplicate clusters: for every multi-member "
    "cluster from dd05's machinery (banded-LSH candidates + exact >= "
    "0.8 verify + connected components), the number of distinct "
    "sources, the Shannon entropy of the within-cluster source "
    "distribution, and the majority-source fraction — dd36 counts "
    "cross-source EDGES, this asks whether whole dup GROUPS are "
    "single-source (entropy 0: per-source dedup would suffice) or "
    "melting pots (per-source dedup silently keeps one copy per "
    "source, the mixture-weight double count dd13 soft-weights "
    "against). Each p*ln p crosses the 9 dp barrier into a DECIMAL "
    "sum (+0.0 normalizes the -0.0 canon for pure clusters). Plan: "
    "dd05's edge/CC shapes verbatim, one doc_id label join, "
    "cluster-count-sized rollups; at 100 TB nothing beyond the "
    "candidate tier touches corpus scale.",
    tags=("dedup", "llm", "provenance", "entropy", "clusters"),
)
def dd38(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    edges = lsh_verified_edges(docs, 0.8)
    comp = connected_components(
        docs.select(F.col("doc_id").alias("node")), edges
    )
    # pinned: sizes and the per-source counts both read it, and each
    # re-planning repeats the CC-output/docs join (§1.2); (root, source)
    # is doc-grain, two narrow columns
    mem = comp.join(
        docs.select(F.col("doc_id").alias("node"), "source"), "node"
    ).select("root", "source").localCheckpoint(eager=False)
    sizes = mem.groupBy("root").agg(F.count("*").cast("long").alias("size"))
    bysrc = mem.groupBy("root", "source").agg(
        F.count("*").cast("long").alias("c")
    )
    p = F.col("c") * 1.0 / F.col("size")
    ent = (
        bysrc.join(sizes, "root")
        .groupBy("root")
        .agg(
            F.count("*").cast("long").alias("n_sources"),
            F.max("c").alias("maxc"),
            F.sum(F.round(p * F.log(p), 9).cast("decimal(20,9)"))
            .cast("double")
            .alias("se"),
        )
    )
    return (
        sizes.join(ent, "root")
        .where(F.col("size") >= 2)
        .select(
            F.col("root").alias("cluster_root"),
            "size",
            "n_sources",
            F.round(-F.col("se") + 0.0, 6).alias("source_entropy"),
            F.round(F.col("maxc") * 1.0 / F.col("size"), 6).alias(
                "majority_frac"
            ),
        )
        .orderBy(F.desc("size"), "cluster_root")
    )


@REGISTRY.register(
    "dd39_bloom_prefilter_audit",
    oracle="""
    WITH fps AS (
      SELECT doc_id, md5(text) AS fp, doc_id % 2 = 0 AS in_a FROM documents
    ),
    salts AS (SELECT UNNEST([1, 2, 3]) AS i),
    a_bits AS (
      SELECT DISTINCT CAST(('0x' || substr(md5(s.i || ':' || f.fp), 1, 8))
                           AS BIGINT) % 1024 AS pos
      FROM fps f CROSS JOIN salts s WHERE f.in_a
    ),
    b_pos AS (
      SELECT f.doc_id, f.fp,
             CAST(('0x' || substr(md5(s.i || ':' || f.fp), 1, 8))
                  AS BIGINT) % 1024 AS pos
      FROM fps f CROSS JOIN salts s WHERE NOT f.in_a
    ),
    b_probe AS (
      SELECT doc_id, fp,
             COUNT(DISTINCT pos) AS n_pos,
             COUNT(DISTINCT CASE WHEN pos IN (SELECT pos FROM a_bits)
                                 THEN pos END) AS n_hit
      FROM b_pos GROUP BY 1, 2
    ),
    b_flag AS (
      SELECT p.n_hit = p.n_pos AS bloom_pos,
             p.fp IN (SELECT fp FROM fps WHERE in_a) AS true_dup
      FROM b_probe p
    ),
    counts AS (
      SELECT (SELECT COUNT(*) FROM fps WHERE in_a) AS n_a,
             COUNT(*) AS n_b,
             (SELECT COUNT(*) FROM a_bits) AS n_bits_set,
             SUM(CASE WHEN bloom_pos THEN 1 ELSE 0 END) AS n_bloom_positive,
             SUM(CASE WHEN true_dup THEN 1 ELSE 0 END) AS n_true_dup,
             SUM(CASE WHEN bloom_pos AND NOT true_dup THEN 1 ELSE 0 END)
                 AS n_false_positive
      FROM b_flag
    )
    SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
           CAST(n_bits_set AS BIGINT) AS n_bits_set,
           CAST(n_bloom_positive AS BIGINT) AS n_bloom_positive,
           CAST(n_true_dup AS BIGINT) AS n_true_dup,
           CAST(n_false_positive AS BIGINT) AS n_false_positive,
           round(CAST(n_false_positive AS DOUBLE)
                 / (n_b - n_true_dup), 6) AS fp_rate,
           round(pow(1 - pow(1 - 1.0/1024, 3.0 * n_a), 3), 6)
               AS fp_rate_theory
    FROM counts
    """,
    doc="Bloom-filter pre-filter audit — the membership structure that "
    "lets an INCREMENTAL dedup pass (dd27's ledger probe) skip the "
    "fingerprint shuffle for the ~99% of new docs that cannot be "
    "duplicates: corpus half A (doc_id parity — the deterministic "
    "stand-in for 'yesterday's ledger') populates a k=3, m=1024 "
    "md5-salted bit set; half B probes it; measured false-positive "
    "rate is reported NEXT TO the textbook (1-(1-1/m)^(kn))^k so the "
    "sizing formula itself is what's audited (0.13 measured vs 0.14 "
    "predicted at half-corpus fill). All k positions are md5-exact "
    "in both engines; the ONLY libm is the theory column's pow, "
    "rounded at 6 dp. Plan: the bit set is a <=m-row DISTINCT that "
    "BROADCASTS onto B's map-side probe — at 100 TB the ledger Bloom "
    "(a few GB of bits for 10^10 docs at 1% FP) replaces a "
    "corpus-vs-ledger shuffle join with a broadcast + the tiny "
    "surviving-candidate join; fp gates only (never drops true "
    "dups), so the exact tier behind it stays correct.",
    tags=("dedup", "llm", "bloom", "prefilter", "incremental"),
)
def dd39(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    fps = docs.select(
        "doc_id",
        F.md5("text").alias("fp"),
        (F.col("doc_id") % 2 == 0).alias("in_a"),
    )
    salts = spark.range(1, 4).select(F.col("id").alias("i"))

    def pos():
        return (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.col("i").cast("string"),
                            F.lit(":"),
                            F.col("fp"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 1024
        ).alias("pos")

    a_bits = (
        fps.filter("in_a")
        .crossJoin(F.broadcast(salts))
        .select(pos())
        .distinct()
    )
    b_pos = (
        fps.filter("NOT in_a")
        .crossJoin(F.broadcast(salts))
        .select("doc_id", "fp", pos())
    )
    hit = b_pos.join(
        F.broadcast(a_bits.withColumn("hit", F.lit(1))), "pos", "left"
    )
    b_probe = hit.groupBy("doc_id", "fp").agg(
        F.countDistinct("pos").alias("n_pos"),
        F.countDistinct(F.when(F.col("hit") == 1, F.col("pos"))).alias(
            "n_hit"
        ),
    )
    a_fp = (
        fps.filter("in_a").select("fp").distinct().withColumn("dup", F.lit(1))
    )
    b_flag = b_probe.join(F.broadcast(a_fp), "fp", "left").select(
        (F.col("n_hit") == F.col("n_pos")).alias("bloom_pos"),
        F.col("dup").isNotNull().alias("true_dup"),
    )
    n_a = fps.filter("in_a").agg(F.count("*").alias("n_a"))
    nbits = a_bits.agg(F.count("*").alias("n_bits_set"))
    counts = (
        b_flag.agg(
            F.count("*").alias("n_b"),
            F.sum(F.when(F.col("bloom_pos"), 1).otherwise(0)).alias(
                "n_bloom_positive"
            ),
            F.sum(F.when(F.col("true_dup"), 1).otherwise(0)).alias(
                "n_true_dup"
            ),
            F.sum(
                F.when(F.col("bloom_pos") & ~F.col("true_dup"), 1).otherwise(
                    0
                )
            ).alias("n_false_positive"),
        )
        .crossJoin(F.broadcast(n_a))
        .crossJoin(F.broadcast(nbits))
    )
    return counts.select(
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        F.col("n_bits_set").cast("long").alias("n_bits_set"),
        F.col("n_bloom_positive").cast("long").alias("n_bloom_positive"),
        F.col("n_true_dup").cast("long").alias("n_true_dup"),
        F.col("n_false_positive").cast("long").alias("n_false_positive"),
        F.round(
            F.col("n_false_positive").cast("double")
            / (F.col("n_b") - F.col("n_true_dup")),
            6,
        ).alias("fp_rate"),
        F.round(
            F.pow(
                1 - F.pow(F.lit(1 - 1.0 / 1024), 3.0 * F.col("n_a")), F.lit(3)
            ),
            6,
        ).alias("fp_rate_theory"),
    )


@REGISTRY.register(
    "dd40_keep_rule_agreement",
    oracle="""
    WITH g AS (
      SELECT doc_id, n_chars,
             md5(substr(text, 1, 100)) AS grp,
             row_number() OVER (PARTITION BY md5(substr(text, 1, 100))
                                ORDER BY n_chars DESC, doc_id) AS rk_long,
             row_number() OVER (PARTITION BY md5(substr(text, 1, 100))
                                ORDER BY doc_id) AS rk_first,
             COUNT(*) OVER (PARTITION BY md5(substr(text, 1, 100)))
                 AS n_dups
      FROM documents
    ),
    clusters AS (
      SELECT grp, MAX(n_dups) AS cluster_size,
             MAX(CASE WHEN rk_long = 1 THEN doc_id END) AS id_long,
             MAX(CASE WHEN rk_long = 1 THEN n_chars END) AS chars_long,
             MAX(CASE WHEN rk_first = 1 THEN doc_id END) AS id_first,
             MAX(CASE WHEN rk_first = 1 THEN n_chars END) AS chars_first
      FROM g WHERE n_dups > 1 GROUP BY grp
    )
    SELECT CAST(cluster_size AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(CASE WHEN id_long = id_first THEN 1 ELSE 0 END)
                AS BIGINT) AS n_agree,
           round(SUM(CASE WHEN id_long = id_first THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*), 6) AS agree_rate,
           round(SUM(chars_long) * 1.0 / COUNT(*), 6) AS mean_chars_longest,
           round(SUM(chars_first) * 1.0 / COUNT(*), 6) AS mean_chars_first
    FROM clusters
    GROUP BY 1 ORDER BY 1
    """,
    doc="Retention-policy A/B audit over dd06's duplicate clusters "
    "(md5 of the first 100 chars, n_dups > 1): for every cluster, "
    "compute the survivor under keep-LONGEST (dd06's production rule: "
    "n_chars DESC, doc_id tiebreak) and under keep-FIRST (min doc_id, "
    "the rule most incremental pipelines get by accident because the "
    "earliest crawl wins), then report per-cluster-size agreement "
    "rates and the kept-chars delta — the audit that tells a pipeline "
    "owner whether the cheap rule silently discards longer (higher-"
    "value) variants before they switch it. All counts/chars are "
    "exact integers; the only doubles are final single-expression "
    "ratios rounded at 6 dp. Plan: one shuffle keyed on the 16-byte "
    "fingerprint (both row_numbers and the cluster pivot share the "
    "grp partitioning — documents never re-shuffle), then a "
    "|clusters|-row agg to the <=|sizes|-row result. At 100 TB this "
    "is dd06's exact cost profile: the exchange carries (doc_id, "
    "n_chars, grp), never text.",
    tags=("dedup", "llm", "canonical", "policy"),
)
def dd40(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "n_chars", F.md5(F.substring("text", 1, 100)).alias("grp")
    )
    w = Window.partitionBy("grp")
    enriched = docs.select(
        "doc_id",
        "n_chars",
        "grp",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rk_long"),
        F.row_number().over(w.orderBy(F.asc("doc_id"))).alias("rk_first"),
        F.count("*").over(w).alias("n_dups"),
    )
    pick = lambda rk, col: F.max(F.when(F.col(rk) == 1, F.col(col)))
    clusters = (
        enriched.filter(F.col("n_dups") > 1)
        .groupBy("grp")
        .agg(
            F.max("n_dups").alias("cluster_size"),
            pick("rk_long", "doc_id").alias("id_long"),
            pick("rk_long", "n_chars").alias("chars_long"),
            pick("rk_first", "doc_id").alias("id_first"),
            pick("rk_first", "n_chars").alias("chars_first"),
        )
    )
    agree = F.when(F.col("id_long") == F.col("id_first"), 1).otherwise(0)
    return (
        clusters.groupBy(F.col("cluster_size").cast("long").alias("cluster_size"))
        .agg(
            F.count("*").cast("long").alias("n_clusters"),
            F.sum(agree).cast("long").alias("n_agree"),
            F.round(F.sum(agree) * 1.0 / F.count("*"), 6).alias("agree_rate"),
            F.round(F.sum("chars_long") * 1.0 / F.count("*"), 6).alias(
                "mean_chars_longest"
            ),
            F.round(F.sum("chars_first") * 1.0 / F.count("*"), 6).alias(
                "mean_chars_first"
            ),
        )
        .orderBy("cluster_size")
    )


@REGISTRY.register(
    "dd41_dup_mass_by_source",
    oracle="""
    WITH g AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY md5(substr(text, 1, 100))
                                ORDER BY n_chars DESC, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY md5(substr(text, 1, 100)))
                 AS n_dups
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN n_dups > 1 AND rk > 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS dup_docs,
           CAST(SUM(CASE WHEN n_dups > 1 AND rk > 1 THEN n_chars ELSE 0 END)
                AS BIGINT) AS dup_chars,
           round(SUM(CASE WHEN n_dups > 1 AND rk > 1 THEN n_chars
                          ELSE 0 END) * 1.0 / SUM(n_chars), 6)
               AS dup_char_share
    FROM g
    GROUP BY source
    ORDER BY source
    """,
    doc="Duplicate-mass attribution by source: under dd06's clusters "
    "(md5 of the first 100 chars) and its keep-longest survivor rule, "
    "charge every NON-survivor's characters to the source that "
    "contributed it — the bytes-saved-by-dedup ledger a pipeline "
    "owner reads to decide which crawl to re-negotiate (dd17 counts "
    "docs through the funnel; this weighs them, because a source "
    "whose dups are its LONGEST docs loses more training mass than "
    "doc counts suggest). Clusters span sources; the survivor is "
    "global, losers attribute to their own source. All counts/chars "
    "exact integers; one final ratio rounded at 6 dp. Plan: one "
    "shuffle keyed on the 16-byte fingerprint for the two windows, "
    "then a |sources|-row agg — dd06's cost profile exactly; text "
    "never shuffles.",
    tags=("dedup", "llm", "provenance", "governance"),
)
def dd41(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        "n_chars",
        F.md5(F.substring("text", 1, 100)).alias("grp"),
    )
    w = Window.partitionBy("grp")
    g = docs.select(
        "source",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.desc("n_chars"), F.asc("doc_id")))
        .alias("rk"),
        F.count("*").over(w).alias("n_dups"),
    )
    is_loser = (F.col("n_dups") > 1) & (F.col("rk") > 1)
    return (
        g.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            F.sum(F.when(is_loser, 1).otherwise(0))
            .cast("long")
            .alias("dup_docs"),
            F.sum(F.when(is_loser, F.col("n_chars")).otherwise(0))
            .cast("long")
            .alias("dup_chars"),
            F.round(
                F.sum(F.when(is_loser, F.col("n_chars")).otherwise(0))
                * 1.0
                / F.sum("n_chars"),
                6,
            ).alias("dup_char_share"),
        )
        .orderBy("source")
    )


def _dd42_oracle_sql() -> str:
    """DuckDB replay of TWO independent MinHash+LSH runs: family A is the
    canonical dd03 pipeline (shared CTEs, so the baseline can never drift
    from dd03), family B draws its 64 affine permutations at offset 64
    and salts its band keys with 'sB:'. Both families read the SAME
    shingle-hash CTE ``hs``."""
    p = _MERSENNE
    rows = _N_HASHES // _N_BANDS
    mins_b = ",\n             ".join(
        f"MIN(({a} * h + {b}) % {p}) AS s{i}"
        for i, (a, b) in (
            (i, _hash_params(i + _N_HASHES)) for i in range(_N_HASHES)
        )
    )
    band_selects_b = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, CAST(('0x' || substr(md5('sB:{b}:' || {cat}), 1, 15)) AS BIGINT) AS bhash FROM sig_b".format(
            b=b,
            cat=" || ':' || ".join(
                f"CAST(s{b * rows + j} AS VARCHAR)" for j in range(rows)
            ),
        )
        for b in range(_N_BANDS)
    )
    return f"""
    WITH {_minhash_pipeline_ctes()},
    sig_b AS (
      SELECT doc_id,
             {mins_b}
      FROM hs GROUP BY doc_id
    ),
    bands_b AS (
      {band_selects_b}
    ),
    pairs_b AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands_b a JOIN bands_b b
        ON a.band = b.band AND a.bhash = b.bhash AND a.doc_id < b.doc_id
    ),
    na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs_b),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      FROM pairs p JOIN pairs_b q
        ON q.doc_a = p.doc_a AND q.doc_b = p.doc_b
    )
    SELECT na.n AS n_pairs_seed_a, nb.n AS n_pairs_seed_b, c.n_common,
           round(CAST(c.n_common AS DOUBLE)
                 / (na.n + nb.n - c.n_common), 6) AS pair_jaccard
    FROM na, nb, c
    """


@REGISTRY.register(
    "dd42_seed_stability_audit",
    oracle=_dd42_oracle_sql(),
    doc="MinHash seed-stability audit: run the dd03 candidate pipeline "
    "twice with INDEPENDENT hash draws — family A is dd03's exact "
    "permutations and band keys (shared oracle CTEs, so the baseline "
    "cannot drift), family B takes the affine permutations at offset "
    "64 and 'sB:'-salted band buckets — and report the Jaccard "
    "agreement of the two candidate-pair sets. This is the "
    "reproducibility number a dedup pipeline must publish before "
    "anyone trusts per-seed candidate lists: banded LSH at the "
    "(0.46-ish) threshold is a coin-flip per borderline pair, and a "
    "LOW pair-Jaccard here says the corpus mass sits near the "
    "threshold (rerun with more bands or verify candidates exactly "
    "via dd14), while a high value certifies the candidate set is a "
    "property of the DATA, not the seed. Both runs share one "
    "shingle-hash pass conceptually (the oracle literally shares CTE "
    "hs; at 100 TB materialize the hashed-shingle frame once — "
    "dd03's cache note — and fold both permutation families over it "
    "in one pass), and each run shuffles only (band, hash) bucket "
    "keys. Agreement counting joins two pair tables on the pair key "
    "— candidate-scale, never corpus-scale.",
    tags=("dedup", "llm", "minhash", "lsh", "reproducibility"),
)
def dd42(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # both pinned: count + agreement join each (dd46's rationale)
    pairs_a = lsh_candidate_pairs(minhash_signatures(docs)).localCheckpoint(
        eager=False
    )
    pairs_b = lsh_candidate_pairs(
        minhash_signatures(docs, param_offset=_N_HASHES), salt="sB:"
    ).localCheckpoint(eager=False)
    na = pairs_a.agg(F.count("*").cast("long").alias("n_pairs_seed_a"))
    nb = pairs_b.agg(F.count("*").cast("long").alias("n_pairs_seed_b"))
    common = pairs_a.join(pairs_b, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("long").alias("n_common")
    )
    return (
        na.crossJoin(F.broadcast(nb))
        .crossJoin(F.broadcast(common))
        .select(
            "n_pairs_seed_a",
            "n_pairs_seed_b",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (
                    F.col("n_pairs_seed_a")
                    + F.col("n_pairs_seed_b")
                    - F.col("n_common")
                ),
                6,
            ).alias("pair_jaccard"),
        )
    )


def _dd43_oracle_sql() -> str:
    """Three shingle widths (k = 2/3/5), each replaying the exact
    _word_shingles construction (distinct word k-grams per doc) and
    folding to type/singleton/collision-mass stats."""
    blocks = []
    for k in (2, 3, 5):
        blocks.append(f"""
    SELECT {k} AS k, n_docs, n_types, singleton_share,
           mean_shingles_per_doc, collision_mass
    FROM (
      WITH sh AS (
        SELECT doc_id, unnest(list_distinct(list_transform(
                 range(1, greatest(len(string_split_regex(trim(text), '\\s+')) - {k - 1}, 1) + 1),
                 i -> array_to_string(list_slice(string_split_regex(trim(text), '\\s+'),
                                                 CAST(i AS INT), CAST(i + {k - 1} AS INT)), ' ')))) AS s
        FROM documents
      ),
      df AS (
        SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM sh GROUP BY 1
      ),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents)
      SELECT nd.n_docs,
             CAST(COUNT(*) AS BIGINT) AS n_types,
             round(SUM(CASE WHEN d = 1 THEN 1 ELSE 0 END)
                   * 1.0 / COUNT(*), 6) AS singleton_share,
             round(CAST(SUM(d) AS DOUBLE) / nd.n_docs, 6)
                 AS mean_shingles_per_doc,
             CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS collision_mass
      FROM df, nd GROUP BY nd.n_docs
    )""")
    return (
        "SELECT CAST(k AS BIGINT) AS k, n_docs, n_types, singleton_share, "
        "mean_shingles_per_doc, collision_mass FROM ("
        + " UNION ALL ".join(blocks)
        + ") ORDER BY k"
    )


@REGISTRY.register(
    "dd43_shingle_width_curve",
    oracle=_dd43_oracle_sql(),
    doc="Shingle-width sensitivity curve for the MinHash family: for "
    "word k-grams at k = 2/3/5, the distinct-type count, the share "
    "of types unique to one document (the discriminative mass — "
    "what makes Jaccard sharp), the mean distinct shingles per doc, "
    "and the COLLISION MASS sum(df*(df-1)/2) — exactly the candidate-"
    "pair volume a naive bucket-join on raw shingles would emit, "
    "computed from the posting-list histogram WITHOUT materializing "
    "a single pair. This is the measured justification for dd03/"
    "dd05's k=3 default (dd37 tunes the SIGNATURE size at fixed k; "
    "this tunes k itself): k=2 shows low singleton share and "
    "quadratic collision mass (stopword bigrams bucket everything "
    "together), k=5 pushes singleton share toward 1 and starves "
    "Jaccard of shared evidence. All stats are exact integers or "
    "6-dp-rounded single divisions. Plan: per k, one map-side "
    "distinct-shingle explode riding the document scan, one "
    "(shingle)-keyed combiner agg to the type histogram, one 1-row "
    "fold — three scans today, one multi-k explode if the scan ever "
    "dominates; no pair is ever shuffled.",
    tags=("dedup", "llm", "minhash", "shingle", "tuning"),
)
def dd43(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    outs = []
    for k in (2, 3, 5):
        df_ = (
            _word_shingles(docs, k)
            .groupBy("sh")
            .agg(F.count("*").cast("long").alias("d"))
        )
        stats = df_.agg(
            F.count("*").cast("long").alias("n_types"),
            F.round(
                F.sum(F.when(F.col("d") == 1, 1).otherwise(0))
                * 1.0
                / F.count("*"),
                6,
            ).alias("singleton_share"),
            F.sum("d").cast("long").alias("sum_d"),
            F.sum(
                F.expr("CAST(d * (d - 1) DIV 2 AS BIGINT)")
            )
            .cast("long")
            .alias("collision_mass"),
        )
        outs.append(
            stats.crossJoin(F.broadcast(n_docs)).select(
                F.lit(k).cast("long").alias("k"),
                "n_docs",
                "n_types",
                "singleton_share",
                F.round(
                    F.col("sum_d").cast("double") / F.col("n_docs"), 6
                ).alias("mean_shingles_per_doc"),
                "collision_mass",
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("k")


@REGISTRY.register(
    "dd44_chain_merge_audit",
    oracle=f"""
    WITH RECURSIVE sh AS ({_DD05_SHINGLES_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node, MIN(root) AS root FROM reach GROUP BY node),
    cs AS (
      SELECT root, CAST(COUNT(*) AS BIGINT) AS size
      FROM comp GROUP BY 1 HAVING COUNT(*) > 1
    ),
    pairs AS (
      SELECT a.root, a.node AS pa, b.node AS pb
      FROM comp a JOIN comp b ON b.root = a.root AND a.node < b.node
    ),
    pj AS (
      SELECT p.root,
             CAST(COALESCE(c.nc, 0) AS DOUBLE)
                 / (za.n + zb.n - COALESCE(c.nc, 0)) AS j
      FROM pairs p
      LEFT JOIN common c ON c.a = p.pa AND c.b = p.pb
      JOIN sz za ON za.doc_id = p.pa
      JOIN sz zb ON zb.doc_id = p.pb
    )
    SELECT cs.root AS cluster_root, cs.size,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(MIN(CASE WHEN j >= 0.8 THEN j END), 6)
               AS min_edge_jaccard,
           round(MIN(j), 6) AS min_pair_jaccard,
           CAST(CASE WHEN MIN(j) < 0.8 THEN 1 ELSE 0 END AS BIGINT)
               AS chained
    FROM pj JOIN cs ON cs.root = pj.root
    GROUP BY 1, 2 ORDER BY 1
    """,
    doc="Transitive-merge (chaining) audit of dd05's near-dup clusters: "
    "per multi-document cluster, the weakest EDGE that glued it "
    "(min exact Jaccard among >= 0.8 pairs) and the weakest PAIR "
    "overall — connected components merge a~b~c even when J(a,c) < "
    "threshold, and a cluster flagged `chained` holds members less "
    "similar than the dedup contract promises, i.e. docs a keep-one "
    "policy would WRONGLY delete. This is the published failure mode "
    "of CC-based dedup (chain collapse) made measurable per cluster, "
    "the evidence behind dd40's keep-rule choice and dd35's "
    "threshold curve. Intra-cluster exact Jaccards ride the shingle "
    "posting join RESTRICTED to intra-cluster pairs (clusters are "
    "tiny — the all-pairs grain here is |cluster|^2, never "
    "|corpus|^2); pairs sharing no shingle coalesce to J=0. Every "
    "Jaccard is one exact-integer IEEE ratio, identical in both "
    "engines; the oracle replays dd05's recursive-CTE components so "
    "cluster membership can never drift from the declared dedup "
    "decision. Plan: dd05's LSH-verified edges + min-label CC, one "
    "root-keyed self-join of the (node, root) frame, one posting "
    "join at cluster-pair grain, a |clusters|-row agg.",
    tags=("dedup", "llm", "components", "chaining", "audit"),
)
def dd44(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    edges = lsh_verified_edges(docs, 0.8)
    nodes = docs.select(F.col("doc_id").alias("node"))
    # pinned: the size agg and the pair self-join both read the labels
    comp = connected_components(nodes, edges).localCheckpoint(eager=False)
    cs = (
        comp.groupBy("root")
        .agg(F.count("*").cast("long").alias("size"))
        .filter(F.col("size") > 1)
        # pinned: the member restriction below and the final join both
        # read it; the agg over the pinned labels is cheap but the frame
        # is consumed from three plan positions
        .localCheckpoint(eager=False)
    )
    a = comp.select(F.col("root").alias("r"), F.col("node").alias("pa"))
    b = comp.select(F.col("root").alias("r2"), F.col("node").alias("pb"))
    pairs = a.join(
        b, (F.col("r") == F.col("r2")) & (F.col("pa") < F.col("pb"))
    ).select("r", "pa", "pb")
    # Every consumer of the shingle frame below (the intersection join via
    # pa AND pb, the two size attaches) reads only docs that appear in a
    # size>1 cluster — so shingle ONLY those docs instead of the whole
    # corpus, which the round-open plan shingled four separate times
    # (§2.3: project/filter before the expensive work; §1.2). Membership
    # is dup-suspect bounded: broadcast under the verify tier's cap,
    # plain semi-join over it.
    members = comp.join(cs.select("root"), "root").select(
        F.col("node").alias("doc_id")
    )
    n_members = members.count()
    # spread the SCAN side before the semi-join (the probe must stay on a
    # static scan plan — probing the join frame would finalize its
    # adaptive plan), then shingle without re-spreading
    mdocs = spread(docs, "doc_id").join(
        F.broadcast(members) if n_members <= _VERIFY_BCAST_CAP else members,
        "doc_id",
        "left_semi",
    )
    # Pinned: four consumers below (nc's pa side, nc's pb side, and the
    # two size attaches) read the member shingle frame — unpinned, each
    # would re-plan the semi-join + shingle chain, and because `pairs` is
    # checkpoint-backed with defaulted-huge statistics while the EXPLODE's
    # estimate stays at scan size, the planner then broadcasts the explode
    # as the build side (dd34's flip — at 100 TB a failed TB-scale
    # broadcast). The pin gives all four consumers one small ExistingRDD
    # (members x ~50 shingle hashes, dup-suspect bounded at any scale)
    # and unknown-stats joins plan as sort-merge, safe everywhere.
    base = (
        _word_shingles(mdocs, spread_input=False)
        .select("doc_id", F.xxhash64("sh").alias("h"))
        .localCheckpoint(eager=False)
    )
    sz = base.groupBy("doc_id").agg(F.count("*").alias("n"))
    nc = (
        pairs.join(
            base.select(F.col("doc_id").alias("pa"), "h"), "pa"
        )
        .join(base.select(F.col("doc_id").alias("pb"), "h"), ["pb", "h"])
        .groupBy("r", "pa", "pb")
        .agg(F.count("*").alias("nc"))
    )
    pj = (
        pairs.join(nc, ["r", "pa", "pb"], "left")
        .join(sz.select(F.col("doc_id").alias("pa"), F.col("n").alias("na")), "pa")
        .join(sz.select(F.col("doc_id").alias("pb"), F.col("n").alias("nb")), "pb")
        .select(
            "r",
            (
                F.coalesce(F.col("nc"), F.lit(0)).cast("double")
                / (F.col("na") + F.col("nb") - F.coalesce(F.col("nc"), F.lit(0)))
            ).alias("j"),
        )
    )
    return (
        pj.join(cs, pj["r"] == cs["root"])
        .groupBy(F.col("root").alias("cluster_root"), "size")
        .agg(
            F.count("*").cast("long").alias("n_pairs"),
            F.round(
                F.min(F.when(F.col("j") >= 0.8, F.col("j"))), 6
            ).alias("min_edge_jaccard"),
            F.round(F.min("j"), 6).alias("min_pair_jaccard"),
            F.when(F.min("j") < 0.8, 1)
            .otherwise(0)
            .cast("long")
            .alias("chained"),
        )
        .orderBy("cluster_root")
    )


@REGISTRY.register(
    "dd45_neardup_token_accounting",
    oracle=f"""
    WITH RECURSIVE sh AS ({_DD05_SHINGLES_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    sym AS (SELECT a, b FROM edges UNION ALL SELECT b, a FROM edges),
    reach(node, root) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT s.b, r.root FROM reach r JOIN sym s ON s.a = r.node
    ),
    comp AS (SELECT node, MIN(root) AS root FROM reach GROUP BY node),
    tk AS (
      SELECT doc_id, source,
             CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT)
                 AS n_tok
      FROM documents
    )
    SELECT tk.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(tk.n_tok) AS BIGINT) AS raw_tokens,
           CAST(SUM(CASE WHEN comp.node = comp.root
                         THEN tk.n_tok ELSE 0 END) AS BIGINT)
               AS neardup_effective_tokens,
           round(1 - SUM(CASE WHEN comp.node = comp.root
                              THEN tk.n_tok ELSE 0 END)
                     * 1.0 / SUM(tk.n_tok), 6) AS removed_token_share
    FROM tk JOIN comp ON comp.node = tk.doc_id
    GROUP BY 1 ORDER BY 1
    """,
    doc="NEAR-dup effective-token accounting per source: raw token "
    "volume vs the volume surviving dd05's keep-first-per-cluster "
    "decision — the near-dup completion of tx25 (which prices only "
    "EXACT dups): mixture weights and epoch counts sized on tx25's "
    "number still overcount when template families survive exact "
    "hashing, and the gap between the two columns is precisely the "
    "token mass MinHash buys back. Keep flags come from dd05's "
    "LSH-verified edges + min-label components (oracle replays the "
    "same recursive CC, so accounting can never drift from the "
    "declared dedup decision); token counts ride the same document "
    "scan as the shingles. A removed doc bills to ITS OWN source "
    "even when the kept twin lives elsewhere — the per-source number "
    "is 'what this source loses', matching dd36's copy-matrix "
    "orientation. All sums are exact integers; the share is one "
    "IEEE division rounded 6 dp. Plan: dd05's pipeline + one "
    "|docs|-row join + a |sources|-row agg — the CC label frame is "
    "the only addition to dd05's exchanges.",
    tags=("dedup", "llm", "tokens", "accounting", "components"),
)
def dd45(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    edges = lsh_verified_edges(docs, 0.8)
    nodes = docs.select(F.col("doc_id").alias("node"))
    comp = connected_components(nodes, edges)
    tk = docs.select(
        "doc_id",
        "source",
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tok"),
    )
    kept_tok = F.when(
        F.col("node") == F.col("root"), F.col("n_tok")
    ).otherwise(0)
    return (
        tk.join(comp, F.col("node") == F.col("doc_id"))
        .groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("raw_tokens"),
            F.sum(kept_tok).cast("long").alias("neardup_effective_tokens"),
            F.round(
                1 - F.sum(kept_tok) * 1.0 / F.sum("n_tok"), 6
            ).alias("removed_token_share"),
        )
        .orderBy("source")
    )


def _dd46_oracle_sql() -> str:
    """DuckDB replay of BOTH candidate generators: dd03's MinHash-LSH
    pipeline (shared CTEs) and dd04's SimHash (shared oracle) with the
    4x15-bit pigeonhole block join at Hamming <= 8."""
    block_selects = "\n      UNION ALL ".join(
        f"SELECT doc_id, simhash, {i} AS blk, "
        f"(simhash >> {i * 15}) & 32767 AS bval FROM sims"
        for i in range(4)
    )
    return f"""
    WITH {_minhash_pipeline_ctes()},
    sims AS ({_DD04_ORACLE}),
    blocks AS (
      {block_selects}
    ),
    spairs AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM blocks a JOIN blocks b
        ON a.blk = b.blk AND a.bval = b.bval AND a.doc_id < b.doc_id
      WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
    ),
    nm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pairs),
    ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM spairs),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_common
      FROM pairs p JOIN spairs s
        ON s.doc_a = p.doc_a AND s.doc_b = p.doc_b
    )
    SELECT nm.n AS n_pairs_minhash, ns.n AS n_pairs_simhash, c.n_common,
           round(CAST(c.n_common AS DOUBLE)
                 / (nm.n + ns.n - c.n_common), 6) AS pair_jaccard
    FROM nm, ns, c
    """


@REGISTRY.register(
    "dd46_minhash_vs_simhash",
    oracle=_dd46_oracle_sql(),
    doc="Algorithm-choice audit for near-dup candidate generation: the "
    "candidate-pair sets of the two sketch families the repo ships — "
    "dd03's MinHash(64)+8-band LSH (Jaccard-tuned) and dd04's 60-bit "
    "SimHash with the 4x15-bit pigeonhole block join at Hamming <= 8 "
    "(cosine-of-frequency-tuned) — and their overlap. The two "
    "families have DIFFERENT similarity semantics (set resemblance "
    "vs weighted-vote angle), so a low pair-Jaccard here is not a "
    "bug but a measured statement of how much the method choice "
    "itself decides which pairs a pipeline ever verifies (dd42 is "
    "the seed axis; this is the algorithm axis — together they "
    "bound the candidate set's sensitivity to everything upstream "
    "of the exact verifier). Both pipelines are md5-derived and "
    "replay bit-for-bit in the oracle, including the pigeonhole "
    "buckets. Plan: both sketch pipelines are map-only signature "
    "passes; each candidate join shuffles (band/block, hash) keys; "
    "agreement counting joins two candidate-scale pair tables — "
    "nothing corpus-quadratic anywhere.",
    tags=("dedup", "llm", "minhash", "simhash", "audit"),
)
def dd46(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    # both pair frames pinned: each is read twice (its own count + the
    # agreement join) and each re-planning repeats a corpus-scale
    # signature pipeline (§1.2); pair frames are dup-suspect bounded
    mpairs = lsh_candidate_pairs(minhash_signatures(docs)).localCheckpoint(
        eager=False
    )
    spairs = (
        simhash_hamming_pairs(dd04(spark, sf_dir), max_dist=8)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=False)
    )
    nm = mpairs.agg(F.count("*").cast("long").alias("n_pairs_minhash"))
    ns = spairs.agg(F.count("*").cast("long").alias("n_pairs_simhash"))
    common = mpairs.join(spairs, ["doc_a", "doc_b"]).agg(
        F.count("*").cast("long").alias("n_common")
    )
    return (
        nm.crossJoin(F.broadcast(ns))
        .crossJoin(F.broadcast(common))
        .select(
            "n_pairs_minhash",
            "n_pairs_simhash",
            "n_common",
            F.round(
                F.col("n_common").cast("double")
                / (
                    F.col("n_pairs_minhash")
                    + F.col("n_pairs_simhash")
                    - F.col("n_common")
                ),
                6,
            ).alias("pair_jaccard"),
        )
    )


@REGISTRY.register(
    "dd47_sampled_dedup_bias",
    oracle=f"""
    WITH RECURSIVE sh AS ({_DD05_SHINGLES_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT x.doc_id AS a, y.doc_id AS b, COUNT(*) AS nc
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ),
    edges AS (
      SELECT a, b FROM common
      JOIN sz za ON za.doc_id = common.a
      JOIN sz zb ON zb.doc_id = common.b
      WHERE CAST(nc AS DOUBLE) / (za.n + zb.n - nc) >= 0.8
    ),
    samp AS (
      SELECT doc_id FROM documents
      WHERE CAST(('0x' || substr(md5('s47:' || CAST(doc_id AS VARCHAR)),
                                 1, 8)) AS BIGINT) / 4294967296.0 < 0.5
    ),
    counts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_docs,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM samp) AS n_sample,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM edges) AS n_edges_full,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM edges e
              JOIN samp sa ON sa.doc_id = e.a
              JOIN samp sb ON sb.doc_id = e.b) AS n_edges_sample
    )
    SELECT n_docs, n_sample, n_edges_full, n_edges_sample,
           round(CAST(n_edges_sample AS DOUBLE) / n_edges_full, 6)
               AS observed_edge_share,
           round((CAST(n_sample AS DOUBLE) / n_docs)
                 * (CAST(n_sample AS DOUBLE) / n_docs), 6)
               AS expected_edge_share
    FROM counts
    """,
    doc="Sampled-dedup bias audit: the share of dd05's true near-dup "
    "edges still visible inside a deterministic 50% document sample "
    "(md5 coin, dd15's idiom) against the p^2 a pair statistic "
    "expects — the measured form of the published pitfall that a "
    "duplication rate estimated on a document sample understates "
    "QUADRATICALLY, not linearly (both endpoints must survive the "
    "coin), so 'we sampled 10% and found little duplication' is off "
    "by ~100x, not 10x. Observed vs expected agreeing also certifies "
    "the sampling coin is independent of duplicate structure (a "
    "divergence would mean dup clusters correlate with the hash — "
    "the failure dd15 guards against). Exact integer edge counts on "
    "the dd05 edge set (oracle replays the same pipeline); the two "
    "shares are identically-written IEEE expressions rounded 6 dp. "
    "Plan: dd05's edge pipeline + one broadcast-able sample "
    "semi-join pair; at 100 TB nothing beyond dd05's exchanges is "
    "added.",
    tags=("dedup", "llm", "sampling", "bias", "audit"),
)
def dd47(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    edges = lsh_verified_edges(docs, 0.8).localCheckpoint(eager=False)
    coin = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("s47:"), F.col("doc_id").cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        / F.lit(4294967296.0)
    )
    samp = docs.select("doc_id").filter(coin < 0.5)
    n_docs = docs.agg(F.count("*").cast("long").alias("n_docs"))
    n_sample = samp.agg(F.count("*").cast("long").alias("n_sample"))
    n_full = edges.agg(F.count("*").cast("long").alias("n_edges_full"))
    n_in = (
        edges.join(samp.select(F.col("doc_id").alias("a")), "a")
        .join(samp.select(F.col("doc_id").alias("b")), "b")
        .agg(F.count("*").cast("long").alias("n_edges_sample"))
    )
    share = F.col("n_sample").cast("double") / F.col("n_docs")
    return (
        n_docs.crossJoin(F.broadcast(n_sample))
        .crossJoin(F.broadcast(n_full))
        .crossJoin(F.broadcast(n_in))
        .select(
            "n_docs",
            "n_sample",
            "n_edges_full",
            "n_edges_sample",
            F.round(
                F.col("n_edges_sample").cast("double")
                / F.col("n_edges_full"),
                6,
            ).alias("observed_edge_share"),
            F.round(share * share, 6).alias("expected_edge_share"),
        )
    )
