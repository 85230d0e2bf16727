"""ANN recall check and parameter sweep: recall@5 + latency of the
registered sm03 (hyperplane-LSH), sm05 (IVF) and sm06 (MLlib
BucketedRandomProjectionLSH) queries against brute-force cosine ground
truth, then sweeps of sm03's and sm06's parameters, at a chosen SF.

Usage: python tools/ann_tune.py [sf_dir]
"""
from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
from pyspark.sql import functions as F

from pyconnect_spark.catalog import load_table
from pyconnect_spark.session import get_spark

SF = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
K = 5
N_QUERIES = 5


def ground_truth(spark):
    """Brute-force cosine top-K per query (numpy on collected corpus —
    fixture scale only; this is the oracle, not the operator)."""
    rows = (
        load_table(spark, SF, "embeddings").select("vec_id", "embedding").collect()
    )
    ids = np.array([r.vec_id for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    truth = {}
    for q in range(N_QUERIES):
        qi = int(np.where(ids == q)[0][0])
        sims = mat @ mat[qi]
        sims[qi] = -2
        top = ids[np.argsort(-sims)[:K]]
        truth[q] = set(int(x) for x in top)
    return truth


def recall(df, truth, qcol="q_id", vcol="vec_id"):
    got = {}
    for r in df.collect():
        got.setdefault(r[qcol], set()).add(r[vcol])
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    return hits / (K * len(truth))


def main():
    spark = get_spark("ann-tune", cores="8")
    spark.sparkContext.setLogLevel("ERROR")
    truth = ground_truth(spark)
    print(f"SF={SF}  ground truth ready", flush=True)

    # --- the registered queries, as declared ---
    from pyconnect_spark.registry import ALL

    builders = ALL.builders()
    for name in ("sm03_ann_lsh", "sm05_ann_ivf", "sm06_ann_mllib_lsh"):
        t0 = time.time()
        r = recall(builders[name](spark, SF), truth)
        print(f"{name:22s} recall@5={r:.2f}  {time.time()-t0:.1f}s", flush=True)

    # --- sm03: hyperplane LSH, vary n_planes ---
    from pyconnect_spark.operators import similarity as S

    for n_planes in (6, 8, 10, 12, 16):
        t0 = time.time()
        emb = load_table(spark, SF, "embeddings")
        planes = S._hyperplanes(64, n_planes=n_planes)
        # One table of n_planes bits: its key (table 0 << 32 | bucket) is the bucket.
        bucketed = emb.withColumn("bucket", S.lsh_tables(F.col("embedding"), planes, 1, n_planes)[0])
        queries = (
            emb.filter(F.col("vec_id") < N_QUERIES)
            .withColumn("q_bucket", S.lsh_tables(F.col("embedding"), planes, 1, n_planes)[0])
            .select(F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_emb"), "q_bucket")
        )
        sim = S.cosine(F.col("embedding"), F.col("q_emb"))
        from pyspark.sql.window import Window

        w = Window.partitionBy("q_id").orderBy(F.desc("_s"), "vec_id")
        cand = (
            bucketed.join(F.broadcast(queries), F.col("bucket") == F.col("q_bucket"))
            .filter(F.col("vec_id") != F.col("q_id"))
            .select("q_id", "vec_id", sim.alias("_s"))
            .withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= K)
        )
        r = recall(cand, truth)
        print(f"sm03 n_planes={n_planes:2d}  recall@5={r:.2f}  {time.time()-t0:.1f}s", flush=True)

    # --- sm06: MLlib BRP-LSH grid ---
    from pyspark.ml.feature import BucketedRandomProjectionLSH
    from pyspark.ml.functions import array_to_vector
    from pyspark.sql.window import Window

    emb = load_table(spark, SF, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x * x,
        )
    )
    unit = emb.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double") / norm).alias("u")
    ).select("vec_id", array_to_vector("u").alias("features"))
    unit.cache().count()
    for bl in (0.5, 0.8, 1.2, 2.0):
        for nt in (2, 3, 5, 8):
            for thr in (1.2, 1.4):
                t0 = time.time()
                lsh = BucketedRandomProjectionLSH(
                    inputCol="features", outputCol="hashes",
                    bucketLength=bl, numHashTables=nt, seed=42,
                )
                model = lsh.fit(unit)
                queries = unit.filter(F.col("vec_id") < N_QUERIES)
                pairs = model.approxSimilarityJoin(queries, unit, threshold=thr, distCol="dist")
                cos = 1 - (F.col("dist") * F.col("dist")) / 2
                ranked = (
                    pairs.select(
                        F.col("datasetA.vec_id").alias("q_id"),
                        F.col("datasetB.vec_id").alias("vec_id"),
                        cos.alias("_raw"),
                    ).filter(F.col("q_id") != F.col("vec_id"))
                )
                w = Window.partitionBy("q_id").orderBy(F.desc("_raw"), "vec_id")
                top = ranked.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= K)
                r = recall(top, truth)
                print(
                    f"sm06 bl={bl:3.1f} nt={nt}  thr={thr}  recall@5={r:.2f}  {time.time()-t0:.1f}s",
                    flush=True,
                )
    spark.stop()


if __name__ == "__main__":
    main()
