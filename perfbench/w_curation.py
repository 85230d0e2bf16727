"""llm_curation_batch: the dedup and similarity operators as a batch job.

Closed batch job. A generated corpus in the fixture schema
(documents.parquet with planted near-duplicate clusters and exact copies,
embeddings.parquet with clustered vectors) goes through five registry
queries in order, measured cold: the first run of these plans in the
application, as a batch job submitted to a fresh session runs. At this
size the job time is mostly the operators' fixed cost (planning, code
generation, and the many small Spark jobs of the iterative ones: connected
components in dd05, k-means in sm18), not the volume of data they shuffle
and join. operators.dedup and operators.similarity do all of the work here
and none in the streaming workloads.
"""

from __future__ import annotations

import hashlib
import os
import time
from collections import defaultdict

import numpy as np

from pyconnect_spark.operators.dedup import _MERSENNE, _N_BANDS, _N_HASHES, _hash_params, lsh_verified_edges
from pyconnect_spark.operators._util import t as load_table
from pyconnect_spark.plans import execute_with_metrics
from pyconnect_spark.registry import queries

import gen
from harness import log, median, percentile

N_DOCS, N_VECS = 600, 300
K, N_QUERIES = 5, 5  # sm03/sm18 answer top-5 for vec_id < 5
JACCARD = 0.8  # dd05's near-duplicate edge threshold
STAGES = (
    ("dedup.exact", "dd01_exact_dedup"),
    ("dedup.minhash_lsh", "dd03_minhash_lsh"),
    ("dedup.clusters", "dd05_dedup_clusters"),
    ("similarity.ann_lsh", "sm03_ann_lsh"),
    ("similarity.ivfadc", "sm18_ivfadc"),
)


# ---------------------------------------------------------------------------
# reference results, computed exactly in-process (off the clock)
# ---------------------------------------------------------------------------
def _shingles(text: str) -> list[str]:
    """Distinct word 3-grams, as operators.dedup builds them."""
    toks = text.strip().split()
    return list(dict.fromkeys(" ".join(toks[i:i + 3]) for i in range(max(len(toks) - 2, 1))))


def _md5_60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def minhash_reference(docs: list[dict]) -> set[tuple[int, int, float]]:
    """dd03's contract: md5-derived MinHash(64) signatures, 8 bands of 8
    rows, md5 band keys, candidate pairs with signature-estimated Jaccard."""
    params = np.array([_hash_params(i) for i in range(_N_HASHES)], dtype=np.int64)
    rows = _N_HASHES // _N_BANDS
    sigs = {}
    buckets = defaultdict(list)
    for d in docs:
        hs = np.array([_md5_60(s) % _MERSENNE for s in _shingles(d["text"])], dtype=np.int64)
        sig = ((hs[None, :] * params[:, :1] + params[:, 1:]) % _MERSENNE).min(axis=1)
        sigs[d["doc_id"]] = sig
        for b in range(_N_BANDS):
            key = ":".join([str(b)] + [str(v) for v in sig[b * rows:(b + 1) * rows]])
            buckets[(b, _md5_60(key))].append(d["doc_id"])
    pairs = {(a, c) for ids in buckets.values() for a in ids for c in ids if a < c}
    return {(a, c, round(int((sigs[a] == sigs[c]).sum()) / _N_HASHES, 6)) for a, c in pairs}


def cluster_reference(docs: list[dict]) -> set[tuple[int, int, int]]:
    """dd05's contract over EXACT word-3-gram Jaccard edges (>= JACCARD):
    connected components, root = smallest doc id, keep the root."""
    sh = {d["doc_id"]: set(_shingles(d["text"])) for d in docs}
    index = defaultdict(list)
    for doc_id, s in sh.items():
        for g in s:
            index[g].append(doc_id)
    pairs = {(a, c) for ids in index.values() for a in ids for c in ids if a < c}
    parent = {d: d for d in sh}

    def find(x: int) -> int:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, c in pairs:
        inter = len(sh[a] & sh[c])
        if inter / (len(sh[a]) + len(sh[c]) - inter) >= JACCARD:
            ra, rc = find(a), find(c)
            parent[max(ra, rc)] = min(ra, rc)
    return {(d, find(d), int(d == find(d))) for d in sh}


def exact_topk(unit: np.ndarray) -> dict[int, list[int]]:
    """Brute-force cosine top-K neighbours (self excluded) of each query,
    over unit-length rows."""
    out = {}
    for q in range(N_QUERIES):
        sims = unit @ unit[q]
        sims[q] = -np.inf
        out[q] = [int(i) for i in np.argsort(-sims, kind="stable")[:K]]
    return out


class Reference:
    def __init__(self, docs, vecs):
        self.dd01 = {(len(docs), len({d["text"] for d in docs}), len({(d["lang"], d["source"]) for d in docs}))}
        self.dd03 = minhash_reference(docs)
        self.dd05 = cluster_reference(docs)
        v = vecs.astype(np.float64)
        self.unit = v / np.linalg.norm(v, axis=1, keepdims=True)
        self.topk = exact_topk(self.unit)

    def check_ann(self, rows) -> tuple[bool, float]:
        """Rows are (q_id, vec_id, cos_sim, rk): ranks 1..K per query, each
        cos_sim the true cosine; returns (well formed, recall@K)."""
        by_q = defaultdict(list)
        ok = True
        for q, v, cos, rk in rows:
            by_q[q].append((rk, v))
            ok &= abs(float(self.unit[q] @ self.unit[v]) - cos) < 1e-5
        ok &= sorted(by_q) == list(range(N_QUERIES))
        ok &= all(sorted(rk for rk, _ in hits) == list(range(1, K + 1)) for hits in by_q.values())
        found = sum(len({v for _, v in by_q[q]} & set(self.topk[q])) for q in range(N_QUERIES))
        return ok, found / (K * N_QUERIES)


# ---------------------------------------------------------------------------
# the job
# ---------------------------------------------------------------------------
def _corpus(ctx, seed: int, n_docs: int, n_vecs: int) -> tuple[str, list[dict], np.ndarray]:
    path = os.path.join(ctx.work, f"corpus-{seed}-{n_docs}")
    docs, vecs, labels = gen.make_corpus(seed, n_docs, n_vecs)
    if not os.path.isdir(path):
        gen.write_corpus(docs, vecs, labels, path)
    return path, docs, vecs


def _job(ctx, corpus: str) -> tuple[float, dict]:
    """Runs the five queries; returns (seconds, {name: rows or metrics})."""
    reg = queries()
    out = {}
    t0 = time.perf_counter()
    with ctx.tracer.span("curation.job"):
        for layer, name in STAGES:
            with ctx.tracer.span(layer) as sp:
                df = reg[name](ctx.spark, corpus)
                if sp is None:
                    out[name] = [tuple(r) for r in df.collect()]
                else:
                    n, metrics = execute_with_metrics(df)
                    sp["attrs"].update(rows=n, **metrics)
    return time.perf_counter() - t0, out


def warm(ctx) -> None:
    """Nothing beyond the session's own warm-up: the job is measured the
    way a batch job submitted to a fresh application runs, including the
    code generation of its plans. (A warm-up job on a 100-document corpus
    costs ~27 s on 4 cores, more than a measured job, and does not fit
    the run budget.)"""


def measure(ctx) -> dict:
    """Jobs over one corpus while another job at least half fits in
    ``ctx.seconds`` (at least one). Outputs are checked against the exact reference, except in the
    traced pass, whose plan-metrics execution does not return rows."""
    corpus, docs, vecs = _corpus(ctx, ctx.seed, N_DOCS, N_VECS)
    ref = Reference(docs, vecs)
    jobs, attempted, failed, recalls = [], 0, 0, []
    while not jobs or sum(jobs) + jobs[-1] / 2 < ctx.seconds:
        seconds, out = _job(ctx, corpus)
        jobs.append(seconds)
        if ctx.tracer.enabled:
            continue
        checks = {
            "dd01_exact_dedup": set(out["dd01_exact_dedup"]) == ref.dd01,
            "dd03_minhash_lsh": set(out["dd03_minhash_lsh"]) == ref.dd03,
            "dd05_dedup_clusters": set(out["dd05_dedup_clusters"]) == ref.dd05,
        }
        for name in ("sm03_ann_lsh", "sm18_ivfadc"):
            checks[name], recall = ref.check_ann(out[name])
            recalls.append(recall)
        attempted += len(checks)
        failed += sum(not ok for ok in checks.values())
        for name in (n for n, ok in checks.items() if not ok):
            log(f"{name}: output differs from the reference")

    job_ms = [s * 1000 for s in jobs]
    out = {
        "attempted": attempted,
        "failed": failed,
        "e2e": {
            "records_per_s": N_DOCS / median(jobs),
            "latency_p50_ms": percentile(job_ms, 50),
            "latency_p95_ms": percentile(job_ms, 95),
            "result_recall": sum(recalls) / len(recalls) if recalls else 0.0,
        },
        "samples": {"jobs": len(jobs)},
    }
    if ctx.tracer.enabled:
        spans = {layer: [s for s in ctx.tracer.spans if s["name"] == layer] for layer, _ in STAGES}

        def total(layers, key):
            return sum(s["attrs"].get(key, 0) for layer in layers for s in spans[layer]) / len(jobs)

        dedup = ("dedup.exact", "dedup.minhash_lsh", "dedup.clusters")
        candidates = median([s["attrs"]["rows"] for s in spans["dedup.minhash_lsh"]])
        with ctx.tracer.span("dedup.verified_edges"):
            edges = lsh_verified_edges(load_table(ctx.spark, corpus, "documents"), JACCARD).count()
        out["layers"] = {
            "dedup.exact_s": median(ctx.tracer.durations("dedup.exact")),
            "dedup.minhash_lsh_s": median(ctx.tracer.durations("dedup.minhash_lsh")),
            "dedup.clusters_s": median(ctx.tracer.durations("dedup.clusters")),
            "dedup.candidate_pairs": candidates,
            "dedup.verified_edges": edges,
            "dedup.lsh_useful_ratio": edges / candidates if candidates else 0.0,
            "dedup.shuffle_bytes": total(dedup, "shuffleBytesWritten"),
            "dedup.spill_bytes": total(dedup, "spillSize"),
            "similarity.ann_lsh_s": median(ctx.tracer.durations("similarity.ann_lsh")),
            "similarity.ivfadc_s": median(ctx.tracer.durations("similarity.ivfadc")),
            "similarity.shuffle_bytes": total(("similarity.ann_lsh", "similarity.ivfadc"), "shuffleBytesWritten"),
        }
    return out
