"""Seeded input generators for the three benchmark workloads.

Everything the program under test reads is made here from ``--seed``; the
same seed gives byte-identical files. Generation runs before any timing.
"""

from __future__ import annotations

import itertools
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# 4,096 pseudo-words of three syllables. Documents draw 40-150 words from
# it, so two unrelated documents almost never share a word 3-gram and
# every near-duplicate edge is a planted one.
_SYLLABLES = [c + v for c in "bdfgklmnprstvz" for v in "aeiou"]
VOCAB = ["".join(p) for p in itertools.product(_SYLLABLES[:16], _SYLLABLES[16:32], _SYLLABLES[32:48])]
LANGS = ("en", "de", "fr", "es")
SOURCES = tuple(f"src{i}" for i in range(8))


def _words(rng: random.Random, lo: int, hi: int) -> list[str]:
    return [rng.choice(VOCAB) for _ in range(rng.randint(lo, hi))]


def _write_jsonl(path: str, rows: list[dict]) -> None:
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, separators=(",", ":"), sort_keys=True) + "\n")


# ---------------------------------------------------------------------------
# avro_connector_drain: keyed records with nested values
# ---------------------------------------------------------------------------
def make_records(seed: int, n: int) -> list[tuple[str, dict]]:
    """``n`` (key, value) records. The value holds a long, a double, a
    string, a nullable string (null in ~1/4 of records, never in the
    first, whose shape the source infers the Avro schema from) and a
    string array."""
    rng = random.Random(f"records:{seed}")
    out = []
    for i in range(n):
        key = "".join(rng.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ") for _ in range(10))
        value = {
            "id": rng.randrange(-(2**40), 2**40),
            "score": rng.uniform(-1e6, 1e6),
            "name": " ".join(_words(rng, 2, 8)),
            "note": None if i and rng.random() < 0.25 else " ".join(_words(rng, 1, 4)),
            "tags": _words(rng, 1, 5),
        }
        out.append((key, value))
    return out


def write_record_files(records: list[tuple[str, dict]], out_dir: str, n_files: int) -> None:
    """Split records over ``n_files`` JSON-lines files of the connector's
    ``{"key": ..., "value": ...}`` shape."""
    os.makedirs(out_dir, exist_ok=True)
    per = -(-len(records) // n_files)
    for f in range(n_files):
        chunk = records[f * per:(f + 1) * per]
        _write_jsonl(os.path.join(out_dir, f"part-{f:04d}.jsonl"), [{"key": k, "value": v} for k, v in chunk])


# ---------------------------------------------------------------------------
# doc_ingest_open_loop: small files of documents, due on a fixed schedule
# ---------------------------------------------------------------------------
MIN_CHARS = 120  # the quality gate: shorter documents go to the DLQ
DUP_SHARE = 0.15  # exact repeats of an earlier accepted document
SHORT_SHARE = 0.1  # below the quality gate


def make_doc_batches(seed: int, n_files: int, docs_per_file: int) -> list[list[dict]]:
    """Documents for ``n_files`` ingest files. DUP_SHARE of the documents
    repeat the text of an earlier accepted document exactly; SHORT_SHARE
    are below the quality gate's length floor. Short documents are never
    repeated, so every rejected text is unique."""
    rng = random.Random(f"ingest:{seed}")
    files: list[list[dict]] = []
    seen: list[str] = []
    doc_id = 0
    for _ in range(n_files):
        docs = []
        for _ in range(docs_per_file):
            roll = rng.random()
            if roll < DUP_SHARE and seen:
                text = rng.choice(seen)
            elif roll < DUP_SHARE + SHORT_SHARE:
                text = " ".join(_words(rng, 2, 8))[: MIN_CHARS - 1]
            else:
                text = " ".join(_words(rng, 30, 80))
                seen.append(text)
            docs.append({"doc_id": doc_id, "text": text, "source": rng.choice(SOURCES)})
            doc_id += 1
        files.append(docs)
    return files


# ---------------------------------------------------------------------------
# llm_curation_batch: documents.parquet + embeddings.parquet
# ---------------------------------------------------------------------------
NEARDUP_SHARE = 0.2  # documents in planted near-duplicate clusters
EXACT_SHARE = 0.05  # exact copies of other documents
DIM, N_CENTERS = 64, 16  # embedding width and number of vector clusters


def make_corpus(seed: int, n_docs: int, n_vecs: int) -> tuple[list[dict], np.ndarray, np.ndarray]:
    """Documents with planted near-duplicate clusters and exact copies,
    plus clustered embedding vectors.

    Each near-duplicate cluster is a base document of 100-150 words and
    two or three variants that each append one word to it, so any two
    members share >= 0.98 of their word 3-grams. At that similarity the
    8x8 banded LSH misses a pair with probability ~1e-7, so the LSH tier
    of the dedup operators finds exactly the clusters that exact Jaccard
    defines. Returns (documents, embeddings, cluster labels)."""
    rng = random.Random(f"corpus:{seed}")
    texts: list[str] = []
    n_near = int(n_docs * NEARDUP_SHARE)
    while len(texts) < n_near:
        base = _words(rng, 100, 150)
        texts.append(" ".join(base))
        for _ in range(rng.randint(2, 3)):
            texts.append(" ".join(base + [rng.choice(VOCAB)]))
    n_exact = int(n_docs * EXACT_SHARE)
    while len(texts) < n_docs - n_exact:
        texts.append(" ".join(_words(rng, 40, 150)))
    texts += [rng.choice(texts) for _ in range(n_docs - len(texts))]
    rng.shuffle(texts)
    docs = [
        {"doc_id": i, "text": t, "lang": rng.choice(LANGS), "source": rng.choice(SOURCES), "n_chars": len(t)}
        for i, t in enumerate(texts)
    ]

    nrng = np.random.default_rng(seed)
    centers = nrng.normal(size=(N_CENTERS, DIM))
    labels = nrng.integers(0, N_CENTERS, size=n_vecs)
    vecs = (centers[labels] + 0.35 * nrng.normal(size=(n_vecs, DIM))).astype(np.float32)
    return docs, vecs, labels.astype(np.int32)


def write_corpus(docs: list[dict], vecs: np.ndarray, labels: np.ndarray, out_dir: str) -> None:
    """The fixture schema the registry queries read (see FIXTURES.md)."""
    os.makedirs(out_dir, exist_ok=True)
    doc_table = pa.table(
        {
            "doc_id": pa.array([d["doc_id"] for d in docs], pa.int64()),
            "text": pa.array([d["text"] for d in docs], pa.string()),
            "lang": pa.array([d["lang"] for d in docs], pa.string()),
            "source": pa.array([d["source"] for d in docs], pa.string()),
            "n_chars": pa.array([d["n_chars"] for d in docs], pa.int64()),
        }
    )
    emb_table = pa.table(
        {
            "vec_id": pa.array(np.arange(len(vecs), dtype=np.int64)),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(doc_table, os.path.join(out_dir, "documents.parquet"))
    pq.write_table(emb_table, os.path.join(out_dir, "embeddings.parquet"))
