"""Streaming eval-set decontamination gate (scenario S32): drop any
document from an unbounded ingest stream that shares an n-gram with the
frozen eval/benchmark set — dd08/tx42's split-decontamination semantics
applied AT INGEST TIME, so contaminated documents never reach the
training corpus in the first place.

Reference parity: the reference engine is an ingest connector
(real-digital/pyconnect src/ throughout) with per-record transforms; a
membership gate against a static set is the connector-side analogue of
its filter hooks. The Spark-native shape is foreachBatch (the S29
pattern): the eval set is a STATIC frame of 16-byte gram digests, each
micro-batch explodes its documents' grams, probes the digest set with a
semi join (a broadcast when the eval set is benchmark-sized, which it
always is), and anti-joins the contaminated doc_ids away.

Delivery: at-least-once (re-emitted survivors on replay, the
streaming/sink.py contract); the gate itself is stateless and therefore
trivially idempotent — the eval digest set never changes mid-run, so a
replayed batch drops exactly the same documents.

At 100 TB: the digest probe is the tx42 join shape — 16-byte keys, the
batch side explodes grams map-side, and the static side is loaded once
per batch from parquet (or pinned with a broadcast hint, as here).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

_TOKEN_RE = r"\s+"


def gram_digests(df: DataFrame, n: int = 4) -> DataFrame:
    """(doc_id, text) -> exploded (doc_id, g) word-n-gram md5 digests —
    the tx42 gram construction, shared so the stream gate and the batch
    novelty audit bucket identically."""
    w = F.split(F.trim(F.col("text")), _TOKEN_RE)
    toks = df.select("doc_id", w.alias("w")).filter(F.size("w") >= n)
    gram = F.transform(
        F.slice(F.col("w"), 1, F.size("w") - (n - 1)),
        lambda x, i: F.md5(
            F.concat_ws(
                " ",
                F.array(
                    [x]
                    + [F.element_at(F.col("w"), i + k + 1) for k in range(1, n)]
                ),
            )
        ),
    )
    return toks.select("doc_id", F.explode(gram).alias("g"))


def build_eval_digests(eval_docs: DataFrame, n: int = 4) -> DataFrame:
    """Distinct gram digests of the eval/benchmark set — build once,
    persist, reuse for the life of the benchmark freeze."""
    return gram_digests(eval_docs, n=n).select("g").distinct()


def decontam_gate_batch(
    batch: DataFrame, eval_digests: DataFrame, accepted_dir: str, n: int = 4
) -> int:
    """Gate one micro-batch of (doc_id, text) rows: drop every document
    sharing ANY word-n-gram digest with the eval set, append survivors
    to ``accepted_dir``. Returns the number of accepted docs."""
    contaminated = (
        gram_digests(batch, n=n)
        .join(F.broadcast(eval_digests), "g", "left_semi")
        .select("doc_id")
        .distinct()
    )
    written = Observation()
    batch.join(contaminated, "doc_id", "left_anti").observe(
        written, F.count(F.lit(1)).alias("n")
    ).write.mode("append").parquet(accepted_dir)
    return written.get["n"]


def decontam_stream(
    stream: DataFrame,
    eval_digests: DataFrame,
    *,
    accepted_dir: str,
    checkpoint_dir: str,
    n: int = 4,
):
    """Wire a (doc_id, text) stream through the decontamination gate.
    Returns the started StreamingQuery, which drains what is available
    and stops."""
    return (
        stream.writeStream.outputMode("append")
        .foreachBatch(
            lambda b, _eid: decontam_gate_batch(
                b, eval_digests, accepted_dir, n=n
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
