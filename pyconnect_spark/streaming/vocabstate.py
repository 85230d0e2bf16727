"""Streaming vocabulary heavy-hitter state: exact (word, count) totals
maintained over an unbounded document stream (batch twin: tx10,
operators/text.py — the tokenizer-training wordcount).

Why exact counts and not SpaceSaving/Misra-Gries: the lossy heavy-hitter
sketches are ORDER-dependent (which item gets evicted depends on arrival
interleaving), so a replayed or re-ordered micro-batch changes the
answer — unacceptable under the repo's determinism contract. The exact
table is vocab-bounded (Heaps' law: |vocab| ~ C * N^beta with beta ≈
0.5, measured by tx44 on this corpus), which is exactly the bound the
batch tx10 combiner already relies on; at 100 TB the state is a
word-keyed parquet table of a few hundred million rows — large but
fact-table-shaped, partitioned by hash(word), merged with a word-keyed
sum that shuffles only (word, count) pairs. When even that is too much,
tx31's CMS (cmsstate.py) is the documented lossy tier; this
operator is the exact tier a tokenizer trainer actually wants.

per micro-batch (streaming/epoch.py's fold — sum-merge is NOT
idempotent under replay, so its parent-rebuild rule does the repair):
  1. explode the batch's documents into words (tx10's tokenization,
     verbatim), count per word — the batch's own vocab table;
  2. merge with the newest persisted state STRICTLY BELOW this epoch
     (a replayed batch rebuilds from its parent, never from its own
     half-written attempt) by word-keyed sum;
  3. write as ``state_dir/v=<epoch>``; retain {epoch, parent} across
     the commit boundary, prune older versions.

Dashboard (`query_vocab_topk`): top-k by (count DESC, word) — after a
full drain this EQUALS batch tx10 bit-for-bit
(test_s36_streaming_vocab_equals_batch).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.streaming.epoch import fold_state, latest_state


def vocab_rollup_stream(
    stream: DataFrame,
    *,
    state_dir: str,
    checkpoint_dir: str,
    text_col: str = "text",
):
    """Start (availableNow) a stream maintaining the exact vocab state.

    ``stream`` carries a document text column. Returns the
    StreamingQuery; awaitTermination() drains it.
    """
    return fold_state(
        stream,
        lambda batch: batch.select(
            F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("word")
        )
        .groupBy("word")
        .agg(F.count("*").cast("long").alias("n")),
        lambda union: union.groupBy("word").agg(
            F.sum("n").cast("long").alias("n")
        ),
        state_dir=state_dir,
        checkpoint_dir=checkpoint_dir,
    )


def query_vocab_topk(
    spark: SparkSession, state_dir: str, k: int = 50
) -> DataFrame:
    """Dashboard readout: tx10's top-k by (count DESC, word) over the
    newest persisted state."""
    state = latest_state(spark, state_dir)
    if state is None:
        raise FileNotFoundError(f"no vocab state under {state_dir}")
    return state.orderBy(F.desc("n"), "word").limit(k)
