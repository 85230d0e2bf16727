"""Custom stateful streaming operators via applyInPandasWithState.

The reference has no stateful operators (its only state is the flush
buffer + offsets); this is part of the EXT streaming surface
(SURVEY.md §2.2 "Stateful processing"). The canonical example operator —
a per-key running aggregate that survives across micro-batches and
restarts (state lives in the state store, checkpointed per batch) — is
the building block for counters, rate limiters, and dedup-with-TTL.

At scale: state is partitioned by key across executors; use the RocksDB
state store provider for large keyspaces
(spark.sql.streaming.stateStore.providerClass=...RocksDBStateStoreProvider).
"""

from __future__ import annotations

from typing import Iterator, Tuple

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T

RUNNING_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
RUNNING_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total", T.DoubleType()),
    ]
)


def _running_totals(
    key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (n, total) = state.get if state.exists else (0, 0.0)
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].sum())
    state.update((n, total))
    yield pd.DataFrame(
        {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 2)]}
    )


CUSUM_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("n_seen", T.LongType()),
        T.StructField("cusum", T.DoubleType()),
        T.StructField("max_cusum", T.DoubleType()),
    ]
)
CUSUM_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("s", T.DoubleType()),
        T.StructField("m", T.DoubleType()),
    ]
)


def cusum_per_key(stream: DataFrame, mu: float) -> DataFrame:
    """Streaming twin of ts18's one-sided CUSUM: per event_type, fold
    S_i = max(0, S_{i-1} + (value - mu)) across micro-batches, carrying
    (count, running statistic, running max) in the state store. The
    reference mean ``mu`` is a fixed SPC target supplied a priori (the
    batch operator derives it from history; a monitor pins it). The fold
    is order-sensitive, so rows are sorted by (ts, event_id) WITHIN each
    batch — the result matches the batch fold whenever batch boundaries
    respect event-time order, which is the deployment contract for any
    streaming ordered fold (same caveat as EWMA's streaming twin S08)."""

    def _cusum(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (n, s, m) = state.get if state.exists else (0, 0.0, 0.0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        for v in rows["value"]:
            s = max(0.0, s + (float(v) - mu))
            m = max(m, s)
        n += len(rows)
        state.update((n, s, m))
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "n_seen": [n],
                "cusum": [round(s, 6)],
                "max_cusum": [round(m, 6)],
            }
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        _cusum,
        outputStructType=CUSUM_OUTPUT,
        stateStructType=CUSUM_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def running_totals_per_user(stream: DataFrame) -> DataFrame:
    """Per-user running (count, sum(value)) maintained in the state store;
    emits the updated running totals for every key seen in each batch."""
    return stream.groupBy("user_id").applyInPandasWithState(
        _running_totals,
        outputStructType=RUNNING_OUTPUT,
        stateStructType=RUNNING_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


ALERT_OUTPUT = T.StructType(
    [
        T.StructField("event_type", T.StringType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_suppressed", T.LongType()),
    ]
)
ALERT_STATE = T.StructType(
    [
        T.StructField("last_alert_sec", T.DoubleType()),
        T.StructField("suppressed", T.LongType()),
    ]
)


def alert_gate_per_key(
    stream: DataFrame, threshold: float, cooldown_s: float = 3600.0
) -> DataFrame:
    """S34: threshold alerting with per-key cooldown suppression — the
    operator between a detector (S21 CUSUM, ts15/ts36 rules) and a
    pager: the FIRST above-threshold event per key fires an alert row,
    and further breaches inside `cooldown_s` are counted but NOT
    re-emitted (alert-storm suppression, the on-call dedup every
    production monitor ships). State per key = (last alert epoch,
    suppressed-since count); the suppressed counter is carried to the
    next EMITTED alert so no breach is ever silently lost — the
    at-least-once accounting contract. Rows sort by (ts, event_id)
    within each batch; the gate is a deterministic fold, so replays of
    the same ordered batches reproduce identical alert streams (pinned
    stream-vs-recompute in test_s34). At scale the state is two numbers
    per key in the state store (RocksDB provider for large keyspaces),
    and the cooldown clock is EVENT time, so backfills behave."""

    def _gate(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (last, supp) = state.get if state.exists else (float("-inf"), 0)
        rows = pd.concat(list(pdfs), ignore_index=True)
        rows = rows.sort_values(["ts", "event_id"])
        out_ts, out_v, out_supp = [], [], []
        for ts_, v in zip(rows["ts"], rows["value"]):
            if float(v) < threshold:
                continue
            sec = ts_.timestamp()
            if sec - last >= cooldown_s:
                out_ts.append(ts_)
                out_v.append(float(v))
                out_supp.append(supp)
                last = sec
                supp = 0
            else:
                supp += 1
        state.update((last, supp))
        yield pd.DataFrame(
            {
                "event_type": [key[0]] * len(out_ts),
                "ts": out_ts,
                "value": out_v,
                "n_suppressed": out_supp,
            }
        )

    return stream.groupBy("event_type").applyInPandasWithState(
        _gate,
        outputStructType=ALERT_OUTPUT,
        stateStructType=ALERT_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
