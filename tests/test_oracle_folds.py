"""Independent Python replays of the sequential folds in oracle SQL.

An oracle is trusted only when an independent replay agrees with it. The
folds below are order-dependent left folds (next-fit packing, rolling
hashes, BPE merges, EWMA); each test recomputes the oracle's fold-derived
columns in plain Python from the raw fixture rows and compares them row by
row with the oracle's own output (and, for tx34, with Spark's).
"""

from __future__ import annotations

import hashlib
import re
from collections import Counter

import pytest

from pyconnect_spark.registry import ALL
from tests.conftest import SF_ORACLE, canonical_rows
from tests.test_llm_ops import _bpe_reference

_QUERIES = ALL.queries()
# Spark's \s (Java) and DuckDB's \s (RE2) agree on these; both trim()s
# strip spaces only.
_WS = re.compile(r"[ \t\n\f\r]+")


def _words(text: str) -> list[str]:
    return _WS.split(text.strip(" "))


def _oracle(ddb, name: str, cols: list[str]) -> list[tuple]:
    rel = ddb.sql(_QUERIES[name].oracle)
    idx = [rel.columns.index(c) for c in cols]
    return canonical_rows([tuple(r[i] for i in idx) for r in rel.fetchall()], cols)


def _next_fit(sizes: list[int], cap: int) -> int:
    """Bins used by next-fit over sizes (each <= cap), in order."""
    bins, fill = 0, None
    for n in sizes:
        if fill is not None and fill + n <= cap:
            fill += n
        else:
            bins, fill = bins + 1, n
    return bins


def _tx34_replay(ddb) -> dict[int, int]:
    shards: dict[int, list[tuple[int, int]]] = {}
    for doc_id, text in ddb.sql("SELECT doc_id, text FROM documents").fetchall():
        shard = int(hashlib.md5(text.encode()).hexdigest()[:8], 16) % 16
        shards.setdefault(shard, []).append((doc_id, len(_words(text))))
    return {
        ctx: sum(_next_fit([min(n, ctx) for _, n in sorted(m)], ctx) for m in shards.values())
        for ctx in (512, 1024, 2048, 4096)
    }


def test_tx34_next_fit_replay_agrees_with_spark_and_oracle(spark, ddb):
    want = _tx34_replay(ddb)
    spark_rows = {r["ctx"]: r["n_seqs"] for r in _QUERIES["tx34_packing_curve"].builder(spark, SF_ORACLE).collect()}
    oracle_rows = {r[0]: r[1] for r in ddb.sql(_QUERIES["tx34_packing_curve"].oracle).fetchall()}
    assert spark_rows == want
    assert oracle_rows == want
    if SF_ORACLE.endswith("sf0.01"):
        assert want[512] == 63


def _tx05_replay(ddb) -> list[tuple]:
    k, w, p, b = 5, 4, 1_000_000_007, 31
    rows = []
    for doc_id, text in ddb.sql("SELECT doc_id, text FROM documents").fetchall():
        cp = [ord(c) for c in _WS.sub(" ", text.strip(" ")).lower()]
        hs = []
        for i in range(max(len(cp) - (k - 1), 1)):
            h = 0
            for x in cp[i:i + k]:
                h = (h * b + x) % p
            hs.append(h)
        fps = {min(hs[j:j + w]) for j in range(max(len(hs) - (w - 1), 1))}
        rows.append((doc_id, len(fps), min(fps), sum(fps)))
    return rows


def _tx32_replay(ddb) -> list[tuple]:
    words = Counter()
    for (text,) in ddb.sql("SELECT text FROM documents").fetchall():
        words.update(_words(text))
    return [(step, pair, merged, n) for step, pair, merged, n in _bpe_reference(words, n_merges=8)]


def _mm09_replay(ddb) -> list[tuple]:
    by_source: dict[str, list[tuple[int, int]]] = {}
    for doc_id, source, text in ddb.sql("SELECT doc_id, source, text FROM documents").fetchall():
        by_source.setdefault(source, []).append((doc_id, len(text.encode())))
    rows = []
    for source, members in by_source.items():
        sizes = [n for _, n in sorted(members)]
        shards = max(_next_fit(sizes, 512), 1)
        rows.append((source, shards, round(sum(sizes) / (shards * 512), 6)))
    return rows


def _ts12_replay(ddb) -> list[tuple]:
    by_user: dict[int, list[tuple]] = {}
    for user_id, ts, event_id, value in ddb.sql("SELECT user_id, ts, event_id, value FROM events").fetchall():
        by_user.setdefault(user_id, []).append((ts, event_id, float(value)))
    rows = []
    for user_id, evs in by_user.items():
        vals = [v for _, _, v in sorted(evs)]
        acc = vals[0]
        for x in vals[1:]:
            acc = 0.2 * x + 0.8 * acc
        rows.append((user_id, len(vals), acc))
    return rows


# (query, fold-derived oracle columns, replay). The replay yields rows of
# those columns; ewma is compared unrounded, within the oracle's 6 dp.
_FOLDS = {
    "tx05_winnow_fingerprint": (["doc_id", "n_fp", "fp_min", "fp_sum"], _tx05_replay),
    "tx32_bpe_train": (["step", "pair", "merged", "pair_count"], _tx32_replay),
    "mm09_shard_packing": (["source", "n_shards", "fill_frac"], _mm09_replay),
    "ts12_ewma": (["user_id", "n_events", "ewma"], _ts12_replay),
}


@pytest.mark.parametrize("name", sorted(_FOLDS))
def test_list_reduce_fold_matches_python_replay(ddb, name):
    cols, replay = _FOLDS[name]
    want = replay(ddb)
    assert want, name
    if name == "ts12_ewma":
        got = {r[0]: r[1:] for r in ddb.sql(_QUERIES[name].oracle).fetchall()}
        assert set(got) == {r[0] for r in want}
        for user_id, n, ewma in want:
            assert got[user_id][0] == n and abs(got[user_id][1] - ewma) <= 5e-7, user_id
    else:
        assert _oracle(ddb, name, cols) == canonical_rows(want, cols)
