"""Tests of the benchmark's own input generators and metric catalogue.

    python3 -m pytest perfbench -q

No Spark session is needed.
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import w_curation  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for name in names:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def _all_inputs(seed: int, out: str) -> None:
    gen.write_record_files(gen.make_records(seed, 500), os.path.join(out, "records"), 3)
    with open(os.path.join(out, "docs.jsonl"), "w") as f:
        for docs in gen.make_doc_batches(seed, 20, 8):
            f.write(json.dumps(docs) + "\n")
    gen.write_corpus(*gen.make_corpus(seed, 300, 100), os.path.join(out, "corpus"))


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    _all_inputs(7, str(tmp_path / "a"))
    _all_inputs(7, str(tmp_path / "b"))
    a, b = _tree_bytes(str(tmp_path / "a")), _tree_bytes(str(tmp_path / "b"))
    assert sorted(a) == sorted(b) and len(a) == 6
    assert a == b


def test_different_seed_gives_different_inputs(tmp_path):
    _all_inputs(7, str(tmp_path / "a"))
    _all_inputs(8, str(tmp_path / "b"))
    cmp = filecmp.dircmp(str(tmp_path / "a"), str(tmp_path / "b"))
    a, b = _tree_bytes(str(tmp_path / "a")), _tree_bytes(str(tmp_path / "b"))
    assert not cmp.left_only and not cmp.right_only
    assert all(a[k] != b[k] for k in a)


def test_planted_structure():
    """The schema-inference record has a non-null note, gate rejects are
    unique texts, and at least a fifth of the corpus sits in clusters."""
    records = gen.make_records(3, 200)
    assert records[0][1]["note"] is not None
    assert any(v["note"] is None for _, v in records)

    docs = [d for f in gen.make_doc_batches(3, 50, 8) for d in f]
    short = [d["text"] for d in docs if len(d["text"]) < gen.MIN_CHARS]
    long_texts = [d["text"] for d in docs if len(d["text"]) >= gen.MIN_CHARS]
    assert short and len(set(short)) == len(short)
    assert len(set(long_texts)) < len(long_texts)  # planted exact duplicates

    corpus, _, _ = gen.make_corpus(3, 400, 50)
    clusters = w_curation.cluster_reference(corpus)
    sizes = {}
    for _, root, _ in clusters:
        sizes[root] = sizes.get(root, 0) + 1
    assert sum(s for s in sizes.values() if s > 1) >= 0.2 * len(corpus)


def test_catalogue_matches_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
