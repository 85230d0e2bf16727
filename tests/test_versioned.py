"""Versioned-table semantics (sources/versioned.py): copy-on-write file
sharing, time travel, audit-preserving rollback, atomic manifests, and
the cross-partition key-move contract — the guarantees io14's oracle
hash rests on, pinned at the file level here."""

from __future__ import annotations

import json
import os

import pytest

from pyspark.sql import functions as F

from pyconnect_spark.sources.versioned import (
    _read_manifest,
    vt_init,
    vt_latest,
    vt_merge,
    vt_read,
    vt_rollback,
    vt_versions,
)


def _init(spark, root):
    base = spark.createDataFrame(
        [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "c", 4.0)],
        "k long, part string, v double",
    )
    vt_init(spark, root, base, partition_by=["part"])
    return root


@pytest.fixture()
def table(spark, tmp_path):
    return _init(spark, str(tmp_path / "vt"))


@pytest.fixture()
def tables(spark, tmp_path):
    """The same fresh table at a plain path and at a ``file://`` URI."""
    return [
        _init(spark, str(tmp_path / "vt")),
        _init(spark, (tmp_path / "uri" / "vt").as_uri()),
    ]


def _rows(spark, root, version=None):
    return sorted(
        (r["k"], r["part"], r["v"])
        for r in vt_read(spark, root, version).collect()
    )


def test_time_travel_preserves_old_version(spark, tables):
    updates = spark.createDataFrame(
        [(2, "a", 20.0), (5, "b", 50.0)], "k long, part string, v double"
    )
    for table in tables:
        vt_merge(spark, table, updates, key_cols=["k"], partition_by=["part"])
        assert _rows(spark, table, 1) == [
            (1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "c", 4.0),
        ]
        assert _rows(spark, table, 2) == [
            (1, "a", 1.0), (2, "a", 20.0), (3, "b", 3.0), (4, "c", 4.0),
            (5, "b", 50.0),
        ]
        assert _rows(spark, table) == _rows(spark, table, 2)  # latest = newest


def test_cow_shares_untouched_partition_files(spark, tables):
    updates = spark.createDataFrame(
        [(2, "a", 20.0)], "k long, part string, v double"
    )
    for table in tables:
        vt_merge(spark, table, updates, key_cols=["k"], partition_by=["part"])
        m1, m2 = set(_read_manifest(table, 1)), set(_read_manifest(table, 2))
        shared = m1 & m2
        # partitions b and c untouched: their v1 files appear in BOTH
        # manifests verbatim; partition a's v1 files are only in v1
        assert {os.path.dirname(f) for f in shared} == {"part=b", "part=c"}
        assert all(os.path.dirname(f) == "part=a" for f in m1 - m2)
        assert all(os.path.dirname(f) == "part=a" for f in m2 - m1)


def test_cross_partition_key_move_empties_old_directory(spark, tables):
    # k=4 moves c -> a; partition c becomes EMPTY: its old files must
    # leave the manifest even though no new file lands in c
    updates = spark.createDataFrame(
        [(4, "a", 40.0)], "k long, part string, v double"
    )
    for table in tables:
        vt_merge(spark, table, updates, key_cols=["k"], partition_by=["part"])
        assert _rows(spark, table) == [
            (1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0), (4, "a", 40.0),
        ]
        assert not any(
            f.startswith("part=c") for f in _read_manifest(table, 2)
        )
        assert _rows(spark, table, 1)[-1] == (4, "c", 4.0)  # history intact


def test_rollback_is_a_new_auditable_version(spark, table):
    updates = spark.createDataFrame(
        [(1, "a", 100.0)], "k long, part string, v double"
    )
    vt_merge(spark, table, updates, key_cols=["k"], partition_by=["part"])
    v3 = vt_rollback(table, 1)
    assert v3 == 3 and vt_versions(table) == [1, 2, 3]
    assert _rows(spark, table) == _rows(spark, table, 1)  # restored
    assert _rows(spark, table, 2)[0] == (1, "a", 100.0)  # bad v auditable
    assert _read_manifest(table, 3) == _read_manifest(table, 1)


def test_manifest_commit_is_atomic_rename(spark, table):
    # no partially-written manifest may ever be visible under the
    # version naming scheme: temp files use a .tmp suffix outside it
    # (the local FileSystem's hidden .crc checksum files are not manifests)
    d = os.path.join(table, "_versions")
    names = [n for n in os.listdir(d) if not n.startswith(".")]
    assert names
    assert all(n.endswith(".json") for n in names)
    for n in names:
        with open(os.path.join(d, n)) as fh:
            m = json.load(fh)  # every visible manifest parses completely
        assert m["files"] == sorted(m["files"])


def test_unpartitioned_table_degrades_to_full_rewrite(spark, tmp_path):
    root = str(tmp_path / "vt-flat")
    vt_init(
        spark,
        root,
        spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, v double"),
    )
    vt_merge(
        spark,
        root,
        spark.createDataFrame([(2, 20.0), (3, 30.0)], "k long, v double"),
        key_cols=["k"],
    )
    assert sorted(
        (r["k"], r["v"]) for r in vt_read(spark, root).collect()
    ) == [(1, 1.0), (2, 20.0), (3, 30.0)]
    assert sorted(
        (r["k"], r["v"]) for r in vt_read(spark, root, 1).collect()
    ) == [(1, 1.0), (2, 2.0)]
    # no file sharing possible without partitions
    assert not set(_read_manifest(root, 1)) & set(_read_manifest(root, 2))


def test_init_refuses_existing_table(spark, table):
    with pytest.raises(FileExistsError):
        vt_init(
            spark,
            table,
            spark.createDataFrame([(9, "z", 9.0)], "k long, part string, v double"),
            partition_by=["part"],
        )
    assert vt_latest(table) == 1


def test_escaped_partition_values_are_refused(spark, tmp_path):
    root = str(tmp_path / "vt-esc")
    base = spark.createDataFrame(
        [(1, "a", 1.0)], "k long, part string, v double"
    )
    vt_init(spark, root, base, partition_by=["part"])
    bad = spark.createDataFrame(
        [(2, "x:y", 2.0)], "k long, part string, v double"
    )
    with pytest.raises(NotImplementedError):
        vt_merge(spark, root, bad, key_cols=["k"], partition_by=["part"])
    assert vt_latest(root) == 1  # failed merge commits nothing
