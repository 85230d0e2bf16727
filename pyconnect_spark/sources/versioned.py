"""Versioned parquet table: copy-on-write snapshots with time-travel
reads and audit-preserving rollback — the Delta/Iceberg transaction-log
move re-expressed as plain parquet + JSON manifests, no table-format
dependency.

Layout::

    <root>/data/<part>=<val>/v{N}-part-*.parquet   # immutable data files
    <root>/_versions/v{N}.json                     # manifest: file list

A version IS its manifest: an ordered list of data files relative to
``data/``. Writers never mutate or delete a committed file — a merge
stages new files for the touched partitions only, then commits a new
manifest listing (untouched old files + new files). Readers resolve a
manifest and scan exactly that file list (``basePath`` keeps hive
partition-column inference), so

  - **time travel**: any historical version stays readable bit-for-bit
    after later merges (pinned by io14's oracle: v1's hash must still
    match the pre-merge aggregate AFTER v2 commits);
  - **snapshot isolation**: a reader holding version N's file list is
    unaffected by a concurrent commit of N+1 (immutable files);
  - **rollback**: ``vt_rollback`` commits a NEW version whose manifest
    equals the target's — history is never erased, so the bad version
    remains auditable (the Delta RESTORE semantic);
  - **atomic commit**: the manifest is written under a temp name and
    renamed to ``v{N}.json`` through the table's Hadoop FileSystem, so
    readers see either the old or the new version, never a partial list
    (on ``s3a:`` the rename is a copy of the one object, which S3 also
    publishes whole).

Every list, read, write and rename goes through the root's Hadoop
FileSystem (``file:``, ``hdfs:``, ``s3a:``, ``viewfs:``). A merge stages
its new files under ``<root>/_staging-v{N}`` on that FileSystem, so
moving them into ``data/`` is a rename (on ``s3a:``, a copy of each
object), never a copy between filesystems.

At 100 TB the economics are the same as any log-structured table
format: a merge touching 0.1% of partitions writes 0.1% of the data and
one KB-sized manifest; old versions cost only the retained files of
REWRITTEN partitions (untouched files are shared across every manifest
that lists them — pinned by test_versioned's file-sharing assertion);
vacuuming old versions is manifest set-difference (not implemented here
— retention policy is deployment-specific).

Partition values must round-trip through ``<col>=<value>`` directory
names verbatim (true for this repo's fixtures; values needing hive
percent-escaping raise ``NotImplementedError`` rather than landing in
escaped directory names).
"""

from __future__ import annotations

import json
import posixpath
import re
import uuid
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyconnect_spark.sources.layout import (
    _data_files,
    _read_files,
    _touched_partitions,
    _write_text,
)
from pyconnect_spark.streaming.epoch import _fs, glob_status

_VERSION = re.compile(r"v(\d+)\.json")


def _data_dir(root: str) -> str:
    return f"{root.rstrip('/')}/data"


def _manifest_dir(root: str) -> str:
    return f"{root.rstrip('/')}/_versions"


def vt_versions(root: str) -> list[int]:
    statuses = glob_status(SparkSession.active(), f"{_manifest_dir(root)}/v*.json")
    found = (_VERSION.fullmatch(s.getPath().getName()) for s in statuses)
    return sorted(int(m.group(1)) for m in found if m)


def vt_latest(root: str) -> int:
    versions = vt_versions(root)
    if not versions:
        raise FileNotFoundError(f"no versions at {root}")
    return versions[-1]


def _read_manifest(root: str, version: int) -> list[str]:
    spark = SparkSession.active()
    fs, path = _fs(spark, f"{_manifest_dir(root)}/v{version}.json")
    stream = fs.open(path)
    try:
        text = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(text)["files"]


def _commit(root: str, files: Sequence[str], version: int) -> int:
    spark = SparkSession.active()
    target = f"{_manifest_dir(root)}/v{version}.json"
    tmp = f"{target}.tmp-{uuid.uuid4().hex}"
    _write_text(spark, tmp, json.dumps({"version": version, "files": sorted(files)}, indent=1))
    fs, dst = _fs(spark, target)
    # readers list only v*.json: the rename publishes the complete list
    if not fs.rename(spark._jvm.org.apache.hadoop.fs.Path(tmp), dst):
        raise OSError(f"could not rename {tmp} to {target}")
    return version


def _stage_in(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    partition_by: Sequence[str],
    version: int,
) -> list[str]:
    """Write ``df`` into data/ under its partition dirs as immutable
    ``v{version}-``-prefixed files; return the new files' relative paths.

    The frame is written to ``<root>/_staging-v{version}`` on the table's
    own FileSystem, so moving each file into data/ is a rename."""
    staging = f"{root.rstrip('/')}/_staging-v{version}"
    fs, jstaging = _fs(spark, staging)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    try:
        df.write.mode("overwrite").partitionBy(*partition_by).parquet(staging)
        out: list[str] = []
        for rel, _ in _data_files(spark, staging):
            part, name = posixpath.split(rel)
            new = posixpath.join(part, f"v{version}-{name}")
            dst = jpath(f"{_data_dir(root)}/{new}")
            fs.mkdirs(dst.getParent())
            if not fs.rename(jpath(f"{staging}/{rel}"), dst):
                raise OSError(f"could not rename {staging}/{rel} into {_data_dir(root)}")
            out.append(new)
        return out
    finally:
        fs.delete(jstaging, True)


def vt_init(
    spark: SparkSession,
    root: str,
    df: DataFrame,
    *,
    partition_by: Sequence[str] = (),
) -> int:
    """Create version 1 from ``df``. ``root`` must not already be a
    versioned table."""
    if vt_versions(root):
        raise FileExistsError(f"versioned table already exists at {root}")
    files = _stage_in(spark, root, df, partition_by, 1)
    return _commit(root, files, 1)


def vt_read(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a version (latest when None) by its exact manifest file list;
    ``basePath`` preserves hive partition-column inference."""
    v = vt_latest(root) if version is None else version
    files = [f"{_data_dir(root)}/{f}" for f in _read_manifest(root, v)]
    return spark.read.option("basePath", _data_dir(root)).parquet(*files)


def vt_merge(
    spark: SparkSession,
    root: str,
    updates: DataFrame,
    *,
    key_cols: Sequence[str],
    partition_by: Sequence[str] = (),
) -> int:
    """Copy-on-write MERGE: updates replace matching keys, new keys
    insert, moved keys vanish from their old partition — all without
    touching any committed file. Only the TOUCHED partitions' rows
    (``layout._touched_partitions``, the same set ``merge_upsert``
    rewrites) go into new files; untouched partitions' files are shared
    with the previous manifest verbatim. Unpartitioned tables are one
    partition, so they degrade to a full rewrite."""
    keys = updates.select(*key_cols)
    prev_v = vt_latest(root)
    prev_files = _read_manifest(root, prev_v)
    cur = vt_read(spark, root, prev_v)
    touched, _ = _touched_partitions(spark, cur, keys, updates, partition_by)
    if any("%" in d for d in touched):
        raise NotImplementedError(
            f"partition directories {touched} need hive escaping — out of scope"
        )
    scoped = [f"{_data_dir(root)}/{f}" for f in prev_files if posixpath.dirname(f) in touched]
    keep = _read_files(spark, _data_dir(root), cur.schema, scoped).join(
        F.broadcast(keys), list(key_cols), "left_anti"
    )
    new_rows = keep.unionByName(updates.select(*cur.columns))
    new_files = _stage_in(spark, root, new_rows, partition_by, prev_v + 1)
    kept_old = [f for f in prev_files if posixpath.dirname(f) not in touched]
    return _commit(root, kept_old + new_files, prev_v + 1)


def vt_rollback(root: str, to_version: int) -> int:
    """Commit a NEW version whose manifest equals ``to_version``'s (the
    Delta RESTORE semantic) — history stays auditable, nothing is
    deleted."""
    files = _read_manifest(root, to_version)
    return _commit(root, files, vt_latest(root) + 1)
