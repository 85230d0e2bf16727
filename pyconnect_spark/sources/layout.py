"""Training-shard output layout: the write-side counterpart of the LLM
operators.

A 100 TB training corpus is consumed by data loaders that care about
physical layout, not just logical content:

- **partition directories** (split=train/lang=en/...) so a loader mounts
  exactly the slice it trains on — partition pruning for readers;
- **bounded shard sizes** (``maxRecordsPerFile``) so loader workers get
  even units of work and no shard stalls an epoch;
- **within-shard ordering** (e.g. by content fingerprint) so shuffling
  can be seeded/deterministic and resume is positional;
- **a manifest** with per-shard row counts, so loaders can plan epochs
  without listing/streaming the data.

``write_training_shards`` encodes those once, Spark-natively:
``repartitionByRange`` on (partition cols, sort cols) clusters rows so
each output file covers a contiguous sort range within its partition
(range exchange + per-file count cap — no driver involvement), then
``sortWithinPartitions`` fixes intra-file order, then the DataFrame
writer fans out per-partition directories. The manifest is computed from
the written footers (a metadata-only read), not by re-scanning data.

The table-maintenance half (``compact_parquet``, ``merge_upsert``,
``delete_keys``) lists, deletes and renames through the path's Hadoop
FileSystem, the one Spark writes the table with, so ``file:``,
``hdfs:``, ``s3a:`` and ``viewfs:`` targets behave alike.
"""

from __future__ import annotations

import json
from typing import Sequence
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pyconnect_spark.streaming.epoch import _fs, glob_status


def write_training_shards(
    df: DataFrame,
    path: str,
    *,
    partition_by: Sequence[str],
    sort_within: Sequence[str],
    target_rows_per_shard: int = 100_000,
    shards_hint: int | None = None,
) -> None:
    """Write ``df`` as a partitioned, sorted, size-bounded parquet corpus.

    At 100 TB the range exchange is the only shuffle; every downstream
    knob (file count, per-file cap, directory layout) is executor-side.
    """
    cluster_cols = [*partition_by, *sort_within]
    n = shards_hint or max(df.sparkSession.sparkContext.defaultParallelism, 1)
    (
        df.repartitionByRange(n, *[F.col(c) for c in cluster_cols])
        .sortWithinPartitions(*cluster_cols)
        .write.mode("overwrite")
        .option("maxRecordsPerFile", target_rows_per_shard)
        .partitionBy(*partition_by)
        .parquet(path)
    )


def shard_manifest(spark: SparkSession, path: str) -> list[dict]:
    """Per-shard manifest: (relative file, partition values, rows) for
    every data file under ``path`` — row counts come from parquet footers
    via a metadata-only aggregation, not a data scan."""
    df = spark.read.parquet(path)
    dirs = {
        name.split("=", 1)[0]
        for rel, _ in _data_files(spark, path)
        for name in rel.split("/")[:-1]
    }
    part_cols = [f.name for f in df.schema.fields if f.name in dirs]
    counted = (
        df.groupBy(F.input_file_name().alias("file"), *part_cols)
        .agg(F.count("*").alias("rows"))
        .collect()
    )
    fs, root = _fs(spark, path)
    base = fs.makeQualified(root).toUri().getPath().rstrip("/") + "/"
    out = []
    for r in sorted(counted, key=lambda r: r["file"]):
        out.append(
            {
                "file": unquote(urlparse(r["file"]).path)[len(base):],
                "rows": r["rows"],
                **{c: r[c] for c in part_cols},
            }
        )
    return out


def write_manifest(spark: SparkSession, path: str) -> str:
    """Materialize the manifest as ``_manifest.json`` beside the data."""
    target = f"{path.rstrip('/')}/_manifest.json"
    _write_text(spark, target, json.dumps(shard_manifest(spark, path), indent=1))
    return target


def compact_parquet(
    spark: SparkSession,
    src: str,
    dst: str,
    *,
    target_file_bytes: int = 128 << 20,
    partition_by: Sequence[str] = (),
) -> int:
    """Compact a small-file parquet dataset into ~``target_file_bytes``
    files; returns the output file count.

    The small-file problem is the classic operational failure of long-
    running ingestion at scale: a streaming sink or frequent batch
    appends leave thousands of KB-sized files, and every downstream scan
    pays per-file open/footer costs (and the driver pays listing costs).
    Compaction is a rewrite: size the output file count from the INPUT's
    on-disk bytes (a driver-side metadata walk — no data read), then one
    round-robin repartition to that count so output files are even.

    ``repartition`` (a shuffle) rather than ``coalesce``: coalesce would
    avoid the exchange but inherits input skew — one fat output file
    stalls later scans, which is what compaction exists to fix.

    With ``partition_by`` the round-robin form would re-fragment: each of
    the n shuffle tasks holds rows of EVERY partition value, so the
    partitioned writer emits up to n × |partitions| files. Instead the
    shuffle key becomes (partition cols, salt), where each partition
    value's salt width is its own size-proportional file budget — rows of
    one partition value land in exactly that many tasks, so the directory
    layout is preserved AND each directory gets ~size/target files. The
    per-partition budgets come from one tiny aggregation (one row per
    partition value) scaled by the input's measured bytes-per-row. At
    100 TB this runs as a scheduled job compacting only partitions whose
    file count exceeds a threshold.
    """
    import math

    total = sum(size for _, size in _data_files(spark, src))
    df = spark.read.parquet(src)
    if not partition_by:
        n_files = max(1, math.ceil(total / target_file_bytes))
        df.repartition(n_files).write.mode("overwrite").parquet(dst)
    else:
        counts = df.groupBy(*partition_by).agg(F.count("*").alias("_rows"))
        budget = counts.select(
            *partition_by,
            F.greatest(
                F.lit(1),
                F.ceil(
                    F.col("_rows")
                    * F.lit(float(total))
                    / F.lit(float(target_file_bytes))
                    / F.sum("_rows").over(Window.partitionBy())
                ),
            )
            .cast("int")
            .alias("_files"),
        )
        n_out = budget.agg(F.sum("_files")).collect()[0][0]
        data_cols = [c for c in df.columns if c not in partition_by]
        salted = (
            df.join(F.broadcast(budget), list(partition_by))
            .withColumn(
                "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in data_cols]), F.col("_files"))
            )
            .repartition(int(n_out), *partition_by, F.col("_salt"))
            .drop("_files", "_salt")
        )
        salted.write.mode("overwrite").partitionBy(*partition_by).parquet(dst)
    return len(_data_files(spark, dst))


def zorder_value(cols: Sequence[str], stats: dict[str, tuple[float, float]], n_bits: int = 16):
    """Morton (Z-order) key as a pure column expression: each column is
    linearly quantized to ``n_bits`` against its (min, max) from ``stats``,
    then the quantized values are bit-interleaved. Rows close in Z-value
    are close in EVERY interleaved dimension, so sorting by it clusters a
    file's min/max ranges on all the columns at once — multi-column
    data-skipping from one sort key (the Delta/Iceberg OPTIMIZE ZORDER
    idea, expressed as plain Spark expressions).

    ``stats`` comes from one agg pass (see :func:`write_zordered`); linear
    quantization is the standard trade — heavy skew in a column wastes its
    low bits (the known ZORDER caveat; percentile-based binning is the
    remedy when it matters)."""
    # Interleaved bits must fit a signed long WITHOUT touching bit 63 (the
    # sign bit — a high value landing there would sort before low values).
    # With many columns, shrink per-column resolution instead of failing:
    # 4 cols at the default 16 bits quietly becomes 4 × 15 = 60 bits.
    n_bits = min(n_bits, 63 // max(len(cols), 1))
    if n_bits < 1:
        raise ValueError(f"zorder_value: too many columns ({len(cols)}) for a 63-bit key")
    terms = []
    for ci, c in enumerate(cols):
        lo, hi = stats[c]
        span = (hi - lo) or 1.0
        # Clamp BOTH ends: incremental writers reuse an earlier run's stats
        # (the documented grid-stability contract), so new data may fall
        # below lo — an unclamped negative q shifts into garbage bits.
        q = F.greatest(
            F.lit(0),
            F.least(
                F.lit((1 << n_bits) - 1),
                ((F.col(c).cast("double") - F.lit(lo)) / F.lit(span) * F.lit((1 << n_bits) - 1))
                .cast("long"),
            ),
        )
        for b in range(n_bits):
            # bit b of column ci lands at interleaved position b*len(cols)+ci
            terms.append(
                F.shiftleft(
                    F.shiftright(q, b).bitwiseAND(F.lit(1)), b * len(cols) + ci
                )
            )
    z = terms[0]
    for t_ in terms[1:]:
        z = z.bitwiseOR(t_)
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    *,
    zorder_by: Sequence[str],
    n_files: int = 8,
    n_bits: int = 16,
) -> dict[str, tuple[float, float]]:
    """Write ``df`` clustered by a Z-order key over ``zorder_by``: one
    stats pass (min/max per column), one range exchange on the Z-value,
    one within-partition sort, one write. Each output file then covers a
    tight min/max range on ALL the z-ordered columns, so parquet
    row-group/file pruning skips most files for a predicate on ANY of
    them — the layout move that turns a full scan into a few-file read at
    100 TB. Returns the stats used, so incremental writers can reuse the
    same quantization grid (stable Z-values across backfills)."""
    stats_row = df.agg(
        *[F.min(F.col(c).cast("double")).alias(f"{c}__min") for c in zorder_by],
        *[F.max(F.col(c).cast("double")).alias(f"{c}__max") for c in zorder_by],
    ).collect()[0]
    stats = {c: (stats_row[f"{c}__min"], stats_row[f"{c}__max"]) for c in zorder_by}
    z = zorder_value(zorder_by, stats, n_bits=n_bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode("overwrite")
        .parquet(path)
    )
    return stats


def merge_upsert(
    spark: SparkSession,
    target: str,
    updates: DataFrame,
    *,
    key_cols: Sequence[str],
    partition_by: Sequence[str] = (),
) -> int:
    """MERGE-style upsert into a parquet dataset without a table format:
    rows in ``updates`` replace target rows with the same key; new keys
    insert. Returns the number of rows written.

    Without Delta/Iceberg, parquet has no row-level MERGE INTO — the
    engine-native move is the *partition-scoped rewrite* of
    :func:`_rewrite`: only the partitions the updates land in or move
    keys out of are read and rewritten. Untouched partitions are never
    read OR written — at 100 TB an upsert batch touching 0.1% of
    partitions costs 0.1% of a full rewrite, which is the entire point
    of partitioning the target by an update-locality column (ingest
    date, source).

    Unpartitioned targets degrade to a full rewrite (documented, same as
    Hive's INSERT OVERWRITE semantics) — partition the target if upserts
    are a steady workload.
    """
    if not glob_status(spark, f"{target.rstrip('/')}/*"):
        updates.write.mode("overwrite").partitionBy(*partition_by).parquet(target)
        return updates.count()
    return _rewrite(spark, target, updates.select(*key_cols), updates, partition_by)[1]


def delete_keys(
    spark: SparkSession,
    target: str,
    keys: DataFrame,
    *,
    key_cols: Sequence[str],
    partition_by: Sequence[str] = (),
) -> int:
    """Row-level DELETE on a parquet dataset (the right-to-be-forgotten /
    retention-expiry primitive): rows matching ``keys`` are removed by
    rewriting ONLY the partitions that contain them (:func:`_rewrite`).
    Returns the number of rows deleted. Untouched partitions keep their
    files byte-for-byte — a deletion request touching one user costs
    one partition rewrite, not a table rewrite."""
    return _rewrite(spark, target, keys.select(*key_cols), None, partition_by)[0]


def _rewrite(
    spark: SparkSession,
    target: str,
    keys: DataFrame,
    rows: DataFrame | None,
    partition_by: Sequence[str],
) -> tuple[int, int]:
    """Partition-scoped rewrite of the parquet table at ``target``: drop
    the rows holding ``keys`` from the touched partitions, union the new
    ``rows`` (None for a delete), and overwrite just those partitions.
    Returns (rows dropped, rows written).

    - The touched partitions' data files are listed BEFORE the write; the
      rewrite reads exactly those files, so the rows it drops and keeps
      come from one snapshot.
    - The merged frame reads the target, so it is staged in a sibling
      directory first; a write may not consume the files it replaces.
    - The overwrite is dynamic for this write only, so it replaces only
      the partitions that have staged rows and changes no session setting
      another write could see.
    - A partition whose every row was dropped has no staged row, so the
      overwrite never touches it: the listed files that survive the write
      are deleted, or the dropped rows silently stay.
    """
    table = spark.read.parquet(target)
    dirs, dropped = _touched_partitions(spark, table, keys, rows, partition_by)
    root = target.rstrip("/")
    old = [
        f"{part}/{rel}"
        for part in (f"{root}/{d}" if d else root for d in dirs)
        for rel, _ in _data_files(spark, part)
    ]
    kept = _read_files(spark, target, table.schema, old).join(
        F.broadcast(keys), keys.columns, "left_anti"
    )
    merged = kept if rows is None else kept.select(*rows.columns).unionAll(rows)
    staging = root + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    staged = spark.read.schema(merged.schema).parquet(staging)
    (
        staged.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(target)
    )
    written = staged.count()
    fs, _ = _fs(spark, target)
    jpath = spark._jvm.org.apache.hadoop.fs.Path
    for f in old:
        fs.delete(jpath(f), False)
    fs.delete(jpath(staging), True)
    return dropped, written


def _touched_partitions(
    spark: SparkSession,
    table: DataFrame,
    keys: DataFrame,
    rows: DataFrame | None,
    partition_by: Sequence[str],
) -> tuple[list[str], int]:
    """The partitions a keyed rewrite of ``table`` touches, as directory
    names relative to the table root (Spark's own ``col=value`` escaping),
    and the number of rows that hold ``keys``.

    Touched = the new ``rows``' partitions (None for a delete) plus the
    partitions now holding ``keys``: an update that moves a key to another
    partition value must also rewrite the OLD directory, or the superseded
    row survives there. One aggregation over the key and partition columns
    (column pruning); an unpartitioned table is the one directory ``""``.
    """
    # semi and anti joins ignore duplicate keys: no distinct (a shuffle)
    held = table.join(F.broadcast(keys), keys.columns, "left_semi").select(
        *partition_by, F.lit(1).alias("_held")
    )
    if rows is not None:
        held = held.unionByName(rows.select(*partition_by, F.lit(0).alias("_held")))
    found = (
        held.groupBy(*[F.col(c).cast("string").alias(c) for c in partition_by])
        .agg(F.sum("_held").alias("_held"))
        .collect()
    )
    utils = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    dirs = ["/".join(utils.getPartitionPathString(c, r[c]) for c in partition_by) for r in found]
    return dirs, sum(r["_held"] or 0 for r in found)


def _read_files(spark: SparkSession, base: str, schema, files: Sequence[str]) -> DataFrame:
    """The rows of the table at ``base`` held in ``files``, typed by the
    table's ``schema`` (partition values come from the paths under
    ``base``); empty when there is no file."""
    if not files:
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).option("basePath", base).parquet(*files)


def _data_files(spark: SparkSession, path: str) -> list[tuple[str, int]]:
    """(path relative to ``path``, bytes) of every data file under
    ``path``, listed through its Hadoop FileSystem; names starting with
    ``_`` or ``.`` are skipped at any depth, as Spark's readers skip them.
    Empty when ``path`` does not exist."""
    fs, root = _fs(spark, path)
    if not fs.exists(root):
        return []
    prefix = fs.makeQualified(root).toString().rstrip("/") + "/"
    found = fs.listFiles(root, True)
    out = []
    while found.hasNext():
        status = found.next()
        rel = status.getPath().toString()[len(prefix):]
        if not any(name.startswith(("_", ".")) for name in rel.split("/")):
            out.append((rel, status.getLen()))
    return out


def _write_text(spark: SparkSession, path: str, text: str) -> None:
    """Create (or replace) the file ``path`` holding ``text``."""
    fs, jpath = _fs(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(text.encode()))
    finally:
        out.close()
