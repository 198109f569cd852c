"""Partition-pruned parquet upsert: MERGE semantics without a lakehouse.

The reference upserts into Postgres (`ON CONFLICT DO UPDATE`); at 100 TB
the analogous lake-side operation must NOT rewrite the whole table per
batch. This module implements the classic partition-swap merge:

1. the target is parquet partitioned by a coarse column (e.g. a date);
2. an incoming batch touches only a few partition values — read ONLY those
   partitions (partition pruning), merge in memory of the cluster;
3. write back with **dynamic partition overwrite**, which atomically-ish
   replaces just the touched partitions and leaves the rest of the table
   untouched on disk.

Cost per batch: O(touched partitions), not O(table). On Delta/Iceberg the
same call becomes a single ``MERGE INTO``; this is the dependency-free
form with identical semantics for partition-aligned keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..merge import merge_dataframes
from ..util import scoped_conf

_OVERWRITE_MODE = "spark.sql.sources.partitionOverwriteMode"


def merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    updates: DataFrame,
    keys: list[str],
    partition_col: str,
) -> None:
    """Upsert ``updates`` into the parquet table at ``target_path``.

    ``partition_col`` must be one of the table's partition columns and
    present in ``updates``. Keys should include the partition column (or
    at least never move a row across partitions — standard constraint for
    partition-swap merges).
    """
    try:
        existing = spark.read.parquet(target_path)
        first_write = False
    except Exception:  # noqa: BLE001 - target does not exist yet
        existing = None
        first_write = True

    if first_write:
        updates.write.partitionBy(partition_col).mode("overwrite").parquet(target_path)
        return

    # the touched-partition list and the merge both read the batch:
    # evaluate its plan once (bounded by batch size, not table)
    updates = updates.localCheckpoint(eager=True)
    # distinct partition values in the batch — tiny driver-side list; the
    # IN-filter below partition-prunes the target scan to just those dirs
    touched = [
        r[0] for r in updates.select(partition_col).distinct().collect()
    ]
    affected = existing.filter(F.col(partition_col).isin(touched))
    # materialize before overwriting: the merged plan reads from the same
    # path it is about to replace (read-overwrite hazard). localCheckpoint
    # holds only the touched partitions — bounded by batch size, not table.
    merged = merge_dataframes(affected, updates, keys).localCheckpoint(eager=True)

    with scoped_conf(spark, _OVERWRITE_MODE, "dynamic"):
        (
            merged.write.partitionBy(partition_col)
            .mode("overwrite")  # dynamic: replaces ONLY the touched partitions
            .parquet(target_path)
        )


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_col: str,
) -> None:
    """Small-file compaction: rewrite each partition value into one file
    (hash-repartition on the partition column → one task per value).
    Streaming/micro-batch upserts accrete small files; periodic compaction
    keeps scan task counts sane. The frame is materialized
    (localCheckpoint) before the in-place overwrite — read-overwrite
    hazard, same as the merge path."""
    df = (
        spark.read.parquet(path)
        .repartition(F.col(partition_col))
        .localCheckpoint(eager=True)
    )
    with scoped_conf(spark, _OVERWRITE_MODE, "dynamic"):
        df.write.partitionBy(partition_col).mode("overwrite").parquet(path)


def _delete_partition_dirs(
    spark: SparkSession,
    target_path: str,
    partition_col: str,
    values: list,
) -> None:
    """Remove ``partition_col=value`` directories under ``target_path``.

    Dynamic partition overwrite only replaces partitions PRESENT in the
    written output; a partition whose every row was deleted produces zero
    output rows, so its directory would silently survive. Uses the Hadoop
    FileSystem API (works on HDFS/S3A/local alike); each delete is one
    metadata op, so cost stays O(emptied partitions).
    """
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for v in values:
        dirname = (
            "__HIVE_DEFAULT_PARTITION__" if v is None else str(v)
        )
        p = jvm.org.apache.hadoop.fs.Path(
            f"{target_path}/{partition_col}={dirname}"
        )
        fs = p.getFileSystem(hconf)
        fs.delete(p, True)


def cdc_merge_into_parquet(
    spark: SparkSession,
    target_path: str,
    changes: DataFrame,
    keys: list[str],
    partition_col: str,
    ts_col: str = "ts",
    op_col: str = "op",
    delete_op: str = "D",
) -> None:
    """Apply an insert/update/delete change batch to a partitioned parquet
    table — MERGE ... WHEN MATCHED DELETE semantics without a lakehouse,
    same partition-swap discipline as `merge_into_parquet` (cost = touched
    partitions, not table).

    Existing rows are replayed as opening state (their stored ts) against
    the batch through `merge.cdc_snapshot`: per key the latest op wins and
    a latest delete removes the row. ``changes`` carries
    (keys..., ts, op, values...); rows must not move across partitions.
    Idempotent: re-applying the same batch is a no-op.
    """
    from ..merge import cdc_snapshot

    try:
        existing = spark.read.parquet(target_path)
        first_write = False
    except Exception:  # noqa: BLE001 - target does not exist yet
        existing = None
        first_write = True

    value_cols = [
        c for c in changes.columns if c not in (*keys, ts_col, op_col)
    ]
    if first_write:
        snap = cdc_snapshot(changes, keys, ts_col, op_col, value_cols, delete_op)
        snap.write.partitionBy(partition_col).mode("overwrite").parquet(target_path)
        return

    # the touched-partition list and the snapshot both read the batch
    changes = changes.localCheckpoint(eager=True)
    touched = [r[0] for r in changes.select(partition_col).distinct().collect()]
    affected = existing.filter(F.col(partition_col).isin(touched))
    log = affected.select(
        *keys, ts_col, F.lit("U").alias(op_col), *value_cols
    ).unionByName(changes.select(*keys, ts_col, op_col, *value_cols))
    merged = cdc_snapshot(
        log, keys, ts_col, op_col, value_cols, delete_op
    ).localCheckpoint(eager=True)

    # a batch that deletes EVERY remaining row of a touched partition emits
    # zero rows for it — dynamic overwrite would never touch that directory
    # and the stale rows would survive. Diff and delete those explicitly.
    present = {
        r[0] for r in merged.select(partition_col).distinct().collect()
    }
    emptied = [v for v in touched if v not in present]

    with scoped_conf(spark, _OVERWRITE_MODE, "dynamic"):
        (
            merged.write.partitionBy(partition_col)
            .mode("overwrite")
            .parquet(target_path)
        )
    if emptied:
        _delete_partition_dirs(spark, target_path, partition_col, emptied)


def refresh_aggregate(
    spark: SparkSession,
    agg_path: str,
    delta: DataFrame,
    keys: list[str],
    sum_cols: list[str],
    partition_col: str,
    count_col: str = "n_rows",
) -> None:
    """Incremental materialized-aggregate maintenance: fold a fact DELTA
    into a persisted (keys → SUM/COUNT) rollup without recomputing from
    the full fact table.

    Works because SUM and COUNT are commutative monoids: the stored
    aggregate IS a partial aggregate, so merging the delta's partials is
    one union + re-aggregate over (stored ∩ touched partitions) ∪
    (delta partials) — O(delta + touched partitions), never O(fact).
    The write reuses the partition-swap path (dynamic partition
    overwrite), so untouched partitions never rewrite. AVG and friends
    derive downstream as SUM/COUNT; non-decomposable aggregates
    (MEDIAN, COUNT DISTINCT) need sketch-typed state instead — see
    hl1's HLL rollup for the distinct-count version of this pattern.

    First call bootstraps the table (no existing aggregate).
    """
    partials = delta.groupBy(*keys).agg(
        *[F.sum(c).alias(c) for c in sum_cols],
        F.count(F.lit(1)).cast("long").alias(count_col),
    )
    try:
        existing = spark.read.parquet(agg_path)
        touched = [
            r[partition_col]
            for r in partials.select(partition_col).distinct().collect()
        ]
        relevant = existing.filter(F.col(partition_col).isin(touched))
        merged = (
            relevant.select(partials.columns)
            .unionAll(partials)
            .groupBy(*keys)
            .agg(
                *[F.sum(c).alias(c) for c in sum_cols],
                F.sum(count_col).cast("long").alias(count_col),
            )
        )
    except Exception:  # noqa: BLE001 - bootstrap: no table yet
        merged = partials
    with scoped_conf(spark, _OVERWRITE_MODE, "dynamic"):
        merged.write.mode("overwrite").partitionBy(partition_col).parquet(agg_path)


def vacuum_table(path: str) -> dict:
    """Remove job debris from a parquet merge-table directory: Spark's
    ``_temporary`` staging dirs (left by aborted/killed writes) and empty
    partition directories (left when a partition's last rows were
    deleted). Committed data files are NEVER touched — the cleaner only
    deletes names matching the staging pattern or directories with no
    files under them. Returns {"temp_dirs": n, "empty_dirs": n}.

    The lakehouse-less analogue of VACUUM: safe to run any time because
    dynamic partition overwrite only publishes complete partitions, so
    anything matching the debris patterns is by construction unreadable
    by Spark's committed-file protocol.
    """
    import os
    import shutil

    stats = {"temp_dirs": 0, "empty_dirs": 0}
    if not os.path.isdir(path):
        return stats
    for root, dirs, _files in os.walk(path, topdown=True):
        for d in list(dirs):
            if d == "_temporary" or d.startswith(".spark-staging"):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)
                dirs.remove(d)
                stats["temp_dirs"] += 1
    # bottom-up pass for empties (a partition dir whose files were removed)
    for root, dirs, files in os.walk(path, topdown=False):
        if root != path and not dirs and not files:
            os.rmdir(root)
            stats["empty_dirs"] += 1
    return stats
