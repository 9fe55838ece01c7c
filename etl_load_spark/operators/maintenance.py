"""Table maintenance: small-file compaction.

The small-files problem is the dominant operational failure mode of
long-running ingestion at scale: streaming micro-batches and incremental
loads each commit a few files, and after months a 100 TB table is millions
of kilobyte-files whose listing + open overhead dwarfs the scan itself.
``compact_files`` rewrites a dataset to approximately ``target_file_mb``
files, preserving content exactly and the hive partition layout, which it
reads from the ``col=value`` directories its data files sit under.

Safety protocol (LOCAL filesystems — os.rename is atomic within one
filesystem; an object-store port would swap via the Hadoop FileSystem API
with its different atomicity rules): the rewrite lands in a sibling temp
directory first, then swaps via two renames (original → ``.pre_compact``
backup → compacted into place), and the backup is removed only after the
swap succeeds. A crash can land between the two renames — leaving NO
dataset at ``path`` with the original intact in ``.pre_compact`` — so
``compact_files`` begins with crash RECOVERY: a leftover backup with no
live path is restored, a leftover backup beside a live path (crash during
the final backup delete) is dropped, and a stale temp dir is cleared.
Callers never see a half state across crash + re-run.

Scale: one read + one write of the data (none when every directory
already holds one file within the target), no driver materialization; the
repartition count is computed from on-disk bytes, so output files land
near the target regardless of row width. On a partitioned table the
shuffle keys on (partition columns, content-hash salt) where each
partition's salt range is sized from ITS estimated bytes — a huge
partition spreads over ~bytes/target parallel tasks and splits near the
target (plus a ``maxRecordsPerFile`` cap), while small partitions keep
salt=0 and stay one file each; sizing costs one column-pruned count per
partition key broadcast back onto the data.
"""

from __future__ import annotations

import math
import os
import shutil

from pyspark.sql import SparkSession


def _dir_stats(path: str) -> dict[str, list[int]]:
    """The data files (parquet/orc parts) under a local path: each
    directory's path relative to ``path`` → its files' sizes in bytes.
    Hidden directories (``.x``, and ``_x`` without ``=``, such as a file
    sink's ``_spark_metadata``) hold no data, as for Spark's reader."""
    dirs = {}
    for dirpath, subdirs, files in os.walk(path):
        subdirs[:] = [d for d in subdirs if not d.startswith(".")
                      and not (d.startswith("_") and "=" not in d)]
        sizes = [os.path.getsize(os.path.join(dirpath, fn)) for fn in files
                 if not fn.startswith(("_", "."))]
        if sizes:
            dirs[os.path.relpath(dirpath, path)] = sizes
    return dirs


def _partition_columns(path: str, dirs: dict[str, list[int]]) -> list[str]:
    """The hive partition columns of the table at ``path``, outermost
    first, from the ``col=value`` directory names of its data files
    (``dirs`` as ``_dir_stats`` lists them). Raises ValueError unless
    every data file sits at the same depth under the same column names."""
    layouts = {tuple(p.split("=")[0] + "=" if "=" in p else p
                     for p in ([] if rel == "." else rel.split(os.sep)))
               for rel in dirs}
    if len(layouts) > 1 or any(not c.endswith("=") for lay in layouts
                               for c in lay):
        raise ValueError(
            f"compact_files: the data files under {path} sit at different "
            "partition depths or under different column names "
            f"({sorted('/'.join(lay) or '.' for lay in layouts)}); only a "
            "flat table or one hive layout can be compacted")
    return [c[:-1] for c in next(iter(layouts), ())]


def compact_files(spark: SparkSession, path: str, target_file_mb: int = 128,
                  fmt: str = "parquet") -> dict:
    """Rewrite ``path`` to ~``target_file_mb`` files in the hive layout it
    has; returns metrics {files_before, files_after, bytes, rows,
    partitions}, where ``partitions`` are the layout's columns.

    A dataset that is already compact (after crash recovery, no directory
    holds more than one data file and no file exceeds the target) is left
    as it is, without a Spark read: then ``files_after == files_before``
    and ``rows`` is None, since nothing was counted."""
    from pyspark.sql import functions as F

    tmp = path.rstrip("/") + ".compact_tmp"
    backup = path.rstrip("/") + ".pre_compact"
    # crash recovery from a previous interrupted swap (see module docstring)
    if os.path.exists(backup):
        if os.path.exists(path):
            shutil.rmtree(backup)   # swap completed; backup delete crashed
        else:
            os.rename(backup, path)  # crashed between the two renames
    if os.path.exists(tmp):
        shutil.rmtree(tmp)          # stale partial rewrite
    dirs = _dir_stats(path)
    partition_by = _partition_columns(path, dirs)
    files_before = sum(len(sizes) for sizes in dirs.values())
    total_bytes = sum(sum(sizes) for sizes in dirs.values())
    target_bytes = target_file_mb * 1024 * 1024
    compact = all(len(sizes) == 1 and sizes[0] <= target_bytes
                  for sizes in dirs.values())
    if os.path.isdir(path) and compact:
        return {"files_before": files_before, "files_after": files_before,
                "bytes": total_bytes, "rows": None,
                "partitions": partition_by}
    df = getattr(spark.read, fmt)(path)
    rows = df.count()
    n_out = max(1, math.ceil(total_bytes / target_bytes))
    if partition_by:
        # key the shuffle on (partition cols, salt): partition cols alone
        # would hash every row of a hive partition to ONE task → exactly
        # one (possibly huge) file per partition. The salt range is sized
        # PER PARTITION from its estimated bytes (rows × observed avg row
        # width), so a big partition spreads over ~its_bytes/target tasks
        # while small partitions keep salt=0 and stay one file each.
        avg_row = max(1, total_bytes // max(rows, 1))
        # null-safe probe join: a hive __HIVE_DEFAULT_PARTITION__ reads
        # back as NULL, and an equality join would silently DROP those
        # rows from the rewrite (data loss on swap)
        sizes = df.groupBy(*partition_by).agg(
            F.count(F.lit(1)).alias("_rows_p"))
        sizes = sizes.select(
            *[F.col(c).alias(f"_p_{c}") for c in partition_by], "_rows_p")
        cond = None
        for c in partition_by:
            eq = df[c].eqNullSafe(sizes[f"_p_{c}"])
            cond = eq if cond is None else (cond & eq)
        spread = F.greatest(
            F.lit(1),
            F.ceil(F.col("_rows_p") * F.lit(avg_row) / F.lit(target_bytes))
        ).cast("bigint")
        data_cols = [c for c in df.columns if c not in partition_by]
        salt = F.pmod(F.xxhash64(*(data_cols or df.columns)), spread)
        out = (df.join(F.broadcast(sizes), cond)
               .repartition(n_out, *[F.col(c) for c in partition_by], salt)
               .drop("_rows_p", *[f"_p_{c}" for c in partition_by]))
    else:
        out = df.repartition(n_out)
    w = out.write.mode("overwrite").format(fmt)
    if partition_by:
        # belt-and-braces size cap from observed bytes/row: even a skewed
        # task splits its output near the target
        avg_row = max(1, total_bytes // max(rows, 1))
        w = (w.option("maxRecordsPerFile", max(1, target_bytes // avg_row))
             .partitionBy(*partition_by))
    w.save(tmp)
    # swap: original → backup, compacted → original, drop backup
    os.rename(path, backup)
    try:
        os.rename(tmp, path)
    except Exception:
        os.rename(backup, path)  # restore on failure
        raise
    shutil.rmtree(backup)
    # the swap replaced every part file under the same path — drop the
    # session's cached file listing or the next reader of this path
    # (a streaming VALIDATE_LOAD, downstream jobs in the same session)
    # fails FAILED_READ_FILE.FILE_NOT_EXIST on the pre-compaction parts
    spark.catalog.refreshByPath(path)
    files_after = sum(len(sizes) for sizes in _dir_stats(path).values())
    return {"files_before": files_before, "files_after": files_after,
            "bytes": total_bytes, "rows": rows,
            "partitions": partition_by}
