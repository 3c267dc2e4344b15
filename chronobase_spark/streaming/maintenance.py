"""Scheduled maintenance: compaction + retention batch jobs.

The reference runs three background tickers (flush/merge/cleanup,
reference pkg/db/db.go:195-249). Flush is the streaming sink
(ingest.py); the other two are plain batch jobs an external scheduler
runs periodically:

* **compact**: the reference merges time-adjacent small tablets pairwise
  with an O(n²) restart loop (table.go:240-331, 517-552). Spark-native
  compaction reads one day partition, re-sorts, and rewrites it as one
  file — per-partition, no pairwise loop.
* **retention**: the reference drops whole tablets older than TTL and
  filters the memtable (table.go:334-369). Spark-native retention drops
  whole partition directories (a metadata/file operation — no data
  scan) for buckets entirely past the cutoff.

Both work on the one time-partitioned layout that
``sources/writers.py`` owns (partition column, day bucket, sort keys),
so they serve the streaming sink's tables and the ChronoSpark facade's
alike.
"""

from __future__ import annotations

import shutil
from pathlib import Path

from pyspark.sql import SparkSession

from chronobase_spark.sources.writers import PARTITION_COL, partitions, sort_keys


def compact_partition(spark: SparkSession, table_dir: str, partition_value: str) -> int:
    """Rewrite one day partition into one sorted file (reference merge,
    table.go:240-331 — minus its restart loop). Returns the row count
    compacted.

    Write is staged to a temp dir then swapped in, preserving the
    crash-safety intent of the reference's atomic rename
    (utils/fileutils.go:87-103). The staging/backup dirs are
    dot-prefixed SIBLINGS of the partition dir — Spark's file listing
    ignores dot/underscore-prefixed paths, so a crash mid-compaction
    never exposes a half-written copy as a bogus partition (a
    ``<part>._tmp`` suffix would still match the ``<col>=<val>``
    partition pattern and double-count rows). Swap order is
    rename-old → rename-new → delete-old: no window loses the
    partition; a crash at worst leaves an ignored ``.compact_*`` dir
    for the next run to reclaim.
    """
    root = Path(table_dir)
    name = f"{PARTITION_COL}={partition_value}"
    part_dir = root / name
    staged = root / f".compact_new_{name}"
    old = root / f".compact_old_{name}"
    # Crash recovery, in dependency order. A previous run can only have
    # died in one of three states:
    #  * after rename-old but before rename-new: part_dir missing, the
    #    ONLY live copy is `old` → restore it (never delete it);
    #  * after rename-new but before delete-old: part_dir present AND
    #    `old` present → old is a superseded copy, safe to drop;
    #  * mid-write of `staged`: staged is incomplete → safe to drop.
    if not part_dir.exists() and old.exists():
        old.rename(part_dir)
    if part_dir.exists() and old.exists():
        shutil.rmtree(old)
    if staged.exists():
        shutil.rmtree(staged)
    if not part_dir.exists():
        return 0
    df = spark.read.parquet(str(part_dir))
    n = df.count()
    (
        df.repartition(1)
        .sortWithinPartitions(*sort_keys(df.columns))
        .write.mode("overwrite")
        .parquet(str(staged))
    )
    part_dir.rename(old)
    staged.rename(part_dir)
    shutil.rmtree(old)
    return n


def retention_sweep(table_dir: str, cutoff_date: str) -> list[str]:
    """Drop partitions strictly older than ``cutoff_date`` (reference TTL
    cleanup, table.go:334-369). Whole-directory removal — the analog of
    dropping whole tablets by MaxTS, no row-level scan. Returns dropped
    partition values."""
    dropped = []
    for value, part_dir in partitions(table_dir).items():
        if value < cutoff_date:
            shutil.rmtree(part_dir)
            dropped.append(value)
    return dropped
