"""Table catalog: register Parquet datasets as queryable tables.

The reference discovers tables by listing data-dir subdirectories and
rebuilding per-tablet metadata (reference pkg/db/db.go:291-350,
``loadExistingTables``).  Spark-natively, a "table" is a Parquet dataset
registered as a temp view; min/max pruning that the reference tracked by
hand (internal/storage/index.go:14-20) comes free from Parquet footer
statistics and Catalyst partition pruning.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Every table in the driver-generated corpus (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def ensure_session_conf(spark: SparkSession) -> None:
    """Make a *caller-owned* session able to read the corpus.

    The engine cannot assume its own :func:`chronobase_spark.session.get_spark`
    built the session — a host application (or the grading driver) brings its
    own.  Two settings are mandatory for correct reads and both are
    runtime-settable, so set them here at the catalog boundary, before any
    parquet read:

    * ``spark.sql.legacy.parquet.nanosAsLong`` — ``events.parquet`` stores
      parquet TIMESTAMP(NANOS), which Spark 4 rejects by default
      (PARQUET_TYPE_ILLEGAL). With the flag the column arrives as raw int64
      nanoseconds, which :func:`_normalize` converts exactly like DuckDB does.
    * ``spark.sql.session.timeZone=UTC`` — timestamp rendering must match the
      UTC-pinned oracle or value hashes diverge.

    The reference guarantees the same property by owning its whole runtime:
    ``DB.Query`` always works because the DB constructed the storage engine
    (reference pkg/db/db.go:155-162). On Spark the session is shared state,
    so the catalog repairs it instead.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def _normalize(name: str, df: DataFrame) -> DataFrame:
    """Canonicalize physical quirks of the corpus at the catalog boundary.

    ``events.ts`` is parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it arrives as raw int64
    nanoseconds. Convert to µs TimestampType by integer division — the
    exact truncation DuckDB performs reading the same file, so oracle
    comparisons see identical values (FIXTURES.md 'ns→µs truncation').

    The raw nanos survive as hidden column ``__ts_ns``: a predicate on
    the derived timestamp cannot be pushed into the parquet scan
    (`timestamp_micros(ts div 1000) >= X` is opaque to the reader), so
    time-range operators translate their bounds to int64 ns and filter
    on ``__ts_ns`` — which pushes down to row-group stats. That
    pushdown IS the reference's tablet pruning (table.go:146-149); at
    100 TB it is the difference between pruning and a full scan.
    Operators drop the hidden column from query outputs.
    """
    from pyspark.sql.types import LongType

    if name == "events" and isinstance(df.schema["ts"].dataType, LongType):
        df = df.withColumn("__ts_ns", F.col("ts")).withColumn(
            "ts", F.expr("timestamp_micros(ts div 1000)")
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every corpus table from ``sf_dir`` as a DataFrame."""
    ensure_session_conf(spark)
    return {
        name: _normalize(name, spark.read.parquet(f"{sf_dir}/{name}.parquet"))
        for name in TABLES
    }


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register each table as a temp view (the reference's table catalog,
    pkg/db/db.go:19-25, as Spark session state)."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a single table by name."""
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_conf(spark)
    return _normalize(name, spark.read.parquet(f"{sf_dir}/{name}.parquet"))


def spread(df: DataFrame, key: str | None = None) -> DataFrame:
    """Repartition ``df`` to the session's default parallelism ONLY when
    its plan currently has fewer partitions — the unsplittable-input fix
    (a parquet file is splittable at ROW-GROUP granularity only; a
    single-row-group file scans as ONE task no matter the split config,
    so every map-heavy stage above it runs on one core).

    Scale-adaptive by construction (r17 optimization round): at 100 TB a
    table arrives in thousands of row groups/files and this is the
    IDENTITY — no shuffle is added to the plan; on a local single-file
    corpus it unlocks all cores for the expensive per-row work
    (shingling, md5 lanes, gram assembly, entropy folds) that would
    otherwise serialize. This replaces the unconditional
    ``repartition(defaultParallelism)`` the heavy dedup builders used
    to pay (which at scale would shuffle the full text payload for
    nothing — measured equal locally, strictly better at scale).

    ``key``: optional column to hash-partition by (deterministic under
    task retry — the SPARK-38388 round-robin caveat — and skips
    round-robin's sort-before-repartition). Streaming frames are
    returned untouched: micro-batch parallelism is the trigger's
    concern, and ``.rdd`` is undefined on a streaming DataFrame.

    The partition probe (``df.rdd.getNumPartitions()``) is driver-side
    plan inspection — no job runs.
    """
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= target:
        return df
    return df.repartition(target, F.col(key)) if key else df.repartition(target)


def barrier(df: DataFrame, **cols: Column) -> DataFrame:
    """Materialize ``cols`` behind one Generate node,
    ``inline(array(struct(...)))``, so downstream filters and lambdas
    read attribute references, not re-inlined expression trees.
    CollapseProject cannot merge across a Generate: behind a plain
    alias, a filter re-evaluates the whole expression tree per
    predicate (r18; the duplicated trees showed as 600+-char Filter
    conditions in the committed plans)."""
    named = [c.alias(name) for name, c in cols.items()]
    return df.select("*", F.inline(F.array(F.struct(*named))))
