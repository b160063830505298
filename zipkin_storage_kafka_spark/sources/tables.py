"""Parquet table loaders for the driver testdata (TESTDATA.md).

Column pruning + predicate pushdown happen automatically for parquet
(verify with ``df.explain('formatted')`` — look for PushedFilters /
ReadSchema).  At 100 TB the same reader works: parquet directories
partitioned by date, with partition pruning driven by query filters.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession

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


def _ensure_reader_confs(spark: SparkSession) -> None:
    """Make any SparkSession able to read the driver testdata.

    Callers (the external correctness harness in particular) may hand us a
    bare SparkSession built without ``session.get_spark``.  Two confs are
    load-bearing and runtime-settable, so set them defensively here rather
    than relying on the session factory:

    - ``spark.sql.legacy.parquet.nanosAsLong``: events.parquet stores
      TIMESTAMP(NANOS); without this, ``spark.read.parquet`` throws
      PARQUET_TYPE_ILLEGAL.  With it, the column surfaces as LongType nanos,
      which ``to_epoch_micros`` expects.
    - ``spark.sql.session.timeZone=UTC``: the ``timestamp_ntz`` branch of
      ``to_epoch_micros`` casts NTZ->TZ, which is only the identity under a
      UTC session zone (matching DuckDB's UTC-naive reading).
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # Right-size shuffle width for a session left at Spark's untouched
    # default (200): at test scale that is 6x more tasks than cores, all
    # scheduling overhead.  A deliberately configured session is respected.
    if spark.conf.get("spark.sql.shuffle.partitions", "200") == "200":
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
        spark.conf.set("spark.sql.shuffle.partitions", str(cpus))
    # Session-wide planner default (ADVICE r06: set once here, not as an
    # order-dependent side effect of one query): allow co-partitioned
    # joins when the join keys are a SUPERSET of a bucketed table's
    # cluster keys — the zero-exchange store-read path
    # (plans/materialize.py) joins bucketed-by-trace_id spans on
    # (trace_id, span keys).  Correctness-neutral (Spark only elides an
    # exchange when the distribution is still satisfied); deterministic
    # for every plan-pinning test regardless of execution order.
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")


# Every table read of a session, keyed on the file's path, size and mtime
# so a rewritten file is read again.  Each read without a schema runs one
# schema-inference Spark job; the memo pays it once per table per session.
_READS: weakref.WeakKeyDictionary[SparkSession, dict[tuple, DataFrame]] = (
    weakref.WeakKeyDictionary()
)


def _row_groups_block_split(path: str, raw: DataFrame) -> bool:
    """True when a single parquet file has fewer row groups than the
    byte-range splits Spark plans for it.  A parquet file parallelizes at
    row-group granularity, so the splits past the row-group count read
    nothing and the whole scan's map-side work runs on that many cores."""
    if not os.path.isfile(path):
        return False
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_row_groups < raw.rdd.getNumPartitions()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """The raw parquet scan of ``name``, or, when its row groups block
    Spark's own split (``_row_groups_block_split``), a once-materialized
    copy repartitioned to ``defaultParallelism`` — the batch analog of an
    ingest job writing properly-sized files.  The copy is shared across
    processes through matcache; every other input (small files, files
    with many row groups, directories) is read as it is."""
    if name not in TABLES:
        raise ValueError(f"unknown table {name!r}; expected one of {TABLES}")
    _ensure_reader_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    st = os.stat(path)
    key = (os.path.abspath(path), st.st_size, st.st_mtime_ns)
    reads = _READS.setdefault(spark, {})
    if key not in reads:
        df = raw = spark.read.parquet(path)
        if _row_groups_block_split(path, raw):
            import sys

            from zipkin_storage_kafka_spark.sources import matcache

            target = spark.sparkContext.defaultParallelism
            df = matcache.materialized(
                spark,
                sf_dir,
                f"wide_{name}",
                matcache.code_fingerprint([sys.modules[__name__]]),
                lambda: raw.repartition(target),
            )
        reads[key] = df
    return reads[key]


def to_epoch_micros(df, col_name: str):
    """Epoch-micros Column for a parquet timestamp column, whichever way the
    file encodes it: TIMESTAMP(NANOS) surfaces as LongType nanos under
    ``spark.sql.legacy.parquet.nanosAsLong`` (truncating div, matching
    DuckDB's ns->us truncation); micro/milli timestamps surface as
    TimestampType and go through ``unix_micros``.
    """
    from pyspark.sql import functions as F

    dtype = dict(df.dtypes).get(col_name)
    if dtype == "bigint":
        return F.expr(f"{col_name} div 1000")
    if dtype == "timestamp_ntz":
        # session TZ is pinned to UTC, so NTZ -> TZ cast is the identity
        return F.unix_micros(F.col(col_name).cast("timestamp"))
    return F.unix_micros(F.col(col_name))
