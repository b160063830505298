"""Deterministic ``events`` -> ``spans`` derivation (test-fixture source).

The driver testdata has no native spans table; FIXTURES.md section 6 maps the
``events`` stream table onto the reference's span model (ITKafkaStorage.java
fixtures):  event -> span, (user_id, event day) -> trace, event_type -> op
name, ts -> timestamp, props -> tags.

The derivation exists twice ON PURPOSE:

1. :func:`spans_from_events` — the Spark DataFrame derivation the engine uses.
2. :data:`SPANS_ORACLE_CTE` — the equivalent DuckDB SQL CTE, prepended to
   every oracle query so the driver's t2 gate checks the whole pipeline
   (derivation + operator) value-for-value against an independent engine.

Determinism rules shared by both:
- trace grouping: one trace per (user_id, utc day); day computed as integer
  division of epoch-micros (exact bigint math — no float).
- parent edge: previous event of the same trace in (ts, event_id) order
  (lag window) -> span tree is a chain; root has NULL parent.
- ids: 16-hex via printf('%016x', ...) in both engines.
- duration: round(value * 1000) — explicit round BEFORE the bigint cast,
  because Spark's double->long cast truncates while DuckDB's rounds.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.sources.tables import load_table, to_epoch_micros

DAY_MICROS = 86_400_000_000

# Memoized persisted spans per (session, sf_dir) — the batch analog of the
# reference's materialized spans topic: every query in a session reuses one
# derivation instead of recomputing scan+window per query.  At cluster scale
# this is the ingest job's output table; here it's an in-memory cache.
_SPANS_CACHE: dict[tuple[int, str], DataFrame] = {}

# Cross-process materialization (sources/matcache.py): the batch analog of
# the reference's ingest-time materialized stores — spans/links/summaries
# are derived once per code version and sf_dir, then every process reads
# the parquet.  The fingerprint covers every package module the store
# derivations import at module level (tests/test_materialize.py checks the
# closure), so an edit to any of them rebuilds the stores.
FINGERPRINT_MODULES = (
    "functions.portable",
    "functions.zipkin",
    "operators.dependency_links",
    "operators.trace_aggregation",
    "sources.tables",
    "sources.spans",
)


def _fingerprint() -> str:
    import importlib

    from zipkin_storage_kafka_spark.sources import matcache

    mods = [
        importlib.import_module(f"zipkin_storage_kafka_spark.{m}")
        for m in FINGERPRINT_MODULES
    ]
    return matcache.code_fingerprint(mods)


def _materialized(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    from zipkin_storage_kafka_spark.sources import matcache

    return matcache.materialized(spark, sf_dir, table, _fingerprint(), build)


def spans_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = (id(spark), sf_dir)
    if key not in _SPANS_CACHE:
        _SPANS_CACHE[key] = _materialized(
            spark, sf_dir, "spans", lambda: spans_from_events(spark, sf_dir)
        ).persist()
    return _SPANS_CACHE[key]


_LINKS_CACHE: dict[tuple[int, str], DataFrame] = {}


def links_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized persisted per-trace link rows — the batch analog of the
    reference's MATERIALIZED ``zipkin-dependency`` topic/store
    (DependencyStorageTopology.java consumes pre-linked records; it never
    re-derives links per query).  Every dependency query (j1 merge, a7
    windowed counters, s8 range query) reads this one materialization
    instead of re-running the trace self-join."""
    key = (id(spark), sf_dir)
    if key not in _LINKS_CACHE:
        from zipkin_storage_kafka_spark.operators.dependency_links import (
            dependency_links,
        )

        _LINKS_CACHE[key] = _materialized(
            spark,
            sf_dir,
            "links",
            lambda: dependency_links(spans_table(spark, sf_dir)),
        ).persist()
    return _LINKS_CACHE[key]


_SUMMARIES_CACHE: dict[tuple[int, str], DataFrame] = {}


def summaries_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized persisted per-trace rollup — the batch analog of the
    reference's materialized ``zipkin-traces`` store
    (TraceStorageTopology.java:87-91: every find/get query reads the store,
    never re-aggregates spans).  find-traces, latest-traces, and the a2
    registry query all read this one materialization."""
    key = (id(spark), sf_dir)
    if key not in _SUMMARIES_CACHE:
        from zipkin_storage_kafka_spark.operators.trace_aggregation import (
            trace_summaries,
        )

        _SUMMARIES_CACHE[key] = _materialized(
            spark,
            sf_dir,
            "summaries",
            lambda: trace_summaries(spans_table(spark, sf_dir)),
        ).persist()
    return _SUMMARIES_CACHE[key]


def spans_from_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Derive the spans DataFrame (FIXTURES.md section 1 columns).

    Output columns (scalar — map/struct fields also provided for the engine
    API layer by :func:`spans_with_nested`):
      trace_id, id, parent_id, kind, name, timestamp (epoch micros),
      duration (micros), local_service, remote_service, tag_k, env, is_error
    """
    ev = load_table(spark, sf_dir, "events")
    ts_micros = to_epoch_micros(ev, "ts")
    base = ev.select(
        F.col("event_id"),
        ts_micros.alias("ts_micros"),
        F.col("user_id"),
        F.col("event_type"),
        F.col("value"),
        F.get_json_object("props", "$.k").alias("tag_k"),
    )
    trace_num = F.col("user_id") * F.lit(1_000_000) + F.expr(
        f"ts_micros div {DAY_MICROS}"
    )
    # The lag window partitions by trace_id (not the numeric trace_num):
    # downstream groupBy('trace_id') then REUSES this exchange — one shuffle
    # for derivation + aggregation instead of two (checked by
    # tests/test_plan_quality.py::test_single_shuffle_for_trace_agg).
    w = Window.partitionBy("trace_id").orderBy("ts_micros", "event_id")
    spans = (
        base.withColumn("trace_num", trace_num)
        .withColumn("trace_id", F.format_string("%016x", F.col("trace_num")))
        .withColumn("id", F.format_string("%016x", F.col("event_id") + F.lit(1)))
        .withColumn("parent_id", F.lag("id").over(w))
        .withColumn(
            "kind",
            F.when(F.col("event_type").isin("click", "view"), F.lit("CLIENT"))
            .when(F.col("event_type").isin("purchase", "signup"), F.lit("SERVER"))
            .otherwise(F.lit(None).cast("string")),
        )
        .withColumn("name", F.col("event_type"))
        .withColumn("timestamp", F.col("ts_micros"))
        .withColumn(
            "duration", F.round(F.col("value") * F.lit(1000), 0).cast("long")
        )
        .withColumn(
            "local_service", F.format_string("svc_%d", F.col("event_id") % F.lit(7))
        )
        .withColumn(
            "remote_service",
            F.when(
                F.col("kind") == "CLIENT",
                F.format_string("rsvc_%d", F.col("event_id") % F.lit(3)),
            ).otherwise(F.lit(None).cast("string")),
        )
        .withColumn(
            "env",
            F.when(F.col("tag_k").cast("long") % 3 == 0, F.lit("dev"))
            .when(F.col("tag_k").cast("long") % 3 == 1, F.lit("staging"))
            .otherwise(F.lit("prod")),
        )
        .withColumn("is_error", F.col("event_type") == F.lit("error"))
    )
    return spans.select(
        "trace_id",
        "id",
        "parent_id",
        "kind",
        "name",
        "timestamp",
        "duration",
        "local_service",
        "remote_service",
        "tag_k",
        "env",
        "is_error",
    )


def spans_with_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spans in the full canonical SPAN_SCHEMA shape (nested endpoints,
    tags map) for the Zipkin API layer; scalar view above is for oracles.

    Builds on the memoized persisted scalar spans (the projection below is
    shuffle-free), so API-layer queries share the one cached derivation
    instead of re-running scan + lag-window per query."""
    s = spans_table(spark, sf_dir)
    return s.select(
        "trace_id",
        "parent_id",
        "id",
        "kind",
        "name",
        "timestamp",
        "duration",
        F.struct(
            F.col("local_service").alias("service_name"),
            F.lit(None).cast("string").alias("ipv4"),
            F.lit(None).cast("string").alias("ipv6"),
            F.lit(None).cast("int").alias("port"),
        ).alias("local_endpoint"),
        F.when(
            F.col("remote_service").isNotNull(),
            F.struct(
                F.col("remote_service").alias("service_name"),
                F.lit(None).cast("string").alias("ipv4"),
                F.lit(None).cast("string").alias("ipv6"),
                F.lit(None).cast("int").alias("port"),
            ),
        ).alias("remote_endpoint"),
        F.array().cast("array<struct<timestamp:long,value:string>>").alias(
            "annotations"
        ),
        F.map_filter(
            F.create_map(
                F.lit("k"), F.col("tag_k"),
                F.lit("environment"), F.col("env"),
                F.lit("error"), F.when(F.col("is_error"), F.lit("true")),
            ),
            lambda _, v: v.isNotNull(),
        ).alias("tags"),
        F.lit(None).cast("boolean").alias("debug"),
        F.lit(None).cast("boolean").alias("shared"),
    )


# DuckDB equivalent — prepended (as a WITH prefix) to every oracle SQL.
# NOTE: epoch_us(ts) == Spark unix_micros with session TZ pinned to UTC.
SPANS_ORACLE_CTE = f"""
spans AS (
  SELECT
    printf('%016x', user_id * 1000000 + epoch_us(ts) // {DAY_MICROS}) AS trace_id,
    printf('%016x', event_id + 1) AS id,
    lag(printf('%016x', event_id + 1)) OVER (
      PARTITION BY user_id * 1000000 + epoch_us(ts) // {DAY_MICROS}
      ORDER BY epoch_us(ts), event_id
    ) AS parent_id,
    CASE
      WHEN event_type IN ('click', 'view') THEN 'CLIENT'
      WHEN event_type IN ('purchase', 'signup') THEN 'SERVER'
      ELSE NULL
    END AS kind,
    event_type AS name,
    epoch_us(ts) AS timestamp,
    CAST(round(value * 1000, 0) AS BIGINT) AS duration,
    printf('svc_%d', event_id % 7) AS local_service,
    CASE
      WHEN event_type IN ('click', 'view') THEN printf('rsvc_%d', event_id % 3)
      ELSE NULL
    END AS remote_service,
    json_extract_string(props, '$.k') AS tag_k,
    CASE CAST(json_extract_string(props, '$.k') AS BIGINT) % 3
      WHEN 0 THEN 'dev' WHEN 1 THEN 'staging' ELSE 'prod'
    END AS env,
    event_type = 'error' AS is_error
  FROM events
)
"""


def with_spans_cte(query_sql: str, extra_ctes: str = "") -> str:
    """Wrap an oracle query body with the spans CTE (and optional extras)."""
    ctes = SPANS_ORACLE_CTE.strip()
    if extra_ctes:
        ctes = ctes + ",\n" + extra_ctes.strip()
    return f"WITH {ctes}\n{query_sql}"


_SPAN_TREE_CACHE: dict[tuple[int, str], DataFrame] = {}


def span_tree_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memoized persisted per-span tree store — depth, path cost and root
    path (operators.trace_aggregation.span_tree) — an ingest-time
    derivation like spans/links: the trace-local walk runs once per code
    version + sf_dir, and every depth, critical-path and route query reads
    the parquet.  Columns: trace_id, id, depth, path_cost, root_path."""
    key = (id(spark), sf_dir)
    if key not in _SPAN_TREE_CACHE:
        from zipkin_storage_kafka_spark.operators.trace_aggregation import (
            span_tree,
        )

        _SPAN_TREE_CACHE[key] = _materialized(
            spark,
            sf_dir,
            "span_tree",
            lambda: span_tree(spans_table(spark, sf_dir)),
        ).persist()
    return _SPAN_TREE_CACHE[key]


def path_costs_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-span path costs and depths, a projection of
    :func:`span_tree_table`.  Columns: trace_id, id, path_cost, depth."""
    return span_tree_table(spark, sf_dir).select(
        "trace_id", "id", "path_cost", "depth"
    )


def root_paths_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-span root->span service paths, a projection of
    :func:`span_tree_table`.  Columns: trace_id, id, root_path."""
    return span_tree_table(spark, sf_dir).select("trace_id", "id", "root_path")
