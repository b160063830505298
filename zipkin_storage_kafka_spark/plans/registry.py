"""Query registry: every implemented operator from SURVEY.md section 2 as a
(spark_callable, duckdb_oracle_sql) pair.

The driver's t2 gate runs both sides at sf0.01 and compares row count,
schema, and an order-insensitive value hash — so every Spark query here has
its columns aliased identically to the oracle, avoids float outputs unless
explicitly rounded, and makes every LIMIT deterministic via total-order sort
keys.

Keys are prefixed with the SURVEY section-2 operator ids they cover
(a2 = session trace aggregation, j1 = dependency linking, ...).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.operators import (
    autocomplete_tags,
    latest_span_per_service,
    merge_links,
    remote_service_names,
    service_names,
    span_names,
    windowed_link_counters,
)
from zipkin_storage_kafka_spark.plans.query_api import QueryRequest, SpanStore
from zipkin_storage_kafka_spark.sources.spans import (
    SPANS_ORACLE_CTE,
    links_table,
    spans_table,
    summaries_table,
    with_spans_cte,
)

from zipkin_storage_kafka_spark.operators.indexes import (
    BURN_ALERT_FACTOR as _BURN_ALERT_FACTOR,
    BURN_LONG_WINDOWS as _BURN_LONG_WINDOWS,
    SLO_ERROR_BUDGET as _SLO_ERROR_BUDGET,
)
from zipkin_storage_kafka_spark.operators.trace_aggregation import (
    SLOW_SPAN_US as _SLOW_SPAN_US,
)
from zipkin_storage_kafka_spark.streaming.jobs import (
    ROOT_ERROR_JOIN_RANGE_MINUTES as _ROOT_ERROR_RANGE_MIN,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

# Shared oracle CTE fragments -------------------------------------------------

_SUMMARIES_CTE = """
summaries AS (
  SELECT
    trace_id,
    CAST(count(*) AS BIGINT) AS span_count,
    min(timestamp) AS trace_timestamp,
    min(CASE WHEN parent_id IS NULL THEN name END) AS root_name,
    max(timestamp + coalesce(duration, 0)) - min(timestamp) AS trace_duration,
    CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT) AS error_count
  FROM spans GROUP BY trace_id
),
svc AS (
  SELECT trace_id,
         string_agg(local_service, ',' ORDER BY local_service) AS services
  FROM (SELECT DISTINCT trace_id, local_service FROM spans)
  GROUP BY trace_id
),
trace_summaries AS (
  SELECT s.trace_id, s.span_count, s.trace_timestamp, s.root_name,
         s.trace_duration, v.services, s.error_count
  FROM summaries s JOIN svc v USING (trace_id)
)
"""

_LINKS_CTE = """
links AS (
  SELECT c.trace_id, p.local_service AS parent, c.local_service AS child,
         c.is_error, c.timestamp
  FROM spans c JOIN spans p
    ON c.trace_id = p.trace_id AND c.parent_id = p.id
)
"""

_TREE_LINKS_CTE = """
tree_links AS (
  -- callee side: SERVER spans (no CONSUMER/PRODUCER kinds exist in the
  -- event-derived spans; remote_service is NULL on SERVER spans there, so
  -- the parent always comes from the tree parent's local service)
  SELECT s.trace_id, p.local_service AS parent, s.local_service AS child,
         s.is_error, s.timestamp
  FROM spans s JOIN spans p
    ON s.trace_id = p.trace_id AND s.parent_id = p.id
  WHERE s.kind = 'SERVER'
  UNION ALL
  -- caller leaves: CLIENT spans with a remote service and no children
  SELECT s.trace_id, s.local_service AS parent, s.remote_service AS child,
         s.is_error, s.timestamp
  FROM spans s
  WHERE s.kind = 'CLIENT' AND s.remote_service IS NOT NULL
    AND NOT EXISTS (
      SELECT 1 FROM spans c
      WHERE c.trace_id = s.trace_id AND c.parent_id = s.id
    )
)
"""

# find_traces fixture parameters (P4/O1/O3): a realistic request over the
# middle of the data's time range.
FIND_TRACES_REQUEST = QueryRequest(
    service_name="svc_1",
    min_duration=50_000,  # micros
    end_ts=1_705_363_200_000,  # 2024-01-16T00:00:00Z millis
    lookback=7 * 86_400_000,  # 7 d
    limit=10,
)

DEPENDENCIES_END_TS = 1_705_363_200_000
DEPENDENCIES_LOOKBACK = 7 * 86_400_000


def _spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spans_table(spark, sf_dir)


# Spark-side queries ----------------------------------------------------------


def q_trace_summaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return summaries_table(spark, sf_dir)


def q_dependency_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    return merge_links(links_table(spark, sf_dir))


def q_links_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dependency-counter maintenance
    (operators/dependency_links.py:incremental_links_merge):
    trace-atomic ingest batches each partial-aggregate their own
    counter table, query time sums the per-batch counters — proven
    equal to the full merge by sharing j1_a8's oracle."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        incremental_links_merge,
    )

    return incremental_links_merge(links_table(spark, sf_dir))


def q_dependency_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    return windowed_link_counters(links_table(spark, sf_dir))


def q_links_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged links under full zipkin2 DependencyLinker tree semantics
    (callee-side RPC links + caller-leaf remote links; see
    operators.dependency_links.dependency_links_tree).  On the chain-shaped
    testdata this differs from j1_a8: kind-null spans create no edge, and
    leaf CLIENT spans link to their remote service."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        dependency_links_tree,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_table

    return merge_links(dependency_links_tree(spans_table(spark, sf_dir)))


_BUCKETED_SPANS_MEMO: dict[tuple, str] = {}


def q_links_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1/A8 served THROUGH the materialized bucketed span store — the
    store-read path, not just the live plan.  The reference serves every
    query from materialized stores rather than raw topics
    (KafkaStorageHttpService.java:83,222-224); here the store is the
    trace_id-bucketed table (plans/materialize.py:
    materialize_bucketed_spans), whose write layout absorbs the J1
    self-join's shuffle: both sides read the same bucketed table, so
    HashPartitioning(trace_id) already satisfies the (trace_id,
    parent_id=id) clustered distribution and the sort-merge join plans
    with ZERO Exchange before the join (the only Exchange left is the
    final (parent, child) counter merge).  Subset-key co-partitioning
    needs ``spark.sql.requireAllClusterKeysForCoPartition=false`` — a
    physical-planning relaxation only, no semantic effect on any other
    query.  Plan-pinned by
    test_plan_quality.py::test_links_bucketed_store_read_no_join_exchange.

    The store is built once per (session, corpus identity) and memoized
    — exactly how a deployment would write the bucketed layout at ingest
    and serve every later query from it.  Output and oracle are
    IDENTICAL to j1_a8_dependency_links: materialization must never
    change answers.
    """
    import hashlib
    import os
    import tempfile

    from zipkin_storage_kafka_spark.operators.dependency_links import (
        dependency_links,
    )
    from zipkin_storage_kafka_spark.plans.materialize import (
        materialize_bucketed_spans,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    st = os.stat(os.path.join(sf_dir, "events.parquet"))
    key = (id(spark), os.path.abspath(sf_dir), st.st_size, st.st_mtime_ns)
    table = _BUCKETED_SPANS_MEMO.get(key)
    if table is None or not spark.catalog.tableExists(table):
        tag = hashlib.md5(repr(key).encode()).hexdigest()[:8]
        table = materialize_bucketed_spans(
            spark,
            spans_from_events(spark, sf_dir),
            os.path.join(tempfile.mkdtemp(prefix="spans_bucketed_"), "t"),
            table=f"zipkin_spans_bucketed_{tag}",
        )
        _BUCKETED_SPANS_MEMO[key] = table
    # requireAllClusterKeysForCoPartition=false is a session default set
    # by sources.tables._ensure_reader_confs (ADVICE r06) — the bucketed
    # SMJ below needs it and every query path sets it identically.
    # the merge hint keeps the join a bucketed SMJ even when the corpus is
    # small enough to broadcast — the row exists to exercise the
    # zero-exchange store-read plan at every scale
    bucketed = spark.table(table).hint("merge")
    return merge_links(dependency_links(bucketed))


def q_span_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return span_names(_spans(spark, sf_dir))


def q_remote_service_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return remote_service_names(_spans(spark, sf_dir))


def q_autocomplete_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return autocomplete_tags(_spans(spark, sf_dir), keys=("environment", "k"))


def q_service_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    return service_names(_spans(spark, sf_dir))


def _store(spark: SparkSession, sf_dir: str) -> SpanStore:
    return SpanStore(
        _spans(spark, sf_dir),
        links=links_table(spark, sf_dir),
        summaries=summaries_table(spark, sf_dir),
    )


def q_find_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _store(spark, sf_dir).get_traces(FIND_TRACES_REQUEST)


def q_get_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point lookup of the busiest trace (deterministic target: max span
    count, then smallest trace_id) — S9 single-key fetch.

    In the reference the trace id is an API parameter
    (GET /traces/{id}, KafkaStorageHttpService.java:243-266), so the id is
    resolved driver-side (tiny 1-row collect, the analog of the caller
    supplying it) and the distributed plan is a pure key filter — the
    point-lookup shape that partition/bucket pruning serves at 100 TB.
    """
    spans = _spans(spark, sf_dir)
    target = (
        spans.groupBy("trace_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("trace_id"))
        .limit(1)
        .select("trace_id")
        .collect()[0][0]
    )
    return spans.filter(F.col("trace_id") == F.lit(target)).select(
        "trace_id", "id", "parent_id", "kind", "name", "timestamp", "duration",
        "local_service", "remote_service",
    )


def q_latest_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1/O3: newest 10 traces by root timestamp (top-k, no full sort)."""
    return (
        summaries_table(spark, sf_dir)
        .orderBy(F.col("trace_timestamp").desc(), F.col("trace_id"))
        .limit(10)
    )


def q_limit_before_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O2: the reference's limit-BEFORE-sort scan quirk, replicated
    deterministically (KafkaStorageHttpService.java:222-234: the
    backwardFetchAll window-store iterator is cut at ``limit`` matches
    BEFORE the final sort, so the selected SET follows store-scan order,
    not the display order).  Scan order is modeled as (store window =
    trace_timestamp div 1 minute) DESC then trace_id DESC — newest
    window segment first, key-descending within it — making the quirk a
    total order both engines express exactly; the final sort is the
    reference's traces.sort(timestamp desc).  o1_latest_traces is the
    corrected top-k flavor; this row pins the fidelity flavor, closing
    SURVEY section-7 risk 5's 'replicate only if hash-matching' branch.
    Plan: TakeOrderedAndProject for the scan-order cut, then a 10-row
    sort — no global sort at any point."""
    s = summaries_table(spark, sf_dir)
    first = s.orderBy(
        F.expr("trace_timestamp div 60000000").desc(),
        F.col("trace_id").desc(),
    ).limit(10)
    return first.orderBy(F.col("trace_timestamp").desc(), F.col("trace_id"))


def q_get_dependencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _store(spark, sf_dir).get_dependencies(
        DEPENDENCIES_END_TS, DEPENDENCIES_LOOKBACK
    )


def q_span_names_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 single-key fetch on the span-names store
    (GET /serviceNames/{s}/spanNames)."""
    return _store(spark, sf_dir).get_span_names("svc_1")


def q_autocomplete_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 single-key fetch on the autocomplete store
    (GET /autocompleteTags/{key})."""
    return _store(spark, sf_dir).get_autocomplete_values("environment")


# Richer P4 shape: annotation-query + remote service + span name must
# co-occur on ONE span (zipkin2 QueryRequest.test single-span conjunct).
FIND_TRACES_ANNOTATION_REQUEST = QueryRequest(
    span_name="click",
    remote_service_name="rsvc_1",
    annotation_query={"environment": "dev"},
    end_ts=1_706_745_600_000,  # 2024-02-01
    lookback=45 * 86_400_000,
    limit=20,
)


def q_find_traces_annotation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _store(spark, sf_dir).get_traces(FIND_TRACES_ANNOTATION_REQUEST)


FIND_TRACES_TAGS_REQUEST = QueryRequest(
    # Arbitrary tag key ("k" resolved through the tags MAP, not a flattened
    # column) + zipkin2 bare-key form ("error" with value "" = key present
    # OR an annotation value equals it) — full QueryRequest.test semantics.
    annotation_query={"k": "7", "error": ""},
    limit=10,
)

FIND_TRACES_DURATION_REQUEST = QueryRequest(
    # service + duration bounds must co-occur on a single span
    # (QueryRequest.test minDuration/maxDuration, micros)
    service_name="svc_1",
    min_duration=50_000,
    max_duration=500_000,
    limit=10,
)


def q_find_traces_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 over the canonical nested span shape (tags map + annotations
    array): ``element_at(tags, key)`` serves any key — nothing hard-wired
    (reference predicate built at KafkaStorageHttpService.java:203-228)."""
    from zipkin_storage_kafka_spark.sources.spans import spans_with_nested

    store = SpanStore(
        spans_with_nested(spark, sf_dir),
        links=links_table(spark, sf_dir),
        summaries=summaries_table(spark, sf_dir),
    )
    return store.get_traces(FIND_TRACES_TAGS_REQUEST)


def q_find_traces_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4 duration bounds: minDuration <= duration <= maxDuration must hold
    on the SAME span that satisfies the service condition (zipkin2
    QueryRequest.test single-span conjunct)."""
    return _store(spark, sf_dir).get_traces(FIND_TRACES_DURATION_REQUEST)


def q_remote_service_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S9 single-key fetch on the remote-service-names store
    (GET /serviceNames/{s}/remoteServiceNames)."""
    return _store(spark, sf_dir).get_remote_service_names("svc_1")


def q_union_service_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY 2.9 + O4: the scatter-gather merge — per-instance result
    lists are unioned, deduped, and capped
    (KafkaStoreScatterGatherListCall.java:51-60).  Simulated with two
    disjoint time halves standing in for two instances' local stores."""
    spans = _spans(spark, sf_dir)
    mid_us = DEPENDENCIES_END_TS * 1000
    first = service_names(spans.filter(F.col("timestamp") < mid_us))
    second = service_names(spans.filter(F.col("timestamp") >= mid_us))
    return (
        first.unionByName(second)
        .distinct()
        .orderBy("service_name")
        .limit(1000)
    )


def q_latest_span_per_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY 2.5: max-timestamp-per-key ("latest window wins")."""
    return latest_span_per_service(_spans(spark, sf_dir))


TRACE_MANY_N = 8


def q_trace_many(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O5/2.11 GET /traceMany: multi-point lookup by an explicit id list
    (reference caps at 1000 ids — KafkaStorageHttpService.java:278).

    The id list is a query PARAMETER in the reference; here it is derived
    deterministically (first N trace ids) with a tiny driver-side collect —
    the analog of the API layer receiving ids from the caller, not part of
    the distributed plan.  The aggregated trace rows (array<struct> spans)
    are projected to scalars for oracle hashing: first/last span name
    exercise the sorted-array contract of aggregate_traces.
    """
    spans = _spans(spark, sf_dir)
    ids = [
        r.trace_id
        for r in spans.select("trace_id")
        .distinct()
        .orderBy("trace_id")
        .limit(TRACE_MANY_N)
        .collect()
    ]
    traces = SpanStore(spans).get_traces_by_ids(ids)
    return traces.select(
        "trace_id",
        "span_count",
        "trace_timestamp",
        F.element_at(F.col("spans"), 1)["name"].alias("first_name"),
        F.element_at(F.col("spans"), -1)["name"].alias("last_name"),
    )


def q_normalize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 scalar function as a query: normalize messy (uppercase,
    unpadded) hex ids the way zipkin2 Span.normalizeTraceId does."""
    from zipkin_storage_kafka_spark.functions.zipkin import normalize_trace_id
    from zipkin_storage_kafka_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    raw = F.upper(F.format_string("%x", F.col("event_id") + F.lit(1)))
    return ev.select(
        "event_id",
        raw.alias("raw_id"),
        normalize_trace_id(raw).alias("normalized_id"),
    )


def q_proto_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F5: PROTO3 wire codec round-trip (SpansSerde.java:26-36 parity) —
    encode every trace to a ListOfSpans record, decode back, project
    scalars.  The oracle is the ORIGINAL spans derivation (with
    nullif(duration, 0) applied): matching hashes prove the codec is
    lossless over the whole corpus — up to proto3's one representational
    collapse, duration 0 -> absent -> null, which the reference's
    PROTO3 encoder/decoder pair shares (zero scalars are never written)."""
    from zipkin_storage_kafka_spark.sources.proto_spans import (
        proto_to_spans,
        traces_to_proto,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_with_nested

    # The repartition between codec stages is load-bearing twice over: the
    # encoded bytes cross a real exchange (wire-honest for a WIRE codec),
    # and it stops Spark fusing the two mapInPandas into one stage that
    # holds TWO Python worker pools per task (32->64 pool growth, ~7 s of
    # worker spawn on a cold session).
    encoded = traces_to_proto(spans_with_nested(spark, sf_dir))
    n = spark.sparkContext.defaultParallelism
    decoded = proto_to_spans(encoded.repartition(n, "trace_id"))
    return decoded.select(
        "trace_id", "parent_id", "id", "kind", "name", "timestamp",
        "duration", "local_service", "remote_service",
    )


def q_duration_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-duration histogram per service (engine extension over the span
    store): exact 100 ms integer-division buckets — the aggregation a
    tracing UI's latency heatmap runs.  One shuffle on the tiny
    (service, bucket) domain; map-side partials carry the row count."""
    spans = _spans(spark, sf_dir)
    return spans.groupBy(
        "local_service",
        F.expr("duration div 100000").alias("bucket"),
    ).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.min("duration").alias("min_duration"),
        F.max("duration").alias("max_duration"),
    )


def q_service_error_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service per-day error rate (engine extension): the SLO query a
    trace store serves from its materialized span table.  Day index is
    exact bigint division of epoch-micros; the rate divides two exact
    counts as doubles only at the output boundary."""
    from zipkin_storage_kafka_spark.functions.portable import round4
    from zipkin_storage_kafka_spark.sources.spans import DAY_MICROS

    spans = _spans(spark, sf_dir)
    grouped = spans.groupBy(
        "local_service",
        F.expr(f"timestamp div {DAY_MICROS}").alias("day_idx"),
    ).agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.sum(F.when(F.col("is_error"), 1).otherwise(0)).alias("n_errors"),
    )
    return grouped.select(
        "local_service",
        "day_idx",
        "n_spans",
        "n_errors",
        round4(
            F.col("n_errors").cast("double") / F.col("n_spans").cast("double")
        ).alias("error_rate"),
    )


def q_salted_service_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-hardened span count per service: two-phase salted aggregation
    (operators/skew.py) — same result as a plain groupBy, but a hot
    service key spreads over n_salts reduce partitions.  The oracle is the
    PLAIN count: matching hashes prove the salting is semantics-free."""
    from zipkin_storage_kafka_spark.operators.skew import salted_counts

    return salted_counts(
        _spans(spark, sf_dir), "local_service", count_col="n_spans",
        salt_src="id",
    )


def q_path_redundancy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service-graph path multiplicity
    (operators/dependency_links.py:path_redundancy): distinct simple
    paths of length 1..3 per (src, dst) by k-row adjacency
    composition — the redundancy/fragility view the binary
    reachability closure flattens (completes the graph panel:
    influence, density, cone, multiplicity)."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        path_redundancy,
    )

    return path_redundancy(links_table(spark, sf_dir))


def q_sampling_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace-sampling fidelity audit: a deterministic 1/16 head-based
    sample (md5(trace_id) bucket — how production tracers sample) vs
    the full corpus, per service: scaled-up estimate and its exact
    micro ratio to truth.  The "can we trust the sampled dashboard"
    panel every tracing deployment needs before turning sampling on;
    trace-coherent by construction (whole traces in or out, the
    property head-based sampling must preserve).  One corpus partial
    agg with a conditional sum — the sample is never materialized."""
    spans = _spans(spark, sf_dir)
    flag = (
        F.expr(
            "conv(substring(md5(trace_id), 1, 8), 16, 10) % 16"
        ).cast("int")
        == 0
    ).cast("long")
    return (
        spans.groupBy("local_service")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(flag).alias("n_sampled"),
        )
        .select(
            "local_service",
            "n_spans",
            "n_sampled",
            (F.col("n_sampled") * 16).alias("est_spans"),
            F.expr("(n_sampled * 16 * 1000000) div n_spans").alias(
                "bias_micro"
            ),
        )
    )


def q_partition_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew audit (operators/skew.py:shuffle_key_skew) over
    the two keys every trace query shuffles on — trace_id (the re-key
    at ingest) and local_service (the rollup key): per-key count
    distribution shape, hottest-key share, and the >10x-mean hot-key
    census that decides when salting / AQE skew splitting is worth it.
    The diagnosis panel beside z_salted_service_counts' cure."""
    from zipkin_storage_kafka_spark.operators.skew import shuffle_key_skew

    return shuffle_key_skew(
        _spans(spark, sf_dir), ["trace_id", "local_service"]
    )


def q_sketch_service_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service distinct-trace cardinality by linear-counting sketch
    (operators/sketches.py) beside the exact count — the engine-portable
    answer to the approx-distinct rollups the reference serves from its
    aggregated stores.  Matching hashes prove the sketch math, not just
    the plumbing."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        distinct_traces_sketch,
    )

    return distinct_traces_sketch(_spans(spark, sf_dir))


def q_hll_service_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service distinct-trace cardinality via the native DataSketches
    HLL (operators/sketches.py:hll_distinct_traces) — the mergeable-binary
    production sketch beside the engine-portable linear-counting flavor.
    The oracle row is an accuracy GATE (exact count + within-5% boolean,
    the ann_ivf_recall pattern) because DuckDB's HLL build can never
    hash-match DataSketches estimates."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        hll_distinct_traces,
    )

    return hll_distinct_traces(_spans(spark, sf_dir))


def q_hll_merge_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Day-partial HLL sketches unioned to the per-service estimate
    (operators/sketches.py:hll_merged_rollup) — the counters-store MERGE
    path under the same accuracy gate as z_hll_service_traces.  Proves
    that pre-aggregated (service, day) sketch partials re-union to a
    within-tolerance whole-range answer, which is how a 100 TB window
    store serves cardinality without re-shuffling raw trace ids."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        hll_merged_rollup,
    )

    return hll_merged_rollup(_spans(spark, sf_dir))


def q_exemplar_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exemplar per (service, latency-magnitude bucket)
    (operators/indexes.py:exemplar_spans) — min-md5 pick, one
    partial-aggregated min_by pass, no window/sort."""
    from zipkin_storage_kafka_spark.operators.indexes import exemplar_spans

    return exemplar_spans(_spans(spark, sf_dir))


def q_latency_percentiles(
    spark: SparkSession, sf_dir: str, mode: str = "exact"
) -> DataFrame:
    """Per-service latency quantiles (engine extension): the p50/p95/p99
    panel every tracing UI shows.

    ``mode='exact'`` (default, the oracle flavor): linear-interpolation
    `percentile` — sorts per group, fine at per-service cardinality.
    ``mode='approx'`` (the 100 TB flavor): `approx_percentile`
    (KLL-style sketch, map-side combinable — no per-group sort; same call
    shape, documented trade: bounded rank error vs the sort).  Both modes
    produce the same schema; a test pins the approx mode within its
    accuracy bound of exact."""
    from zipkin_storage_kafka_spark.functions.portable import round4

    fn = "percentile" if mode == "exact" else "approx_percentile"
    spans = _spans(spark, sf_dir)
    return spans.groupBy("local_service").agg(
        round4(F.expr(f"{fn}(duration, 0.5)")).alias("p50"),
        round4(F.expr(f"{fn}(duration, 0.95)")).alias("p95"),
        round4(F.expr(f"{fn}(duration, 0.99)")).alias("p99"),
        F.count(F.lit(1)).alias("n_spans"),
    )


def q_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6: JSON V2 codec round-trip (SpanBytesEncoder.JSON_V2 shape,
    reference KafkaStorageHttpService.java:261) — encode every span to its
    wire JSON, parse back through the ingest path, project scalars.  The
    oracle is the ORIGINAL spans derivation: matching hashes prove the
    codec is lossless.  Unlike F5 this is ALL JVM-side (to_json/from_json
    inside whole-stage codegen) — the plan shape to prefer when the wire
    format has first-class Catalyst support."""
    from zipkin_storage_kafka_spark.functions.zipkin import span_to_json_v2
    from zipkin_storage_kafka_spark.sources.json_spans import (
        JSON_V2_SCHEMA,
        canonical_to_scalar,
        json_v2_to_canonical,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_with_nested

    nested = spans_with_nested(spark, sf_dir)
    js = nested.select(
        span_to_json_v2(F.struct(*[F.col(c) for c in nested.columns])).alias(
            "j"
        )
    )
    parsed = js.select(F.from_json("j", JSON_V2_SCHEMA).alias("s")).select(
        "s.*"
    )
    scalar = canonical_to_scalar(json_v2_to_canonical(parsed))
    return scalar.select(
        "trace_id", "parent_id", "id", "kind", "name", "timestamp",
        "duration", "local_service", "remote_service",
    )


def q_link_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7: DependencyLink JSON V1 round-trip (the dependency topic's wire
    value, DependencyLinkSerde.java:15-19 / zipkin2 DependencyLink JSON
    with camelCase counters) — encode every merged link, parse back,
    reproject.  Oracle = the merged links themselves (lossless codec).
    All JVM-side to_json/from_json."""
    from zipkin_storage_kafka_spark.functions.zipkin import link_key

    links = merge_links(links_table(spark, sf_dir))
    j = links.select(
        F.to_json(
            F.struct(
                F.col("parent"),
                F.col("child"),
                F.col("call_count").alias("callCount"),
                F.col("error_count").alias("errorCount"),
            )
        ).alias("v")
    )
    schema = "parent string, child string, callCount long, errorCount long"
    parsed = j.select(F.from_json("v", schema).alias("l"))
    out = parsed.select(
        F.col("l.parent").alias("parent"),
        F.col("l.child").alias("child"),
        F.col("l.callCount").alias("call_count"),
        F.col("l.errorCount").alias("error_count"),
    )
    return out.withColumn("link_key", link_key())


# Registry --------------------------------------------------------------------


def q_window_active_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlap-aware windowed load (engine extension): each span counted
    in every 1-minute window it overlaps (operators.indexes.
    window_active_spans) — the interval-grid join A7's start-bucketing
    cannot express."""
    from zipkin_storage_kafka_spark.operators.indexes import (
        window_active_spans,
    )

    return window_active_spans(_spans(spark, sf_dir))


def q_slo_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (engine extension): per
    (service, 1-min window) short/long burn rates over the error budget
    with the SRE-workbook dual-window page flag
    (operators.indexes.slo_burn_rate) — the alerting query a trace
    store's span table should serve directly."""
    from zipkin_storage_kafka_spark.operators.indexes import slo_burn_rate

    return slo_burn_rate(_spans(spark, sf_dir))


def q_trace_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trace max span concurrency (engine extension): sweep-line
    interval overlap — the operator family (interval/overlap joins)
    Spark has no built-in for, expressed as explode + per-trace windowed
    prefix sum (operators.trace_aggregation.trace_concurrency)."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        trace_concurrency,
    )

    return trace_concurrency(_spans(spark, sf_dir))


def q_slow_span_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-slow-span same-service overlap count — the engine's bucketed
    INTERVAL-OVERLAP JOIN kernel (operators/trace_aggregation.py:
    slow_span_concurrency): both sides explode to covered time buckets,
    equi-join on (service, bucket), refine with the exact overlap
    predicate, dedupe pairs at the max-of-starts bucket.  The oracle is
    the naive theta join — fine at sf0.01, exactly what the kernel
    replaces at scale."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        slow_span_concurrency,
    )

    return slow_span_concurrency(_spans(spark, sf_dir))


def q_trace_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-count per tree depth (engine extension): read from the same
    materialized span tree as q_critical_path; the oracle walks the parent
    edges with a recursive CTE."""
    from zipkin_storage_kafka_spark.sources.spans import path_costs_table

    return (
        path_costs_table(spark, sf_dir)
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


def q_error_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service x environment error matrix via ``groupBy().pivot()`` with an
    explicit value list (no extra distinct-scan job; the pivot lowers to
    conditional aggregates, which is exactly the oracle's formulation —
    at any scale this stays one partial-agg shuffle on the service key)."""
    spans = _spans(spark, sf_dir)
    return (
        spans.filter(F.col("local_service").isNotNull())
        .groupBy("local_service")
        .pivot("env", ["dev", "staging", "prod"])
        .agg(F.sum(F.col("is_error").cast("long")))
        .select(
            "local_service",
            F.coalesce("dev", F.lit(0)).alias("dev_errors"),
            F.coalesce("staging", F.lit(0)).alias("staging_errors"),
            F.coalesce("prod", F.lit(0)).alias("prod_errors"),
        )
    )


def q_error_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Long-form twin of q_error_pivot via ``DataFrame.unpivot`` (melt):
    the wide service x env matrix back to (service, env, errors) rows —
    unpivot is a rowwise generator (no shuffle beyond the pivot's own
    agg), and the oracle is the direct long-form aggregation."""
    wide = q_error_pivot(spark, sf_dir)
    return wide.unpivot(
        "local_service",
        ["dev_errors", "staging_errors", "prod_errors"],
        "env_col",
        "errors",
    ).select(
        "local_service",
        F.regexp_replace("env_col", F.lit("_errors"), F.lit("")).alias(
            "env"
        ),
        "errors",
    )


def q_anomalous_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service 3-sigma duration-outlier counts; see
    operators.indexes.anomalous_span_counts (exact bigint moments, one
    float comparison per row)."""
    from zipkin_storage_kafka_spark.operators.indexes import (
        anomalous_span_counts,
    )

    return anomalous_span_counts(_spans(spark, sf_dir))


def q_slowest_per_service(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 slowest spans per service (SURVEY 2.5 with k>1 — the rank
    predicate pushes below the exchange as WindowGroupLimit); see
    operators.indexes.slowest_spans_per_service."""
    from zipkin_storage_kafka_spark.operators.indexes import (
        slowest_spans_per_service,
    )

    return slowest_spans_per_service(_spans(spark, sf_dir))


def q_setops_service_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY 2.9 completion beyond union+distinct: EXCEPT and INTERSECT
    across two instances' local stores (the same two time halves as
    a9_union_service_names) — services seen only in the first window vs
    in both.  Spark subtract/intersect plan as hash anti/semi
    aggregations; DuckDB runs the literal EXCEPT/INTERSECT."""
    spans = _spans(spark, sf_dir)
    mid_us = DEPENDENCIES_END_TS * 1000
    first = service_names(spans.filter(F.col("timestamp") < mid_us))
    second = service_names(spans.filter(F.col("timestamp") >= mid_us))
    only_first = first.subtract(second).select(
        F.lit("only_first").alias("op"), "service_name"
    )
    both = first.intersect(second).select(
        F.lit("both").alias("op"), "service_name"
    )
    return only_first.unionByName(both)


def _pagerank_oracle(iterations: int = 3) -> str:
    """Unrolled power-iteration CTE chain mirroring
    operators.dependency_links.service_pagerank's integer micro-point
    arithmetic exactly (same div/mul order, same damping constants)."""
    iter_ctes = []
    prev = "r0"
    for i in range(1, iterations + 1):
        iter_ctes.append(
            f"""r{i} AS (
              SELECT nd.service,
                     (1000000 - 850000) // nn.n
                       + (850000 * coalesce(inc.m, 0)) // 1000000 AS r
              FROM nodes nd CROSS JOIN nn
              LEFT JOIN (
                SELECT l.child AS service,
                       sum(({prev}.r * l.call_count) // outc.oc) AS m
                FROM ml l
                JOIN {prev} ON {prev}.service = l.parent
                JOIN outc ON outc.parent = l.parent
                GROUP BY l.child
              ) inc ON inc.service = nd.service
            )"""
        )
        prev = f"r{i}"
    extra = (
        _LINKS_CTE.strip().rstrip(",")
        + """,
            ml AS (
              SELECT parent, child, CAST(count(*) AS BIGINT) AS call_count
              FROM links GROUP BY parent, child
            ),
            nodes AS (
              SELECT DISTINCT service FROM (
                SELECT parent AS service FROM ml
                UNION ALL SELECT child FROM ml
              )
            ),
            nn AS (SELECT count(*) AS n FROM nodes),
            outc AS (
              SELECT parent, sum(call_count) AS oc FROM ml GROUP BY parent
            ),
            r0 AS (
              SELECT nd.service, 1000000 // nn.n AS r
              FROM nodes nd CROSS JOIN nn
            ),
            """
        + ",\n            ".join(iter_ctes)
    )
    return with_spans_cte(
        f"SELECT service, CAST({prev}.r AS BIGINT) AS rank_micro FROM {prev}",
        extra_ctes=extra,
    )


def _hits_oracle(iterations: int = 3) -> str:
    """Unrolled HITS CTE chain mirroring
    operators.dependency_links.service_hits' integer micro-point
    half-steps (sum over in/out edges, L1 integer normalize) exactly."""
    iter_ctes = []
    prev_h = "h0"
    for i in range(1, iterations + 1):
        iter_ctes.append(
            f"""araw{i} AS (
              SELECT e.child AS service, sum({prev_h}.hub) AS ar
              FROM ed e JOIN {prev_h} ON {prev_h}.service = e.parent
              GROUP BY e.child
            )"""
        )
        iter_ctes.append(
            f"""a{i} AS (
              SELECT nd.service,
                     coalesce(ar.ar, 0) * 1000000
                       // (SELECT sum(ar) FROM araw{i}) AS auth
              FROM nodes nd LEFT JOIN araw{i} ar ON ar.service = nd.service
            )"""
        )
        iter_ctes.append(
            f"""hraw{i} AS (
              SELECT e.parent AS service, sum(a{i}.auth) AS hr
              FROM ed e JOIN a{i} ON a{i}.service = e.child
              GROUP BY e.parent
            )"""
        )
        iter_ctes.append(
            f"""h{i} AS (
              SELECT nd.service,
                     coalesce(hr.hr, 0) * 1000000
                       // (SELECT sum(hr) FROM hraw{i}) AS hub
              FROM nodes nd LEFT JOIN hraw{i} hr ON hr.service = nd.service
            )"""
        )
        prev_h = f"h{i}"
    extra = (
        _LINKS_CTE.strip().rstrip(",")
        + """,
            -- MATERIALIZED: without it DuckDB re-inlines the whole
            -- links/spans derivation through every unrolled HITS
            -- half-step (the per-iteration scalar-subquery totals each
            -- re-expand the chain) and the oracle OOMs at sf0.1; with
            -- it every iteration runs on the |services|-bounded edge
            -- relation (4 s at sf0.1, identical result).
            ed AS MATERIALIZED (SELECT DISTINCT parent, child FROM links),
            nodes AS (
              SELECT DISTINCT service FROM (
                SELECT parent AS service FROM ed
                UNION ALL SELECT child FROM ed
              )
            ),
            h0 AS (SELECT service, 1000000 AS hub FROM nodes),
            """
        + ",\n            ".join(iter_ctes)
    )
    last = iterations
    return with_spans_cte(
        f"SELECT h{last}.service,"
        f" CAST(h{last}.hub AS BIGINT) AS hub_micro,"
        f" CAST(a{last}.auth AS BIGINT) AS auth_micro"
        f" FROM h{last} JOIN a{last} USING (service)",
        extra_ctes=extra,
    )


def _kcore_oracle(ks: tuple[int, ...] = (2, 3), rounds: int = 8) -> str:
    """Unrolled peel-CTE chain mirroring
    operators.dependency_links.service_kcore: ``rounds`` sweeps per k of
    drop-degree-below-k on the induced subgraph.  The Spark side asserts
    fixpoint within the same sweep count, so the fixed unroll is exact."""
    ctes = []
    surv_selects = []
    for k in ks:
        prev = "edges"
        for r in range(1, rounds + 1):
            ctes.append(
                f"""d_{k}_{r} AS MATERIALIZED (
              SELECT node FROM (
                SELECT a AS node FROM {prev}
                UNION ALL SELECT b FROM {prev}
              ) GROUP BY node HAVING count(*) >= {k}
            )"""
            )
            ctes.append(
                f"""e_{k}_{r} AS MATERIALIZED (
              SELECT e.a, e.b FROM {prev} e
              JOIN d_{k}_{r} da ON da.node = e.a
              JOIN d_{k}_{r} db ON db.node = e.b
            )"""
            )
            prev = f"e_{k}_{r}"
        ctes.append(
            f"""surv_{k} AS MATERIALIZED (
              SELECT DISTINCT node AS service FROM (
                SELECT a AS node FROM {prev}
                UNION ALL SELECT b FROM {prev}
              )
            )"""
        )
        surv_selects.append(
            f"CASE WHEN n.service IN (SELECT service FROM surv_{k}) "
            f"THEN {k} ELSE 0 END"
        )
    extra = (
        _LINKS_CTE.strip().rstrip(",")
        + """,
            ue AS MATERIALIZED (
              SELECT least(parent, child) AS a,
                     greatest(parent, child) AS b,
                     CAST(count(*) AS BIGINT) AS calls
              FROM links WHERE parent <> child GROUP BY 1, 2
            ),
            tot AS (
              SELECT CAST(sum(calls) AS BIGINT) AS t,
                     CAST(count(*) AS BIGINT) AS n
              FROM ue
            ),
            edges AS MATERIALIZED (
              SELECT a, b FROM ue CROSS JOIN tot
              WHERE calls * n > t
            ),
            nodes AS (
              SELECT DISTINCT parent AS service FROM links
              UNION
              SELECT DISTINCT child AS service FROM links
            ),
            bb AS (
              SELECT DISTINCT node AS service FROM (
                SELECT a AS node FROM edges UNION ALL SELECT b FROM edges
              )
            ),
            """
        + ",\n            ".join(ctes)
    )
    level = "greatest(" + ", ".join(
        ["CASE WHEN n.service IN (SELECT service FROM bb) THEN 1 ELSE 0 END"]
        + surv_selects
    ) + ")"
    return with_spans_cte(
        f"SELECT n.service, CAST({level} AS INTEGER) AS core_level "
        "FROM nodes n",
        extra_ctes=extra,
    )


def q_error_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incident-correlation panel: which services' ERRORS co-occur in
    the same 1-minute window, with lift — the third instantiation of
    the generic basket kernel (trace baskets, order baskets, now
    error-window baskets): baskets = minutes, items = services with at
    least one error span in that minute.  High-lift pairs are the
    "these two fail together" edges an on-call uses to find the shared
    dependency; the membership distinct is the only corpus-sized work —
    it stays EXPLICIT here (unlike the trace flavor) because error
    spans duplicate heavily per (minute, service) across input
    partitions, and collapsing them on the two-column key before the
    kernel's minute-keyed collect_set measures faster than letting the
    set dedup alone (sf1 min-of-3: 1.53 s vs 1.82 s)."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        basket_lift,
    )

    member = (
        _spans(spark, sf_dir)
        .filter(F.col("is_error") & F.col("local_service").isNotNull())
        .select(
            F.expr("timestamp div 60000000").alias("minute"),
            "local_service",
        )
        .distinct()
    )
    return basket_lift(member, "minute", "local_service")


def q_service_reachability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-closure blast radius per service
    (operators/dependency_links.py:service_reachability): frontier-join
    BFS on the distinct |services|-bounded edge relation, set-union
    fixpoint, convergence-asserted; recursive-CTE oracle."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_reachability,
    )

    return service_reachability(links_table(spark, sf_dir))


def q_service_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition of the service graph
    (operators/dependency_links.py:service_kcore): iterative
    drop-degree-below-k peel on the distinct |services|-bounded edge
    relation, convergence-asserted within the oracle's unroll count."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_kcore,
    )

    return service_kcore(links_table(spark, sf_dir))


def q_service_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Call-count-weighted PageRank over merged dependency links (3
    integer-exact power rounds); see
    operators.dependency_links.service_pagerank."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_pagerank,
    )

    return service_pagerank(merge_links(links_table(spark, sf_dir)))


def q_service_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service triangle participation over the undirected service
    graph (operators/dependency_links.py:service_triangles) — the
    clique-coupling panel beside PageRank.  The triangle join runs on the
    distinct |services|-bounded edge relation, never on span-sized data."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_triangles,
    )

    return service_triangles(links_table(spark, sf_dir))


def q_service_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Service co-occurrence support + lift over traces-as-baskets
    (operators/trace_aggregation.py:service_cooccurrence): one distinct
    partial-agg to membership rows, a trace-keyed pair join, broadcast
    k-row marginals; lift in exact integer micro-units."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        service_cooccurrence,
    )

    return service_cooccurrence(_spans(spark, sf_dir))


def q_fanout_hotspots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service direct-children fan-out profile
    (operators/trace_aggregation.py:fanout_hotspots): one (trace,
    parent) partial agg + trace-co-keyed attribution join, exact
    integer micro averages."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        fanout_hotspots,
    )

    return fanout_hotspots(_spans(spark, sf_dir))


def q_trace_idle_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trace interval-union sweep
    (operators/trace_aggregation.py:trace_idle_gaps): running-max-end
    carry under ONE trace-keyed window -> wall/busy/idle micros + gap
    count, exact integers."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        trace_idle_gaps,
    )

    return trace_idle_gaps(_spans(spark, sf_dir))


def q_critical_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-trace critical path (max root-to-span duration sum) over the
    MATERIALIZED per-span path costs (the span tree is built once per code
    version, like the spans/links ingest derivations; see
    sources.spans.span_tree_table).  The oracle accumulates the same
    costs with a recursive CTE from the roots."""
    from zipkin_storage_kafka_spark.sources.spans import path_costs_table

    return (
        path_costs_table(spark, sf_dir)
        .groupBy("trace_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max("path_cost").alias("critical_path_us"),
        )
    )


def q_self_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service self time (duration minus direct children's durations) —
    children agg + left join on the span id; see
    operators.trace_aggregation.self_time_by_service."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        self_time_by_service,
    )

    return self_time_by_service(_spans(spark, sf_dir))


def q_stream_traces(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1/W2 driver-visible row: the session-window streaming pipeline run
    to completion (availableNow + watermark sentinels), serving closed
    sessions from its sink — streaming.jobs.sessionized_summaries_via_stream.
    The oracle reproduces session_window semantics with gaps-and-islands
    sessionization, so stream==batch parity is finally a DRIVER row, not
    only a pytest (SpanAggregationTopologyTest.java:84-93 choreography)."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        sessionized_summaries_via_stream,
    )

    return sessionized_summaries_via_stream(spark, sf_dir)


def q_stream_stream_root_errors(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """W12: watermarked stream-STREAM inner self-join — root spans
    against same-trace error spans within an event-time range
    (streaming.jobs.root_error_join_via_stream).  Run-to-completion
    choreography makes the emitted matches equal the batch join, which
    is the oracle."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        root_error_join_via_stream,
    )

    return root_error_join_via_stream(spark, sf_dir)


def q_stream_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W13: per-service sliding-window (2 min / 1 min slide) counters as
    a stream (streaming.jobs.sliding_windows_via_stream); the oracle
    explodes each span to its two candidate window starts."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        sliding_windows_via_stream,
    )

    return sliding_windows_via_stream(spark, sf_dir)


def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W14: stream-static join — span stream enriched against the batch
    service->tier dim, then 1-min tumbling counters per tier
    (streaming.jobs.static_enriched_windows_via_stream)."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        static_enriched_windows_via_stream,
    )

    return static_enriched_windows_via_stream(spark, sf_dir)


def q_stream_zone_maps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W15: ingest-time zone-map maintenance — per-1-minute-shard
    (min, max, rows) duration statistics kept current as spans arrive,
    each shard's zone closing exactly once (append mode + watermark);
    the streaming half of w_zone_map_prune's layout audit
    (streaming.jobs.zone_maps_via_stream)."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        zone_maps_via_stream,
    )

    return zone_maps_via_stream(spark, sf_dir)


def q_stream_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W3/J1 driver-visible row: the full aggregation topology run to
    completion — session-window closed traces fanned out through
    foreachBatch into per-emitted-trace dependency links, merged into the
    A8 counter shape (streaming.jobs.links_via_stream).  The oracle
    sessionizes with gaps-and-islands and joins parent/child WITHIN a
    session, because that is what the reference topology emits: a span
    pair split across trace sessions produces no link
    (SpanAggregationTopology.java:92-121)."""
    from zipkin_storage_kafka_spark.streaming.jobs import links_via_stream

    return links_via_stream(spark, sf_dir)


def q_stream_span_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A4 driver row for the STORAGE path: the span-names index stream
    (complete mode, no watermark — the W5 lateness split) run to
    completion; oracle = the batch A4 derivation, so store==batch parity
    is a driver row for the index topology too
    (streaming.jobs.index_via_stream)."""
    from zipkin_storage_kafka_spark.streaming.jobs import index_via_stream

    return index_via_stream(spark, sf_dir, "span_names")


def q_stream_dependency_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5/A7 driver row: the dependency-counter topology (the reference's
    third Kafka-Streams app) run to completion as two chained
    availableNow stages — session links then 1-minute tumbling counters
    (streaming.jobs.dependency_windows_via_stream).  The oracle composes
    gaps-and-islands sessionization with the window floor."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        dependency_windows_via_stream,
    )

    return dependency_windows_via_stream(spark, sf_dir)


def q_stream_remote_services(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A5 driver row: the remote-service-names index store via the
    same complete-mode storage-path stream as w4_stream_span_names."""
    from zipkin_storage_kafka_spark.streaming.jobs import index_via_stream

    return index_via_stream(spark, sf_dir, "remote_service_names")


def q_stream_error_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 driver row (engine extension): per-(service, 1-min tumbling
    window) span/error counters as a stream run to completion — the
    streaming face of z_slo_burn's base aggregation; windows emit
    exactly once in append mode when the sentinel-advanced watermark
    passes them (streaming.jobs.error_windows_via_stream)."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        error_windows_via_stream,
    )

    return error_windows_via_stream(spark, sf_dir)


def q_trace_path_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trace-topology fingerprints: services in first-seen order per
    trace, '>'-joined, counted corpus-wide — path-ORDER analytics the
    link store can't answer
    (operators/trace_aggregation.py:trace_path_signatures)."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        trace_path_signatures,
    )

    return trace_path_signatures(spans_table(spark, sf_dir))


def q_stream_trace_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7/A3 driver row: the trace-storage upsert store
    (TraceStorageTopology.java:96-126) run to completion via
    applyInPandasWithState keyed state, serving the final store state —
    the whole-trace aggregation that, unlike w1's session windows,
    accepts late fragments forever
    (streaming.jobs.trace_upsert_via_stream)."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        trace_upsert_via_stream,
    )

    return trace_upsert_via_stream(spark, sf_dir)


DEPLOY_SPLIT_US = DEPENDENCIES_END_TS * 1000  # corpus midpoint (15 d / 15 d)


def q_dependency_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dependency-graph diff across the corpus-midpoint split
    (operators/dependency_links.py:link_window_diff): edges
    added/removed/changed between the two 15-day windows — the
    deploy-regression view over the link store, ONE conditional agg."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        link_window_diff,
    )

    return link_window_diff(links_table(spark, sf_dir), DEPLOY_SPLIT_US)


def q_latency_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service p50/p95 shift across the corpus-midpoint split
    (operators/indexes.py:latency_shift): the post-deploy canary panel;
    FILTER-clause windows inside one grouped agg, NULL (not zero) for a
    service absent from a window."""
    from zipkin_storage_kafka_spark.operators.indexes import latency_shift

    return latency_shift(spans_table(spark, sf_dir), DEPLOY_SPLIT_US)


def q_quantile_sketch_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-sketch quantiles vs exact percentiles
    (operators/sketches.py:histogram_quantile_audit): the bounded
    (service x 1024)-counter quantile path a 100 TB deployment serves
    from, with its accuracy measured against the sorted ground truth —
    the z_sketch/z_hll pattern applied to latency quantiles."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        histogram_quantile_audit,
    )

    return histogram_quantile_audit(_spans(spark, sf_dir))


def q_stream_cm_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W11: count-min counter grid maintained as a stream
    (streaming/jobs.py:cm_grid_via_stream) — commutative integer sums
    make the final streamed state equal the batch grid EXACTLY, so the
    batch derivation is the oracle with no tolerance."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        cm_grid_via_stream,
    )

    return cm_grid_via_stream(spark, sf_dir)


def q_cm_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch heavy-hitter audit
    (operators/sketches.py:cm_heavy_hitter_traces): top traces by span
    count with exact vs sketch-grid estimate — the bounded d x w counter
    path behind the reference's trace_many cap, accuracy-measured (the
    z_sketch/z_hll/z_quantile trust-report pattern)."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        cm_heavy_hitter_traces,
    )

    return cm_heavy_hitter_traces(_spans(spark, sf_dir))


def q_orphan_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broken-linkage audit under simulated ~1/16 span loss
    (operators/trace_aggregation.py:orphan_span_stats): per-service
    orphan counts after deterministically dropping ids ending in '0' —
    quantifies the tree fallout the root-path sweep's orphan-drop
    semantics would silently absorb."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        orphan_span_stats,
    )

    return orphan_span_stats(_spans(spark, sf_dir))


def q_link_latency_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent->child handoff gap per dependency edge
    (operators/dependency_links.py:link_latency_gaps) — the time-on-edge
    panel next to J1's call/error counters."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        link_latency_gaps,
    )

    return link_latency_gaps(_spans(spark, sf_dir))


def q_service_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs/authorities over the unweighted service adjacency
    (operators/dependency_links.py:service_hits): 3 integer micro-point
    rounds with L1 normalization — the dual-role complement of
    z_service_pagerank's single criticality score."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_hits,
    )

    return service_hits(merge_links(links_table(spark, sf_dir)))


def q_mad_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (median/MAD, Hampel identifier) duration outliers per
    service (operators/indexes.py:mad_anomalies) — the robust-stats
    twin of z_anomalous_spans' z-score panel; exact lower weighted
    medians via the collapse-to-cells discipline, integer-only flag."""
    from zipkin_storage_kafka_spark.operators.indexes import mad_anomalies

    return mad_anomalies(_spans(spark, sf_dir))


def q_span_overhang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parent/child containment audit per dependency edge
    (operators/dependency_links.py:span_overhang): children that END
    after their parent ends — the async/clock-skew signal zipkin2's
    CorrectForClockSkew keys on, as a batch panel beside the
    start-gap row (z_link_latency_gaps)."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        span_overhang,
    )

    return span_overhang(_spans(spark, sf_dir))


def q_error_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-to-error service paths, counted — where failures concentrate
    BY ROUTE (operators/trace_aggregation.py:error_paths): served from
    the persisted span tree's root paths (built once at ingest), query =
    error semi-join + route rollup."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        error_paths,
    )
    from zipkin_storage_kafka_spark.sources.spans import root_paths_table

    return error_paths(
        spans_table(spark, sf_dir),
        paths=root_paths_table(spark, sf_dir),
    )


def q_stream_error_alerts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W9 driver row: windowed error-rate ALERTS emitted in-stream (the
    HAVING runs on the streaming aggregate before the sink) through the
    w5 chained two-stage choreography; integer threshold math, emit-once
    on window close (streaming.jobs.error_alerts_via_stream)."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        error_alerts_via_stream,
    )

    return error_alerts_via_stream(spark, sf_dir)


def q_stream_autocomplete_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W4/A6 driver row: the autocomplete-tags store (both whitelisted
    keys, exploded rowwise before the one streaming set-agg) via the
    same complete-mode storage-path stream — completes the reference's
    A4/A5/A6 index-store triple under the streaming surface
    (TraceStorageTopology.java:131-149)."""
    from zipkin_storage_kafka_spark.streaming.jobs import index_via_stream

    return index_via_stream(spark, sf_dir, "autocomplete_tags")


def q_p5_disabled_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5 enabled-flag short circuits under the driver gate (VERDICT r06
    next-round #2): the reference's disabled topologies build NO stores,
    so every query on a disabled capability returns empty
    (KafkaSpanStore.java:65-78,121-126; TraceStorageTopology.java:83,127;
    asserted by TraceStorageTopologyTest.java:45-65).  One row per
    capability: the DISABLED store's row count (must be 0, via the real
    short-circuit path) next to the ENABLED store's count for the same
    request — so the oracle genuinely recomputes the enabled side and a
    broken short circuit (rows leaking through a disabled flag) flips
    rows_disabled.

    Columns: capability, rows_disabled, rows_enabled.

    Scale (100 TB): each disabled branch is ``.limit(0)`` — Catalyst
    folds it to an empty LocalRelation, so the disabled probes scan
    nothing; the enabled counts are the same partial-agged plans as
    their own driver rows.
    """
    spans = _spans(spark, sf_dir)
    off = SpanStore(
        spans,
        links=links_table(spark, sf_dir),
        summaries=summaries_table(spark, sf_dir),
        trace_search_enabled=False,
        trace_by_id_query_enabled=False,
        dependency_query_enabled=False,
    )
    on = _store(spark, sf_dir)
    target = (
        spans.groupBy("trace_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("trace_id"))
        .limit(1)
        .select("trace_id")
        .collect()[0][0]
    )
    probes = [
        (
            "dependencies",
            off.get_dependencies(DEPENDENCIES_END_TS, DEPENDENCIES_LOOKBACK),
            on.get_dependencies(DEPENDENCIES_END_TS, DEPENDENCIES_LOOKBACK),
        ),
        (
            "find_traces",
            off.get_traces(FIND_TRACES_REQUEST),
            on.get_traces(FIND_TRACES_REQUEST),
        ),
        ("trace_by_id", off.get_trace(target), on.get_trace(target)),
    ]
    parts = []
    for cap, off_df, on_df in probes:
        parts.append(
            off_df.agg(
                F.count(F.lit(1)).cast("long").alias("rows_disabled")
            )
            .crossJoin(
                F.broadcast(
                    on_df.agg(
                        F.count(F.lit(1)).cast("long").alias("rows_enabled")
                    )
                )
            )
            .select(
                F.lit(cap).alias("capability"),
                "rows_disabled",
                "rows_enabled",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("capability")


def zipkin_queries() -> dict[str, QueryFn]:
    return {
        "a2_trace_summaries": q_trace_summaries,
        "j1_a8_dependency_links": q_dependency_links,
        "j1_links_tree": q_links_tree,
        "a7_dependency_windows": q_dependency_windows,
        "a4_span_names": q_span_names,
        "a5_remote_service_names": q_remote_service_names,
        "a6_autocomplete_tags": q_autocomplete_tags,
        "s7_service_names": q_service_names,
        "p4_find_traces": q_find_traces,
        "s9_get_trace": q_get_trace,
        "o1_latest_traces": q_latest_traces,
        "s8_get_dependencies": q_get_dependencies,
        "s9_span_names_lookup": q_span_names_lookup,
        "s9_autocomplete_values": q_autocomplete_values,
        "p4_find_traces_annotation": q_find_traces_annotation,
        "p4_find_traces_tags": q_find_traces_tags,
        "p4_find_traces_duration": q_find_traces_duration,
        "f2_normalize_ids": q_normalize_ids,
        "o5_trace_many": q_trace_many,
        "o2_limit_before_sort": q_limit_before_sort,
        "w25_latest_span_per_service": q_latest_span_per_service,
        "s9_remote_service_lookup": q_remote_service_lookup,
        "a9_union_service_names": q_union_service_names,
        "z_duration_histogram": q_duration_histogram,
        "z_service_error_rate": q_service_error_rate,
        "f5_proto_roundtrip": q_proto_roundtrip,
        "f6_json_roundtrip": q_json_roundtrip,
        "f7_link_json_roundtrip": q_link_json_roundtrip,
        "z_latency_percentiles": q_latency_percentiles,
        "z_salted_service_counts": q_salted_service_counts,
        "z_partition_skew": q_partition_skew,
        "z_sampling_bias": q_sampling_bias,
        "z_path_redundancy": q_path_redundancy,
        "z_sketch_service_traces": q_sketch_service_traces,
        "z_hll_service_traces": q_hll_service_traces,
        "z_hll_merge_rollup": q_hll_merge_rollup,
        "z_exemplar_spans": q_exemplar_spans,
        "z_trace_depth": q_trace_depth,
        "z_trace_concurrency": q_trace_concurrency,
        "z_slow_span_concurrency": q_slow_span_concurrency,
        "z_window_active_spans": q_window_active_spans,
        "z_critical_path": q_critical_path,
        "z_self_time": q_self_time,
        "z_service_pagerank": q_service_pagerank,
        "z_service_triangles": q_service_triangles,
        "z_service_cooccurrence": q_service_cooccurrence,
        "z_service_kcore": q_service_kcore,
        "z_service_reachability": q_service_reachability,
        "z_error_cooccurrence": q_error_cooccurrence,
        "z_trace_idle_gaps": q_trace_idle_gaps,
        "z_fanout_hotspots": q_fanout_hotspots,
        "a9_setops_service_names": q_setops_service_names,
        "w25_slowest_per_service": q_slowest_per_service,
        "z_anomalous_spans": q_anomalous_spans,
        "z_error_pivot": q_error_pivot,
        "z_error_unpivot": q_error_unpivot,
        "w1_stream_traces": q_stream_traces,
        "w3_stream_links": q_stream_links,
        "w4_stream_span_names": q_stream_span_names,
        "w5_stream_dependency_windows": q_stream_dependency_windows,
        "w4_stream_remote_services": q_stream_remote_services,
        "w4_stream_autocomplete_tags": q_stream_autocomplete_tags,
        "z_slo_burn": q_slo_burn,
        "w6_stream_error_windows": q_stream_error_windows,
        "j1_links_bucketed": q_links_bucketed,
        "w7_stream_trace_upsert": q_stream_trace_upsert,
        "z_trace_path_signature": q_trace_path_signature,
        "w9_stream_error_alerts": q_stream_error_alerts,
        "z_dependency_diff": q_dependency_diff,
        "z_latency_shift": q_latency_shift,
        "z_error_paths": q_error_paths,
        "p5_disabled_flags": q_p5_disabled_flags,
        "z_orphan_spans": q_orphan_spans,
        "z_link_latency_gaps": q_link_latency_gaps,
        "z_span_overhang": q_span_overhang,
        "z_anomaly_mad": q_mad_anomalies,
        "z_service_hits": q_service_hits,
        "j1_links_incremental": q_links_incremental,
        "z_quantile_sketch_audit": q_quantile_sketch_audit,
        "z_cm_heavy_hitters": q_cm_heavy_hitters,
        "w11_stream_cm_grid": q_stream_cm_grid,
        "w12_stream_stream_join": q_stream_stream_root_errors,
        "w13_stream_sliding_windows": q_stream_sliding_windows,
        "w14_stream_static_enrich": q_stream_static_enrich,
        "w15_stream_zone_maps": q_stream_zone_maps,
    }


def zipkin_oracles() -> dict[str, str]:
    lo_ms = FIND_TRACES_REQUEST.end_ts - FIND_TRACES_REQUEST.lookback
    hi_ms = FIND_TRACES_REQUEST.end_ts
    dep_lo_ms = DEPENDENCIES_END_TS - DEPENDENCIES_LOOKBACK
    dep_hi_ms = DEPENDENCIES_END_TS
    oracles = _zipkin_oracles_base(lo_ms, hi_ms, dep_lo_ms, dep_hi_ms)
    # The streamed index store must equal the batch A4 derivation —
    # checking both against ONE independent SQL is the point (same
    # pattern as dedup_cluster_star).
    # Store-read J1: materialization must never change answers, so the
    # bucketed serving row checks against the SAME independent link SQL.
    oracles["j1_links_bucketed"] = oracles["j1_a8_dependency_links"]
    # Incremental maintenance must equal the full merge — same oracle.
    oracles["j1_links_incremental"] = oracles["j1_a8_dependency_links"]
    oracles["w4_stream_span_names"] = oracles["a4_span_names"]
    oracles["w4_stream_remote_services"] = oracles["a5_remote_service_names"]
    oracles["w4_stream_autocomplete_tags"] = oracles["a6_autocomplete_tags"]
    oracles["w6_stream_error_windows"] = with_spans_cte(
        """
        SELECT local_service,
               CAST((timestamp // 60000000) * 60000 AS BIGINT)
                 AS window_start_ms,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_errors,
               ((round((sum(CASE WHEN is_error THEN 1 ELSE 0 END) * 1.0
                  / count(*)) * 10000) / 10000) + 0.0) AS error_rate
        FROM spans
        WHERE local_service IS NOT NULL
        GROUP BY local_service, timestamp // 60000000
        """
    )
    # W7 upsert store: the final state is the NO-watermark whole-trace
    # aggregation (distinct span ids, min timestamp) — deliberately NOT
    # the session oracle; appending late fragments forever is what
    # distinguishes the storage topology from the aggregation one.
    oracles["w7_stream_trace_upsert"] = with_spans_cte(
        """
        SELECT trace_id,
               string_agg(DISTINCT id, ',' ORDER BY id) AS span_ids,
               CAST(count(DISTINCT id) AS BIGINT) AS span_count,
               min(timestamp) AS trace_timestamp
        FROM spans
        GROUP BY trace_id
        """
    )
    # W9 alerts: the w5 sessionized-link window aggregation + the integer
    # HAVING; floor() mirrors Spark's double->long truncation (DuckDB's
    # bare CAST rounds to nearest, which would diverge at e.g. 2/3).
    oracles["w9_stream_error_alerts"] = with_spans_cte(
        """
        SELECT window_start_ms, parent, child, call_count, error_count,
               CAST(floor(error_count * 10000.0 / call_count) AS BIGINT)
                 AS error_pct_x100
        FROM (
          SELECT (c.timestamp // 60000000) * 60000 AS window_start_ms,
                 parent, child,
                 CAST(count(*) AS BIGINT) AS call_count,
                 CAST(sum(CASE WHEN c.is_error THEN 1 ELSE 0 END)
                   AS BIGINT) AS error_count
          FROM sess_links c GROUP BY 1, 2, 3
        )
        WHERE call_count >= 1 AND error_count * 100 >= call_count * 50
        """,
        extra_ctes="""
        lagged AS (
          SELECT *, CASE WHEN timestamp - lag(timestamp) OVER
               (PARTITION BY trace_id ORDER BY timestamp)
               >= 60000000
             THEN 1 ELSE 0 END AS new_sess
          FROM spans
        ),
        sess AS (
          SELECT *, sum(new_sess) OVER (PARTITION BY trace_id
              ORDER BY timestamp
              ROWS UNBOUNDED PRECEDING) AS sess_id
          FROM lagged
        ),
        sess_links AS (
          SELECT p.local_service AS parent, c.local_service AS child,
                 c.is_error, c.timestamp
          FROM sess c JOIN sess p
            ON c.trace_id = p.trace_id AND c.sess_id = p.sess_id
               AND c.parent_id = p.id
        )
        """,
    )
    oracles["z_error_paths"] = f"""
        WITH RECURSIVE {SPANS_ORACLE_CTE.strip()},
        rec(trace_id, id, path, is_error) AS (
          SELECT trace_id, id, local_service, is_error
          FROM spans WHERE parent_id IS NULL
          UNION ALL
          SELECT s.trace_id, s.id, r.path || '>' || s.local_service,
                 s.is_error
          FROM spans s
          JOIN rec r ON s.parent_id = r.id AND s.trace_id = r.trace_id
        )
        SELECT path AS error_path, CAST(count(*) AS BIGINT) AS n_errors
        FROM rec WHERE is_error GROUP BY 1
    """
    split_us = DEPLOY_SPLIT_US
    oracles["z_dependency_diff"] = with_spans_cte(
        f"""
        SELECT parent, child,
               CAST(count(CASE WHEN timestamp < {split_us} THEN 1 END)
                 AS BIGINT) AS calls_before,
               CAST(count(CASE WHEN timestamp >= {split_us} THEN 1 END)
                 AS BIGINT) AS calls_after,
               CAST(sum(CASE WHEN timestamp < {split_us} AND is_error
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS errors_before,
               CAST(sum(CASE WHEN timestamp >= {split_us} AND is_error
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS errors_after,
               CASE
                 WHEN count(CASE WHEN timestamp < {split_us} THEN 1 END)
                      = 0 THEN 'added'
                 WHEN count(CASE WHEN timestamp >= {split_us} THEN 1 END)
                      = 0 THEN 'removed'
                 WHEN count(CASE WHEN timestamp < {split_us} THEN 1 END)
                      <> count(CASE WHEN timestamp >= {split_us} THEN 1
                               END)
                      OR sum(CASE WHEN timestamp < {split_us}
                                  AND is_error THEN 1 ELSE 0 END)
                      <> sum(CASE WHEN timestamp >= {split_us}
                                  AND is_error THEN 1 ELSE 0 END)
                      THEN 'changed'
                 ELSE 'steady'
               END AS status
        FROM links GROUP BY parent, child
        """,
        _LINKS_CTE,
    )
    oracles["z_latency_shift"] = with_spans_cte(
        f"""
        SELECT local_service,
               CAST(count(*) FILTER (WHERE timestamp < {split_us})
                 AS BIGINT) AS n_before,
               CAST(count(*) FILTER (WHERE timestamp >= {split_us})
                 AS BIGINT) AS n_after,
               (round(quantile_cont(duration, 0.5)
                  FILTER (WHERE timestamp < {split_us}) * 10000)
                  / 10000 + 0.0) AS p50_before,
               (round(quantile_cont(duration, 0.5)
                  FILTER (WHERE timestamp >= {split_us}) * 10000)
                  / 10000 + 0.0) AS p50_after,
               (round(((round(quantile_cont(duration, 0.5)
                    FILTER (WHERE timestamp >= {split_us}) * 10000)
                    / 10000)
                 - (round(quantile_cont(duration, 0.5)
                    FILTER (WHERE timestamp < {split_us}) * 10000)
                    / 10000)) * 10000) / 10000 + 0.0) AS p50_shift,
               (round(quantile_cont(duration, 0.95)
                  FILTER (WHERE timestamp < {split_us}) * 10000)
                  / 10000 + 0.0) AS p95_before,
               (round(quantile_cont(duration, 0.95)
                  FILTER (WHERE timestamp >= {split_us}) * 10000)
                  / 10000 + 0.0) AS p95_after,
               (round(((round(quantile_cont(duration, 0.95)
                    FILTER (WHERE timestamp >= {split_us}) * 10000)
                    / 10000)
                 - (round(quantile_cont(duration, 0.95)
                    FILTER (WHERE timestamp < {split_us}) * 10000)
                    / 10000)) * 10000) / 10000 + 0.0) AS p95_shift
        FROM spans GROUP BY local_service
        """
    )
    oracles["z_trace_path_signature"] = with_spans_cte(
        """
        SELECT path_signature,
               CAST(n_services AS BIGINT) AS n_services,
               CAST(count(*) AS BIGINT) AS n_traces
        FROM (
          SELECT trace_id,
                 string_agg(s, '>' ORDER BY t0, s) AS path_signature,
                 count(*) AS n_services
          FROM (
            SELECT trace_id, local_service AS s, min(timestamp) AS t0
            FROM spans WHERE local_service IS NOT NULL
            GROUP BY trace_id, local_service
          ) GROUP BY trace_id
        ) GROUP BY path_signature, n_services
        """
    )
    oracles["z_quantile_sketch_audit"] = with_spans_cte(
        """
        SELECT e.local_service,
               CAST(e.p AS INTEGER) AS p,
               e.n_spans,
               CAST((e.qb + 1) * 1000 AS BIGINT) AS est_hi_us,
               (round(x.exact_raw * 10000) / 10000 + 0.0) AS exact_us,
               (round(((e.qb + 1) * 1000 - x.exact_raw) * 10000) / 10000
                 + 0.0) AS err_us
        FROM (
          SELECT t.local_service, t.p, t.n_spans, min(c.bucket) AS qb
          FROM (
            SELECT local_service, n_spans, p,
                   (n_spans * p + 99) // 100 AS target
            FROM (SELECT local_service, CAST(count(*) AS BIGINT) AS n_spans
                  FROM spans GROUP BY 1)
            CROSS JOIN (SELECT unnest([50, 95, 99]) AS p)
          ) t
          JOIN (
            SELECT local_service, bucket,
                   sum(c) OVER (PARTITION BY local_service ORDER BY bucket
                                ROWS UNBOUNDED PRECEDING) AS cum
            FROM (
              SELECT local_service,
                     least(duration // 1000, 1023) AS bucket,
                     count(*) AS c
              FROM spans GROUP BY 1, 2
            )
          ) c ON c.local_service = t.local_service AND c.cum >= t.target
          GROUP BY 1, 2, 3
        ) e
        JOIN (
          SELECT local_service, 50 AS p,
                 quantile_cont(duration, 0.5) AS exact_raw FROM spans
          GROUP BY 1
          UNION ALL
          SELECT local_service, 95, quantile_cont(duration, 0.95)
          FROM spans GROUP BY 1
          UNION ALL
          SELECT local_service, 99, quantile_cont(duration, 0.99)
          FROM spans GROUP BY 1
        ) x ON x.local_service = e.local_service AND x.p = e.p
        """
    )
    from zipkin_storage_kafka_spark.operators import sketches as _sk

    oracles["w11_stream_cm_grid"] = with_spans_cte(
        f"""
        SELECT CAST(r AS INTEGER) AS r, CAST(b AS BIGINT) AS b,
               CAST(count(*) AS BIGINT) AS c
        FROM (
          SELECT r,
                 ('0x' || substr(md5(r || ':' || trace_id), 1, 8))
                   ::BIGINT % {_sk.CM_WIDTH} AS b
          FROM spans
          CROSS JOIN (
            SELECT unnest(generate_series(0, {_sk.CM_DEPTH - 1})) AS r
          )
        )
        GROUP BY 1, 2
        """
    )
    oracles["w13_stream_sliding_windows"] = with_spans_cte(
        """
        SELECT local_service,
               CAST(((timestamp // 60000000) - k) * 60000 AS BIGINT)
                 AS window_start_ms,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_errors
        FROM spans
        CROSS JOIN (SELECT unnest(generate_series(0, 1)) AS k)
        WHERE local_service IS NOT NULL
        GROUP BY 1, 2
        """
    )
    oracles["w14_stream_static_enrich"] = with_spans_cte(
        """
        SELECT concat('tier_', CAST(substring(local_service, 5)
                 AS INTEGER) % 3) AS tier,
               CAST((timestamp // 60000000) * 60000 AS BIGINT)
                 AS window_start_ms,
               CAST(count(*) AS BIGINT) AS n_spans,
               CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_errors
        FROM spans
        WHERE local_service IS NOT NULL
        GROUP BY 1, 2
        """
    )
    oracles["w15_stream_zone_maps"] = with_spans_cte(
        """
        SELECT CAST((timestamp // 60000000) * 60000 AS BIGINT)
                 AS shard_ms,
               CAST(count(*) AS BIGINT) AS n_rows,
               min(duration) AS zmin_duration,
               max(duration) AS zmax_duration,
               CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_errors
        FROM spans
        GROUP BY 1
        """
    )
    oracles["w12_stream_stream_join"] = with_spans_cte(
        f"""
        SELECT r.trace_id, r.id AS root_id, r.name AS root_name,
               e.id AS err_id, e.local_service AS err_service,
               CAST(e.timestamp - r.timestamp AS BIGINT) AS lag_us
        FROM spans r JOIN spans e
          ON e.trace_id = r.trace_id
         AND e.timestamp >= r.timestamp
         AND e.timestamp <= r.timestamp + {_ROOT_ERROR_RANGE_MIN * 60_000_000}
        WHERE r.parent_id IS NULL AND e.is_error
        """
    )
    oracles["z_cm_heavy_hitters"] = with_spans_cte(
        f"""
        SELECT t.trace_id, t.exact_n, e.cm_est,
               e.cm_est - t.exact_n AS overcount
        FROM (
          SELECT trace_id, CAST(count(*) AS BIGINT) AS exact_n
          FROM spans GROUP BY 1
        ) t
        JOIN (
          SELECT p.trace_id, min(g.c) AS cm_est
          FROM (
            SELECT trace_id, r,
                   ('0x' || substr(md5(r || ':' || trace_id), 1, 8))
                     ::BIGINT % {_sk.CM_WIDTH} AS b
            FROM (SELECT DISTINCT trace_id FROM spans)
            CROSS JOIN (
              SELECT unnest(generate_series(0, {_sk.CM_DEPTH - 1})) AS r
            )
          ) p
          JOIN (
            SELECT r,
                   ('0x' || substr(md5(r || ':' || trace_id), 1, 8))
                     ::BIGINT % {_sk.CM_WIDTH} AS b,
                   CAST(count(*) AS BIGINT) AS c
            FROM spans
            CROSS JOIN (
              SELECT unnest(generate_series(0, {_sk.CM_DEPTH - 1})) AS r
            )
            GROUP BY 1, 2
          ) g ON g.r = p.r AND g.b = p.b
          GROUP BY 1
        ) e ON e.trace_id = t.trace_id
        ORDER BY t.exact_n DESC, t.trace_id LIMIT {_sk.CM_TOP}
        """
    )
    oracles["z_orphan_spans"] = with_spans_cte(
        """
        SELECT t.local_service,
               CAST(t.n AS BIGINT) AS n_spans,
               CAST(coalesce(o.n_o, 0) AS BIGINT) AS n_orphans,
               ((round((coalesce(o.n_o, 0) * 1.0 / t.n) * 10000) / 10000)
                 + 0.0) AS orphan_rate
        FROM (
          SELECT local_service, count(*) AS n FROM surv GROUP BY 1
        ) t
        LEFT JOIN (
          SELECT s.local_service, count(*) AS n_o
          FROM surv s
          LEFT JOIN surv p
            ON p.trace_id = s.trace_id AND p.id = s.parent_id
          WHERE s.parent_id IS NOT NULL AND p.id IS NULL
          GROUP BY 1
        ) o ON o.local_service = t.local_service
        """,
        extra_ctes="""
        surv AS (
          SELECT * FROM spans WHERE substr(id, 16, 1) <> '0'
        )
        """,
    )
    oracles["z_link_latency_gaps"] = with_spans_cte(
        """
        SELECT p.local_service AS parent,
               c.local_service AS child,
               CAST(count(*) AS BIGINT) AS n_calls,
               ((round((sum(c.timestamp - p.timestamp) * 1.0 / count(*)
                        / 1000) * 10000) / 10000) + 0.0) AS avg_gap_ms,
               (max(c.timestamp - p.timestamp) / 1000.0) AS max_gap_ms
        FROM spans c
        JOIN spans p
          ON p.trace_id = c.trace_id AND p.id = c.parent_id
        WHERE c.parent_id IS NOT NULL
        GROUP BY 1, 2
        """
    )
    oracles["z_anomaly_mad"] = with_spans_cte(
        """
        SELECT med.local_service, med.n_spans, med.median_duration,
               mad.mad, flagged.n_anomalies
        FROM med
        JOIN mad USING (local_service)
        JOIN flagged USING (local_service)
        """,
        extra_ctes="""
        base AS (
          SELECT local_service, CAST(duration AS BIGINT) AS d
          FROM spans
          WHERE local_service IS NOT NULL AND duration IS NOT NULL
        ),
        c1 AS (
          SELECT local_service, d AS v, count(*) AS w
          FROM base GROUP BY 1, 2
        ),
        r1 AS (
          SELECT local_service, v,
                 sum(w) OVER (PARTITION BY local_service ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
                 sum(w) OVER (PARTITION BY local_service) AS total
          FROM c1
        ),
        med AS (
          SELECT local_service, CAST(total AS BIGINT) AS n_spans,
                 CAST(min(v) AS BIGINT) AS median_duration
          FROM r1 WHERE 2 * cum >= total
          GROUP BY local_service, total
        ),
        dev AS (
          SELECT b.local_service, b.d, m.median_duration,
                 abs(b.d - m.median_duration) AS adev
          FROM base b JOIN med m USING (local_service)
        ),
        c2 AS (
          SELECT local_service, adev AS v, count(*) AS w
          FROM dev GROUP BY 1, 2
        ),
        r2 AS (
          SELECT local_service, v,
                 sum(w) OVER (PARTITION BY local_service ORDER BY v
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS cum,
                 sum(w) OVER (PARTITION BY local_service) AS total
          FROM c2
        ),
        mad AS (
          SELECT local_service, CAST(min(v) AS BIGINT) AS mad
          FROM r2 WHERE 2 * cum >= total
          GROUP BY local_service, total
        ),
        flagged AS (
          SELECT dev.local_service,
                 CAST(sum(CASE WHEN abs(d - median_duration) * 1000000
                                    > 5189100 * mad.mad
                          THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
          FROM dev JOIN mad USING (local_service)
          GROUP BY 1
        )
        """,
    )
    oracles["z_span_overhang"] = with_spans_cte(
        """
        SELECT p.local_service AS parent,
               c.local_service AS child,
               CAST(count(*) AS BIGINT) AS n_calls,
               CAST(sum(CASE WHEN (c.timestamp + coalesce(c.duration, 0))
                              > (p.timestamp + coalesce(p.duration, 0))
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_overhangs,
               greatest(max((c.timestamp + coalesce(c.duration, 0))
                            - (p.timestamp + coalesce(p.duration, 0))),
                        0) AS max_overhang_us,
               (CAST(sum(CASE WHEN (c.timestamp + coalesce(c.duration, 0))
                               > (p.timestamp + coalesce(p.duration, 0))
                         THEN 1 ELSE 0 END) AS BIGINT) * 1000000)
                 // count(*) AS overhang_rate_micro
        FROM spans c
        JOIN spans p
          ON p.trace_id = c.trace_id AND p.id = c.parent_id
        WHERE c.parent_id IS NOT NULL
        GROUP BY 1, 2
        """
    )
    # P5: the disabled side is the asserted zero; the enabled side is
    # recomputed from the SAME independent SQL the three capabilities'
    # own driver rows use (nested-WITH subqueries — DuckDB scopes each
    # capability's CTE chain to its own scalar subquery).
    oracles["p5_disabled_flags"] = f"""
        SELECT * FROM (
          SELECT 'dependencies' AS capability,
                 CAST(0 AS BIGINT) AS rows_disabled,
                 (SELECT count(*)
                  FROM ({oracles["s8_get_dependencies"]})) AS rows_enabled
          UNION ALL
          SELECT 'find_traces', CAST(0 AS BIGINT),
                 (SELECT count(*) FROM ({oracles["p4_find_traces"]}))
          UNION ALL
          SELECT 'trace_by_id', CAST(0 AS BIGINT),
                 (SELECT count(*) FROM ({oracles["s9_get_trace"]}))
        ) ORDER BY capability
    """
    return oracles


def _zipkin_oracles_base(lo_ms, hi_ms, dep_lo_ms, dep_hi_ms) -> dict[str, str]:
    return {
        "a2_trace_summaries": with_spans_cte(
            "SELECT * FROM trace_summaries", _SUMMARIES_CTE
        ),
        "j1_a8_dependency_links": with_spans_cte(
            """
            SELECT parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_count,
                   parent || ':' || child AS link_key
            FROM links GROUP BY parent, child
            """,
            _LINKS_CTE,
        ),
        "j1_links_tree": with_spans_cte(
            """
            SELECT parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_count,
                   parent || ':' || child AS link_key
            FROM tree_links GROUP BY parent, child
            """,
            _TREE_LINKS_CTE,
        ),
        "a7_dependency_windows": with_spans_cte(
            """
            SELECT (timestamp // 60000000) * 60000 AS window_start_ms,
                   parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_count
            FROM links GROUP BY 1, 2, 3
            """,
            _LINKS_CTE,
        ),
        "a4_span_names": with_spans_cte(
            """
            SELECT local_service AS service_name,
                   string_agg(name, ',' ORDER BY name) AS names
            FROM (SELECT DISTINCT local_service, name FROM spans
                  WHERE local_service IS NOT NULL AND name IS NOT NULL)
            GROUP BY local_service
            """
        ),
        "a5_remote_service_names": with_spans_cte(
            """
            SELECT local_service AS service_name,
                   string_agg(remote_service, ',' ORDER BY remote_service)
                     AS remote_services
            FROM (SELECT DISTINCT local_service, remote_service FROM spans
                  WHERE local_service IS NOT NULL AND remote_service IS NOT NULL)
            GROUP BY local_service
            """
        ),
        "a6_autocomplete_tags": with_spans_cte(
            """
            SELECT tag_key, string_agg(value, ',' ORDER BY value) AS tag_values
            FROM (
              SELECT DISTINCT 'environment' AS tag_key, env AS value FROM spans
              WHERE env IS NOT NULL
              UNION ALL
              SELECT DISTINCT 'k' AS tag_key, tag_k AS value FROM spans
              WHERE tag_k IS NOT NULL
            ) GROUP BY tag_key
            """
        ),
        "s7_service_names": with_spans_cte(
            "SELECT DISTINCT local_service AS service_name FROM spans "
            "WHERE local_service IS NOT NULL"
        ),
        "p4_find_traces": with_spans_cte(
            f"""
            SELECT t.* FROM trace_summaries t
            JOIN (SELECT DISTINCT trace_id FROM spans
                  WHERE local_service = 'svc_1' AND duration >= 50000) m
              USING (trace_id)
            WHERE t.trace_timestamp
              BETWEEN {lo_ms} * 1000 AND {hi_ms} * 1000
            ORDER BY t.trace_timestamp DESC, t.trace_id
            LIMIT 10
            """,
            _SUMMARIES_CTE,
        ),
        "s9_get_trace": with_spans_cte(
            """
            SELECT trace_id, id, parent_id, kind, name, timestamp, duration,
                   local_service, remote_service
            FROM spans
            WHERE trace_id = (
              SELECT trace_id FROM spans GROUP BY trace_id
              ORDER BY count(*) DESC, trace_id LIMIT 1
            )
            """
        ),
        "o1_latest_traces": with_spans_cte(
            """
            SELECT * FROM trace_summaries
            ORDER BY trace_timestamp DESC, trace_id LIMIT 10
            """,
            _SUMMARIES_CTE,
        ),
        "o2_limit_before_sort": with_spans_cte(
            """
            SELECT * FROM (
              SELECT * FROM trace_summaries
              ORDER BY trace_timestamp // 60000000 DESC, trace_id DESC
              LIMIT 10
            ) cut
            ORDER BY trace_timestamp DESC, trace_id
            """,
            _SUMMARIES_CTE,
        ),
        "s8_get_dependencies": with_spans_cte(
            f"""
            SELECT parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_count,
                   parent || ':' || child AS link_key
            FROM links
            WHERE timestamp BETWEEN {dep_lo_ms} * 1000 AND {dep_hi_ms} * 1000
            GROUP BY parent, child
            """,
            _LINKS_CTE,
        ),
        "s9_span_names_lookup": with_spans_cte(
            """
            SELECT local_service AS service_name,
                   string_agg(name, ',' ORDER BY name) AS names
            FROM (SELECT DISTINCT local_service, name FROM spans
                  WHERE local_service = 'svc_1' AND name IS NOT NULL)
            GROUP BY local_service
            """
        ),
        "s9_autocomplete_values": with_spans_cte(
            """
            SELECT 'environment' AS tag_key,
                   string_agg(env, ',' ORDER BY env) AS tag_values
            FROM (SELECT DISTINCT env FROM spans WHERE env IS NOT NULL)
            """
        ),
        "p4_find_traces_annotation": with_spans_cte(
            f"""
            SELECT t.* FROM trace_summaries t
            JOIN (SELECT DISTINCT trace_id FROM spans
                  WHERE name = 'click' AND remote_service = 'rsvc_1'
                    AND env = 'dev') m
              USING (trace_id)
            WHERE t.trace_timestamp
              BETWEEN ({FIND_TRACES_ANNOTATION_REQUEST.end_ts}
                       - {FIND_TRACES_ANNOTATION_REQUEST.lookback}) * 1000
                  AND {FIND_TRACES_ANNOTATION_REQUEST.end_ts} * 1000
            ORDER BY t.trace_timestamp DESC, t.trace_id
            LIMIT {FIND_TRACES_ANNOTATION_REQUEST.limit}
            """,
            _SUMMARIES_CTE,
        ),
        "p4_find_traces_tags": with_spans_cte(
            """
            SELECT t.* FROM trace_summaries t
            JOIN (SELECT DISTINCT trace_id FROM spans
                  WHERE tag_k = '7' AND is_error) m
              USING (trace_id)
            ORDER BY t.trace_timestamp DESC, t.trace_id
            LIMIT 10
            """,
            _SUMMARIES_CTE,
        ),
        "p4_find_traces_duration": with_spans_cte(
            """
            SELECT t.* FROM trace_summaries t
            JOIN (SELECT DISTINCT trace_id FROM spans
                  WHERE local_service = 'svc_1'
                    AND duration >= 50000 AND duration <= 500000) m
              USING (trace_id)
            ORDER BY t.trace_timestamp DESC, t.trace_id
            LIMIT 10
            """,
            _SUMMARIES_CTE,
        ),
        "s9_remote_service_lookup": with_spans_cte(
            """
            SELECT local_service AS service_name,
                   string_agg(remote_service, ',' ORDER BY remote_service)
                     AS remote_services
            FROM (SELECT DISTINCT local_service, remote_service FROM spans
                  WHERE local_service = 'svc_1'
                    AND remote_service IS NOT NULL)
            GROUP BY local_service
            """
        ),
        "a9_union_service_names": with_spans_cte(
            """
            SELECT service_name FROM (
              SELECT DISTINCT local_service AS service_name FROM spans
              WHERE local_service IS NOT NULL
            ) ORDER BY service_name LIMIT 1000
            """
        ),
        "z_error_unpivot": with_spans_cte(
            """
            SELECT s.local_service, t.env,
                   CAST(coalesce(c.errors, 0) AS BIGINT) AS errors
            FROM (SELECT DISTINCT local_service FROM spans
                  WHERE local_service IS NOT NULL) s
            CROSS JOIN (SELECT unnest(['dev', 'staging', 'prod']) AS env) t
            LEFT JOIN (
              SELECT local_service, env,
                     sum(CASE WHEN is_error THEN 1 END) AS errors
              FROM spans WHERE local_service IS NOT NULL
              GROUP BY local_service, env
            ) c ON c.local_service = s.local_service AND c.env = t.env
            """
        ),
        "z_slo_burn": with_spans_cte(
            f"""
            SELECT local_service,
                   CAST(widx * 60000 AS BIGINT) AS window_start_ms,
                   CAST(n_spans AS BIGINT) AS n_spans,
                   CAST(n_errors AS BIGINT) AS n_errors,
                   short_burn,
                   long_burn,
                   (short_burn >= {_BURN_ALERT_FACTOR}
                    AND long_burn >= {_BURN_ALERT_FACTOR}) AS alert
            FROM (
              SELECT local_service, widx, n_spans, n_errors,
                     (round((n_errors * 1.0 / n_spans
                        / CAST({_SLO_ERROR_BUDGET} AS DOUBLE)) * 10000)
                        / 10000 + 0.0) AS short_burn,
                     (round(((sum(n_errors) OVER w) * 1.0
                        / (sum(n_spans) OVER w)
                        / CAST({_SLO_ERROR_BUDGET} AS DOUBLE)) * 10000)
                        / 10000 + 0.0) AS long_burn
              FROM (
                SELECT local_service,
                       timestamp // 60000000 AS widx,
                       count(*) AS n_spans,
                       sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS n_errors
                FROM spans WHERE local_service IS NOT NULL
                GROUP BY 1, 2
              )
              WINDOW w AS (PARTITION BY local_service ORDER BY widx
                           RANGE BETWEEN {_BURN_LONG_WINDOWS - 1} PRECEDING
                           AND CURRENT ROW)
            )
            """
        ),
        "z_window_active_spans": with_spans_cte(
            """
            SELECT local_service,
                   CAST(widx * 60000 AS BIGINT) AS window_start_ms,
                   CAST(count(*) AS BIGINT) AS active_spans
            FROM win GROUP BY local_service, widx
            """,
            extra_ctes="""
            win AS (
              SELECT local_service,
                     unnest(generate_series(
                       timestamp // 60000000,
                       (timestamp + greatest(coalesce(duration, 0), 1) - 1)
                         // 60000000)) AS widx
              FROM spans WHERE local_service IS NOT NULL
            )
            """,
        ),
        "z_trace_concurrency": with_spans_cte(
            """
            SELECT trace_id,
                   CAST(count(*) / 2 AS BIGINT) AS n_spans,
                   CAST(max(running) AS BIGINT) AS max_concurrent
            FROM swept GROUP BY trace_id
            """,
            extra_ctes="""
            ev AS (
              SELECT trace_id, timestamp AS ts, 1 AS delta FROM spans
              UNION ALL
              SELECT trace_id,
                     timestamp + greatest(coalesce(duration, 0), 1) AS ts,
                     -1 AS delta
              FROM spans
            ),
            swept AS (
              SELECT trace_id,
                     sum(delta) OVER (PARTITION BY trace_id
                         ORDER BY ts, delta
                         ROWS UNBOUNDED PRECEDING) AS running
              FROM ev
            )
            """,
        ),
        "z_slow_span_concurrency": with_spans_cte(
            f"""
            SELECT s.trace_id, s.id, s.local_service, s.duration,
                   CAST(coalesce(c.c, 0) AS BIGINT) AS concurrent_spans
            FROM slow s
            LEFT JOIN cnt c ON c.trace_id = s.trace_id AND c.id = s.id
            """,
            extra_ctes=f"""
            slow AS (
              SELECT trace_id, id, local_service, timestamp, duration
              FROM spans
              WHERE duration >= {_SLOW_SPAN_US}
                AND local_service IS NOT NULL
            ),
            cnt AS (
              SELECT s.trace_id, s.id, CAST(count(*) AS BIGINT) AS c
              FROM slow s JOIN spans o
                ON o.local_service = s.local_service
               AND NOT (o.trace_id = s.trace_id AND o.id = s.id)
               AND o.timestamp
                     < s.timestamp + greatest(coalesce(s.duration, 0), 1)
               AND o.timestamp + greatest(coalesce(o.duration, 0), 1)
                     > s.timestamp
              GROUP BY s.trace_id, s.id
            )
            """,
        ),
        "w3_stream_links": with_spans_cte(
            """
            SELECT parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_count,
                   parent || ':' || child AS link_key
            FROM sess_links GROUP BY parent, child
            """,
            extra_ctes="""
            lagged AS (
              SELECT *, CASE WHEN timestamp - lag(timestamp) OVER
                   (PARTITION BY trace_id ORDER BY timestamp)
                   >= 60000000
                 THEN 1 ELSE 0 END AS new_sess
              FROM spans
            ),
            sess AS (
              SELECT *, sum(new_sess) OVER (PARTITION BY trace_id
                  ORDER BY timestamp
                  ROWS UNBOUNDED PRECEDING) AS sess_id
              FROM lagged
            ),
            sess_links AS (
              SELECT p.local_service AS parent, c.local_service AS child,
                     c.is_error
              FROM sess c JOIN sess p
                ON c.trace_id = p.trace_id AND c.sess_id = p.sess_id
                   AND c.parent_id = p.id
            )
            """,
        ),
        "w5_stream_dependency_windows": with_spans_cte(
            """
            SELECT (c.timestamp // 60000000) * 60000 AS window_start_ms,
                   parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN c.is_error THEN 1 ELSE 0 END)
                     AS BIGINT) AS error_count
            FROM sess_links c GROUP BY 1, 2, 3
            """,
            extra_ctes="""
            lagged AS (
              SELECT *, CASE WHEN timestamp - lag(timestamp) OVER
                   (PARTITION BY trace_id ORDER BY timestamp)
                   >= 60000000
                 THEN 1 ELSE 0 END AS new_sess
              FROM spans
            ),
            sess AS (
              SELECT *, sum(new_sess) OVER (PARTITION BY trace_id
                  ORDER BY timestamp
                  ROWS UNBOUNDED PRECEDING) AS sess_id
              FROM lagged
            ),
            sess_links AS (
              SELECT p.local_service AS parent, c.local_service AS child,
                     c.is_error, c.timestamp
              FROM sess c JOIN sess p
                ON c.trace_id = p.trace_id AND c.sess_id = p.sess_id
                   AND c.parent_id = p.id
            )
            """,
        ),
        "w1_stream_traces": with_spans_cte(
            """
            SELECT trace_id,
                   CAST(min(timestamp) // 1000 AS BIGINT) AS session_start_ms,
                   CAST(max(timestamp) // 1000 + 60000 AS BIGINT)
                     AS session_end_ms,
                   CAST(count(*) AS BIGINT) AS span_count,
                   CAST(min(timestamp) AS BIGINT) AS trace_timestamp
            FROM sess GROUP BY trace_id, sess_id
            """,
            extra_ctes="""
            lagged AS (
              SELECT trace_id, timestamp,
                     CASE WHEN timestamp - lag(timestamp) OVER
                          (PARTITION BY trace_id ORDER BY timestamp)
                          >= 60000000
                     THEN 1 ELSE 0 END AS new_sess
              FROM spans
            ),
            sess AS (
              SELECT trace_id, timestamp,
                     sum(new_sess) OVER (PARTITION BY trace_id
                         ORDER BY timestamp
                         ROWS UNBOUNDED PRECEDING) AS sess_id
              FROM lagged
            )
            """,
        ),
        "z_error_pivot": with_spans_cte(
            """
            SELECT local_service,
                   CAST(coalesce(sum(CASE WHEN env = 'dev'
                     AND is_error THEN 1 END), 0) AS BIGINT) AS dev_errors,
                   CAST(coalesce(sum(CASE WHEN env = 'staging'
                     AND is_error THEN 1 END), 0) AS BIGINT)
                     AS staging_errors,
                   CAST(coalesce(sum(CASE WHEN env = 'prod'
                     AND is_error THEN 1 END), 0) AS BIGINT) AS prod_errors
            FROM spans WHERE local_service IS NOT NULL
            GROUP BY local_service
            """
        ),
        "z_anomalous_spans": with_spans_cte(
            """
            SELECT st._svc AS local_service,
                   CAST(st.n AS BIGINT) AS n_spans,
                   CAST(coalesce(an.n_anomalies, 0) AS BIGINT)
                     AS n_anomalies
            FROM st LEFT JOIN (
              SELECT b.local_service,
                     count(*) AS n_anomalies
              FROM b JOIN st ON st._svc = b.local_service
              WHERE st.n >= 2
                AND CAST(CAST(st.n AS HUGEINT) * b.dur - st.s AS DOUBLE)
                    * CAST(CAST(st.n AS HUGEINT) * b.dur - st.s AS DOUBLE)
                    * CAST(st.n - 1 AS DOUBLE)
                  > 9.0 * CAST(st.n AS DOUBLE)
                    * (CAST(st.n AS DOUBLE) * CAST(st.sq AS DOUBLE)
                       - CAST(st.s AS DOUBLE) * CAST(st.s AS DOUBLE))
              GROUP BY b.local_service
            ) an ON an.local_service = st._svc
            """,
            extra_ctes="""
            b AS (
              SELECT local_service, CAST(duration AS BIGINT) AS dur
              FROM spans
              WHERE local_service IS NOT NULL AND duration IS NOT NULL
            ),
            st AS (
              SELECT local_service AS _svc,
                     CAST(count(*) AS BIGINT) AS n,
                     sum(CAST(dur AS HUGEINT)) AS s,
                     sum(CAST(dur AS HUGEINT) * dur) AS sq
              FROM b GROUP BY local_service
            )
            """,
        ),
        "w25_slowest_per_service": with_spans_cte(
            """
            SELECT local_service AS service_name,
                   CAST(rnk AS INT) AS rnk,
                   id AS span_id, name, duration
            FROM (
              SELECT local_service, id, name, duration,
                     row_number() OVER (
                       PARTITION BY local_service
                       ORDER BY duration DESC, id
                     ) AS rnk
              FROM spans
              WHERE local_service IS NOT NULL AND duration IS NOT NULL
            ) WHERE rnk <= 3
            """
        ),
        "a9_setops_service_names": with_spans_cte(
            f"""
            SELECT 'only_first' AS op, service_name FROM (
              SELECT service_name FROM fh EXCEPT
              SELECT service_name FROM sh
            )
            UNION ALL
            SELECT 'both' AS op, service_name FROM (
              SELECT service_name FROM fh INTERSECT
              SELECT service_name FROM sh
            )
            """,
            extra_ctes=f"""
            fh AS (
              SELECT DISTINCT local_service AS service_name FROM spans
              WHERE local_service IS NOT NULL
                AND timestamp < {DEPENDENCIES_END_TS * 1000}
            ),
            sh AS (
              SELECT DISTINCT local_service AS service_name FROM spans
              WHERE local_service IS NOT NULL
                AND timestamp >= {DEPENDENCIES_END_TS * 1000}
            )
            """,
        ),
        "w25_latest_span_per_service": with_spans_cte(
            """
            SELECT local_service AS service_name,
                   name AS latest_name,
                   timestamp AS latest_timestamp,
                   id AS latest_span_id
            FROM (
              SELECT s.*,
                     row_number() OVER (PARTITION BY local_service
                                        ORDER BY timestamp DESC, id DESC) AS rn
              FROM spans s WHERE local_service IS NOT NULL
            ) WHERE rn = 1
            """
        ),
        "o5_trace_many": with_spans_cte(
            f"""
            SELECT trace_id,
                   CAST(max(n) AS BIGINT) AS span_count,
                   min(timestamp) AS trace_timestamp,
                   min(CASE WHEN rn = 1 THEN name END) AS first_name,
                   min(CASE WHEN rn = n THEN name END) AS last_name
            FROM (
              SELECT s.*,
                     row_number() OVER (PARTITION BY trace_id
                                        ORDER BY timestamp, id) AS rn,
                     count(*) OVER (PARTITION BY trace_id) AS n
              FROM spans s
              JOIN (SELECT DISTINCT trace_id FROM spans
                    ORDER BY trace_id LIMIT {TRACE_MANY_N}) sel
                USING (trace_id)
            ) GROUP BY trace_id
            """
        ),
        "f2_normalize_ids": """
            SELECT event_id,
                   upper(printf('%x', event_id + 1)) AS raw_id,
                   CASE WHEN length(printf('%x', event_id + 1)) > 16
                        THEN lpad(lower(printf('%x', event_id + 1)), 32, '0')
                        ELSE lpad(lower(printf('%x', event_id + 1)), 16, '0')
                   END AS normalized_id
            FROM events
        """,
        # nullif(duration, 0): proto3 writes nothing for zero scalars, so
        # duration 0 is unrepresentable on the wire and decodes as absent
        # (null) — the reference's SpanBytesEncoder.PROTO3/decoder pair has
        # the same collapse (zipkin semantics: absent duration = unknown).
        # Surfaced by the 6 zero-duration spans that first appear at sf0.1.
        "f5_proto_roundtrip": with_spans_cte(
            """
            SELECT trace_id, parent_id, id, kind, name, timestamp,
                   nullif(duration, 0) AS duration,
                   local_service, remote_service
            FROM spans
            """
        ),
        "f6_json_roundtrip": with_spans_cte(
            """
            SELECT trace_id, parent_id, id, kind, name, timestamp,
                   duration, local_service, remote_service
            FROM spans
            """
        ),
        "f7_link_json_roundtrip": with_spans_cte(
            """
            SELECT parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                     AS error_count,
                   parent || ':' || child AS link_key
            FROM links GROUP BY parent, child
            """,
            _LINKS_CTE,
        ),
        "z_salted_service_counts": with_spans_cte(
            """
            SELECT local_service,
                   CAST(count(*) AS BIGINT) AS n_spans
            FROM spans GROUP BY local_service
            """
        ),
        "z_path_redundancy": with_spans_cte(
            """
            SELECT coalesce(p1.src, p2.src, p3.src) AS src,
                   coalesce(p1.dst, p2.dst, p3.dst) AS dst,
                   CAST(coalesce(direct, 0) AS BIGINT) AS direct,
                   CAST(coalesce(via2, 0) AS BIGINT) AS via2,
                   CAST(coalesce(via3, 0) AS BIGINT) AS via3,
                   CAST(coalesce(direct, 0) + coalesce(via2, 0)
                        + coalesce(via3, 0) AS BIGINT) AS total_paths
            FROM p1
            FULL JOIN p2 ON p1.src = p2.src AND p1.dst = p2.dst
            FULL JOIN p3 ON coalesce(p1.src, p2.src) = p3.src
                        AND coalesce(p1.dst, p2.dst) = p3.dst
            """,
            extra_ctes=_LINKS_CTE.strip().rstrip()
            + """,
            de AS MATERIALIZED (
              SELECT DISTINCT parent AS src, child AS dst FROM links
              WHERE parent IS NOT NULL AND child IS NOT NULL
                AND parent != child
            ),
            p1 AS (SELECT src, dst, 1 AS direct FROM de),
            p2 AS (
              SELECT a.src, b.dst, CAST(count(*) AS BIGINT) AS via2
              FROM de a JOIN de b ON a.dst = b.src
              WHERE a.src != b.dst
              GROUP BY 1, 2
            ),
            p3 AS (
              SELECT a.src, c.dst, CAST(count(*) AS BIGINT) AS via3
              FROM de a
              JOIN de b ON a.dst = b.src
              JOIN de c ON b.dst = c.src
              WHERE a.src != b.dst AND a.src != c.dst AND a.dst != c.dst
              GROUP BY 1, 2
            )
            """,
        ),
        "z_sampling_bias": with_spans_cte(
            """
            SELECT local_service,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(CASE WHEN
                       CAST(('0x' || substring(md5(trace_id), 1, 8))
                            AS BIGINT) % 16 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
                   CAST(sum(CASE WHEN
                       CAST(('0x' || substring(md5(trace_id), 1, 8))
                            AS BIGINT) % 16 = 0
                     THEN 1 ELSE 0 END) * 16 AS BIGINT) AS est_spans,
                   CAST((sum(CASE WHEN
                       CAST(('0x' || substring(md5(trace_id), 1, 8))
                            AS BIGINT) % 16 = 0
                     THEN 1 ELSE 0 END) * 16 * 1000000) // count(*)
                     AS BIGINT) AS bias_micro
            FROM spans GROUP BY local_service
            """
        ),
        "z_partition_skew": with_spans_cte(
            """
            SELECT * FROM (
              WITH ck AS (
                SELECT trace_id AS k, CAST(count(*) AS BIGINT) AS cnt
                FROM spans WHERE trace_id IS NOT NULL GROUP BY trace_id
              ), st AS (
                SELECT CAST(count(*) AS BIGINT) AS n_keys,
                       CAST(sum(cnt) AS BIGINT) AS total_rows,
                       CAST(max(cnt) AS BIGINT) AS max_rows
                FROM ck
              ), hot AS (
                SELECT CAST(count(*) AS BIGINT) AS hot_keys_10x
                FROM ck, st WHERE cnt * n_keys > 10 * total_rows
              )
              SELECT 'trace_id' AS key_name, n_keys, total_rows, max_rows,
                     CAST((max_rows * 1000000) // total_rows AS BIGINT)
                       AS top1_share_micro,
                     CAST((max_rows * n_keys * 1000000) // total_rows
                       AS BIGINT) AS skew_vs_mean_micro,
                     hot_keys_10x
              FROM st, hot
            )
            UNION ALL
            SELECT * FROM (
              WITH ck AS (
                SELECT local_service AS k, CAST(count(*) AS BIGINT) AS cnt
                FROM spans WHERE local_service IS NOT NULL
                GROUP BY local_service
              ), st AS (
                SELECT CAST(count(*) AS BIGINT) AS n_keys,
                       CAST(sum(cnt) AS BIGINT) AS total_rows,
                       CAST(max(cnt) AS BIGINT) AS max_rows
                FROM ck
              ), hot AS (
                SELECT CAST(count(*) AS BIGINT) AS hot_keys_10x
                FROM ck, st WHERE cnt * n_keys > 10 * total_rows
              )
              SELECT 'local_service' AS key_name, n_keys, total_rows,
                     max_rows,
                     CAST((max_rows * 1000000) // total_rows AS BIGINT)
                       AS top1_share_micro,
                     CAST((max_rows * n_keys * 1000000) // total_rows
                       AS BIGINT) AS skew_vs_mean_micro,
                     hot_keys_10x
              FROM st, hot
            )
            """
        ),
        "z_sketch_service_traces": with_spans_cte(
            """
            SELECT local_service,
                   CAST(nb AS BIGINT) AS n_buckets,
                   est AS est_traces,
                   CAST(ex AS BIGINT) AS exact_traces,
                   (round((est - ex) * 10000) / 10000 + 0.0) AS err
            FROM sk_est
            """,
            extra_ctes="""
            sk AS (
              SELECT local_service,
                     count(DISTINCT substr(md5(trace_id), 1, 4)) AS nb,
                     count(DISTINCT trace_id) AS ex
              FROM spans GROUP BY local_service
            ),
            sk_est AS (
              SELECT local_service, nb, ex,
                     (round((-65536.0 * ln(1.0 - nb / 65536.0)) * 10000)
                        / 10000 + 0.0) AS est
              FROM sk
            )
            """,
        ),
        "z_hll_service_traces": with_spans_cte(
            """
            SELECT local_service,
                   CAST(count(DISTINCT trace_id) AS BIGINT) AS exact_traces,
                   true AS hll_ok
            FROM spans GROUP BY local_service
            """
        ),
        "z_exemplar_spans": with_spans_cte(
            """
            SELECT local_service,
                   CAST(length(CAST(duration AS VARCHAR)) AS BIGINT)
                     AS dur_digits,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   arg_min(trace_id, md5(trace_id || ':' || id))
                     AS exemplar_trace,
                   arg_min(id, md5(trace_id || ':' || id))
                     AS exemplar_span
            FROM spans
            WHERE local_service IS NOT NULL AND duration IS NOT NULL
            GROUP BY 1, 2
            """
        ),
        "z_hll_merge_rollup": with_spans_cte(
            """
            SELECT local_service,
                   CAST(count(DISTINCT CAST(floor(
                       timestamp / 86400000000.0) AS BIGINT)) AS BIGINT
                   ) AS days,
                   CAST(count(DISTINCT trace_id) AS BIGINT) AS exact_traces,
                   true AS merged_ok
            FROM spans GROUP BY local_service
            """
        ),
        "z_trace_depth": f"""
            WITH RECURSIVE {SPANS_ORACLE_CTE.strip()},
            rec(trace_id, id, depth) AS (
              SELECT trace_id, id, CAST(0 AS BIGINT)
              FROM spans WHERE parent_id IS NULL
              UNION ALL
              SELECT s.trace_id, s.id, r.depth + 1
              FROM spans s
              JOIN rec r ON s.parent_id = r.id AND s.trace_id = r.trace_id
            )
            SELECT depth, CAST(count(*) AS BIGINT) AS n_spans
            FROM rec GROUP BY depth
        """,
        "z_critical_path": f"""
            WITH RECURSIVE {SPANS_ORACLE_CTE.strip()},
            rec(trace_id, id, cost) AS (
              SELECT trace_id, id, coalesce(duration, 0)
              FROM spans WHERE parent_id IS NULL
              UNION ALL
              SELECT s.trace_id, s.id, r.cost + coalesce(s.duration, 0)
              FROM spans s
              JOIN rec r ON s.parent_id = r.id AND s.trace_id = r.trace_id
            )
            SELECT trace_id, CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(max(cost) AS BIGINT) AS critical_path_us
            FROM rec GROUP BY trace_id
        """,
        "z_service_pagerank": _pagerank_oracle(),
        "z_service_hits": _hits_oracle(),
        "z_service_kcore": _kcore_oracle(),
        "z_error_cooccurrence": with_spans_cte(
            """
            SELECT p.item_a, p.item_b, p.pair_baskets,
                   ma.n AS a_baskets, mb.n AS b_baskets,
                   CAST((p.pair_baskets * t.n_total * 1000000)
                        // (ma.n * mb.n) AS BIGINT) AS lift_micro
            FROM pairs p
            JOIN marg ma ON ma.it = p.item_a
            JOIN marg mb ON mb.it = p.item_b
            CROSS JOIN total t
            """,
            extra_ctes="""
            member AS (
              SELECT DISTINCT timestamp // 60000000 AS bk,
                              local_service AS it
              FROM spans
              WHERE is_error AND local_service IS NOT NULL
            ),
            pairs AS (
              SELECT l.it AS item_a, r.it AS item_b,
                     CAST(count(*) AS BIGINT) AS pair_baskets
              FROM member l JOIN member r
                ON l.bk = r.bk AND l.it < r.it
              GROUP BY 1, 2
            ),
            marg AS (
              SELECT it, CAST(count(*) AS BIGINT) AS n FROM member
              GROUP BY it
            ),
            total AS (
              SELECT CAST(count(DISTINCT bk) AS BIGINT) AS n_total
              FROM member
            )
            """,
        ),
        "z_service_reachability": with_spans_cte(
            """
            SELECT n.service,
                   CAST(coalesce(p.n_reachable, 0) AS BIGINT)
                     AS n_reachable
            FROM nodes n LEFT JOIN per p USING (service)
            """,
            extra_ctes=_LINKS_CTE.strip().rstrip()
            + """,
            de AS MATERIALIZED (
              SELECT DISTINCT parent AS src, child AS dst FROM links
              WHERE parent IS NOT NULL AND child IS NOT NULL
            ),
            rch AS (
              WITH RECURSIVE walk(src, dst) AS (
                SELECT src, dst FROM de
                UNION
                SELECT w.src, e.dst FROM walk w JOIN de e
                  ON e.src = w.dst
              )
              SELECT src, dst FROM walk
            ),
            nodes AS (
              SELECT DISTINCT parent AS service FROM links
              UNION
              SELECT DISTINCT child AS service FROM links
            ),
            per AS (
              SELECT src AS service, CAST(count(*) AS BIGINT)
                       AS n_reachable
              FROM rch GROUP BY src
            )
            """,
        ),
        "z_service_triangles": with_spans_cte(
            """
            SELECT n.service,
                   CAST(coalesce(p.triangles, 0) AS BIGINT) AS triangles
            FROM nodes n LEFT JOIN per p USING (service)
            """,
            extra_ctes=_LINKS_CTE.strip().rstrip()
            + """,
            edges AS (
              SELECT DISTINCT least(parent, child) AS a,
                              greatest(parent, child) AS b
              FROM links WHERE parent <> child
            ),
            tri AS (
              SELECT e1.a AS x, e1.b AS y, e2.b AS z
              FROM edges e1
              JOIN edges e2 ON e2.a = e1.b
              JOIN edges e3 ON e3.a = e1.a AND e3.b = e2.b
            ),
            nodes AS (
              SELECT DISTINCT parent AS service FROM links
              UNION
              SELECT DISTINCT child AS service FROM links
            ),
            per AS (
              SELECT service, CAST(count(*) AS BIGINT) AS triangles
              FROM (
                SELECT x AS service FROM tri
                UNION ALL SELECT y FROM tri
                UNION ALL SELECT z FROM tri
              ) corners GROUP BY service
            )
            """,
        ),
        "z_fanout_hotspots": with_spans_cte(
            """
            SELECT s.local_service,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST((sum(coalesce(k.n_children, 0)) * 1000000)
                        // count(*) AS BIGINT) AS fanout_avg_micro,
                   CAST(max(coalesce(k.n_children, 0)) AS BIGINT)
                     AS fanout_max,
                   CAST(sum(CASE WHEN coalesce(k.n_children, 0) > 0
                            THEN 1 ELSE 0 END) AS BIGINT) AS n_branching
            FROM spans s
            LEFT JOIN kids k
              ON k.k_tid = s.trace_id AND k.k_pid = s.id
            GROUP BY s.local_service
            """,
            extra_ctes="""
            kids AS (
              SELECT trace_id AS k_tid, parent_id AS k_pid,
                     CAST(count(*) AS BIGINT) AS n_children
              FROM spans WHERE parent_id IS NOT NULL
              GROUP BY 1, 2
            )
            """,
        ),
        "z_trace_idle_gaps": with_spans_cte(
            """
            SELECT trace_id,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(max(e) - min(timestamp) AS BIGINT) AS wall_us,
                   CAST(max(e) - min(timestamp) - sum(gap) AS BIGINT)
                     AS busy_us,
                   CAST(sum(gap) AS BIGINT) AS idle_us,
                   CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_gaps
            FROM g GROUP BY trace_id
            """,
            extra_ctes="""
            g AS (
              SELECT trace_id, timestamp, e,
                     CASE WHEN pe IS NOT NULL AND timestamp > pe
                          THEN timestamp - pe ELSE 0 END AS gap
              FROM (
                SELECT trace_id, timestamp,
                       timestamp + coalesce(duration, 0) AS e,
                       max(timestamp + coalesce(duration, 0)) OVER (
                         PARTITION BY trace_id
                         ORDER BY timestamp, id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                       ) AS pe
                FROM spans WHERE timestamp IS NOT NULL
              )
            )
            """,
        ),
        "z_service_cooccurrence": with_spans_cte(
            """
            SELECT p.svc_a, p.svc_b, p.pair_traces,
                   ma.n_traces AS a_traces,
                   mb.n_traces AS b_traces,
                   CAST((p.pair_traces * t.n_total * 1000000)
                        // (ma.n_traces * mb.n_traces) AS BIGINT)
                     AS lift_micro
            FROM pairs p
            JOIN marg ma ON ma.svc = p.svc_a
            JOIN marg mb ON mb.svc = p.svc_b
            CROSS JOIN total t
            """,
            extra_ctes="""
            member AS (
              SELECT DISTINCT trace_id, local_service AS svc
              FROM spans WHERE local_service IS NOT NULL
            ),
            pairs AS (
              SELECT l.svc AS svc_a, r.svc AS svc_b,
                     CAST(count(*) AS BIGINT) AS pair_traces
              FROM member l
              JOIN member r
                ON l.trace_id = r.trace_id AND l.svc < r.svc
              GROUP BY 1, 2
            ),
            marg AS (
              SELECT svc, CAST(count(*) AS BIGINT) AS n_traces
              FROM member GROUP BY svc
            ),
            total AS (
              SELECT CAST(count(DISTINCT trace_id) AS BIGINT) AS n_total
              FROM member
            )
            """,
        ),
        "z_self_time": with_spans_cte(
            """
            SELECT s.local_service,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(coalesce(s.duration, 0)
                            - coalesce(c.child_dur, 0)) AS BIGINT)
                     AS self_time_us
            FROM spans s
            LEFT JOIN child c ON s.id = c.pid AND s.trace_id = c.tid
            GROUP BY s.local_service
            """,
            extra_ctes="""
            child AS (
              SELECT trace_id AS tid, parent_id AS pid,
                     sum(coalesce(duration, 0)) AS child_dur
              FROM spans WHERE parent_id IS NOT NULL
              GROUP BY trace_id, parent_id
            )
            """,
        ),
        "z_latency_percentiles": with_spans_cte(
            """
            SELECT local_service,
                   (round(quantile_cont(duration, 0.5) * 10000) / 10000 + 0.0)
                     AS p50,
                   (round(quantile_cont(duration, 0.95) * 10000) / 10000 + 0.0)
                     AS p95,
                   (round(quantile_cont(duration, 0.99) * 10000) / 10000 + 0.0)
                     AS p99,
                   CAST(count(*) AS BIGINT) AS n_spans
            FROM spans GROUP BY local_service
            """
        ),
        "z_duration_histogram": with_spans_cte(
            """
            SELECT local_service, duration // 100000 AS bucket,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   min(duration) AS min_duration,
                   max(duration) AS max_duration
            FROM spans GROUP BY local_service, bucket
            """
        ),
        "z_service_error_rate": with_spans_cte(
            """
            SELECT local_service,
                   timestamp // 86400000000 AS day_idx,
                   CAST(count(*) AS BIGINT) AS n_spans,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_errors,
                   (round((CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END)
                            AS DOUBLE) / count(*)) * 10000) / 10000 + 0.0)
                     AS error_rate
            FROM spans GROUP BY local_service, day_idx
            """
        ),
    }
