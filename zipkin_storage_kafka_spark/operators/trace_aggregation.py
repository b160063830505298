"""Trace aggregation: spans -> traces (reference pipeline stage 2).

Reference: SpanAggregationTopology.java:72-113 — ``groupByKey`` on traceId,
session-window aggregate with ``Trace.merge`` semantics, emit once per
closed session.  The batch form here is the same logical plan without the
window (every session is closed in a batch input); the streaming form with
``session_window`` lives in ``streaming/jobs.py``.

Scale notes (100 TB): this is one shuffle on ``trace_id``.  Span arrays are
assembled with ``collect_list`` which Spark executes as a partial (map-side)
+ final aggregation; per-trace arrays are small (traces are bounded by the
session gap), so no skew mitigation is needed beyond AQE.  The span array is
ALWAYS sorted by (timestamp, id) — ``collect_list`` order is otherwise
nondeterministic across shuffles (SURVEY section 7 risk 2), and the sort also
gives Trace.merge's deterministic ordering (zipkin2 sorts/merges by span id).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.portable import round4


def aggregate_traces(spans: DataFrame) -> DataFrame:
    """spans (scalar layout from sources.spans) -> one row per trace.

    Columns: trace_id, spans array<struct> sorted by (timestamp, id),
    trace_timestamp (min span timestamp, micros), span_count.

    Trace.merge parity: duplicate (id, shared) spans would be merged by
    zipkin2 (SpanAggregationTopology.java:101-113); the derived fixture has
    unique span ids per trace, and the dedup path is exercised by
    ``merge_trace_spans`` below.
    """
    span_struct = F.struct(
        "timestamp", "id", "parent_id", "kind", "name", "duration",
        "local_service", "remote_service", "tag_k", "env", "is_error",
    )
    return (
        spans.groupBy("trace_id")
        .agg(
            F.array_sort(F.collect_list(span_struct)).alias("spans"),
            F.min("timestamp").alias("trace_timestamp"),
            F.count(F.lit(1)).alias("span_count"),
        )
    )


def merge_trace_spans(traces: DataFrame) -> DataFrame:
    """Trace.merge parity on an assembled trace: drop exact-duplicate span
    ids (same id + shared flag), keeping the earliest occurrence.

    zipkin2 ``Trace.merge`` (library semantics, invoked at
    SpanAggregationTopology.java:107,112) sorts spans and merges entries
    with the same id unless one is the ``shared`` (server) half.  Expressed
    natively: explode -> window dedup -> re-assemble; no Python UDF.
    """
    w_cols = ["trace_id", "span.id", "span.shared"] if _has_shared(traces) else [
        "trace_id",
        "span.id",
    ]
    exploded = traces.select("trace_id", F.explode("spans").alias("span"))
    deduped = (
        exploded.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy(*w_cols).orderBy(
                    F.col("span.timestamp").asc_nulls_last(), F.col("span.id")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
    return (
        deduped.groupBy("trace_id")
        .agg(
            F.array_sort(F.collect_list("span")).alias("spans"),
            F.min("span.timestamp").alias("trace_timestamp"),
            F.count(F.lit(1)).alias("span_count"),
        )
    )


def _has_shared(traces: DataFrame) -> bool:
    spans_type = dict(traces.dtypes).get("spans", "")
    return "shared" in spans_type


def trace_summaries(spans: DataFrame) -> DataFrame:
    """Scalar per-trace rollup (oracle-friendly projection of A2).

    Columns: trace_id, span_count, trace_timestamp (micros),
    root_name (name of the root span = NULL parent_id),
    trace_duration (max(timestamp+duration) - min(timestamp)),
    services (sorted distinct local services, comma-joined),
    error_count.
    """
    return (
        spans.groupBy("trace_id")
        .agg(
            F.count(F.lit(1)).alias("span_count"),
            F.min("timestamp").alias("trace_timestamp"),
            F.min(F.when(F.col("parent_id").isNull(), F.col("name"))).alias(
                "root_name"
            ),
            (
                F.max(F.col("timestamp") + F.coalesce(F.col("duration"), F.lit(0)))
                - F.min("timestamp")
            ).alias("trace_duration"),
            F.array_join(F.array_sort(F.collect_set("local_service")), ",").alias(
                "services"
            ),
            F.sum(F.col("is_error").cast("long")).alias("error_count"),
        )
    )


def span_tree(
    spans: DataFrame, cost: bool = True, path: bool = True
) -> DataFrame:
    """Each span's place in its trace's tree — depth (root = 0), path
    cost and root path — built in one trace-local pass, the batch form of
    the reference's in-memory span tree (zipkin2.internal.SpanNode, built
    per trace at KafkaStorageHttpService.java:86).

    Plan: one ``trace_id`` shuffle numbers each span within its trace
    (``row_number`` over ``id``); a trace-qualified left join gives each
    span its parent's number; each trace's spans are then collected into
    one array ordered by that number.  Inside the array, ancestor pointers
    double for ceil(log2(n)) rounds (n = the trace's span count, so
    2^rounds covers the deepest possible chain).  Array reads are O(1), so
    there is no driver loop, no per-round job and no convergence scalar.

    State per span: its ancestor ``anc`` and what the half-open chain
    (anc, span] holds — ``dist`` hops, ``w`` summed durations (NULL counts
    0), ``acc`` the '>'-prefixed services.  A round composes each chain
    with its ancestor's; a root is its own ancestor with an empty chain.
    At the end, the ancestor's own duration and service close the chain.

    A span is kept only if its final ancestor is a root (NULL
    parent_id).  So orphans (parent id absent from the trace), self-parents
    and cycles drop out of every column, as in the recursive-CTE oracles
    that descend from the roots.  A chain longer than n - 1 hops is on or
    behind a cycle; its ``acc`` is cleared, so no span holds more than the
    n - 1 names a well-formed chain can.  A NULL local_service on the path
    makes the whole root_path NULL, as the oracle's ``||`` does.

    Contract: ``(trace_id, id)`` names one span.  A trace that repeats a
    span id (zipkin2's shared client/server halves) fails the build with
    an error naming the trace; zipkin2's rule that makes the server half a
    child of the client half is the way to lift this.

    ``cost`` needs a ``duration`` column, ``path`` a ``local_service``
    column; each adds its state and output column only when asked.

    Scale: one task holds one whole trace — O(spans) memory for depth and
    cost, O(spans x depth) service names for root paths, the size of that
    trace's output.  Cross-trace parallelism is full.

    Columns: trace_id, id, depth[, path_cost][, root_path].
    """
    # Per-span state: (name, value for span x at index i before the first
    # round, value after one doubling round over the previous state t).
    state = [
        ("anc", "coalesce(x.pidx, i)", "t.anc[t.anc[i]]"),
        ("dist", "IF(x.pidx IS NULL, 0L, 1L)", "t.dist[i] + t.dist[t.anc[i]]"),
    ]
    out = [("depth", "t.dist[i]")]
    carried = {}  # span columns the state reads, by struct field name
    if cost:
        carried["dur"] = F.coalesce(F.col("duration"), F.lit(0)).cast("long")
        state.append(
            ("w", "IF(x.pidx IS NULL, 0L, x.dur)", "t.w[i] + t.w[t.anc[i]]")
        )
        out.append(("path_cost", "t.w[i] + s[t.anc[i]].dur"))
    if path:
        carried["svc"] = F.col("local_service")
        state.append((
            "acc",
            "IF(x.pidx IS NULL, '', concat('>', x.svc))",
            "IF(t.dist[i] + t.dist[t.anc[i]] >= size(s), '',"
            " concat(t.acc[t.anc[i]], t.acc[i]))",
        ))
        out.append(("root_path", "concat(s[t.anc[i]].svc, t.acc[i])"))

    w = Window.partitionBy("trace_id").orderBy("id")
    nodes = spans.select(
        "trace_id",
        "id",
        "parent_id",
        *[c.alias(n) for n, c in carried.items()],
        (F.row_number().over(w) - 1).alias("idx"),
        (F.lag("id").over(w) == F.col("id")).alias("dup"),
    )
    parents = nodes.select(
        F.col("trace_id").alias("_ptid"),
        F.col("id").alias("_pid"),
        F.col("idx").alias("pidx"),
    )
    trees = (
        nodes.join(
            parents,
            (F.col("trace_id") == F.col("_ptid"))
            & (F.col("parent_id") == F.col("_pid")),
            "left",
        )
        .groupBy("trace_id")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        "idx",
                        "pidx",
                        F.col("parent_id").isNull().alias("root"),
                        "id",
                        *carried,
                    )
                )
            ).alias("s"),
            F.max("dup").alias("dup"),
        )
    )
    init = ", ".join(f"'{n}', transform(s, (x, i) -> {e})" for n, e, _ in state)
    step = ", ".join(f"'{n}', transform(t.{n}, (v, i) -> {e})" for n, _, e in state)
    read = ", ".join(f"'{n}', {e}" for n, e in out)
    # The read-out stays in aggregate's finish lambda: read from a later
    # projection, the aggregate is inlined and evaluated once per field.
    walk = f"""
        CASE WHEN dup THEN raise_error(concat(
            'span_tree: a span id repeats within trace ', trace_id))
        ELSE aggregate(
            array_repeat(0, CAST(ceil(log2(size(s))) AS INT)),
            named_struct({init}),
            (t, r) -> named_struct({step}),
            t -> filter(
                transform(s, (x, i) -> named_struct(
                    'id', x.id, 'keep', s[t.anc[i]].root, {read})),
                y -> y.keep))
        END
    """
    return trees.selectExpr("trace_id", f"inline({walk})").select(
        "trace_id", "id", *[n for n, _ in out]
    )


def span_depths(spans: DataFrame) -> DataFrame:
    """Per-span depth in the trace tree (root = 0); see :func:`span_tree`.
    Needs only trace_id, id and parent_id.  Returns: trace_id, id, depth."""
    return span_tree(spans, cost=False, path=False)


def depth_histogram(spans: DataFrame) -> DataFrame:
    """Span-count per tree depth across all traces — the shape audit for
    trace forests (chains vs bushy fan-out).  Columns: depth, n_spans."""
    return (
        span_depths(spans)
        .groupBy("depth")
        .agg(F.count(F.lit(1)).alias("n_spans"))
    )


def span_path_costs(spans: DataFrame) -> DataFrame:
    """Root-to-span path cost: the sum of span durations along the
    ancestry, endpoints inclusive, NULL durations counting 0; see
    :func:`span_tree`.  Returns: trace_id, id, path_cost, depth."""
    return span_tree(spans, path=False).select(
        "trace_id", "id", "path_cost", "depth"
    )


def critical_paths(spans: DataFrame) -> DataFrame:
    """Per-trace critical path: the max root-to-span duration sum — the
    lower bound on trace wall time if every sibling ran fully parallel.
    Columns: trace_id, n_spans, critical_path_us.
    """
    return (
        span_path_costs(spans)
        .groupBy("trace_id")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.max("path_cost").alias("critical_path_us"),
        )
    )


def self_time_by_service(spans: DataFrame) -> DataFrame:
    """Per-service self time: span duration minus the duration of its
    direct children (time attributable to the span itself rather than its
    callees — negative when children overlap their parent, which async
    fan-out legitimately produces, so no clamping).  One children
    aggregation + one left join, both keyed on (trace_id, span id) — span
    ids are only per-trace unique in zipkin2, and the shared key also means
    both stages shuffle on the same columns so AQE plans a single exchange
    reuse at 100 TB.  Columns: local_service, n_spans, self_time_us.
    """
    base = spans.select(
        "trace_id",
        "local_service",
        "id",
        "parent_id",
        F.coalesce(F.col("duration"), F.lit(0)).cast("long").alias("dur"),
    )
    child_sums = (
        base.filter(F.col("parent_id").isNotNull())
        .groupBy("trace_id", "parent_id")
        .agg(F.sum("dur").alias("child_dur"))
        .select(
            F.col("trace_id").alias("_ctid"),
            F.col("parent_id").alias("_pid"),
            "child_dur",
        )
    )
    return (
        base.join(
            child_sums,
            (F.col("id") == F.col("_pid")) & (F.col("trace_id") == F.col("_ctid")),
            "left",
        )
        .groupBy("local_service")
        .agg(
            F.count(F.lit(1)).alias("n_spans"),
            F.sum(
                F.col("dur") - F.coalesce(F.col("child_dur"), F.lit(0))
            ).alias("self_time_us"),
        )
    )


def trace_concurrency(spans: DataFrame) -> DataFrame:
    """Per-trace maximum span concurrency by sweep line: explode every
    span into a +1 event at its start and a -1 event at its end, run a
    per-trace cumulative sum in event order, and take the running max —
    the "how parallel did this trace actually get" profile that interval
    overlap queries need and no built-in Spark operator expresses.

    Interval model (deterministic, oracle-reproducible): a span is active
    over the closed-open [timestamp, timestamp + max(duration, 1)) — null
    and zero durations count as 1 micro so every span is concurrent with
    itself at its own instant.  At equal event times, ends sort before
    starts (delta ascending), so back-to-back spans (A ends exactly when
    B starts) never count as overlapping.

    Output: trace_id, n_spans, max_concurrent.

    Scale (100 TB): the sweep is a window PARTITIONED BY trace_id — work
    and memory bound by the trace size (the 50k-span hot-trace stress in
    tests/test_properties.py bounds this shape), with full cross-trace
    parallelism and a single shuffle on trace_id that co-partitions with
    every other per-trace operator.  A service- or corpus-level sweep
    (one giant partition) would instead use the two-level distributed
    prefix sum of text_analysis.token_budget_sample: bucket events by
    time range, sum per bucket, broadcast bucket offsets, then run the
    windowed sum within buckets only.
    """
    end_ts = F.col("timestamp") + F.greatest(
        F.coalesce(F.col("duration"), F.lit(0)), F.lit(1)
    )
    ev = spans.select(
        "trace_id",
        F.explode(
            F.array(
                F.struct(
                    F.col("timestamp").alias("ts"), F.lit(1).alias("delta")
                ),
                F.struct(end_ts.alias("ts"), F.lit(-1).alias("delta")),
            )
        ).alias("e"),
    ).select("trace_id", F.col("e.ts").alias("ts"), F.col("e.delta").alias("delta"))
    w = (
        Window.partitionBy("trace_id")
        .orderBy("ts", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = ev.withColumn("running", F.sum("delta").over(w))
    return running.groupBy("trace_id").agg(
        (F.count(F.lit(1)) / F.lit(2)).cast("long").alias("n_spans"),
        F.max("running").cast("long").alias("max_concurrent"),
    )


def trace_path_signatures(spans: DataFrame) -> DataFrame:
    """Trace-topology fingerprint frequencies: each trace's services in
    FIRST-SEEN order (min span timestamp per service, service name as
    the tiebreak) joined into a '>'-signature, counted corpus-wide — the
    "what call paths exist and how often" rollup dependency links can't
    answer (links lose path ORDER; two different paths can share an edge
    multiset).  The aggregation-side analog of the per-trace tree the
    reference materializes for storage (TraceStorageTopology.java
    groups whole traces; this summarizes their service order).

    Columns: path_signature, n_services, n_traces.

    Scale (100 TB): two partial-agged shuffles sharing the trace_id key
    (per-(trace, service) min -> per-trace sort_array collapse), then a
    signature-keyed count whose cardinality is the distinct-path count —
    tiny next to span volume.  The sort is a per-ROW array_sort over a
    trace's distinct services, never a global or window sort.
    """
    per_svc = (
        spans.filter(F.col("local_service").isNotNull())
        .groupBy("trace_id", "local_service")
        .agg(F.min("timestamp").alias("t0"))
    )
    sig = per_svc.groupBy("trace_id").agg(
        F.concat_ws(
            ">",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            "t0", F.col("local_service").alias("s")
                        )
                    )
                ),
                lambda x: x["s"],
            ),
        ).alias("path_signature"),
        F.count(F.lit(1)).alias("n_services"),
    )
    return sig.groupBy("path_signature", "n_services").agg(
        F.count(F.lit(1)).alias("n_traces")
    )


def orphan_span_stats(spans: DataFrame, drop_hex: str = "0") -> DataFrame:
    """Broken-linkage audit under simulated span loss: drop every span
    whose id ends in ``drop_hex`` (a deterministic ~1/16 "lossy ingest"
    sample — the dedup family's derived-snapshot pattern applied to
    trace quality), then count per service how many SURVIVING spans
    reference a parent that no longer exists.  This is the
    data-quality panel behind the span tree's orphan-drop semantics
    (:func:`span_tree`): it quantifies how much of each
    service's tree would silently fall out.

    Columns: local_service, n_spans, n_orphans, orphan_rate (round4).

    Scale (100 TB): one trace-keyed left-anti self-join (co-partitions
    with every other per-trace stage) + a service-keyed partial agg;
    the perturbation is a rowwise filter, no extra pass.
    """
    surv = spans.filter(F.substring("id", 16, 1) != drop_hex)
    parents = surv.select(
        F.col("trace_id").alias("_t"), F.col("id").alias("_p")
    )
    orphans = (
        surv.filter(F.col("parent_id").isNotNull())
        .join(
            parents,
            (F.col("trace_id") == F.col("_t"))
            & (F.col("parent_id") == F.col("_p")),
            "left_anti",
        )
        .groupBy("local_service")
        .agg(F.count(F.lit(1)).alias("n_orphans"))
    )
    totals = surv.groupBy("local_service").agg(
        F.count(F.lit(1)).alias("n_spans")
    )
    return totals.join(orphans, "local_service", "left").select(
        "local_service",
        "n_spans",
        F.coalesce(F.col("n_orphans"), F.lit(0))
        .cast("long")
        .alias("n_orphans"),
        round4(
            F.coalesce(F.col("n_orphans"), F.lit(0)) / F.col("n_spans")
        ).alias("orphan_rate"),
    )


def span_root_paths(spans: DataFrame) -> DataFrame:
    """Per-span root-to-span SERVICE path ('>'-joined, root first) — the
    derivation behind route-level analytics (error paths, route sampling);
    see :func:`span_tree` for the walk, the dropped spans and the NULL
    rule.  Like path costs, it is built once at ingest and persisted
    (sources.spans.root_paths_table).  Columns: trace_id, id, root_path.
    """
    return span_tree(spans, cost=False).select("trace_id", "id", "root_path")


def error_paths(spans: DataFrame, paths: DataFrame | None = None) -> DataFrame:
    """Root-to-error service paths, counted corpus-wide: for every ERROR
    span, the ordered chain of services from its trace root down to it —
    "which call path do failures concentrate on", the drill-down a
    tracing UI offers from the error rate panel (and the path-ORDERED
    complement of z_service_error_rate, which loses the route).

    Pass a persisted ``paths`` relation (:func:`span_root_paths` /
    sources.spans.root_paths_table) to skip the tree walk — the serving
    shape: one error-span semi-join + a path-keyed rollup whose
    cardinality is the distinct failing-route count.

    Columns: error_path, n_errors.
    """
    if paths is None:
        paths = span_root_paths(spans)
    err = spans.filter(F.col("is_error")).select("trace_id", "id")
    return (
        paths.join(err, ["trace_id", "id"])
        .select(F.col("root_path").alias("error_path"))
        .groupBy("error_path")
        .agg(F.count(F.lit(1)).alias("n_errors"))
    )


SLOW_SPAN_US = 200_000
OVERLAP_BUCKET_US = 1_000_000


def slow_span_concurrency(
    spans: DataFrame,
    slow_us: int = SLOW_SPAN_US,
    bucket_us: int = OVERLAP_BUCKET_US,
) -> DataFrame:
    """For every slow span (duration >= ``slow_us``), the number of OTHER
    same-service spans whose execution interval overlaps it — the "was the
    service busy while this was slow" triage panel, and the engine's
    general bucketed INTERVAL-OVERLAP JOIN kernel.

    Spark has no native interval join; the naive formulation is a theta
    join (BroadcastNestedLoop — quadratic per service, dead at scale).
    This kernel makes it an EQUI-join: both sides explode to the
    ``bucket_us`` time buckets their [ts, ts + max(duration,1)) interval
    covers (fanout ceil(duration/bucket)+1, bounded by span length, never
    by data volume), join on (service, bucket), then refine with the
    exact overlap predicate.  A pair can meet in several buckets; it is
    counted exactly once at bucket == max(start_a, start_b) div bucket —
    an overlap guarantees max(start) < min(end), so that bucket is common
    to both intervals and no DISTINCT shuffle is needed.  The interval
    model matches :func:`trace_concurrency` (closed-open, min width 1 us,
    touching endpoints do not overlap).

    At 100 TB: one shuffle on (service, bucket) whose partitions hold
    only spans ACTIVE in the same second per service; skewed hot seconds
    split under AQE.  Bucket width tunes fanout vs candidate mass exactly
    like LSH band width in the dedup family.

    Output: trace_id, id, local_service, duration, concurrent_spans.
    """
    # integer div on both bounds (see the window_active_spans note on
    # double-rounded quotients at exact boundaries)
    upper = F.expr(
        f"(timestamp + greatest(coalesce(duration, 0), 1) - 1)"
        f" div {bucket_us}"
    )
    covered = F.explode(
        F.sequence(F.expr(f"timestamp div {bucket_us}"), upper)
    )

    base = spans.filter(F.col("local_service").isNotNull()).select(
        "trace_id", "id", "local_service", "timestamp", "duration"
    )
    slow = base.filter(F.col("duration") >= F.lit(int(slow_us)))

    s = slow.select(
        F.col("trace_id").alias("s_tid"),
        F.col("id").alias("s_id"),
        F.col("local_service").alias("svc"),
        F.col("timestamp").alias("s_ts"),
        F.col("duration").alias("s_dur"),
        covered.alias("bucket"),
    )
    o = base.select(
        F.col("trace_id").alias("o_tid"),
        F.col("id").alias("o_id"),
        F.col("local_service").alias("svc"),
        F.col("timestamp").alias("o_ts"),
        F.col("duration").alias("o_dur"),
        covered.alias("bucket"),
    )
    s_end = F.col("s_ts") + F.greatest(
        F.coalesce(F.col("s_dur"), F.lit(0)), F.lit(1)
    )
    o_end = F.col("o_ts") + F.greatest(
        F.coalesce(F.col("o_dur"), F.lit(0)), F.lit(1)
    )
    meet_once = F.col("bucket") == F.expr(
        f"greatest(s_ts, o_ts) div {bucket_us}"
    )
    counts = (
        s.join(o, ["svc", "bucket"])
        .where(
            ~((F.col("o_tid") == F.col("s_tid")) & (F.col("o_id") == F.col("s_id")))
            & (F.col("o_ts") < s_end)
            & (o_end > F.col("s_ts"))
            & meet_once
        )
        .groupBy("s_tid", "s_id")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return (
        slow.join(
            counts,
            (slow["trace_id"] == counts["s_tid"])
            & (slow["id"] == counts["s_id"]),
            "left",
        )
        .select(
            "trace_id",
            "id",
            "local_service",
            "duration",
            F.coalesce(F.col("c"), F.lit(0).cast("long")).alias(
                "concurrent_spans"
            ),
        )
    )


def service_cooccurrence(spans: DataFrame) -> DataFrame:
    """Market-basket association mining over traces: for every pair of
    services that appear in the same trace, the co-occurrence support and
    LIFT — "when svc_a is in a trace, how much more likely than chance is
    svc_b" — the coupling panel behind blast-radius and canary-scope
    decisions (the itemset kernel of Agrawal & Srikant 1994, with traces
    as baskets and services as items).

    Plan shape: ONE distinct partial-agg collapses the corpus to
    (trace, service) membership rows; the pair join is trace-keyed
    (co-partitioned with the distinct's shuffle, per-trace fanout bounded
    by |services-per-trace| choose 2, never corpus x corpus); both
    marginals are k-row relations broadcast back onto the pair counts.
    Lift is exact integer micro-units: pair * N * 1e6 div (a * b) — no
    float accumulation, engine-portable (at 100 TB cardinalities the same
    expression upgrades to DECIMAL(38,0); int64 holds to ~9e18 products).

    Output: svc_a, svc_b, pair_traces, a_traces, b_traces, lift_micro.
    """
    member = spans.filter(F.col("local_service").isNotNull()).select(
        "trace_id", F.col("local_service").alias("svc")
    )
    # No distinct pass: basket_lift's collect_set dedups memberships
    # map-side inside the one basket-keyed shuffle.
    out = basket_lift(member, "trace_id", "svc")
    return out.select(
        F.col("item_a").alias("svc_a"),
        F.col("item_b").alias("svc_b"),
        F.col("pair_baskets").alias("pair_traces"),
        F.col("a_baskets").alias("a_traces"),
        F.col("b_baskets").alias("b_traces"),
        "lift_micro",
    )


def basket_lift(
    member: DataFrame,
    basket_col: str,
    item_col: str,
    flavor: str = "array",
) -> DataFrame:
    """The generic market-basket support+lift kernel behind
    :func:`service_cooccurrence` (traces x services) and the
    order-basket registry row (orders x part brands).

    Two flavors, chosen by BASKET CARDINALITY (an r10 measured
    lesson, both directions):

    - ``flavor="array"`` (default): ONE basket-keyed shuffle collects
      each basket's item set (deduping map-side — callers need no
      distinct pass) and pairs GENERATE from the array (double explode
      under a<b); the collected relation feeds three consumers
      (pairs, margins, total) so it is lazily checkpointed.  Wins when
      baskets are FEW (traces, minutes: <= ~1e5 baskets) — the
      service flavor went 2.47 -> 0.7 s at sf1 in the full bench.
    - ``flavor="selfjoin"``: the distinct membership relation
      self-joins on the basket key and margins/total partial-agg
      straight off it (``member`` must then be DISTINCT — the brand
      caller feeds the materialized order_brands parquet).  Wins at
      CORPUS-SCALE basket counts (millions of orders): collect_set is
      an object agg that falls back to sort-based past ~128 keys per
      partition and its per-basket array materialization thrashes
      block storage in long sessions — the brand row measured 4.8 s
      (array) vs 1.7 s (selfjoin) at sf1 inside the 275-query bench,
      despite the array flavor winning the same comparison in an idle
      session.  Measure in the serving context, not just idle.
    - ``flavor="bitmask"`` (r13): corpus-scale baskets AND a SMALL item
      domain (<= 60 distinct items, e.g. the 25 TPC-H brands).  Each
      basket's item set becomes one int64 (sum of 1<<idx over a
      rank-indexed broadcast item dim — a pure codegen agg, no object
      state), baskets collapse to DISTINCT-MASK counts, and pairs /
      margins / total all expand from that mask relation — thousands
      of rows however many baskets exist.  One corpus-keyed exchange
      total (the basket groupBy, partial-agg'd map-side) vs the
      selfjoin's two membership shuffles + sort-merge pair join.
      Same contracts as selfjoin (member DISTINCT, items non-null)
      plus the <= 60-item cap: bit indexes beyond 63 would wrap
      Java's shift — callers gate on known domain cardinality.
      Item rank comes from a broadcast triangle join on the tiny dim
      (count of items <= self), not a window or a collect, so the
      no-unpartitioned-window and no-driver-collect rules hold.

    The array flavor's lazy localCheckpoint is non-reliable (executor
    loss fails the query) and its blocks persist until LRU eviction —
    acceptable because the flavor dispatch gates it to <= ~1e5 baskets;
    SCALE.md "Round 11: the lazy-localCheckpoint trade-off" states the
    contract once for all call sites.

    Output: item_a, item_b, pair_baskets, a_baskets, b_baskets,
    lift_micro.
    """
    member = member.select(
        F.col(basket_col).alias("_bk"), F.col(item_col).alias("_it")
    )
    if flavor == "bitmask":
        dim = member.select("_it").distinct()
        # Rank by triangle join (idx = items <= self, minus one): the
        # dim is <= 60 rows, so this is a broadcast nest of at most
        # 60^2 comparisons — and idx order IS item sort order, so
        # idx_a < idx_b <=> item_a < item_b and the pair orientation
        # matches the other flavors exactly.
        # Checkpointed for the same reason as mask_counts below: the
        # mask build plus three broadcast name-mapping joins would each
        # re-derive the dim distinct from the corpus; the relation is
        # <= 60 rows.
        idx = (
            dim.alias("l")
            .join(F.broadcast(dim.alias("r")), F.col("r._it") <= F.col("l._it"))
            .groupBy(F.col("l._it").alias("_it"))
            .agg((F.count(F.lit(1)) - 1).cast("int").alias("_idx"))
            .localCheckpoint(eager=False)
        )
        # Runtime cap guard (ADVICE r13): shiftleft wraps at >= 64 and
        # the _bits filter below only scans 0..59, so an oversized item
        # domain would silently corrupt every count.  raise_error in the
        # shift expression fails the build executor-side the moment an
        # out-of-range index appears — no extra job, no driver collect.
        masks = (
            member.join(F.broadcast(idx), "_it")
            .groupBy("_bk")
            .agg(
                F.sum(
                    F.expr(
                        "CASE WHEN _idx < 60 THEN"
                        " shiftleft(CAST(1 AS BIGINT), _idx)"
                        " ELSE CAST(raise_error(concat("
                        "'basket_lift flavor=bitmask supports <= 60"
                        " distinct items; got item index ', _idx,"
                        " ' — use flavor=selfjoin or array'))"
                        " AS BIGINT) END"
                    )
                ).alias("_mask")
            )
        )
        # Lazily checkpointed: pairs, BOTH margin broadcasts, and the
        # total would otherwise each re-run the corpus subtree (the
        # broadcast builds don't share exchanges — measured 9.3 s vs
        # 2.2 s at sf1).  Unlike the array flavor's basket checkpoint
        # this relation is DISTINCT-MASK sized (<= 2^|items|, ~1e4 for
        # the brand row), so the non-reliable-checkpoint trade-off in
        # SCALE.md costs KBs here.
        mask_counts = (
            masks.groupBy("_mask")
            .agg(F.count(F.lit(1)).alias("_c"))
            .withColumn(
                "_bits",
                F.expr(
                    "filter(sequence(0, 59),"
                    " i -> (shiftright(_mask, i) & 1) = 1)"
                ),
            )
            .localCheckpoint(eager=False)
        )
        rev = idx.select(F.col("_idx"), F.col("_it"))
        pairs = (
            mask_counts.select(
                F.explode("_bits").alias("_ia"), "_bits", "_c"
            )
            .select(
                "_ia",
                F.explode(F.expr("filter(_bits, x -> x > _ia)")).alias(
                    "_ib"
                ),
                "_c",
            )
            .groupBy("_ia", "_ib")
            .agg(F.sum("_c").alias("pair_baskets"))
            .join(
                F.broadcast(
                    rev.select(
                        F.col("_idx").alias("_ia"),
                        F.col("_it").alias("item_a"),
                    )
                ),
                "_ia",
            )
            .join(
                F.broadcast(
                    rev.select(
                        F.col("_idx").alias("_ib"),
                        F.col("_it").alias("item_b"),
                    )
                ),
                "_ib",
            )
            .select("item_a", "item_b", "pair_baskets")
        )
        marg = (
            mask_counts.select(F.explode("_bits").alias("_i"), "_c")
            .groupBy("_i")
            .agg(F.sum("_c").alias("n_baskets"))
            .join(
                F.broadcast(rev.select(F.col("_idx").alias("_i"), "_it")),
                "_i",
            )
            .select("_it", "n_baskets")
        )
        total = mask_counts.agg(F.sum("_c").alias("n_total"))
    elif flavor == "selfjoin":
        pairs = (
            member.alias("l")
            .join(
                member.alias("r"),
                (F.col("l._bk") == F.col("r._bk"))
                & (F.col("l._it") < F.col("r._it")),
            )
            .groupBy(
                F.col("l._it").alias("item_a"),
                F.col("r._it").alias("item_b"),
            )
            .agg(F.count(F.lit(1)).alias("pair_baskets"))
        )
        marg = member.groupBy("_it").agg(
            F.count(F.lit(1)).alias("n_baskets")
        )
        total = member.select(F.count_distinct("_bk").alias("n_total"))
    else:
        baskets = (
            member.groupBy("_bk")
            .agg(F.collect_set("_it").alias("_items"))
            .localCheckpoint(eager=False)
        )
        pairs = (
            baskets.select(F.explode("_items").alias("item_a"), "_items")
            .select(
                "item_a",
                F.explode(
                    F.filter("_items", lambda x: x > F.col("item_a"))
                ).alias("item_b"),
            )
            .groupBy("item_a", "item_b")
            .agg(F.count(F.lit(1)).alias("pair_baskets"))
        )
        marg = (
            baskets.select(F.explode("_items").alias("_it"))
            .groupBy("_it")
            .agg(F.count(F.lit(1)).alias("n_baskets"))
        )
        total = baskets.agg(F.count(F.lit(1)).alias("n_total"))
    return (
        pairs.join(
            F.broadcast(marg.select(F.col("_it").alias("item_a"),
                                    F.col("n_baskets").alias("a_baskets"))),
            "item_a",
        )
        .join(
            F.broadcast(marg.select(F.col("_it").alias("item_b"),
                                    F.col("n_baskets").alias("b_baskets"))),
            "item_b",
        )
        .crossJoin(F.broadcast(total))
        .select(
            "item_a",
            "item_b",
            "pair_baskets",
            "a_baskets",
            "b_baskets",
            F.expr(
                "(pair_baskets * n_total * 1000000)"
                " div (a_baskets * b_baskets)"
            ).alias("lift_micro"),
        )
    )


def trace_idle_gaps(spans: DataFrame) -> DataFrame:
    """Per-trace INTERVAL-UNION sweep: wall-clock duration vs the union
    of span execution intervals — idle time (nothing executing) and gap
    count per trace, the "where does the latency hide between spans"
    triage panel (queueing, network, lock waits), and the complement of
    :func:`critical_paths`' longest-chain view.

    The classic sweep re-expressed relationally: order spans by start
    within the trace, carry the running MAX end over earlier spans, and
    a span opens a gap iff its start exceeds that carry — so
    idle = sum(positive carries), union = wall - idle, with exact
    integer micros throughout.  ONE trace-keyed window (the same
    (partition, order) spec every trace operator shuffles on) + one
    grouped agg; no self-join, no per-trace collect.

    Output: trace_id, n_spans, wall_us, busy_us, idle_us, n_gaps.
    """
    end = F.col("timestamp") + F.coalesce(F.col("duration"), F.lit(0))
    w = (
        Window.partitionBy("trace_id")
        .orderBy("timestamp", "id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    g = (
        spans.filter(F.col("timestamp").isNotNull())
        .select("trace_id", "id", "timestamp", end.alias("e"))
        .withColumn("_prev_end", F.max("e").over(w))
        .withColumn(
            "_gap",
            F.when(
                F.col("_prev_end").isNotNull()
                & (F.col("timestamp") > F.col("_prev_end")),
                F.col("timestamp") - F.col("_prev_end"),
            ).otherwise(F.lit(0)),
        )
    )
    return g.groupBy("trace_id").agg(
        F.count(F.lit(1)).alias("n_spans"),
        (F.max("e") - F.min("timestamp")).alias("wall_us"),
        (F.max("e") - F.min("timestamp") - F.sum("_gap")).alias("busy_us"),
        F.sum("_gap").alias("idle_us"),
        F.sum((F.col("_gap") > 0).cast("long")).alias("n_gaps"),
    )


def fanout_hotspots(spans: DataFrame) -> DataFrame:
    """Per-service fan-out profile: how many DIRECT children a span of
    this service has (avg in exact micro-units, max, and the count of
    spans that fan out at all) — the "which tier multiplies requests"
    panel beside depth (:func:`span_depths`) and idle
    (:func:`trace_idle_gaps`) in the tree-shape family.

    One (trace, parent) partial agg counts children; a trace-co-keyed
    join attributes them to the parent span's service; a final
    |services|-row agg.  Parents with zero children count toward the
    average (left join, coalesce 0) so the ratio is per-span, not
    per-parent.

    Output: local_service, n_spans, fanout_avg_micro, fanout_max,
    n_branching.
    """
    kids = (
        spans.filter(F.col("parent_id").isNotNull())
        .groupBy(
            F.col("trace_id").alias("k_tid"),
            F.col("parent_id").alias("k_pid"),
        )
        .agg(F.count(F.lit(1)).alias("n_children"))
    )
    joined = spans.join(
        kids,
        (F.col("trace_id") == F.col("k_tid")) & (F.col("id") == F.col("k_pid")),
        "left",
    ).select(
        "local_service",
        F.coalesce("n_children", F.lit(0)).alias("nc"),
    )
    return joined.groupBy("local_service").agg(
        F.count(F.lit(1)).alias("n_spans"),
        F.expr("(sum(nc) * 1000000) div count(1)").alias(
            "fanout_avg_micro"
        ),
        F.max("nc").alias("fanout_max"),
        F.sum((F.col("nc") > 0).cast("long")).alias("n_branching"),
    )
