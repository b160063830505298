"""Physical-plan assertions: the shapes that matter at 100 TB.

These tests read ``explain(formatted)`` output and pin:
- parquet column pruning (ReadSchema carries only needed columns)
- predicate pushdown (PushedFilters non-empty for point lookups)
- the query API's key lookups: get_trace's equality reaches the cached
  spans scan; names and autocomplete lookups collect with no Spark job
- top-k compiles to TakeOrderedAndProject (no global sort)
- the 1-row query side of ANN joins is broadcast
- whole-stage codegen covers the aggregation pipeline
"""

from __future__ import annotations

import io
import uuid
from contextlib import redirect_stdout

import pytest

from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.operators import trace_summaries
from zipkin_storage_kafka_spark.operators.similarity import cosine_topk
from zipkin_storage_kafka_spark.plans.query_api import SpanStore
from zipkin_storage_kafka_spark.sources.spans import (
    spans_from_events,
    spans_table,
    spans_with_nested,
)
from zipkin_storage_kafka_spark.sources.tables import load_table


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_column_pruning_on_events_scan(spark, sf_dir):
    """A 2-column projection must not read all 6 events columns."""
    df = load_table(spark, sf_dir, "events").select("event_id", "user_id")
    plan = _plan(df)
    assert "ReadSchema" in plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "event_id" in read_schema and "user_id" in read_schema
    assert "props" not in read_schema and "event_type" not in read_schema


def test_predicate_pushdown_on_point_lookup(spark, sf_dir):
    df = load_table(spark, sf_dir, "events").filter(F.col("user_id") == 7)
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "user_id" in pushed and "7" in pushed


def test_get_trace_equality_reaches_cached_scan(spark, sf_dir):
    """Only the argument is normalized: the stored trace_id is compared to
    a literal, which the in-memory scan takes as a predicate."""
    spans = spans_table(spark, sf_dir)
    tid = spans.select("trace_id").first()[0]
    df = SpanStore(spans).get_trace(tid.upper().lstrip("0"))
    plan = _plan(df, "simple")  # one line per node, with its arguments
    scan = [l for l in plan.splitlines() if "InMemoryTableScan" in l][0]
    assert f"= {tid})]" in scan, scan  # in the scan's predicate list
    assert "lpad" not in plan and "lower(" not in plan, plan


def _jobs_to_collect(df) -> tuple[int, list]:
    """Spark jobs ``df.collect()`` runs (counted by job group) and its rows."""
    sc = df.sparkSession.sparkContext
    group = f"lookup-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        rows = df.collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group)), rows


def _key_lookups(store: SpanStore, service: str, key: str) -> dict:
    return {
        "service_names": lambda: store.get_service_names(),
        "span_names": lambda: store.get_span_names(service),
        "remote_service_names": lambda: store.get_remote_service_names(service),
        "autocomplete_keys": lambda: store.get_autocomplete_keys(),
        "autocomplete_values": lambda: store.get_autocomplete_values(key),
    }


@pytest.mark.parametrize(
    "service,key,hit",
    [("svc_1", "environment", True), ("no_such_svc", "none", False)],
)
def test_key_lookups_run_no_spark_job(spark, sf_dir, service, key, hit):
    spans = spans_table(spark, sf_dir)
    store = SpanStore(spans)
    for name, lookup in _key_lookups(store, service, key).items():
        lookup().collect()  # the first lookup may build the index
        jobs, rows = _jobs_to_collect(lookup())
        assert jobs == 0, name
        # the two lookups without an argument answer even on a miss
        keyless = name in ("service_names", "autocomplete_keys")
        assert bool(rows) == (hit or keyless), name
    # another store over the same relation shares its index
    for name, lookup in _key_lookups(SpanStore(spans), service, key).items():
        assert _jobs_to_collect(lookup())[0] == 0, name


def test_empty_autocomplete_index_runs_no_spark_job(spark, sf_dir):
    spans = spans_table(spark, sf_dir).filter(F.col("env").isNull())
    store = SpanStore(spans, autocomplete_keys=("environment",))
    for lookup in (
        store.get_autocomplete_keys,
        lambda: store.get_autocomplete_values("environment"),
    ):
        assert lookup().collect() == []
        assert _jobs_to_collect(lookup()) == (0, [])


def test_key_lookups_same_on_nested_shape(spark, sf_dir):
    """The index builds from either span shape with the same answers."""
    scalar = SpanStore(spans_table(spark, sf_dir))
    nested = SpanStore(spans_with_nested(spark, sf_dir))
    for service, key in (("svc_1", "environment"), ("svc_2", "k"), ("nope", "x")):
        want = _key_lookups(scalar, service, key)
        got = _key_lookups(nested, service, key)
        for name in want:
            assert got[name]().collect() == want[name]().collect(), name


def test_topk_is_take_ordered(spark, sf_dir):
    df = (
        trace_summaries(spans_from_events(spark, sf_dir))
        .orderBy(F.col("trace_timestamp").desc(), F.col("trace_id"))
        .limit(10)
    )
    plan = _plan(df)
    assert "TakeOrderedAndProject" in plan, "top-k must not be a global sort"


def test_ann_query_side_broadcast(spark, sf_dir):
    df = cosine_topk(load_table(spark, sf_dir, "embeddings"), 0, 10)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_partial_aggregation_before_shuffle(spark, sf_dir):
    """Map-side combine: two aggregate nodes around the exchange.
    (collect_set forces ObjectHashAggregate — still partial+final.)"""
    df = trace_summaries(spans_from_events(spark, sf_dir))
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2


def test_single_shuffle_for_trace_agg(spark, sf_dir):
    """The lag-window exchange on trace_id is REUSED by the groupBy —
    exactly one hash exchange in the whole summaries plan."""
    # Other tests may have persisted the identical spans subtree; Spark
    # would substitute InMemoryRelation (whose stored plan text contains its
    # own exchange) and mask the shape under test.  Clear, then re-mark the
    # memoized tables for caching afterwards.
    from zipkin_storage_kafka_spark.plans.registry_pipeline import _SHINGLE_CACHE
    from zipkin_storage_kafka_spark.sources.spans import _SPANS_CACHE

    spark.catalog.clearCache()
    df = trace_summaries(spans_from_events(spark, sf_dir))
    plan = _plan(df)
    for cached in list(_SPANS_CACHE.values()) + list(_SHINGLE_CACHE.values()):
        cached.persist()
    n = plan.count("hashpartitioning")
    assert n <= 1, f"expected one shuffle, plan has {n}:\n{plan}"


def test_dependency_join_at_scale_is_sort_merge(spark, sf_dir):
    """With broadcast off (simulating both sides large, the 100 TB case)
    the self-join must plan as a sort-merge join on the composite key —
    no nested-loop, no cartesian."""
    from zipkin_storage_kafka_spark.operators import dependency_links

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = dependency_links(spans_from_events(spark, sf_dir))
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "SortMergeJoin" in plan
    assert "Cartesian" not in plan and "NestedLoop" not in plan


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    """Q6-shape scan-filter-agg: the quantity predicate must reach the
    parquet reader (PushedFilters), and the scan must not read money columns
    it doesn't need."""
    from zipkin_storage_kafka_spark.operators.analytics import revenue_forecast
    from zipkin_storage_kafka_spark.plans.registry_analytics import (
        Q6_HI_US,
        Q6_LO_US,
    )

    df = revenue_forecast(
        load_table(spark, sf_dir, "lineitem"), Q6_LO_US, Q6_HI_US
    )
    plan = _plan(df)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l][0]
    assert "l_quantity" in pushed
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_tax" not in read_schema and "l_orderkey" not in read_schema


def test_ivf_probe_sides_broadcast(spark, sf_dir):
    """IVF ANN: the centroid table and the probe list are both tiny and must
    broadcast — the big embeddings side never shuffles for them."""
    from zipkin_storage_kafka_spark.operators.similarity import ann_topk_ivf

    df = ann_topk_ivf(load_table(spark, sf_dir, "embeddings"), 0, 10)
    plan = _plan(df)
    assert plan.count("BroadcastExchange") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_latest_per_key_uses_window_group_limit(spark, sf_dir):
    """rank<=1 must push into the shuffle as WindowGroupLimit (per-partition
    top-1 before the exchange) rather than ranking every row."""
    from zipkin_storage_kafka_spark.operators import latest_span_per_service

    df = latest_span_per_service(spans_from_events(spark, sf_dir))
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan


def test_semi_join_for_order_priority_check(spark, sf_dir):
    """Q4 shape plans as a semi join (left semi hash/sort-merge), never a
    full inner join + dedup."""
    from zipkin_storage_kafka_spark.operators.analytics import (
        order_priority_check,
    )

    df = order_priority_check(spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan or "Semi" in plan


def test_codegen_on_counter_aggregation(spark, sf_dir):
    from zipkin_storage_kafka_spark.operators import (
        dependency_links,
        windowed_link_counters,
    )

    # AQE defers codegen annotation until the final plan; disable it here so
    # explain() shows the codegen stage stars "*(n)" up front.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        df = windowed_link_counters(
            dependency_links(spans_from_events(spark, sf_dir))
        )
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain()
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "*(" in plan, f"no codegen stages in plan:\n{plan}"


def _simple_plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    return buf.getvalue()


def test_nation_volume_broadcasts_both_dim_roles(spark, sf_dir):
    """Q7 shape: supplier-nation and customer-nation sides are explicitly
    broadcast; the fact-fact (lineitem x orders) join shuffles.  Auto
    broadcast is disabled so the tiny test-scale orders table doesn't mask
    the 100 TB shape — the explicit broadcast() hints must still hold."""
    from zipkin_storage_kafka_spark.operators.analytics import nation_volume

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = _simple_plan(nation_volume(spark, sf_dir))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_rollup_is_single_pass(spark, sf_dir):
    """ROLLUP must expand grouping sets in one scan (an Expand node), not
    re-scan the fact table per grouping level."""
    from zipkin_storage_kafka_spark.operators.analytics import pricing_rollup
    from zipkin_storage_kafka_spark.plans.registry_analytics import Q1_CUTOFF_US

    plan = _simple_plan(
        pricing_rollup(load_table(spark, sf_dir, "lineitem"), Q1_CUTOFF_US)
    )
    assert "Expand" in plan
    assert plan.count("Scan parquet") == 1


def test_user_sessions_single_shuffle_and_sort(spark, sf_dir):
    """Both analytic windows (lag + running sum) share one
    (partition, order) spec -> one exchange on user_id, and the final
    groupBy on (user_id, session_idx) reuses that partitioning (no second
    exchange before the aggregate)."""
    from zipkin_storage_kafka_spark.operators.analytics import user_sessions

    plan = _simple_plan(user_sessions(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


def test_sales_opportunity_is_anti_join(spark, sf_dir):
    """Q22 shape: NOT EXISTS must plan as a left-anti join (match
    multiplicity never materializes), with the scalar threshold broadcast."""
    from zipkin_storage_kafka_spark.operators.analytics import sales_opportunity

    plan = _simple_plan(sales_opportunity(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastExchange" in plan


def test_salted_aggregation_two_phase(spark, sf_dir):
    """Salted counts: exactly two exchanges — (key, salt) partial then
    (key) combine — and results identical to the plain groupBy."""
    from zipkin_storage_kafka_spark.operators.skew import salted_counts

    ev = load_table(spark, sf_dir, "events")
    salted = salted_counts(ev, "event_type", salt_src="event_id", n_salts=8)
    plan = _simple_plan(salted)
    assert plan.count("Exchange hashpartitioning") == 2
    plain = {
        (r["event_type"], r["n"])
        for r in ev.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert {(r["event_type"], r["n"]) for r in salted.collect()} == plain


def test_batch_ann_group_limit_and_broadcast(spark, sf_dir):
    """Batch ANN: the query block must broadcast (no corpus shuffle for the
    scores) and the per-query k-filter must push down as WindowGroupLimit
    so the exchange moves O(partitions * Q * k) rows, not Q * N."""
    from zipkin_storage_kafka_spark.operators.similarity import (
        batch_cosine_topk,
    )
    from zipkin_storage_kafka_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    df = batch_cosine_topk(emb, [3, 7, 21, 42], 5)
    plan = _plan(df)
    assert "WindowGroupLimit" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan


def test_quantize_int8_is_single_projection(spark, sf_dir):
    """Quantization is a per-row transform: no exchange anywhere in the
    plan — one codegen'd projection over the scan."""
    from zipkin_storage_kafka_spark.operators.similarity import quantize_int8
    from zipkin_storage_kafka_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    plan = _plan(quantize_int8(emb))
    assert "Exchange" not in plan, plan


def test_kmeans_assignment_broadcasts_seeds(spark, sf_dir):
    """The seed/centroid side of the k-means assignment join must be
    broadcast — the corpus side must not shuffle for the cross join."""
    from zipkin_storage_kafka_spark.operators.similarity import kmeans_step

    df = kmeans_step(load_table(spark, sf_dir, "embeddings"), k=4)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_boilerplate_broadcasts_only_frequent_set(spark, sf_dir):
    """r14 boilerplate_stats shape: the doc-frequency agg is FILTERED to
    the frequent (boilerplate) set before it is broadcast back to the
    shingle rows — the build side is size-bounded ((100/pct) x
    avg-shingles-per-doc regardless of corpus size), never the full
    distinct-gram relation.  Pinned: (a) the frequent-set restriction
    (the integer `* 100` threshold compare) sits BELOW a
    BroadcastExchange, i.e. it is applied before the relation ships;
    (b) the exchange budget holds — shingle distinct (x2 references:
    counts + frequent set), the df-groupBy on sh, and the final doc_id
    agg; a regression that re-shuffles the probe side for the join
    pushes past it."""
    from zipkin_storage_kafka_spark.operators.dedup import shingles_native
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        boilerplate_stats,
    )

    docs = load_table(spark, sf_dir, "documents")
    df = boilerplate_stats(shingles_native(docs), docs)
    plan = _plan(df)
    assert "BroadcastExchange" in plan
    # the threshold compare must appear in the plan as a Filter (build
    # side restriction), not only inside an aggregate expression
    assert "* 100)" in plan, "frequent-set threshold filter missing"
    n_exchanges = plan.count("hashpartitioning(")
    assert n_exchanges <= 5, f"unexpected extra shuffles: {n_exchanges}"


def test_ngram_novelty_never_joins_gram_text(spark, sf_dir):
    """r14 ngram_novelty shape: first-owner attribution re-aggregates
    the owner relation by first_doc — gram TEXT never crosses a join
    (the pre-r14 plan broadcast/shuffled the corpus-sized owner table
    back onto every shingle row).  Pinned: no join in the plan is keyed
    on the shingle column; every join key is doc_id."""
    from zipkin_storage_kafka_spark.operators.dedup import shingles_native
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        ngram_novelty,
    )

    docs = load_table(spark, sf_dir, "documents")
    df = ngram_novelty(shingles_native(docs), docs)
    plan = _plan(df)
    for line in plan.splitlines():
        if "Join condition" in line or "join keys" in line.lower():
            assert "sh#" not in line, f"gram-keyed join leaked back: {line}"
    # keys lines in formatted plans: "Left keys"/"Right keys"
    for line in plan.splitlines():
        if line.strip().startswith(("Left keys", "Right keys")):
            assert "sh#" not in line, f"gram-keyed join leaked back: {line}"


def test_sketch_is_partial_aggregated(spark, sf_dir):
    """The linear-count sketch must partial-aggregate map-side (two-phase
    HashAggregate) — the shuffle carries bucket rows, not span rows."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        distinct_traces_sketch,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    df = distinct_traces_sketch(spans_from_events(spark, sf_dir))
    plan = _plan(df)
    assert plan.count("HashAggregate") >= 2
    assert "hashpartitioning(local_service" in plan


def test_pii_scrub_is_shuffle_free_scan(spark, sf_dir):
    """PII scrub is a pure projection: one parquet scan, zero exchanges,
    and the regex pipeline inside whole-stage codegen."""
    from zipkin_storage_kafka_spark.operators.text_analysis import pii_scrub

    df = pii_scrub(load_table(spark, sf_dir, "documents"))
    plan = _plan(df)
    assert "Exchange" not in plan
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        assert "*(" in _simple_plan(df)  # codegen stage star
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")


def test_bm25_topk_take_ordered_and_broadcast_df(spark, sf_dir):
    """The global top-k must be TakeOrderedAndProject (never a full sort)
    and the |terms|-row doc-frequency side must broadcast."""
    from zipkin_storage_kafka_spark.operators.text_analysis import bm25_topk

    plan = _plan(bm25_topk(load_table(spark, sf_dir, "documents")))
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastExchange" in plan


def test_zorder_key_single_aggregation_exchange(spark, sf_dir):
    """The 32-term Morton projection must stay in one codegen stage; the
    only exchanges are for the 256-bucket stats agg (hash + its partial
    pair), never a pre-shuffle of raw events."""
    from zipkin_storage_kafka_spark.operators.analytics import (
        zorder_layout_stats,
    )

    import re

    plan = _plan(zorder_layout_stats(spark, sf_dir))
    n_exchanges = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    # one for the zbucket hash agg + one for the exact countDistinct
    # two-phase expansion; anything more means a raw-events pre-shuffle
    assert n_exchanges <= 2, plan


def test_self_time_shuffles_once_per_side(spark, sf_dir):
    """Children agg + left join both key on the span id: expect join-side
    exchanges but no residual post-join shuffle beyond the final
    per-service agg."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        self_time_by_service,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    plan = _plan(self_time_by_service(spans_from_events(spark, sf_dir)))
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan


def test_slowest_per_service_uses_window_group_limit(spark, sf_dir):
    """k=3 rank predicate must push below the exchange (per-partition
    size-k heaps), same as the k=1 latest-per-key pin."""
    from zipkin_storage_kafka_spark.operators.indexes import (
        slowest_spans_per_service,
    )

    plan = _plan(slowest_spans_per_service(spans_from_events(spark, sf_dir)))
    assert "WindowGroupLimit" in plan


def test_substring_dedup_no_sort_two_shuffles(spark, sf_dir):
    """dedup_substring must keep the r11 unique-owner formulation: the
    corpus-mass exchange on the hash key feeds a HashAggregate — never
    the Sort+Window the count-over-partition shape forced on every
    exploded row — and the only other shuffle is the KB-scale doc-keyed
    unique-count agg (the analytic n_windows side re-scans the pruned
    parquet instead of the explode).  Scans prune to (doc_id, text)."""
    from zipkin_storage_kafka_spark.operators.dedup import (
        substring_duplication,
    )

    import re

    df = substring_duplication(load_table(spark, sf_dir, "documents"))
    plan = _plan(df)
    assert not re.search(r"^\(\d+\) Sort\b", plan, re.M), plan
    assert "Window" not in plan, plan
    n_exchange = len(re.findall(r"^\(\d+\) Exchange", plan, re.M))
    assert n_exchange == 2, plan
    n_scans = len(re.findall(r"^\(\d+\) Scan parquet", plan, re.M))
    assert n_scans == 2, plan
    for read_schema in (l for l in plan.splitlines() if "ReadSchema" in l):
        assert "text" in read_schema and "lang" not in read_schema


def test_bmp_pipeline_single_scan_no_shuffle(spark, sf_dir):
    """The BMP render->decode-stats pipeline is two chained mapInPandas
    stages over one pruned scan — no exchange anywhere (partition-
    preserving, payloads never shuffled)."""
    from zipkin_storage_kafka_spark.operators.multimodal import (
        bmp_decode_stats,
        bmp_media_from_documents,
    )

    media = bmp_media_from_documents(load_table(spark, sf_dir, "documents"))
    plan = _plan(bmp_decode_stats(media))
    assert "Exchange" not in plan, plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema  # width/height derive from n_chars only


def test_quota_sample_uses_window_group_limit(spark, sf_dir):
    """Per-source quota must compile to Partial+Final WindowGroupLimit
    (per-task top-k heaps) — a skewed mega-source costs a heap per task,
    never a single-partition sort."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        quota_sample,
    )

    plan = _plan(quota_sample(load_table(spark, sf_dir, "documents")))
    assert "WindowGroupLimit" in plan
    assert plan.count("WindowGroupLimit") >= 2  # Partial below the exchange


def test_global_shuffle_single_exchange(spark, sf_dir):
    """The seeded shuffle must add exactly ONE exchange (the
    repartition-by-shard a training writer needs anyway): key + shard are
    rowwise projections, position is a shard-partitioned window — no
    global sort anywhere."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        global_shuffle,
    )

    import re

    plan = _plan(global_shuffle(load_table(spark, sf_dir, "documents")))
    assert len(re.findall(r"^\(\d+\) Exchange", plan, re.M)) == 1, plan
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "text" not in read_schema  # key derives from doc_id only


def test_semantic_dedup_candidate_join_on_cell(spark, sf_dir):
    """SemDeDup's pair enumeration must be an equi-join keyed on the cell
    (candidate space = sum of squared cell sizes) with the cosine test as
    a join residual — never a cross join."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["dedup_semantic"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_gopher_rules_pure_map_stage(spark, sf_dir):
    """The Gopher gate is a full-corpus pre-dedup filter — it must plan
    as a single map stage: zero exchanges, zero joins, zero windows."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_gopher_rules"](spark, sf_dir))
    for op in ("Exchange", "Join", "Window", "CartesianProduct"):
        assert op not in plan, (op, plan)


def test_slo_burn_partitioned_window_over_tiny_frame(spark, sf_dir):
    """Burn rates aggregate spans FIRST (service x window cardinality),
    then window over that tiny frame per service: every Window carries a
    partition spec, and no join appears at all."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_slo_burn"](spark, sf_dir))
    assert "Join" not in plan
    window_lines = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and l.strip().startswith("Arguments:")
    ]
    assert window_lines, "plan should contain Window detail lines"
    bad = [l for l in window_lines if l.count("], [") < 2]
    assert not bad, bad


def test_pq_adc_broadcast_lut_and_topk_heap(spark, sf_dir):
    """ADC search must join the code table against a BROADCAST lookup
    table (the corpus never shuffles for the join) and take the top-k
    via a TakeOrderedAndProject heap, never a global sort."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ann_pq_adc"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_semantic_curve_no_per_threshold_pass(spark, sf_dir):
    """The retention curve must be the per-cell gram-matrix kernel
    (FlatMapGroupsInPandas — the sf1 audit showed the per-pair Catalyst
    fold blowing the 10x gate) + one conditional agg: no cross join, and
    the threshold fan-out is an array explode of a 1-row aggregate, so
    the explode feeds from an aggregate, not from the corpus."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["dedup_semantic_curve"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan
    # one Generate (the threshold explode) — a per-threshold corpus pass
    # would need none (replicated joins) or several
    assert plan.count("(Generate") <= 2, plan


def test_truncated_recall_two_topk_heaps(spark, sf_dir):
    """The truncated ranking must be a TakeOrderedAndProject heap over a
    broadcast-query scan — never a global sort or corpus shuffle.  The
    full-dimension ground truth comes off the SHARED materialized
    ann_exact relation (r09: one brute-force pass serves the whole
    recall family), so the plan carries exactly ONE heap and one k-row
    parquet read instead of two corpus heaps."""
    import __spark_entry__ as entrymod

    import re

    plan = _plan(entrymod.queries()["ann_truncated_recall"](spark, sf_dir))
    heaps = re.findall(r"^\(\d+\) TakeOrderedAndProject", plan, re.M)
    assert len(heaps) == 1, plan
    assert not re.search(r"^\(\d+\) Sort\b", plan, re.M), plan
    assert "ann_exact_cosine" in plan, plan


def test_zipf_fit_no_global_window(spark, sf_dir):
    """Rank assignment must be the single-row array collapse (the
    encode_token_ids pattern), never a partition-less row_number
    window; the corpus top-K stays a TakeOrdered heap."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_zipf_fit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "windowspecdefinition" not in plan, plan


def test_locf_fill_partitioned_window(spark, sf_dir):
    """The LOCF carry must run under a window PARTITIONED by event_type
    (per-type sorts), never a global order; the spine join sides stay
    broadcast (bounds row + observed means)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_locf_fill"](spark, sf_dir))
    window_lines = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and l.strip().startswith("Arguments:")
    ]
    assert window_lines, "plan should contain Window detail lines"
    bad = [l for l in window_lines if l.count("], [") < 2]
    assert not bad, bad
    assert "BroadcastHashJoin" in plan


def test_dsir_weight_table_broadcast(spark, sf_dir):
    """DSIR's bucket weight table is FIXED-size (1024 rows) and must
    reach the per-doc pass as a broadcast — the corpus side never
    shuffles for the weight join (that is the point of the hashed
    feature space)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_dsir_weights"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_phash_banded_candidates_no_cross_join(spark, sf_dir):
    """Perceptual-hash near-dup must hash in Arrow-batched Python
    (MapInPandas over the media bytes) — in the INDEX BUILD plan since
    r13 (the hash table is matcache-materialized; the serving-side
    absence of Python eval is pinned by the drift sweep) — and
    enumerate candidates via the (band, value) equi-join over DISTINCT
    hash classes, never a cross join over images."""
    import __spark_entry__ as entrymod
    from zipkin_storage_kafka_spark.operators import multimodal as mm
    from zipkin_storage_kafka_spark.plans.registry_pipeline import _docs

    build_plan = _plan(
        mm.bmp_ahash(mm.bmp_media_from_documents(_docs(spark, sf_dir)))
    )
    assert "MapInPandas" in build_plan, build_plan

    plan = _plan(entrymod.queries()["mm_phash_neardup"](spark, sf_dir))
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_encode_ids_single_vocab_scan(spark, sf_dir):
    """The vocab rank must reference the token-count shuffle ONCE (r4's
    triangular self-join planned the corpus tokenize+count twice — a full
    extra scan+explode+exchange, the r5 bench fix): exactly two parquet
    scans total (vocab build + encode pass), no nested-loop join, and
    the corpus top-K still a TakeOrderedAndProject heap."""
    import re

    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_encode_ids"](spark, sf_dir))
    ops = [l for l in plan.splitlines() if re.match(r"\(\d+\) \w", l)]
    assert sum("Scan parquet" in o for o in ops) == 2, ops
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastNestedLoop" not in plan and "CartesianProduct" not in plan


def test_semantic_dedup_diverse_uses_arrow_kernel(spark, sf_dir):
    """The diverse registry row must run the per-cell gram-matrix kernel
    (FlatMapGroupsInPandas on the cell grouping), not the per-pair
    Catalyst lambda fold — and pair enumeration must never be a cross
    join (the kernel's grouping IS the cell bound)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["dedup_semantic_diverse"](spark, sf_dir))
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_curriculum_order_no_global_window(spark, sf_dir):
    """The phase assignment must come from the distributed ntile (range
    partition + per-partition rank), never a single-partition ntile
    window: every Window in the plan carries a partition spec."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_curriculum_order"](spark, sf_dir))
    # A Window's detail line is "Arguments: [funcs], [partitionSpec],
    # [orderSpec]" — three bracket groups when partitioned, two when the
    # partition spec is empty (the single-partition sort this operator
    # exists to avoid).  Same detection as tests/test_ntile.py.  The
    # plan's one SinglePartition exchange is the 1-row total-count scalar
    # of distributed_ntile — legitimate; only Windows are constrained.
    window_lines = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition" in l and l.strip().startswith("Arguments:")
    ]
    assert window_lines, "plan should contain Window detail lines"
    bad = [l for l in window_lines if l.count("], [") < 2]
    assert not bad, bad
    # r11: the within-phase position must also never partition a window
    # by the BOUNDED phase key (phases=4 -> four sort tasks each holding
    # a quarter of the corpus); both ranks partition by the range id.
    by_phase = [l for l in window_lines if "phase" in l.split("], [")[1]]
    assert not by_phase, by_phase


def test_links_bucketed_store_read_no_join_exchange(spark, sf_dir):
    """The store-read J1 row (j1_links_bucketed) must serve from the
    bucketed layout: both join sides scan the bucketed table
    (Bucketed: true x2), the join is a SortMergeJoin with ZERO Exchange
    below it, and the plan's ONLY Exchange is the final (parent, child)
    counter merge — the write layout absorbs the pipeline's largest
    shuffle (VERDICT r05 next-round #2)."""
    import re

    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["j1_links_bucketed"](spark, sf_dir))
    assert "SortMergeJoin" in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    # formatted explain lists each node once in the tree and once in the
    # details; count unique node ids instead of raw mentions
    exchange_nodes = set(re.findall(r"\((\d+)\) Exchange", plan))
    assert len(exchange_nodes) == 1, plan
    # and that one exchange is the counter-merge hash partitioning, not a
    # pre-join one: it must sit ABOVE the SortMergeJoin in the tree
    tree = plan.split("(1) ")[0]
    smj_at = tree.find("SortMergeJoin")
    ex_at = tree.find("Exchange")
    assert 0 <= ex_at < smj_at, tree


def test_bloom_prefilter_filter_side_broadcast(spark, sf_dir):
    """The set-bit relation must reach the probe join as a BROADCAST
    (it is <= 64k rows by construction); membership must never plan as
    a big-side shuffle join on the bit key."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["pipe_bloom_prefilter"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan
    smj_on_bit = [
        l
        for l in plan.splitlines()
        if "SortMergeJoin" in l and "bit" in l
    ]
    assert not smj_on_bit, smj_on_bit


def test_range_search_zero_shuffle(spark, sf_dir):
    """Radius retrieval is a broadcast crossjoin + codegen filter: the
    plan must contain NO hash-partitioning exchange at all."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ann_range_search"](spark, sf_dir))
    assert "hashpartitioning" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_trace_path_signature_two_key_shuffles(spark, sf_dir):
    """The signature rollup is two trace-keyed partial aggs + one
    signature-keyed count: every exchange partitions on trace_id or the
    signature columns, and the per-trace ordering is a rowwise
    array_sort (no window at all)."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["z_trace_path_signature"](spark, sf_dir)
    )
    assert "windowspecdefinition" not in plan, "must not use a window"
    ex = [l for l in plan.splitlines() if "hashpartitioning" in l]
    assert ex, plan
    for l in ex:
        assert "trace_id" in l or "path_signature" in l, l


def test_minhash_estimate_no_pair_blowup(spark, sf_dir):
    """Estimator audit must stay candidate-bounded: no cartesian or
    nested-loop pair enumeration anywhere in the plan."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["dedup_minhash_estimate"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan


# r13 (VERDICT r12 next-round #5): the docstring-vs-code drift sweep,
# promoted from a by-hand check to a test.  Every row whose docstring
# claims it SERVES from a materialized/persisted relation is listed
# with the plan markers its BUILD would reintroduce if the claim
# drifted — the r12 emb_centroid_outliers drift (docstring claimed a
# reuse the code didn't perform, 0.62 s of live re-derivation) is
# exactly the failure mode this catches.  Markers are build-unique:
# aggregate( = interpreted O(d) lambda folds (centroid-score
# re-derivation), windowspecdefinition = the argmax / member-cap rank,
# md5(/xxhash64 = shingle+minhash hashing, the Pandas operators = the
# decode / gram kernels that run at ingest.
_REUSE_CLAIMS = [
    ("emb_centroid_outliers",
     ("aggregate(", "FlatMapGroupsInPandas", "windowspecdefinition")),
    ("dedup_semantic_diverse", ("aggregate(", "windowspecdefinition")),
    ("dedup_semantic_curve", ("aggregate(", "windowspecdefinition")),
    ("dedup_semantic_fold", ("windowspecdefinition",)),
    ("mm_record_sizes",
     ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas")),
    ("emb_knn_graph", ("FlatMapGroupsInPandas", "ArrowEvalPython")),
    ("pipe_canonical_docs",
     ("md5(", "xxhash64", "FlatMapGroupsInPandas")),
    ("pipe_dedup_mixture_shift", ("md5(", "xxhash64")),
    ("z_error_paths", ("windowspecdefinition",)),
    ("mm_phash_neardup",
     ("ArrowEvalPython", "MapInPandas", "FlatMapGroupsInPandas",
      "PythonUDF")),
    # the PQ encode argmin is a per-(vector, subspace) rank window —
    # it must run at index build, never in an ADC serving plan (r13)
    ("ann_pq_adc", ("windowspecdefinition",)),
    ("ann_ivfpq_topk", ("windowspecdefinition",)),
    ("ann_pq_recall", ("windowspecdefinition",)),
    ("ann_ivfpq_recall", ("windowspecdefinition",)),
]


@pytest.mark.parametrize(
    "name,forbidden", _REUSE_CLAIMS, ids=[c[0] for c in _REUSE_CLAIMS]
)
def test_materialized_reuse_claims_hold_in_plan(spark, sf_dir, name, forbidden):
    """A docstring that says 'served from / reads the materialized X'
    must be true of the physical plan: none of the build-side markers
    may appear at serve time."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()[name](spark, sf_dir))
    for marker in forbidden:
        assert marker not in plan, (
            f"{name} claims materialized reuse but its serving plan "
            f"contains build marker {marker!r}:\n{plan}"
        )


def test_incremental_dedup_reads_persisted_index(spark, sf_dir):
    """The serving row must probe the PERSISTED dedup index (VERDICT r06
    next-round #4): the plan's scan set includes the materialized
    dedup_index parquet, and the old corpus contributes NOTHING else —
    no shingle/minhash derivation over old bodies in-plan (the only
    md5/band math allowed is the NEW side's rowwise probe-key build,
    which scans documents.parquet once)."""
    import re

    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["pipe_incremental_dedup"](spark, sf_dir)
    )
    assert "dedup_index-" in plan, plan
    # exactly one scan of the raw documents table (the new-snapshot
    # derivation); the index side must NOT rescan it
    doc_scans = len(
        re.findall(r"\(\d+\) Scan parquet[^\n]*", plan)
    )
    doc_raw = plan.count("documents.parquet")
    assert doc_raw <= 1, f"old corpus rescanned: {doc_raw} doc scans\n{plan}"
    assert doc_scans >= 2, plan


def test_verified_pairs_served_from_cache(spark, sf_dir):
    """Each dedup audit row is a projection of the shared verified-pair
    materialization (VERDICT r06 next-round #3): the containment row's
    plan reads verified_pairs parquet and contains NO shingle equi-join
    (the intersection groupBy would partition on (doc_a, doc_b))."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["dedup_containment"](spark, sf_dir))
    assert "verified_pairs-" in plan or "InMemoryTableScan" in plan, plan
    assert "shingles-" not in plan, "verify join re-derived:\n" + plan


def test_ivf_nprobe_recall_cell_pruned(spark, sf_dir):
    """The sweep must reach the corpus through label-keyed cell pruning
    — no cartesian pair enumeration.  r15 shape: ONE broadcast join of
    the ranked probe labels against the assignment index (rank <= nprobe
    fan-out) replaces the per-setting orderBy+limit semi-join union, and
    the per-nprobe top-k is the rank-filtered window that compiles to
    WindowGroupLimit (per-partition partial top-k)."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["ann_ivf_nprobe_recall"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    # cell pruning: the ranked probe-label relation is broadcast into
    # the assignment join; the exact ground-truth check stays a semi-join
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert plan.count("LeftSemi") >= 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_orphan_spans_anti_join_trace_keyed(spark, sf_dir):
    """The orphan audit is a trace-keyed LEFT ANTI self-join + service
    rollup — no cartesian, no window."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_orphan_spans"](spark, sf_dir))
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_link_latency_gaps_partial_agged(spark, sf_dir):
    """Gap rollup must partial-aggregate map-side (two-phase
    HashAggregate): the service-pair shuffle carries pair rows, not
    span rows."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_link_latency_gaps"](spark, sf_dir))
    assert plan.count("HashAggregate") >= 2, plan
    assert "CartesianProduct" not in plan


def test_canonical_docs_served_from_map(spark, sf_dir):
    """r10: the cluster report reads the materialized survivorship map
    (no live CC fixpoint, no keeper window — that ran once at map
    build; the live window shape stays pinned by
    test_canonical_map_keeper_window_per_component) and rolls up with
    one component-keyed agg."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["pipe_canonical_docs"](spark, sf_dir))
    assert "canonical_map-" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "SinglePartition" not in plan, plan


def test_hybrid_rrf_no_global_window(spark, sf_dir):
    """Both fusion arms rank via the triangular k-row self-join: the
    plan must contain NO window at all, and the arm top-ks stay
    TakeOrdered heaps."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_hybrid_rrf"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "TakeOrderedAndProject" in plan


def test_jaccard_curve_no_window_no_cartesian(spark, sf_dir):
    """The threshold sweep is a broadcast join + partial agg over the
    cached verified relation — no window, no cartesian blowup (the
    threshold side is a 5-row broadcast)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["dedup_jaccard_curve"](spark, sf_dir))
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoop" in plan


def test_ccnet_buckets_window_partitions_by_lang(spark, sf_dir):
    """The ntile window must partition per language — never one global
    partition — and read the cached score table, not re-derive the
    bigram LM (no explode/posexplode in-plan)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_ccnet_buckets"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win, plan
    for l in win:
        assert "lang" in l, l
    assert "charlm_scores-" in plan, "score table re-derived:\n" + plan


def test_banding_audit_reads_cached_relations(spark, sf_dir):
    """The band-layer audit is ONE join of the two persisted dedup
    relations, partial-agged to <= 11 rows — it must read the
    materialized candidates + verified pairs, never re-derive shingles
    (no posexplode in-plan), and needs no window."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["dedup_banding_audit"](spark, sf_dir))
    assert "lsh_candidates-" in plan, plan
    assert "verified_pairs-" in plan, plan
    assert "posexplode" not in plan, "shingles re-derived:\n" + plan
    assert "windowspecdefinition" not in plan
    assert "CartesianProduct" not in plan


def test_knn_graph_serves_materialized_edges(spark, sf_dir):
    """The kNN-graph row reads the MATERIALIZED edge relation (both the
    forward reference and the reciprocity reversal — the gram kernel
    runs at build time, never in the serving plan) and the stats layer
    is windowless partial aggregation over the n x k edges."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["emb_knn_graph"](spark, sf_dir))
    assert "knn_edges-" in plan, plan
    assert "FlatMapGroupsInPandas" not in plan, plan
    assert "CartesianProduct" not in plan
    assert "windowspecdefinition" not in plan


def test_vad_windows_partition_by_media(spark, sf_dir):
    """Both VAD windows (islanding + segment numbering) partition per
    media — never a global single-partition window — and the decode
    kernels pipeline without an intermediate shuffle."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["mm_audio_vad"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win, plan
    for l in win:
        assert "media_id" in l, l
    assert "SinglePartition" not in plan, plan


def test_cm_heavy_hitters_broadcast_grid_takeordered(spark, sf_dir):
    """The d x w counter grid is broadcast back to the probe side (the
    corpus never shuffles for it) and the top-k compiles to
    TakeOrderedAndProject, not a global sort."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_cm_heavy_hitters"](spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan


def test_dedup_remap_serves_materialized_map(spark, sf_dir):
    """The remap row reads the MATERIALIZED survivorship map (the CC
    fixpoint + keeper window run once per snapshot at build time) and
    is one left equi-join on the id — no window, no cartesian in the
    serving plan."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["pipe_dedup_remap"](spark, sf_dir))
    assert "canonical_map-" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan


def test_canonical_map_keeper_window_per_component(spark, sf_dir):
    """The map BUILD's keeper window partitions per component
    (cluster-sized, never global) and needs no join back onto the
    ranked members (one unordered-window pass over the CC output)."""
    from zipkin_storage_kafka_spark.operators import dedup as dd
    from zipkin_storage_kafka_spark.operators import text_analysis as ta
    from zipkin_storage_kafka_spark.plans.registry_pipeline import (
        JACCARD_THRESHOLD,
        _docs,
        _lsh_candidates,
        _shingles,
        _verified_pairs,
    )

    pairs = dd.jaccard_pairs(
        _shingles(spark, sf_dir),
        _lsh_candidates(spark, sf_dir),
        threshold=JACCARD_THRESHOLD,
        verified=_verified_pairs(spark, sf_dir),
    )
    quality = ta.quality_score(_docs(spark, sf_dir)).select(
        "doc_id", "quality"
    )
    plan = _plan(dd.canonical_map(pairs, quality))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win, plan
    for l in win:
        assert "component_id" in l, l
    assert "SinglePartition" not in plan, plan


def test_markov_windows_never_global(spark, sf_dir):
    """The transition lag partitions per user; the normalizing window
    partitions the |types|^2 counts per src — no global window, and the
    lag + count pipeline partial-aggregates before its exchange."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_markov_transitions"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win, plan
    for l in win:
        assert ("user_id" in l) or ("src" in l), l
    assert "SinglePartition" not in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_interval_overlap_join_is_equi_join(spark, sf_dir):
    """The interval-overlap kernel must plan the (service, bucket)
    equi-join — never a nested-loop/cartesian theta join — even with
    broadcast disabled (both sides large at 100 TB)."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        slow_span_concurrency,
    )

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        df = slow_span_concurrency(spans_from_events(spark, sf_dir))
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
    assert "Cartesian" not in plan and "NestedLoop" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_cooccurrence_pair_join_is_trace_keyed(spark, sf_dir):
    """The basket pair join must stay a trace-keyed equi-join (never
    all-pairs over services x corpus), and both marginals plus the 1-row
    total must come back as broadcast joins."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        service_cooccurrence,
    )

    df = service_cooccurrence(spans_from_events(spark, sf_dir))
    plan = _plan(df)
    assert "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") >= 2, plan
    assert "windowspecdefinition" not in plan, plan
    # The (trace, service) membership distinct feeds the pair join, both
    # marginals, and the total: AQE must REUSE that exchange, not rescan
    # the corpus once per consumer.
    df.collect()
    final = _plan(df)
    assert "ReusedExchange" in final, final


def test_scd2_windows_are_user_keyed(spark, sf_dir):
    """Run flagging, run numbering, and the closing lead() must all
    partition on user_id — one shuffled spec, no global window."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_scd2_intervals"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win, plan
    for l in win:
        assert "user_id" in l, l
    assert "SinglePartition" not in plan, plan


def test_outage_islands_spine_is_range_bound(spark, sf_dir):
    """The spine must explode off the k-row per-type bounds (no cross join
    against the fact table) and the island window must partition on
    event_type — never a single-partition sort."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_outage_islands"](spark, sf_dir))
    assert "Cartesian" not in plan
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("event_type" in l for l in win), plan
    assert "SinglePartition" not in plan, plan


def test_priority_sample_is_take_ordered(spark, sf_dir):
    """Top-(k+1) must compile to TakeOrderedAndProject (partial top-k
    map-side, no global sort, no window); the 1-row threshold comes back
    as a broadcast."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_priority_sample"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_kcore_peel_runs_on_k_row_relation(spark, sf_dir):
    """Every peel round must run on the |services|-bounded pair relation:
    the final plan reads checkpointed RDDs (lineage truncated per round),
    never re-deriving span-sized data, and the backbone membership join
    comes back as a broadcast."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_service_kcore"](spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_query_probe_broadcasts_query_side(spark, sf_dir):
    """The probe keys and the query shingle set are the broadcast sides;
    the index/corpus-sized relations never land in a nested-loop or
    cartesian product."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["dedup_query_probe"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "windowspecdefinition" not in plan, plan


def test_rfm_windows_never_single_partition(spark, sf_dir):
    """The three quintile passes run through distributed_ntile: every
    window partitions on the range-partition id, none on a single
    global partition."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_rfm_scores"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win, plan
    # every ntile window ranks within a range-partition id (the scalar
    # 1-row total inside distributed_ntile is the only SinglePartition
    # exchange and is not a window)
    for l in win:
        assert "_pid" in l, l


def test_pmi_bigram_explode_is_rowwise(spark, sf_dir):
    """The bigram generation must be a rowwise array transform (no
    window, no per-doc sort); unigram joins stay equi-joins."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_pmi_bigrams"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("HashAggregate") >= 4, plan


def test_ewma_single_type_keyed_window(spark, sf_dir):
    """All 16 lag terms must share ONE event_type-partitioned window
    spec (one sort per type series), and the spine must not cross-join
    the fact table."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_ewma_smooth"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("event_type" in l for l in win), plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # one Window node, not sixteen
    assert plan.count("(Window") + plan.count(" Window ") <= 2, plan


def test_langid_agreement_is_doc_keyed(spark, sf_dir):
    """The audit joins the two prediction relations on doc_id (equi, no
    cartesian) and cubes with a partial agg; the only windows are the
    ngram detector's own per-doc argmax."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_langid_agreement"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    # per-doc argmax and the per-lang profile top-k — both keyed, never
    # a single global partition
    assert all(("doc_id" in l) or ("lang" in l) for l in win), plan


def test_heaps_law_avoids_count_distinct_expand(spark, sf_dir):
    """The 16 nested vocabulary counts must come from ONE min-bucket
    partial agg (no 16x Expand of the token relation, no window)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_heaps_law"](spark, sf_dir))
    assert "Expand" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_idle_gaps_single_trace_window(spark, sf_dir):
    """The union sweep is ONE trace-keyed window + one grouped agg —
    no self-join, no global window."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_trace_idle_gaps"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("trace_id" in l for l in win), plan
    assert "SinglePartition" not in plan, plan
    assert "Join" not in plan or "SortMergeJoin" not in plan, plan


def test_hazard_curve_no_window_no_cartesian(spark, sf_dir):
    """At-risk cumulation is the triangular join over the day histogram
    — no window at all; the only nested-loop joins are 1-row broadcast
    horizon/total sides."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_hazard_curve"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_basket_brand_pairs_order_keyed(spark, sf_dir):
    """The generic basket kernel on lineitem: brand dim broadcast into
    the membership build, order-keyed pair join, no cartesian."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["w_basket_brand_pairs"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_source_overlap_reads_cached_pairs(spark, sf_dir):
    """The overlap panel must read the materialized verified-pair
    relation (no in-plan shingle derivation) and stay window-free."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["pipe_source_overlap"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "posexplode" not in plan and "explode" not in plan.lower(), plan


def test_fanout_join_is_trace_cokeyed(spark, sf_dir):
    """The children-count attribution join must be the (trace_id, id)
    equi-join — co-partitioned with the trace shuffle family — with no
    window and no cartesian."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_fanout_hotspots"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" in plan or "BroadcastHashJoin" in plan or (
        "ShuffledHashJoin" in plan
    ), plan


def test_feature_hashing_one_partial_agg(spark, sf_dir):
    """The dim conditional sums assemble in ONE doc-keyed aggregate —
    no pivot pass, no per-bucket shuffle, no window."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_feature_hashing"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert plan.count("Exchange") <= 2, plan  # one hash exchange (+AQE read)


def test_reachability_runs_on_k_row_closure(spark, sf_dir):
    """Every BFS sweep must run on checkpointed k-row relations (lineage
    truncated), never re-deriving span-sized data; the final attribution
    join is broadcast."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_service_reachability"](spark, sf_dir))
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_fulfillment_latency_prunes_columns(spark, sf_dir):
    """The lineitem scan must read only (l_orderkey, l_shipdate); no
    window, no cartesian — one order-keyed agg then a priority agg."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["h_fulfillment_latency"](spark, sf_dir))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    li = [l for l in reads if "l_orderkey" in l]
    assert li and all(
        "l_extendedprice" not in l and "l_quantity" not in l for l in li
    ), plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_mmr_pool_retrieval_is_take_ordered(spark, sf_dir):
    """The only corpus pass is the TakeOrdered pool retrieval; the
    greedy rounds run on checkpointed pool-row relations."""
    from zipkin_storage_kafka_spark.operators.similarity import cosine_topk
    from zipkin_storage_kafka_spark.plans.registry_pipeline import (
        ANN_QUERY_VEC,
    )

    pool_df = cosine_topk(
        load_table(spark, sf_dir, "embeddings"), ANN_QUERY_VEC, 20
    )
    plan = _plan(pool_df)
    assert "TakeOrderedAndProject" in plan, plan


def test_ab_conversion_pruned_scans_broadcast_control(spark, sf_dir):
    """Both event scans are event-type-pruned at the source
    (PushedFilters on event_type) and read only (user_id, ts,
    event_type); the 1-row control side is broadcast, never a
    CartesianProduct."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_ab_conversion"](spark, sf_dir))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    ev = [l for l in reads if "event_type" in l]
    assert ev and all("props" not in l and "value" not in l for l in ev), plan
    assert "PushedFilters" in plan and "event_type" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan
    )


def test_partition_skew_aggregates_counts_not_corpus(spark, sf_dir):
    """Each key branch partial-aggs the corpus once to the |keys|-row
    count relation; the stats/hot combinators run on that relation via
    broadcast 1-row joins — no window, no cartesian, no corpus-sized
    shuffle after the first groupBy."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_partition_skew"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan
    )


def test_changepoint_window_is_type_keyed(spark, sf_dir):
    """The prefix-sum window partitions by event_type (range-bound
    series, never a global single partition), and the spine generates
    from the aggregated bounds — no cross join against the fact
    table."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_changepoint"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("event_type" in l for l in win), plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan  # sequence+explode spine


def test_epoch_plan_prunes_documents(spark, sf_dir):
    """The documents scan reads only (source, text); the 1-row totals
    attach by broadcast."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["pipe_epoch_plan"](spark, sf_dir))
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all(
        "n_chars" not in l and "doc_id" not in l for l in reads
    ), plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan
    )


def test_item_neighbors_basket_keyed_pair_join(spark, sf_dir):
    """The pair join is an l_orderkey equi-join (never item x item —
    the deliberate corpus-scale-basket tuple shape, see the operator's
    r10 flavor note), the membership scan reads only the narrow
    membership columns, and the top-k window partitions by part_key.
    r11: pairs generate SYMMETRICALLY from the join (l != r) — the plan
    must contain NO Union (the old triangular+flip shape ran the final
    pair agg twice over a flipped copy)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["w_item_neighbors"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "Union" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    li = [l for l in reads if "l_orderkey" in l]
    assert li and all("l_quantity" not in l for l in li), plan
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("part_key" in l for l in win), plan
    assert "SinglePartition" not in plan, plan


def test_pq_recall_sides_are_topk_heaps(spark, sf_dir):
    """Both recall sides reach the agg as k-row relations: the exact-L2
    side compiles to TakeOrderedAndProject (per-partition heap, no full
    sort) and the query/LUT sides broadcast — no cartesian on corpus
    relations."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ann_pq_recall"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan, (
        plan
    )


def test_customer_order_gaps_custkey_window(spark, sf_dir):
    """The lag window partitions by o_custkey (never a global sort) and
    the orders scan reads only (o_custkey, o_orderkey, o_orderdate)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["h_customer_order_gaps"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("o_custkey" in l for l in win), plan
    assert "SinglePartition" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    o = [l for l in reads if "o_orderdate" in l]
    assert o and all("o_totalprice" not in l for l in o), plan


def test_silhouette_window_is_vec_keyed(spark, sf_dir):
    """The top-2 window partitions by vec_id, centroids broadcast, and
    vectors are never paired (no vec x vec join)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["emb_silhouette"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("vec_id" in l for l in win), plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan
    )


def test_winnowing_selects_via_doc_keyed_window(spark, sf_dir):
    """Gram hashes compute once (rowwise md5 transform, then
    posexplode); the window-min selection is a doc_id-keyed sliding
    window — never a nested array lambda (which re-evaluates the hash
    array per window) and never a global sort; joins are fp/doc
    equi-joins only."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        winnowing_pairs,
    )

    # the operator's own plan — the registry row serves the persisted
    # matcache relation, whose plan is just a parquet scan
    plan = _plan(winnowing_pairs(load_table(spark, sf_dir, "documents")))
    assert "CartesianProduct" not in plan, plan
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("doc_id" in l for l in win), plan
    assert "SinglePartition" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("lang" not in l for l in reads), plan


def test_audio_fingerprint_is_arrow_batched(spark, sf_dir):
    """Both the WAV render and the fingerprint run as Arrow-batched
    MapInPandas stages; no shuffle, no join, payloads never
    driver-side."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["mm_audio_fingerprint"](spark, sf_dir))
    assert "MapInPandas" in plan, plan
    assert "Exchange" not in plan or "rangepartitioning" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_seasonality_single_partial_agg(spark, sf_dir):
    """One (type,dow,hour) partial agg + broadcast totals — no window,
    no cartesian; the events scan reads only (event_type, ts)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_seasonality"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all(
        "props" not in l and "value" not in l for l in reads
    ), plan


def test_sampling_bias_never_materializes_sample(spark, sf_dir):
    """ONE grouped aggregate over the span scan (conditional sum — the
    sample is a flag, not a relation): no join, no window, no second
    scan."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_sampling_bias"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, (
        plan
    )


def test_ltv_triangle_custkey_cokey_join(spark, sf_dir):
    """Cohort derivation and join-back are both o_custkey-keyed (no
    cartesian, no window); the orders scan reads only the three used
    columns."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["h_ltv_triangle"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("o_comment" not in l for l in reads), plan


def test_seasonal_anomalies_takeordered(spark, sf_dir):
    """Final cut is a TakeOrdered heap; cells broadcast back; spine
    generates from aggregated bounds (Generate), never a fact-table
    cross join."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_seasonal_anomalies"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate" in plan, plan


def test_winnow_clusters_closure_on_pair_relation(spark, sf_dir):
    """The CC sweeps run on the winnowing PAIR relation (k rows), the
    corpus never re-enters the loop: no cartesian anywhere, and every
    window is keyed — either the winnowing selection's doc-keyed one
    or the star kernel's src-keyed window-min (how much of each
    lineage survives in the final plan depends on which matcache /
    checkpoint state is already warm, so accept both; never a global
    SinglePartition window)."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["dedup_winnow_clusters"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert all(("doc_id" in l) or ("src" in l) for l in win), plan
    assert "SinglePartition" not in plan, plan


def test_ivfpq_prunes_code_table_before_lut(spark, sf_dir):
    """The probe list broadcasts into semi joins (assignment, then the
    code table) and the LUT broadcasts — the full-precision corpus
    never reaches the ranking agg; no cartesian."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ann_ivfpq_topk"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert plan.count("LeftSemi") >= 2, plan
    assert "BroadcastExchange" in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_winnow_decontaminate_joins_on_ids_only(spark, sf_dir):
    """The split relation is (doc_id, split) — document text never
    joins the pair relation; no cartesian, no window beyond the
    operator's own derivation (served persisted)."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["text_winnow_decontaminate"](spark, sf_dir)
    )
    assert "CartesianProduct" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    doc_reads = [l for l in reads if "doc_id" in l and "text" in l]
    assert not doc_reads, plan  # split derivation prunes text away


def test_active_users_explodes_small_relation(spark, sf_dir):
    """The trailing-window fanout explodes the distinct (user, day)
    relation (Generate AFTER the distinct agg), never the raw corpus;
    the bounds attach by broadcast; no range join.  (r14 note: the
    interval/prefix-sum kernel exists but lost the in-context A/B —
    the registry row stays on the explode kernel, so this pin stays.)"""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_active_users"](spark, sf_dir))
    assert "Generate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all(
        "props" not in l and "event_type" not in l for l in reads
    ), plan


def test_open_orders_two_level_prefix(spark, sf_dir):
    """The running-total window partitions by the day bucket (never a
    global SinglePartition sort); bucket offsets come from the
    triangular join over the k-row bucket table."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["h_open_orders_timeline"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("bkt" in l for l in win), plan
    assert "SinglePartition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_lang_gini_one_partial_agg(spark, sf_dir):
    """Two-level partial agg to |sources| rows; no window, no join."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_source_lang_gini"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "Join" not in plan, plan
    reads = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert reads and all("text" not in l.split("ReadSchema")[1] for l in reads), plan


def test_mixture_shift_single_corpus_scan(spark, sf_dir):
    """r10 shape: the corpus text column is scanned and tokenized
    exactly ONCE — the dropped flag attaches as an id-only left join
    against the materialized survivorship map and both mixture halves
    come out of one conditional agg.  No live CC fixpoint (no window),
    no cartesian beyond the 1-row totals broadcast."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["pipe_dedup_mixture_shift"](spark, sf_dir)
    )
    # The |langs|-row mixture agg is lazily checkpointed, so the final
    # explain shows the corpus text scan at most once (zero when the
    # checkpoint truncates the plan to a LogicalRDD) — never the old
    # shape's 2-4 re-scans of the text column.
    text_reads = [
        l
        for l in plan.splitlines()
        if "ReadSchema" in l and "text" in l.split("ReadSchema")[1]
    ]
    assert len(text_reads) <= 1, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, (
        plan
    )


def test_revenue_pareto_no_global_window(spark, sf_dir):
    """The quintile assignment is the distributed exact ntile (range
    partition + two-level rank): every window ranks within a
    range-partition id — the scalar 1-row totals are the only
    SinglePartition exchanges, and none of them is a window; the
    orders scan prunes to the two needed columns."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["w_revenue_pareto"](spark, sf_dir))
    win = [l for l in plan.splitlines() if "windowspecdefinition" in l]
    assert win and all("_pid" in l for l in win), plan
    assert "CartesianProduct" not in plan, plan


def test_vocab_coverage_head_is_takeordered(spark, sf_dir):
    """The only corpus-sized work is the token-frequency groupBy; the
    head retrieval compiles to a TakeOrdered heap and the ranking is
    the sorted-array collapse (no window)."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["text_vocab_coverage"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_new_vs_returning_user_cokey_join(spark, sf_dir):
    """First-day derivation and join-back are user-keyed on the
    distinct (user,day) relation — no window, no cartesian."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["ev_new_vs_returning"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_supplier_hhi_broadcast_dims(spark, sf_dir):
    """The part dim and the |brands|-row totals both broadcast; the
    quantize-then-square path has no window and no cartesian."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["h_supplier_hhi"](spark, sf_dir))
    assert "BroadcastExchange" in plan, plan
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_path_redundancy_composes_k_row_edges(spark, sf_dir):
    """The matrix-power joins compose the checkpointed k-row edge
    relation — the corpus appears only in the links derivation, and
    no window or cartesian exists anywhere."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["z_path_redundancy"](spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "windowspecdefinition" not in plan, plan


def test_fold_audit_member_cap_is_window_group_limit(spark, sf_dir):
    """The per-cell member cap compiles to WindowGroupLimit (partial
    top-m per partition) in the audit-universe BUILD plan, and the
    budgeted pair join never degenerates to a cartesian.  r13 split:
    the universe is materialized with the index (registry_pipeline.
    _semdedup_audit_members), so the SERVING plan must carry no window
    at all — selection cost lives at ingest, not per call."""
    import __spark_entry__ as entrymod
    from zipkin_storage_kafka_spark.operators.similarity import (
        ivf_assignments,
        ivf_centroids,
        semantic_audit_members,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    build_plan = _plan(
        semantic_audit_members(ivf_assignments(emb, ivf_centroids(emb)))
    )
    assert "WindowGroupLimit" in build_plan, build_plan
    assert "CartesianProduct" not in build_plan, build_plan

    plan = _plan(entrymod.queries()["dedup_semantic_fold"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_multitouch_window_is_conversion_keyed(spark, sf_dir):
    """Both attribution windows partition by the conversion id — no
    single-partition WindowExec over the pair relation."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["ev_multitouch_attribution"](spark, sf_dir)
    )
    assert "windowspecdefinition(p_id" in plan, plan


def test_weighted_median_windows_run_on_collapsed_cells(spark, sf_dir):
    """The cumulative-weight windows consume the (nation, price) cell
    aggregate, not raw lineitem rows: a HashAggregate (the collapse)
    sits below every Window in the plan."""
    import __spark_entry__ as entrymod

    plan = _plan(
        entrymod.queries()["h_weighted_median_price"](spark, sf_dir)
    )
    first_window = plan.find("Window")
    first_agg = plan.find("HashAggregate")
    assert first_window != -1 and first_agg != -1
    # formatted plans print operators leaves-last in the numbered tree;
    # assert the collapse exists and no single-partition window does
    assert "windowspecdefinition(nation" in plan, plan


def test_elasticity_single_partial_agg(spark, sf_dir):
    """The per-brand OLS is one aggregation over the keyed join — no
    window, no cartesian, no second fact scan."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["h_discount_elasticity"](spark, sf_dir))
    assert "windowspecdefinition" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("Scan parquet  (") == 2  # lineitem + part, once each
    # ("formatted" prints each scan node again in the detail section)


def test_promo_did_single_fact_scan(spark, sf_dir):
    """The four DiD cells come from one conditional agg: one lineitem
    scan, one part scan, no window."""
    import __spark_entry__ as entrymod

    plan = _plan(entrymod.queries()["w_promo_lift_did"](spark, sf_dir))
    assert plan.count("Scan parquet  (") == 2, plan
    assert "windowspecdefinition" not in plan, plan


def test_plan_audit_window_parser_balanced_parens():
    """The PLAN_AUDIT gating rule's windowspecdefinition parser must
    survive nested parens in the first spec argument (ADVICE r11 #2):
    'coalesce(a, b) ASC' is an ORDER column on an UNPARTITIONED window
    and must flag; 'coalesce(a, b), ts ASC' is a partition key and must
    not.  A naive [^)]* capture truncates at the first nested ')' and
    silently passes the pathological case."""
    import os
    import sys

    sys.path.insert(
        0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")
    )
    from plan_audit import audit_plan

    frame = "specifiedwindowframe(RangeFrame, unboundedpreceding$(), currentrow$())"
    cases = [
        # order-by-only windows (the pathology) -> must flag
        (f"windowspecdefinition(coalesce(a#1, b#2) ASC NULLS FIRST, {frame})", 1),
        (f"windowspecdefinition(cast(x#3 as int) ASC NULLS FIRST, {frame})", 1),
        (f"windowspecdefinition({frame})", 1),
        # partitioned windows (incl. nested-paren partition exprs) -> clean
        (f"windowspecdefinition(coalesce(a#1, b#2), ts#4 ASC NULLS FIRST, {frame})", 0),
        (f"windowspecdefinition(svc#5, ts#4 DESC NULLS LAST, {frame})", 0),
        # ASC-like text nested inside a partition expression -> clean
        (
            "windowspecdefinition(CASE WHEN (x#1 ASC IN (1)) THEN 1 ELSE 0 END, "
            f"y#2 ASC NULLS FIRST, {frame})",
            0,
        ),
    ]
    for plan, want in cases:
        got = audit_plan(plan)["unpartitioned_window"]
        assert got == want, f"{plan[:70]}... want {want} got {got}"


def test_tfidf_wc_subtree_reused(spark, sf_dir):
    """tfidf_topk's (doc_id, word, tf) aggregate feeds BOTH the scored
    join and the doc-frequency re-aggregation; the dfreq count is
    deliberately sum(least(tf,1)) so the optimizer cannot prune tf and
    break exchange compatibility (r12).  Pin: the FINAL adaptive plan
    must contain a ReusedExchange — i.e. the corpus is scanned and
    tokenized once, not once per consumer."""
    from zipkin_storage_kafka_spark.operators.text_analysis import tfidf_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    df = tfidf_topk(docs)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    assert "isFinalPlan=true" in plan
    assert "ReusedExchange" in plan
