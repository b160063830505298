"""Canonical micro-fixtures from the reference test corpus (FIXTURES.md
section 5 / SURVEY.md section 5) pinned against the batch operators:

1. two-span trace -> one trace [a,b] + link (svc_a, svc_b, 1, 0)
   (SpanAggregationTopologyTest.java:56-108)
2. counter accumulation within a window bucket
   (DependencyStorageTopologyTest.java:56-101)
3. index build: span names / autocomplete
   (TraceStorageTopologyTest.java:123-196)
4. query semantics: find by service, newest-first limit, by ids
   (ITKafkaStorage.java:204-233)
"""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.functions.zipkin import (
    normalize_trace_id,
    normalize_trace_id_str,
)
from zipkin_storage_kafka_spark.operators import (
    aggregate_traces,
    autocomplete_tags,
    dependency_links,
    merge_links,
    span_names,
    windowed_link_counters,
)
from zipkin_storage_kafka_spark.operators.trace_aggregation import (
    merge_trace_spans,
)
from zipkin_storage_kafka_spark.plans.query_api import QueryRequest, SpanStore
from zipkin_storage_kafka_spark.streaming.jobs import SPANS_STREAM_SCHEMA

MICROS = 1_000_000


def _span(trace_id, sid, ts_us, parent=None, svc="svc_a", name="op_a",
          kind="CLIENT", remote=None, env=None, error=False, dur=1000):
    return Row(
        trace_id=trace_id, id=sid, parent_id=parent, kind=kind, name=name,
        timestamp=ts_us, duration=dur, local_service=svc,
        remote_service=remote, tag_k="1", env=env, is_error=error,
    )


@pytest.fixture(scope="module")
def fixture_spans(spark):
    base = 1_700_000_000 * MICROS
    rows = [
        # trace a: client svc_a -> server svc_b (fixture 1)
        _span("000000000000000a", "1", base, svc="svc_a", name="op_a",
              kind="CLIENT", remote="svc_b", env="dev"),
        _span("000000000000000a", "2", base + 10, parent="1", svc="svc_b",
              name="op_b", kind="SERVER"),
        # trace b: newer, single error span on svc_c
        _span("000000000000000b", "3", base + 120 * MICROS, svc="svc_c",
              name="op_c", kind=None, error=True, dur=50_000),
    ]
    return spark.createDataFrame(rows, SPANS_STREAM_SCHEMA)


def test_two_span_trace_aggregation(fixture_spans):
    traces = {r["trace_id"]: r for r in aggregate_traces(fixture_spans).collect()}
    a = traces["000000000000000a"]
    assert a["span_count"] == 2
    assert [s["id"] for s in a["spans"]] == ["1", "2"]  # sorted (ts, id)
    assert a["trace_timestamp"] == 1_700_000_000 * MICROS


def test_dependency_link_fixture(fixture_spans):
    links = merge_links(dependency_links(fixture_spans)).collect()
    assert len(links) == 1
    link = links[0]
    assert (link["parent"], link["child"]) == ("svc_a", "svc_b")
    assert (link["call_count"], link["error_count"]) == (1, 0)
    assert link["link_key"] == "svc_a:svc_b"


def test_counter_accumulation_within_bucket(spark):
    """Same link twice within one 1-min bucket -> call_count 2; a later
    bucket starts fresh at 1 (DependencyStorageTopologyTest.java:79-97)."""
    base = 1_700_000_000 * MICROS
    rows = [
        _span("000000000000000a", "1", base, svc="svc_a"),
        _span("000000000000000a", "2", base + 1000, parent="1", svc="svc_b"),
        _span("000000000000000a", "3", base + 2000, parent="1", svc="svc_b"),
        _span("000000000000000c", "7", base + 120 * MICROS, svc="svc_a"),
        _span("000000000000000c", "8", base + 121 * MICROS, parent="7",
              svc="svc_b"),
    ]
    counters = windowed_link_counters(
        dependency_links(spark.createDataFrame(rows, SPANS_STREAM_SCHEMA))
    ).collect()
    by_window = {r["window_start_ms"]: r for r in counters}
    assert len(by_window) == 2
    first, second = sorted(by_window)
    assert by_window[first]["call_count"] == 2
    assert by_window[second]["call_count"] == 1


def test_index_build(fixture_spans):
    names = {r["service_name"]: r["names"] for r in span_names(fixture_spans).collect()}
    assert names == {"svc_a": "op_a", "svc_b": "op_b", "svc_c": "op_c"}
    tags = {
        r["tag_key"]: r["tag_values"]
        for r in autocomplete_tags(fixture_spans, keys=("environment",)).collect()
    }
    assert tags == {"environment": "dev"}


def test_find_traces_semantics(fixture_spans):
    store = SpanStore(fixture_spans)
    base_ms = 1_700_000_000_000
    # by service: only trace a involves svc_a
    got = store.get_traces(
        QueryRequest(service_name="svc_a", end_ts=base_ms + 600_000,
                     lookback=3_600_000)
    ).collect()
    assert [r["trace_id"] for r in got] == ["000000000000000a"]
    # unfiltered limit=1 returns the NEWEST trace first
    got = store.get_traces(
        QueryRequest(end_ts=base_ms + 600_000, lookback=3_600_000, limit=1)
    ).collect()
    assert [r["trace_id"] for r in got] == ["000000000000000b"]
    # min_duration co-occurring with service on a single span (P4)
    got = store.get_traces(
        QueryRequest(service_name="svc_c", min_duration=10_000,
                     end_ts=base_ms + 600_000, lookback=3_600_000)
    ).collect()
    assert [r["trace_id"] for r in got] == ["000000000000000b"]
    # annotation query: tag exists + equals
    got = store.get_traces(
        QueryRequest(annotation_query={"environment": "dev"},
                     end_ts=base_ms + 600_000, lookback=3_600_000)
    ).collect()
    assert [r["trace_id"] for r in got] == ["000000000000000a"]


def test_get_traces_by_ids(fixture_spans):
    store = SpanStore(fixture_spans)
    got = store.get_traces_by_ids(["000000000000000a", "000000000000000b"])
    assert got.count() == 2
    # ids are normalized (upper case, unpadded) and de-duplicated, the way
    # get_trace finds them (KafkaSpanStore.java:84)
    got = store.get_traces_by_ids(["A", "000000000000000a", "0B"])
    assert sorted(r["trace_id"] for r in got.collect()) == [
        "000000000000000a", "000000000000000b"
    ]


def test_get_trace_normalizes_argument(spark):
    spans = spark.createDataFrame(
        [_span("0000000000000abc", "1", 1_700_000_000 * MICROS)],
        SPANS_STREAM_SCHEMA,
    )
    got = SpanStore(spans).get_trace("ABC").collect()
    assert [r["trace_id"] for r in got] == ["0000000000000abc"]


def test_normalize_trace_id(spark):
    df = spark.createDataFrame(
        [Row(t="ABC"), Row(t="a" * 17)]
    ).select(normalize_trace_id("t").alias("n"))
    vals = [r["n"] for r in df.collect()]
    assert vals[0] == "0" * 13 + "abc"
    assert vals[1] == "0" * 15 + "a" * 17


def test_normalize_trace_id_str_matches_column_form(spark):
    raw = ["ABC", "a" * 16, "F" * 17, "0" * 32, "1" * 33, "aB" * 8]
    df = spark.createDataFrame([Row(t=t) for t in raw])
    want = [r["n"] for r in df.select(normalize_trace_id("t").alias("n")).collect()]
    assert [normalize_trace_id_str(t) for t in raw] == want


def test_trace_merge_dedups_spans(spark):
    """Trace.merge parity: duplicate span id (same shared flag) collapses
    to one (zipkin2 semantics via SpanAggregationTopology.java:101-113)."""
    base = 1_700_000_000 * MICROS
    rows = [
        _span("000000000000000a", "1", base),
        _span("000000000000000a", "1", base + 5),  # duplicate id, later ts
        _span("000000000000000a", "2", base + 10, parent="1", svc="svc_b"),
    ]
    traces = aggregate_traces(spark.createDataFrame(rows, SPANS_STREAM_SCHEMA))
    merged = {r["trace_id"]: r for r in merge_trace_spans(traces).collect()}
    a = merged["000000000000000a"]
    assert a["span_count"] == 2
    assert [s["id"] for s in a["spans"]] == ["1", "2"]
    assert a["spans"][0]["timestamp"] == base  # earliest occurrence kept


# -- P4 on the canonical nested shape: arbitrary tag keys, zipkin2 bare-key --

NESTED_SCHEMA = (
    "trace_id string, parent_id string, id string, kind string, name string, "
    "timestamp long, duration long, "
    "local_endpoint struct<service_name:string,ipv4:string,ipv6:string,port:int>, "
    "remote_endpoint struct<service_name:string,ipv4:string,ipv6:string,port:int>, "
    "annotations array<struct<timestamp:long,value:string>>, "
    "tags map<string,string>"
)


def _nested_span(trace_id, sid, ts_us, svc="svc_a", tags=None, anns=None):
    return (
        trace_id, None, sid, "CLIENT", "op", ts_us, 1000,
        (svc, None, None, None), None, anns or [], tags or {},
    )


@pytest.fixture(scope="module")
def nested_store(spark):
    base = 1_700_000_000 * MICROS
    rows = [
        _nested_span("00000000000000a1", "1", base,
                     tags={"http.method": "GET", "http.path": "/api"}),
        _nested_span("00000000000000a2", "2", base + 10,
                     tags={"http.method": "POST"}),
        _nested_span("00000000000000a3", "3", base + 20,
                     anns=[(base + 20, "ws")]),
    ]
    nested = spark.createDataFrame(rows, NESTED_SCHEMA)
    # summaries built from a scalar projection of the same spans
    scalar = nested.select(
        "trace_id", "id", "parent_id", "kind", "name", "timestamp",
        "duration",
        F.col("local_endpoint.service_name").alias("local_service"),
        F.col("remote_endpoint.service_name").alias("remote_service"),
        F.lit(None).cast("string").alias("tag_k"),
        F.lit(None).cast("string").alias("env"),
        F.lit(False).alias("is_error"),
    )
    from zipkin_storage_kafka_spark.operators import trace_summaries

    return SpanStore(nested, summaries=trace_summaries(scalar))


def test_arbitrary_tag_key_value(nested_store):
    """annotationQuery=http.method=GET must match via the tags map — the
    round-1 implementation hard-wired testdata keys and silently returned
    nothing for any other key."""
    got = nested_store.get_traces(
        QueryRequest(annotation_query={"http.method": "GET"}, limit=10)
    )
    assert [r["trace_id"] for r in got.collect()] == ["00000000000000a1"]


def test_bare_key_matches_tag_presence(nested_store):
    got = nested_store.get_traces(
        QueryRequest(annotation_query={"http.path": ""}, limit=10)
    )
    assert [r["trace_id"] for r in got.collect()] == ["00000000000000a1"]


def test_bare_key_matches_annotation_value(nested_store):
    """zipkin2: a bare annotationQuery token also matches spans carrying an
    *annotation* whose value equals the token."""
    got = nested_store.get_traces(
        QueryRequest(annotation_query={"ws": ""}, limit=10)
    )
    assert [r["trace_id"] for r in got.collect()] == ["00000000000000a3"]


def test_unmatched_tag_value_excludes(nested_store):
    got = nested_store.get_traces(
        QueryRequest(annotation_query={"http.method": "DELETE"}, limit=10)
    )
    assert got.count() == 0


# ---------------------------------------------------------------------------
# 5. Full DependencyLinker tree semantics (zipkin2 library the reference
#    delegates to; fixtures from SpanAggregationTopologyTest.java:75-105 and
#    ITKafkaStorage.java:175-190)


def _linked(spark, rows):
    from zipkin_storage_kafka_spark.operators import (
        dependency_links_tree,
        merge_links,
    )

    spans = spark.createDataFrame(rows, SPANS_STREAM_SCHEMA)
    return {
        (r["parent"], r["child"]): (r["call_count"], r["error_count"])
        for r in merge_links(dependency_links_tree(spans)).collect()
    }


def test_linker_parentless_server_adopted_under_root(spark):
    """SpanAggregationTopologyTest.java:75-105: CLIENT svc_a and SERVER
    svc_b, NEITHER carrying a parent id — SpanNode adoption hangs the
    server under the root and the link is still svc_a -> svc_b x1."""
    base = 1_700_000_000 * MICROS
    links = _linked(spark, [
        _span("00000000000000aa", "a", base, svc="svc_a", name="op_a",
              kind="CLIENT"),
        _span("00000000000000aa", "b", base + 5, svc="svc_b", name="op_b",
              kind="SERVER"),
    ])
    assert links == {("svc_a", "svc_b"): (1, 0)}


def test_linker_rpc_pair_counts_once(spark):
    """ITKafkaStorage.java:175-190 trace: CLIENT svc_a (remote svc_b) +
    parentless SERVER svc_b.  The client has a child after adoption, so
    only the server side links — one call, not two."""
    base = 1_700_000_000 * MICROS
    links = _linked(spark, [
        _span("00000000000000ab", "a", base, svc="svc_a", kind="CLIENT",
              remote="svc_b"),
        _span("00000000000000ab", "b", base + 5, svc="svc_b", kind="SERVER"),
    ])
    assert links == {("svc_a", "svc_b"): (1, 0)}


def test_linker_client_leaf_links_to_remote(spark):
    """A lone CLIENT span with a remote endpoint links local -> remote
    (how single-span client traces produce links in zipkin)."""
    base = 1_700_000_000 * MICROS
    links = _linked(spark, [
        _span("00000000000000ac", "a", base, svc="svc_a", kind="CLIENT",
              remote="db"),
    ])
    assert links == {("svc_a", "db"): (1, 0)}


def test_linker_server_remote_beats_tree_parent(spark):
    """A SERVER span carrying remoteEndpoint (the caller's name recorded
    server-side) uses it as the link parent even when a tree parent with a
    different service exists."""
    base = 1_700_000_000 * MICROS
    links = _linked(spark, [
        _span("00000000000000ad", "a", base, svc="svc_gw", kind=None),
        _span("00000000000000ad", "b", base + 5, parent="a", svc="svc_b",
              kind="SERVER", remote="svc_real_caller"),
    ])
    assert links == {("svc_real_caller", "svc_b"): (1, 0)}


def test_linker_messaging_producer_consumer(spark):
    """Messaging kinds never walk the tree: PRODUCER links local -> broker
    (even with children), CONSUMER links broker -> local; a CONSUMER with
    no broker name yields no link."""
    base = 1_700_000_000 * MICROS
    links = _linked(spark, [
        _span("00000000000000ae", "a", base, svc="svc_pub", kind="PRODUCER",
              remote="kafka"),
        _span("00000000000000ae", "b", base + 5, parent="a", svc="svc_sub",
              kind="CONSUMER", remote="kafka"),
        _span("00000000000000ae", "c", base + 9, parent="b", svc="svc_sub2",
              kind="CONSUMER", remote=None),
    ])
    assert links == {
        ("svc_pub", "kafka"): (1, 0),
        ("kafka", "svc_sub"): (1, 0),
    }


def test_linker_error_attribution(spark):
    """The link-creating span carries the error flag into error_count."""
    base = 1_700_000_000 * MICROS
    links = _linked(spark, [
        _span("00000000000000af", "a", base, svc="svc_a", kind="CLIENT"),
        _span("00000000000000af", "b", base + 5, parent="a", svc="svc_b",
              kind="SERVER", error=True),
        _span("00000000000000af", "c", base + 9, parent="b", svc="svc_b",
              kind="CLIENT", remote="db", error=True),
    ])
    assert links == {
        ("svc_a", "svc_b"): (1, 1),
        ("svc_b", "db"): (1, 1),
    }


def test_linker_shared_span_rpc_counts_once(spark):
    """zipkin V2 shared spans: the server half reuses the client's span id
    with shared=true.  The pair must produce exactly one link
    (client.local -> server.local), and a downstream child of the shared id
    must hang under the SERVER copy."""
    from zipkin_storage_kafka_spark.operators import (
        dependency_links_tree,
        merge_links,
    )

    base = 1_700_000_000 * MICROS
    rows = [
        # root client, svc_front, id c1
        ("00000000000000b0", "c1", None, "CLIENT", "op", base, 1000,
         "svc_front", None, "1", None, False, None),
        # shared server half: SAME id, shared=true, svc_back
        ("00000000000000b0", "c1", None, "SERVER", "op", base + 2, 900,
         "svc_back", None, "1", None, False, True),
        # downstream server child on the callee side, parent = shared id
        ("00000000000000b0", "c2", "c1", "SERVER", "op2", base + 5, 100,
         "svc_db", None, "1", None, False, None),
    ]
    schema = (
        "trace_id string, id string, parent_id string, kind string, "
        "name string, timestamp long, duration long, local_service string, "
        "remote_service string, tag_k string, env string, is_error boolean, "
        "shared boolean"
    )
    spans = spark.createDataFrame(rows, schema)
    links = {
        (r["parent"], r["child"]): r["call_count"]
        for r in merge_links(dependency_links_tree(spans)).collect()
    }
    # client->server once; downstream child links from the SERVER copy's
    # service (svc_back), not the client's
    assert links == {
        ("svc_front", "svc_back"): 1,
        ("svc_back", "svc_db"): 1,
    }


def test_critical_path_branching_tree(spark):
    """root(10) -> a(50) -> c(5); root -> b(20): critical path is
    root+a+c = 65, not the span sum (85) nor root+b (30).  A second
    root-only trace pins the single-span case, and an orphan span (parent
    never ingested) is excluded like the recursive oracle excludes it."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        critical_paths,
        span_path_costs,
    )

    rows = [
        _span("t1", "r", 0, parent=None, dur=10),
        _span("t1", "a", 1, parent="r", dur=50),
        _span("t1", "b", 2, parent="r", dur=20),
        _span("t1", "c", 3, parent="a", dur=5),
        _span("t2", "x", 4, parent=None, dur=7),
        _span("t3", "lost", 5, parent="nope", dur=99),
    ]
    spans = spark.createDataFrame(rows, SPANS_STREAM_SCHEMA)
    costs = {
        r["id"]: r["path_cost"]
        for r in span_path_costs(spans).collect()
    }
    assert costs == {"r": 10, "a": 60, "b": 30, "c": 65, "x": 7}
    crit = {
        r["trace_id"]: (r["n_spans"], r["critical_path_us"])
        for r in critical_paths(spans).collect()
    }
    assert crit == {"t1": (4, 65), "t2": (1, 7)}


def test_self_time_subtracts_direct_children(spark):
    """Self time charges each service only for time not spent in direct
    callees; overlapping async children legitimately go negative."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        self_time_by_service,
    )

    rows = [
        _span("t1", "r", 0, parent=None, svc="svc_a", dur=100),
        _span("t1", "a", 1, parent="r", svc="svc_b", dur=30),
        _span("t1", "b", 2, parent="r", svc="svc_b", dur=40),
        _span("t1", "c", 3, parent="a", svc="svc_c", dur=60),
    ]
    out = {
        r["local_service"]: (r["n_spans"], r["self_time_us"])
        for r in self_time_by_service(
            spark.createDataFrame(rows, SPANS_STREAM_SCHEMA)
        ).collect()
    }
    # svc_a: 100 - (30+40) = 30; svc_b: (30-60) + 40 = 10; svc_c: 60
    assert out == {"svc_a": (1, 30), "svc_b": (2, 10), "svc_c": (1, 60)}


def test_bpe_train_rounds_hand_computed(spark):
    """Corpus 'aaab aaab ab': round 1 merges 'a a' (count 4), round 2
    'a b' (3), round 3 'aa ab' (2); symbol totals shrink 8 -> 5 -> 3.
    Exercises the doubled-space replace on back-to-back pair occurrences
    ('a a a' merges greedily left-to-right into [aa, a])."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        bpe_train_rounds,
    )

    docs = spark.createDataFrame(
        [(0, "aaab aaab ab")], "doc_id long, text string"
    )
    rows = {
        r["round"]: (
            r["merged_pair"],
            r["pair_count"],
            r["corpus_symbols_after"],
        )
        for r in bpe_train_rounds(docs).collect()
    }
    assert rows == {
        1: ("a a", 4, 8),
        2: ("a b", 3, 5),
        3: ("aa ab", 2, 3),
    }


def test_morton32_matches_python_interleave(spark):
    """The div/mod Morton expression must equal a Python bit-interleave on
    edge and random-ish values (0, maxima, asymmetric patterns)."""
    from zipkin_storage_kafka_spark.operators.analytics import morton32

    def py_morton(x, y):
        z = 0
        for i in range(16):
            z |= ((x >> i) & 1) << (2 * i)
            z |= ((y >> i) & 1) << (2 * i + 1)
        return z

    cases = [(0, 0), (3, 1), (65535, 0), (0, 65535), (65535, 65535),
             (0x1234, 0xABCD), (1, 2), (32768, 16384)]
    df = spark.createDataFrame(cases, "x long, y long")
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", morton32(F.col("x"), F.col("y")).alias("z")
        ).collect()
    }
    for x, y in cases:
        assert got[(x, y)] == py_morton(x, y), (x, y)


def test_incremental_counter_merge(spark):
    """Counter monoid law: merging per-half counter stores must equal the
    full recompute for an arbitrary time split — the invariant that makes
    incremental (delta-only) store refresh sound."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        dependency_links,
        merge_counter_windows,
        windowed_link_counters,
    )

    base = 1_700_000_000 * MICROS
    rows = [
        _span("t1", "1", base, svc="svc_a"),
        _span("t1", "2", base + 10, parent="1", svc="svc_b"),
        _span("t2", "3", base + 30_000_000, svc="svc_a"),
        _span("t2", "4", base + 30_000_010, parent="3", svc="svc_b",
              error=True),
        _span("t3", "5", base + 120 * MICROS, svc="svc_a"),
        _span("t3", "6", base + 120 * MICROS + 5, parent="5", svc="svc_c"),
    ]
    spans = spark.createDataFrame(rows, SPANS_STREAM_SCHEMA)
    links = dependency_links(spans)
    full = windowed_link_counters(links)
    cut = base + 60 * MICROS
    merged = merge_counter_windows(
        windowed_link_counters(links.filter(F.col("timestamp") < cut)),
        windowed_link_counters(links.filter(F.col("timestamp") >= cut)),
    )
    key = ["window_start_ms", "parent", "child", "call_count", "error_count"]
    assert sorted(map(tuple, full.select(key).collect())) == sorted(
        map(tuple, merged.select(key).collect())
    )
    # the same-window accumulation case really merged (svc_a->svc_b x2)
    row = [r for r in full.collect() if r["child"] == "svc_b"]
    assert row and row[0]["call_count"] == 2 and row[0]["error_count"] == 1


def test_anomalous_span_counts_hand_computed(spark):
    """10 spans at 100us + one at 10000us: the outlier sits just past the
    3-sigma boundary ((n*x-s)^2*(n-1) = 9.8019e10 vs rhs 9.70299e10), so
    exactly one anomaly — a deliberately tight margin that would flip if
    either engine's arithmetic drifted."""
    from zipkin_storage_kafka_spark.operators.indexes import (
        anomalous_span_counts,
    )

    rows = [
        _span("t1", f"{i:x}", i, svc="svc_a", dur=100) for i in range(10)
    ] + [_span("t1", "ff", 99, svc="svc_a", dur=10000)]
    out = anomalous_span_counts(
        spark.createDataFrame(rows, SPANS_STREAM_SCHEMA)
    ).collect()
    assert len(out) == 1
    assert (out[0]["n_spans"], out[0]["n_anomalies"]) == (11, 1)
