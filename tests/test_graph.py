"""Connected-components semantics on hand-built graphs (the cluster
resolution step after near-dup pair generation)."""

from __future__ import annotations

from zipkin_storage_kafka_spark.operators.dedup import (
    connected_components,
    dedup_clusters,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "doc_a long, doc_b long")


def test_chain_and_isolated_pair(spark):
    # chain 1-2-3-4 needs multiple propagation sweeps; 10-11 is isolated
    pairs = _pairs(spark, [(2, 1), (2, 3), (3, 4), (10, 11)])
    got = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_report(spark):
    pairs = _pairs(spark, [(5, 9), (9, 7), (20, 21)])
    rows = {r["component_id"]: r for r in dedup_clusters(pairs).collect()}
    assert rows[5]["n_docs"] == 3 and rows[5]["member_ids"] == "5,7,9"
    assert rows[20]["n_docs"] == 2 and rows[20]["member_ids"] == "20,21"


def test_triangle_converges_first_sweep(spark):
    pairs = _pairs(spark, [(1, 2), (2, 3), (1, 3)])
    got = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(pairs, max_iters=3).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1}


def test_span_depths_bushy_tree(spark):
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        span_depths,
    )

    #        r
    #      /   \
    #     a     b
    #    / \     \
    #   c   d     e      (+ second trace: lone root q)
    rows = [
        ("t1", "r", None), ("t1", "a", "r"), ("t1", "b", "r"),
        ("t1", "c", "a"), ("t1", "d", "a"), ("t1", "e", "b"),
        ("t2", "q", None),
    ]
    spans = spark.createDataFrame(
        rows, "trace_id string, id string, parent_id string"
    )
    got = {r["id"]: r["depth"] for r in span_depths(spans).collect()}
    assert got == {"r": 0, "a": 1, "b": 1, "c": 2, "d": 2, "e": 2, "q": 0}


def test_span_depths_deep_chain_log_sweeps(spark):
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        span_depths,
    )

    # depth 40 chain: ancestor pointers double per round inside the
    # trace's array -> 6 rounds, not 40
    rows = [("t", "n0", None)] + [
        ("t", f"n{i}", f"n{i-1}") for i in range(1, 41)
    ]
    spans = spark.createDataFrame(
        rows, "trace_id string, id string, parent_id string"
    )
    got = {r["id"]: r["depth"] for r in span_depths(spans).collect()}
    assert got[f"n40"] == 40 and got["n0"] == 0 and len(got) == 41


def test_service_pagerank_hand_computed(spark):
    """A->B(1), A->C(3), B->C(1): three integer-exact power rounds, every
    intermediate hand-checked (N=3, r0=333333, damping 850000/1e6)."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_pagerank,
    )

    links = spark.createDataFrame(
        [("A", "B", 1), ("A", "C", 3), ("B", "C", 1)],
        "parent string, child string, call_count long",
    )
    out = {
        r["service"]: r["rank_micro"]
        for r in service_pagerank(links).collect()
    }
    assert out == {"A": 50000, "B": 60625, "C": 133406}


def test_span_depths_colliding_ids_across_traces(spark):
    """zipkin2 span ids are unique only WITHIN a trace: the same id in two
    traces must not splice ancestries (the sweep join is trace-qualified).

    t1: r1 -> dup (depth 1); t2: dup is the ROOT, c2 -> dup (depth 1).
    An unqualified join on span id would match t2's c2 against t1's dup
    row too, duplicating rows and fabricating a depth-2 path.
    """
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        span_depths,
    )

    rows = [
        ("t1", "r1", None), ("t1", "dup", "r1"),
        ("t2", "dup", None), ("t2", "c2", "dup"),
    ]
    spans = spark.createDataFrame(
        rows, "trace_id string, id string, parent_id string"
    )
    out = span_depths(spans).collect()
    assert len(out) == 4  # no row duplication from cross-trace matches
    got = {(r["trace_id"], r["id"]): r["depth"] for r in out}
    assert got == {
        ("t1", "r1"): 0, ("t1", "dup"): 1,
        ("t2", "dup"): 0, ("t2", "c2"): 1,
    }


def test_critical_paths_colliding_ids_across_traces(spark):
    """Path costs with a cross-trace id collision: t2's child must sum only
    its OWN trace's root duration (100+7), never t1's dup duration."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        critical_paths,
    )

    rows = [
        ("t1", "r1", None, 50), ("t1", "dup", "r1", 20),
        ("t2", "dup", None, 100), ("t2", "c2", "dup", 7),
    ]
    spans = spark.createDataFrame(
        rows, "trace_id string, id string, parent_id string, duration long"
    )
    got = {
        r["trace_id"]: (r["n_spans"], r["critical_path_us"])
        for r in critical_paths(spans).collect()
    }
    assert got == {"t1": (2, 70), "t2": (2, 107)}


def test_self_time_colliding_ids_across_traces(spark):
    """Child-duration subtraction must be per (trace_id, parent_id): span
    'dup' in svc2/t2 has NO children and must not absorb t1's child sum."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        self_time_by_service,
    )

    rows = [
        ("t1", "dup", None, "svc1", 50),
        ("t1", "k1", "dup", "svc1", 20),
        ("t2", "dup", None, "svc2", 100),
    ]
    spans = spark.createDataFrame(
        rows,
        "trace_id string, id string, parent_id string, "
        "local_service string, duration long",
    )
    got = {
        r["local_service"]: r["self_time_us"]
        for r in self_time_by_service(spans).collect()
    }
    # svc1: (50-20) + 20 = 50; svc2: 100 untouched (no cross-trace leak)
    assert got == {"svc1": 50, "svc2": 100}


def test_star_cc_equals_propagation_on_fixture_graphs(spark):
    """Large-star/small-star CC must produce the identical component map
    as min-label propagation on shapes that stress different paths: a
    clique (dedup-typical), a 12-hop chain (diameter worst case for
    propagation), a bridge of two cliques, and disjoint components with
    an isolated pair."""
    from zipkin_storage_kafka_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    graphs = {
        "clique": [(a, b) for a in range(1, 6) for b in range(a + 1, 6)],
        "chain": [(i, i + 1) for i in range(1, 13)],
        "bridged": [(1, 2), (2, 3), (3, 1), (3, 10), (10, 11), (11, 12), (12, 10)],
        "disjoint": [(1, 2), (5, 6), (6, 7), (100, 101)],
    }
    for name, edges in graphs.items():
        pairs = spark.createDataFrame(edges, "doc_a long, doc_b long")
        prop = {
            r["doc_id"]: r["component_id"]
            for r in connected_components(pairs).collect()
        }
        star = {
            r["doc_id"]: r["component_id"]
            for r in connected_components_star(pairs).collect()
        }
        assert prop == star, name
        # component ids are the true minima
        for doc, comp in star.items():
            assert comp <= doc, name
        # both m(u) implementations (window single-exchange default vs
        # AQE-splittable groupBy+join) are interchangeable
        join_impl = {
            r["doc_id"]: r["component_id"]
            for r in connected_components_star(
                pairs, min_impl="join"
            ).collect()
        }
        assert join_impl == star, name


def test_star_cc_equals_propagation_on_lsh_candidates(spark, sf_dir):
    """Same equivalence on the real LSH candidate graph."""
    from zipkin_storage_kafka_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )
    from zipkin_storage_kafka_spark.plans.registry_pipeline import (
        _lsh_candidates,
    )

    pairs = _lsh_candidates(spark, sf_dir)
    prop = {
        r["doc_id"]: r["component_id"]
        for r in connected_components(pairs).collect()
    }
    star = {
        r["doc_id"]: r["component_id"]
        for r in connected_components_star(pairs).collect()
    }
    assert prop == star


def test_trace_concurrency_hand_fixture(spark):
    """Sweep-line overlap pinned by hand: three overlapping spans peak at
    3; a back-to-back pair (B starts exactly when A ends) peaks at 1
    (ends sort before starts at equal time); a zero/null-duration span is
    concurrent with itself for one micro."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        trace_concurrency,
    )

    rows = [
        # t1: [0,100) [50,150) [60,70) -> peak 3
        ("t1", "a", 0, 100),
        ("t1", "b", 50, 100),
        ("t1", "c", 60, 10),
        # t2: [0,100) then [100,200) -> never overlap
        ("t2", "a", 0, 100),
        ("t2", "b", 100, 100),
        # t3: zero-duration at 5 inside [0,100) -> peak 2;
        # null duration at 300, alone -> still counts itself
        ("t3", "a", 0, 100),
        ("t3", "b", 5, 0),
        ("t3", "c", 300, None),
    ]
    spans = spark.createDataFrame(
        rows, "trace_id string, id string, timestamp long, duration long"
    )
    out = {
        r["trace_id"]: (r["n_spans"], r["max_concurrent"])
        for r in trace_concurrency(spans).collect()
    }
    assert out == {"t1": (3, 3), "t2": (2, 1), "t3": (3, 2)}


def test_window_active_spans_hand_fixture(spark):
    """Overlap-aware window counts pinned by hand: a span crossing a
    minute boundary counts in BOTH windows; one ending exactly on the
    boundary (half-open interval) counts only in its first; a
    zero-duration span occupies exactly one window."""
    from zipkin_storage_kafka_spark.operators.indexes import (
        window_active_spans,
    )

    m = 60_000_000
    rows = [
        ("t1", "a", "svc", 30_000_000, m),        # [0.5m, 1.5m) -> w0, w1
        ("t1", "b", "svc", 0, m),                 # [0, 1m) -> w0 only
        ("t1", "c", "svc", 2 * m, 0),             # zero-dur at 2m -> w2
        ("t1", "d", None, 0, m),                  # null service dropped
    ]
    spans = spark.createDataFrame(
        rows,
        "trace_id string, id string, local_service string, "
        "timestamp long, duration long",
    )
    out = {
        (r["local_service"], r["window_start_ms"]): r["active_spans"]
        for r in window_active_spans(spans).collect()
    }
    assert out == {("svc", 0): 2, ("svc", 60_000): 1, ("svc", 120_000): 1}


def test_service_triangles_fixture(spark):
    """Hand-checked service graph: one triangle {a,b,c} (reached through
    mixed edge directions and a duplicate link), a pendant d, a square
    w-x-y-z with no diagonal (zero triangles), and a self-loop-only
    service e that must still get its zero row."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_triangles,
    )

    links = spark.createDataFrame(
        [
            ("a", "b"), ("b", "a"),          # duplicate + reversed
            ("b", "c"), ("c", "a"),          # closes the triangle
            ("c", "d"),                      # pendant
            ("w", "x"), ("x", "y"), ("y", "z"), ("z", "w"),  # square
            ("e", "e"),                      # self loop only
        ],
        "parent string, child string",
    )
    got = {
        r["service"]: r["triangles"]
        for r in service_triangles(links).collect()
    }
    assert got == {
        "a": 1, "b": 1, "c": 1, "d": 0,
        "w": 0, "x": 0, "y": 0, "z": 0, "e": 0,
    }


def test_service_triangles_k4(spark):
    """K4 has 4 triangles; every corner sits in exactly 3."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_triangles,
    )

    nodes = ["p", "q", "r", "s"]
    links = spark.createDataFrame(
        [(u, v) for u in nodes for v in nodes if u < v],
        "parent string, child string",
    )
    got = {
        r["service"]: r["triangles"]
        for r in service_triangles(links).collect()
    }
    assert got == {n: 3 for n in nodes}
