"""Round-7 fixtures: the ADVICE r06 hardening (cycle guards in the
root-path sweep, error-shift semantics in the deploy diff) and the
round's new operators."""

from __future__ import annotations

import pytest
from pyspark.errors import PySparkException
from pyspark.sql import Row
from pyspark.sql import functions as F

_SPAN_SCHEMA = (
    "trace_id string, id string, parent_id string, local_service string"
)


def _paths(spark, rows):
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        span_root_paths,
    )

    df = spark.createDataFrame(rows, _SPAN_SCHEMA)
    return {
        (r["trace_id"], r["id"]): r["root_path"]
        for r in span_root_paths(df).collect()
    }


def test_root_paths_self_parent_dropped(spark):
    """A self-parent span (parent_id == id) is malformed and unreachable
    from any root — it must drop out instead of doubling its accumulator
    every sweep (ADVICE r06)."""
    out = _paths(
        spark,
        [
            Row(trace_id="t", id="a", parent_id=None, local_service="root"),
            Row(trace_id="t", id="b", parent_id="a", local_service="leaf"),
            Row(trace_id="t", id="x", parent_id="x", local_service="bad"),
        ],
    )
    assert out == {("t", "a"): "root", ("t", "b"): "root>leaf"}


def test_root_paths_even_cycle_dropped(spark):
    """A 2-cycle (a<->b) never resolves to a root; the anc==id guard
    removes it the sweep it becomes its own ancestor."""
    out = _paths(
        spark,
        [
            Row(trace_id="t", id="r", parent_id=None, local_service="svc0"),
            Row(trace_id="t", id="c", parent_id="r", local_service="svc1"),
            Row(trace_id="u", id="a", parent_id="b", local_service="s"),
            Row(trace_id="u", id="b", parent_id="a", local_service="s"),
        ],
    )
    assert out == {("t", "r"): "svc0", ("t", "c"): "svc0>svc1"}


def test_root_paths_odd_cycle_dropped(spark):
    """A 3-cycle's doubling distance is never 0 mod 3, so anc==id never
    fires — the depth bound (dist > spans-per-trace) must catch it."""
    out = _paths(
        spark,
        [
            Row(trace_id="t", id="r", parent_id=None, local_service="svc0"),
            Row(trace_id="u", id="a", parent_id="c", local_service="s"),
            Row(trace_id="u", id="b", parent_id="a", local_service="s"),
            Row(trace_id="u", id="c", parent_id="b", local_service="s"),
        ],
    )
    assert out == {("t", "r"): "svc0"}


def test_root_paths_null_service_propagates(spark):
    """A NULL local_service anywhere on the chain NULLs the whole path,
    matching the recursive-CTE oracle's || semantics (concat_ws would
    silently skip the hop)."""
    out = _paths(
        spark,
        [
            Row(trace_id="t", id="r", parent_id=None, local_service="svc0"),
            Row(trace_id="t", id="m", parent_id="r", local_service=None),
            Row(trace_id="t", id="l", parent_id="m", local_service="svc2"),
        ],
    )
    assert out == {
        ("t", "r"): "svc0",
        ("t", "m"): None,
        ("t", "l"): None,
    }


# (trace_id, id, parent_id, duration): the rooted chain a -> b next to
# spans no root reaches, in the same trace.
_UNROOTED = {
    "self_parent": [("t", "x", "x", 3)],
    "even_cycle": [("t", "c", "d", 3), ("t", "d", "c", 4)],
    "odd_cycle": [("t", "c", "e", 3), ("t", "d", "c", 4), ("t", "e", "d", 5)],
}


@pytest.mark.parametrize("case", sorted(_UNROOTED))
def test_depths_and_costs_drop_unrooted_spans(spark, case):
    """Self-parent and cyclic spans never reach a root: depth and path
    cost drop them, as the root path and the recursive-CTE oracles do,
    instead of reporting the hops a pointer walk ran up around the loop."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        span_depths,
        span_path_costs,
    )

    rows = [("t", "a", None, 1), ("t", "b", "a", 2)] + _UNROOTED[case]
    df = spark.createDataFrame(
        rows, "trace_id string, id string, parent_id string, duration long"
    )
    depths = {(r["trace_id"], r["id"]): r["depth"] for r in span_depths(df).collect()}
    costs = {
        (r["trace_id"], r["id"]): (r["path_cost"], r["depth"])
        for r in span_path_costs(df).collect()
    }
    assert depths == {("t", "a"): 0, ("t", "b"): 1}
    assert costs == {("t", "a"): (1, 0), ("t", "b"): (3, 1)}


def test_span_tree_repeated_span_id_fails_naming_trace(spark):
    """The tree walk indexes spans by (trace_id, id); a trace that repeats
    an id (zipkin2's shared client/server halves) must fail loudly, not
    fan out or vanish."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        span_tree,
    )

    df = spark.createDataFrame(
        [
            Row(trace_id="ok", id="a", parent_id=None, local_service="s"),
            Row(trace_id="shared7", id="a", parent_id=None, local_service="c"),
            Row(trace_id="shared7", id="a", parent_id=None, local_service="s"),
            Row(trace_id="shared7", id="b", parent_id="a", local_service="s"),
        ],
        _SPAN_SCHEMA,
    )
    with pytest.raises(PySparkException, match="repeats within trace shared7"):
        span_tree(df, cost=False).collect()


def test_link_window_diff_error_shift_is_changed(spark):
    """Equal call volume but shifted error count must read 'changed' —
    the deploy-regression signal the panel exists for (ADVICE r06)."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        link_window_diff,
    )

    links = spark.createDataFrame(
        [
            # steady: 1 call each side, 0 errors
            Row(parent="a", child="b", timestamp=10, is_error=False),
            Row(parent="a", child="b", timestamp=110, is_error=False),
            # error shift at steady volume: 0 -> 1 errors
            Row(parent="a", child="c", timestamp=10, is_error=False),
            Row(parent="a", child="c", timestamp=110, is_error=True),
            # volume shift
            Row(parent="b", child="c", timestamp=10, is_error=False),
            Row(parent="b", child="c", timestamp=20, is_error=False),
            Row(parent="b", child="c", timestamp=110, is_error=False),
            # added / removed
            Row(parent="c", child="d", timestamp=110, is_error=False),
            Row(parent="d", child="e", timestamp=10, is_error=False),
        ],
        "parent string, child string, timestamp long, is_error boolean",
    )
    out = {
        (r["parent"], r["child"]): r["status"]
        for r in link_window_diff(links, split_us=100).collect()
    }
    assert out == {
        ("a", "b"): "steady",
        ("a", "c"): "changed",
        ("b", "c"): "changed",
        ("c", "d"): "added",
        ("d", "e"): "removed",
    }


def test_ivf_nprobe_recall_monotone_fixture(spark):
    """Tiny 2-cell corpus: probing only the query's cell misses the
    cross-cell neighbor (recall 0.5 at k=2); probing both cells recovers
    the exact set (recall 1.0).  Monotone in nprobe by construction."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.similarity import (
        ivf_nprobe_recall,
    )

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, label="a", embedding=[1.0, 0.0]),
            Row(vec_id=1, label="a", embedding=[0.9, 0.1]),
            Row(vec_id=2, label="b", embedding=[0.0, 1.0]),
            Row(vec_id=3, label="b", embedding=[-1.0, 0.1]),
        ],
        "vec_id bigint, label string, embedding array<double>",
    )
    out = {
        r["nprobe"]: (r["k"], r["n_hits"], r["recall"])
        for r in ivf_nprobe_recall(emb, 0, k=2, nprobes=(1, 2)).collect()
    }
    assert out == {1: (2, 1, 0.5), 2: (2, 2, 1.0)}


def test_frv_codec_roundtrip_and_validation():
    """Pure-codec checks (no Spark): encode->decode is the identity,
    magic and length are validated, header fields survive."""
    import numpy as np
    import pytest

    from zipkin_storage_kafka_spark.operators import multimodal as mm

    frames = mm.synth_frames(7, 3, 4, 3)
    payload = mm.encode_frv(frames, fps=4)
    assert len(payload) == mm.FRV_HEADER_BYTES + 3 * 3 * 4 * 3
    back, fps = mm.decode_frv(payload)
    assert fps == 4 and (back == frames).all()
    with pytest.raises(ValueError):
        mm.decode_frv(b"XXXX" + payload[4:])
    with pytest.raises(ValueError):
        mm.decode_frv(payload[:-1])
    # frame-offset pin: frame f's top-left red is (doc*31 + f*17) % 256
    assert [int(back[f, 0, 0, 0]) for f in range(3)] == [
        (7 * 31 + f * 17) % 256 for f in range(3)
    ]


def test_frv_operators_fixture(spark):
    """One tiny clip through all three operators: per-frame stats, the
    wrap-aware scene-cut energy, and the every-2nd-frame sample."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators import multimodal as mm

    docs = spark.createDataFrame(
        [Row(doc_id=1, n_chars=13)], "doc_id bigint, n_chars int"
    )
    media = mm.frv_media_from_documents(docs)
    # n=13%6+2=3 frames, w=13%8+4=9, h=13%5+3=6
    stats = {
        r["frame_index"]: (r["px000"], r["px_sum"])
        for r in mm.frv_frame_stats(media).collect()
    }
    assert set(stats) == {0, 1, 2}
    assert stats[0][0] == (1 * 31) % 256
    assert stats[1][0] == (1 * 31 + 17) % 256
    # closed-form sum check for frame 0
    want = sum(
        (1 * 31 + y * 7 + x * 3 + c * 11) % 256
        for y in range(6)
        for x in range(9)
        for c in range(3)
    )
    assert stats[0][1] == want
    cuts = mm.frv_scene_cuts(media, threshold=60.0).collect()
    assert {r["frame_index"] for r in cuts} == {1, 2}
    for r in cuts:
        assert 17.0 <= r["diff_energy"] <= 239.0
        assert r["is_cut"] == (r["diff_energy"] >= 60.0)
    sample = {
        r["frame_index"]: r["px_sum"]
        for r in mm.frv_frame_sample(media, every_n=2).collect()
    }
    assert set(sample) == {0, 2}
    assert sample[0] == stats[0][1] and sample[2] == stats[2][1]


def test_stream_incremental_dedup_equals_batch(spark, sf_dir):
    """Micro-batch boundaries must not change classification: the W10
    streamed sink equals the batch operator over the same snapshot and
    the same persisted index (per-doc probes against static state)."""
    from zipkin_storage_kafka_spark.operators.dedup import (
        derived_new_snapshot,
        incremental_dedup,
    )
    from zipkin_storage_kafka_spark.plans.registry_pipeline import (
        _dedup_index,
        _docs,
    )
    from zipkin_storage_kafka_spark.streaming.jobs import (
        incremental_dedup_via_stream,
    )

    index = _dedup_index(spark, sf_dir)
    streamed = sorted(
        map(
            tuple,
            incremental_dedup_via_stream(spark, sf_dir, index).collect(),
        )
    )
    batch = sorted(
        map(
            tuple,
            incremental_dedup(
                index, derived_new_snapshot(_docs(spark, sf_dir))
            ).collect(),
        )
    )
    assert streamed == batch and len(streamed) > 0


def test_canonical_docs_keeps_best_quality(spark):
    """Survivorship fixture: a 3-member cluster keeps the highest-quality
    member (not the min id), ties break to the smaller doc_id, and a
    separate 2-member cluster is independent."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.dedup import canonical_docs

    pairs = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2),
            Row(doc_a=2, doc_b=3),
            Row(doc_a=10, doc_b=11),
        ],
        "doc_a bigint, doc_b bigint",
    )
    quality = spark.createDataFrame(
        [
            Row(doc_id=1, quality=0.5),
            Row(doc_id=2, quality=0.9),
            Row(doc_id=3, quality=0.9),
            Row(doc_id=10, quality=0.2),
            Row(doc_id=11, quality=0.8),
        ],
        "doc_id bigint, quality double",
    )
    out = {
        r["component_id"]: (
            r["kept_doc_id"],
            r["kept_quality"],
            r["n_members"],
            r["n_dropped"],
        )
        for r in canonical_docs(pairs, quality).collect()
    }
    assert out == {1: (2, 0.9, 3, 2), 10: (11, 0.8, 2, 1)}


def test_orphan_span_stats_fixture(spark):
    """Dropping ids ending in '0' orphans exactly the children of the
    dropped span; roots and intact chains are untouched."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        orphan_span_stats,
    )

    rows = [
        # parent id ends in '0' -> dropped; child orphaned
        Row(trace_id="t", id="00000000000000a0", parent_id=None,
            local_service="a"),
        Row(trace_id="t", id="00000000000000a1",
            parent_id="00000000000000a0", local_service="b"),
        # intact chain
        Row(trace_id="u", id="00000000000000b1", parent_id=None,
            local_service="a"),
        Row(trace_id="u", id="00000000000000b2",
            parent_id="00000000000000b1", local_service="b"),
    ]
    df = spark.createDataFrame(rows, _SPAN_SCHEMA)
    out = {
        r["local_service"]: (r["n_spans"], r["n_orphans"], r["orphan_rate"])
        for r in orphan_span_stats(df).collect()
    }
    assert out == {"a": (1, 0, 0.0), "b": (2, 1, 0.5)}


def test_link_latency_gaps_fixture(spark):
    """Gap stats: exact micros sums, ms conversion after aggregation."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        link_latency_gaps,
    )

    schema = (
        "trace_id string, id string, parent_id string, "
        "local_service string, timestamp long"
    )
    rows = [
        Row(trace_id="t", id="p1", parent_id=None, local_service="a",
            timestamp=1_000_000),
        Row(trace_id="t", id="c1", parent_id="p1", local_service="b",
            timestamp=1_002_000),
        Row(trace_id="t", id="c2", parent_id="p1", local_service="b",
            timestamp=1_005_000),
    ]
    df = spark.createDataFrame(rows, schema)
    out = link_latency_gaps(df).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["parent"], r["child"], r["n_calls"]) == ("a", "b", 2)
    assert r["avg_gap_ms"] == 3.5 and r["max_gap_ms"] == 5.0


def test_hybrid_rrf_fixture(spark):
    """RRF fuses rank-only: a doc ranked #1 lexically and #2 densely
    beats a doc that is #1 in one arm only; docs absent from an arm get
    NULL there and only the present arm's reciprocal."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        hybrid_rrf_topk,
    )

    docs = spark.createDataFrame(
        [
            # doc 1: two query terms -> lex #1; doc 2: one term -> lex #2
            Row(doc_id=1, text="spark join engine overview"),
            Row(doc_id=2, text="spark only mention here today"),
            Row(doc_id=3, text="nothing relevant whatsoever indeed"),
        ],
        "doc_id bigint, text string",
    )
    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[1.0, 0.0]),   # query
            Row(vec_id=1, embedding=[0.8, 0.6]),   # sem #2
            Row(vec_id=2, embedding=[-1.0, 0.0]),  # sem #3
            Row(vec_id=3, embedding=[1.0, 0.1]),   # sem #1
        ],
        "vec_id bigint, embedding array<double>",
    )
    out = {
        r["doc_id"]: (r["lex_rank"], r["sem_rank"], r["rrf_score"])
        for r in hybrid_rrf_topk(docs, emb, 0, k=3).collect()
    }
    assert out[1][0] == 1 and out[1][1] == 2
    assert out[2][0] == 2 and out[2][1] == 3
    assert out[3][0] is None and out[3][1] == 1
    # both-arm presence dominates: doc 1 (1/61+1/62) > doc 2 (1/62+1/63)
    # > doc 3 (1/61 alone) — rank fusion rewards agreement across arms
    assert out[1][2] > out[2][2] > out[3][2]


def test_histogram_quantile_audit_fixture(spark):
    """10 spans of durations 1..10 ms in one service: p50 target rank 5
    -> bucket 5 (upper bound 6 ms); p99 rank 10 -> bucket 10 (11 ms);
    integer targets can't flip on float noise."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.sketches import (
        histogram_quantile_audit,
    )

    spans = spark.createDataFrame(
        [
            Row(local_service="a", duration=i * 1000)
            for i in range(1, 11)
        ],
        "local_service string, duration long",
    )
    out = {
        r["p"]: (r["n_spans"], r["est_hi_us"], r["exact_us"])
        for r in histogram_quantile_audit(spans).collect()
    }
    # duration i*1000 lands in bucket i (i*1000 div 1000 = i)
    assert out[50] == (10, 6000, 5500.0)   # rank ceil(5.0)=5 -> 5th
    assert out[95] == (10, 11000, 9550.0)  # rank ceil(9.5)=10 -> 10 ms
    assert out[99] == (10, 11000, 9910.0)


def test_lsh_bucket_cap_drops_degenerate_bucket(spark):
    """A bucket over the cap contributes no pairs; smaller buckets are
    untouched; stats report the exposure before capping."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.dedup import (
        lsh_bucket_stats,
        lsh_candidate_pairs,
    )

    buckets = spark.createDataFrame(
        [
            # degenerate: 3 members in one (band, bucket)
            Row(doc_id=1, b=0, bucket="big"),
            Row(doc_id=2, b=0, bucket="big"),
            Row(doc_id=3, b=0, bucket="big"),
            # normal pair
            Row(doc_id=4, b=1, bucket="small"),
            Row(doc_id=5, b=1, bucket="small"),
        ],
        "doc_id bigint, b int, bucket string",
    )
    stats = {
        r["size"]: (r["n_buckets"], r["pair_mass"])
        for r in lsh_bucket_stats(buckets).collect()
    }
    assert stats == {3: (1, 3), 2: (1, 1)}
    uncapped = lsh_candidate_pairs(buckets).count()
    assert uncapped == 4  # 3 from the big bucket + 1 small
    capped = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(buckets, bucket_cap=2).collect()
    }
    assert capped == {(4, 5)}


def test_jaccard_retention_curve_fixture(spark):
    """Two verified pairs at J=1.0 and J~0.333: the curve is monotone
    non-increasing and emits a row for every threshold, including ones
    nothing clears."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.dedup import (
        jaccard_retention_curve,
    )

    verified = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2, i=4, n_a=4, n_b=4),   # J = 1.0
            Row(doc_a=1, doc_b=3, i=2, n_a=4, n_b=4),   # J = 0.3333
        ],
        "doc_a bigint, doc_b bigint, i bigint, n_a bigint, n_b bigint",
    )
    out = {
        r["threshold"]: (r["n_pairs"], r["n_docs_dropped"])
        for r in jaccard_retention_curve(
            verified, thresholds=(0.3, 0.5, 0.9)
        ).collect()
    }
    assert out == {0.3: (2, 2), 0.5: (1, 1), 0.9: (1, 1)}


def test_banding_audit_fixture(spark):
    """One identical pair (J=1.0, all 4 bands agree) and one partial
    pair: bins, integer-exact averages, and the b*J^r expectation."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.dedup import banding_audit

    candidates = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2, n_bands=4),
            Row(doc_a=1, doc_b=3, n_bands=1),
        ],
        "doc_a bigint, doc_b bigint, n_bands bigint",
    )
    verified = spark.createDataFrame(
        [
            Row(doc_a=1, doc_b=2, i=4, n_a=4, n_b=4),  # J = 1.0
            Row(doc_a=1, doc_b=3, i=2, n_a=4, n_b=4),  # J = 0.3333
        ],
        "doc_a bigint, doc_b bigint, i bigint, n_a bigint, n_b bigint",
    )
    out = {
        r["j_bin"]: (
            r["n_pairs"],
            r["avg_bands_actual"],
            r["avg_bands_expected"],
        )
        for r in banding_audit(candidates, verified).collect()
    }
    # J=1.0 -> bin 10, expected 4*1^2 = 4; J=0.3333 -> bin 3,
    # expected 4*0.3333^2 = 0.4444
    assert out[10] == (1, 4.0, 4.0)
    assert out[3][0] == 1 and out[3][1] == 1.0
    assert abs(out[3][2] - 0.4444) < 1e-9


def test_ccnet_buckets_fixture(spark):
    """6 docs in one language split 2/2/2; fluent (common-bigram) docs
    land in the head, gibberish in the tail."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        ccnet_buckets,
    )

    common = "the cat sat on the mat and the hat"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text=common),
            Row(doc_id=2, lang="en", text=common + " again"),
            Row(doc_id=3, lang="en", text="the mat and the cat sat"),
            Row(doc_id=4, lang="en", text="zq xv jw qq zx vk wj"),
            Row(doc_id=5, lang="en", text="qz vx wk jq xz kv"),
            Row(doc_id=6, lang="en", text="the hat on a mat zz"),
        ],
        "doc_id bigint, lang string, text string",
    )
    out = {
        r["bucket"]: (r["label"], r["n_docs"])
        for r in ccnet_buckets(docs).collect()
    }
    assert out == {1: ("head", 2), 2: ("middle", 2), 3: ("tail", 2)}


def test_knn_graph_fixture(spark):
    """Hand-checked k-NN graph over 3 cells: tie-break on dst id for the
    equal-cosine pair, per-cell k_eff capping, a singleton cell emitting
    no node, and full reciprocity accounting."""
    from zipkin_storage_kafka_spark.operators.similarity import (
        knn_graph,
        knn_graph_stats,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0], 0),
            (1, [2.0, 0.2], 0),
            (2, [1.0, 0.1], 0),
            (3, [0.0, 1.0], 1),
            (4, [0.1, 2.0], 1),
            (5, [1.0, 1.0], 2),
        ],
        "vec_id long, embedding array<float>, label int",
    )
    edges = knn_graph(emb, k=2)
    got = {
        (r["src"], r["rank"]): (r["dst"], r["sim"])
        for r in edges.collect()
    }
    # v1 == 2*v2 (cosine exactly 1.0); v0 ties 0.995 to both, dst id
    # breaks the tie; the singleton cell (v5) emits nothing.
    assert got == {
        (0, 1): (1, 0.995),
        (0, 2): (2, 0.995),
        (1, 1): (2, 1.0),
        (1, 2): (0, 0.995),
        (2, 1): (1, 1.0),
        (2, 2): (0, 0.995),
        (3, 1): (4, 0.9988),
        (4, 1): (3, 0.9988),
    }
    stats = {
        r["vec_id"]: (
            r["cell"],
            r["k_eff"],
            r["mean_sim"],
            r["n_reciprocal"],
        )
        for r in knn_graph_stats(edges).collect()
    }
    assert stats == {
        0: (0, 2, 0.995, 2),
        1: (0, 2, 0.9975, 2),
        2: (0, 2, 0.9975, 2),
        3: (1, 1, 0.9988, 1),
        4: (1, 1, 0.9988, 1),
    }


def test_wav_vad_segments_fixture(spark):
    """Hand-checked VAD: active/quiet/active-active frames merge into
    two islands; a stereo file counts frame x channels values and drops
    the partial tail frame; an all-quiet file emits nothing."""
    import numpy as np

    from zipkin_storage_kafka_spark.operators.multimodal import (
        WAV_MEDIA_SCHEMA,
        encode_wav,
        wav_vad_segments,
    )

    def mono(vals):
        return np.asarray(vals, dtype=np.int16).reshape(-1, 1)

    loud = (
        [20000] * 8 + [1000] * 8 + [-17000] * 8 + [16000] * 8
    )  # frames: active, quiet, active, active
    stereo = np.full((9, 2), 20000, dtype=np.int16)  # 1 complete frame
    quiet = [10] * 16
    rows = [
        (1, 8000, 1, bytearray(encode_wav(mono(loud), 8000))),
        (2, 8000, 2, bytearray(encode_wav(stereo, 8000))),
        (3, 8000, 1, bytearray(encode_wav(mono(quiet), 8000))),
    ]
    media = spark.createDataFrame(rows, WAV_MEDIA_SCHEMA)
    got = {
        (r["media_id"], r["seg"]): (
            r["start_frame"],
            r["end_frame"],
            r["n_frames"],
            r["mean_sq"],
        )
        for r in wav_vad_segments(media).collect()
    }
    assert got == {
        (1, 1): (0, 0, 1, 4.0e8),
        (1, 2): (2, 3, 2, (17000.0**2 + 16000.0**2) / 2),
        (2, 1): (0, 0, 1, 4.0e8),
    }


def test_cm_heavy_hitters_fixture(spark):
    """Top-k selection and exact counts are hand-checked; the sketch
    estimate obeys CM's one-sided guarantee (never undercounts) and the
    grid's conservation law (each row's counters sum to total spans)."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        cm_heavy_hitter_traces,
    )

    spans = spark.createDataFrame(
        [("t1",)] * 3 + [("t2",)] * 2 + [("t3",)],
        "trace_id string",
    )
    out = cm_heavy_hitter_traces(spans, top=2).collect()
    assert [(r["trace_id"], r["exact_n"]) for r in out] == [
        ("t1", 3),
        ("t2", 2),
    ]
    for r in out:
        assert r["cm_est"] >= r["exact_n"]
        assert r["overcount"] == r["cm_est"] - r["exact_n"]


def test_canonical_map_and_remap_fixture(spark):
    """Hand-checked survivorship map: the 3-doc cluster keeps its
    highest-quality member (quality tie broken by min id), and the
    downstream remap redirects dropped members, keeps the keeper, and
    identity-maps unclustered ids."""
    from zipkin_storage_kafka_spark.operators.corpus import dedup_remap
    from zipkin_storage_kafka_spark.operators.dedup import canonical_map

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], "doc_a long, doc_b long"
    )
    quality = spark.createDataFrame(
        [(1, 0.5), (2, 0.9), (3, 0.9), (4, 0.1)],
        "doc_id long, quality double",
    )
    cmap = canonical_map(pairs, quality)
    assert {
        (r["doc_id"], r["kept_doc_id"]) for r in cmap.collect()
    } == {(1, 2), (2, 2), (3, 2)}

    emb = spark.createDataFrame(
        [(1,), (2,), (3,), (4,)], "vec_id long"
    )
    got = {
        r["vec_id"]: (r["canonical_doc_id"], r["redirected"])
        for r in dedup_remap(emb, cmap).collect()
    }
    assert got == {
        1: (2, True),
        2: (2, False),
        3: (2, True),
        4: (4, False),
    }


def test_markov_transitions_fixture(spark):
    """Hand-checked transition matrix: per-user lag chains (no
    cross-user edge), counts over both users, and row-normalized
    probabilities that sum to 1 per source state."""
    import datetime

    from zipkin_storage_kafka_spark.operators.analytics import (
        markov_transitions,
    )

    t0 = datetime.datetime(2024, 1, 1)

    def ts(s):
        return t0 + datetime.timedelta(seconds=s)

    rows = [
        # user 1: a -> b -> a ; user 2: b -> a ; user 3: a -> c
        # (no cross-user edge; src=a splits 1/2 b, 1/2 c)
        (0, ts(0), 1, "a", 0.0, "{}"),
        (1, ts(1), 1, "b", 0.0, "{}"),
        (2, ts(2), 1, "a", 0.0, "{}"),
        (3, ts(0), 2, "b", 0.0, "{}"),
        (4, ts(1), 2, "a", 0.0, "{}"),
        (5, ts(0), 3, "a", 0.0, "{}"),
        (6, ts(1), 3, "c", 0.0, "{}"),
    ]
    ev = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    import tempfile

    d = tempfile.mkdtemp()
    ev.write.mode("overwrite").parquet(f"{d}/events.parquet")
    got = {
        (r["src"], r["dst"]): (r["n"], r["p"])
        for r in markov_transitions(spark, d).collect()
    }
    assert got == {
        ("a", "b"): (1, 0.5),
        ("a", "c"): (1, 0.5),
        ("b", "a"): (2, 1.0),
    }


def test_hll_merge_rollup_fixture(spark):
    """Day bucketing is integer epoch-day arithmetic; merged day-partial
    sketches reproduce the exact distinct count on a small fixture (HLL is
    exact far below 2^lg_k), including a trace whose spans straddle the
    day boundary (its id must count once, not once per day)."""
    from zipkin_storage_kafka_spark.operators.sketches import (
        MICROS_PER_DAY,
        hll_merged_rollup,
    )

    d = MICROS_PER_DAY
    spans = spark.createDataFrame(
        [
            ("ta", "svc", d - 10),   # day 0
            ("ta", "svc", d + 10),   # same trace, day 1
            ("tb", "svc", d + 20),   # day 1
            ("tc", "other", 5),      # day 0
        ],
        "trace_id string, local_service string, timestamp long",
    )
    out = {
        r["local_service"]: r for r in hll_merged_rollup(spans).collect()
    }
    assert out["svc"]["days"] == 2
    assert out["svc"]["exact_traces"] == 2
    assert out["other"]["days"] == 1
    assert out["other"]["exact_traces"] == 1
    assert all(r["merged_ok"] for r in out.values())


def test_slow_span_concurrency_fixture(spark):
    """Hand-checked interval-overlap join: touching endpoints do not
    overlap, other-service spans never count, a pair meeting in two
    buckets counts once, and overlap-free slow spans keep a zero row."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        slow_span_concurrency,
    )

    rows = [
        ("t1", "s1", "A", 0, 300_000),          # slow: overlaps o1, o2
        ("t1", "o1", "A", 100, 100),
        ("t2", "o2", "A", 299_999, 101),        # 1 us of overlap
        ("t2", "o3", "A", 300_000, 10),         # touches endpoint: no
        ("t3", "o4", "B", 50, 500_000),         # slow, lone service: 0
        ("t4", "o5", "A", 2_500_000, 250_000),  # slow
        ("t4", "o6", "A", 1_999_000, 600_000),  # slow; pair (o5,o6) spans
                                                # two buckets: counted once
    ]
    df = spark.createDataFrame(
        rows,
        "trace_id string, id string, local_service string,"
        " timestamp long, duration long",
    )
    out = {
        (r["trace_id"], r["id"]): r["concurrent_spans"]
        for r in slow_span_concurrency(df).collect()
    }
    assert out == {
        ("t1", "s1"): 2,
        ("t3", "o4"): 0,
        ("t4", "o5"): 1,
        ("t4", "o6"): 1,
    }


def test_limit_before_sort_quirk_diverges(spark):
    """The O2 quirk order (store window DESC, trace_id DESC, cut, THEN
    sort) must select a different SET than the corrected top-k when a
    window holds more traces than the limit and ids anti-correlate with
    timestamps — the scenario the reference's scan-order cut mishandles
    (KafkaStorageHttpService.java:222-234)."""
    from pyspark.sql import functions as F

    base = 1_000_000_000_000  # one shared minute window
    rows = [  # trace "a" is the NEWEST, "l" the oldest
        (chr(ord("a") + i), base + (11 - i) * 1000) for i in range(12)
    ]
    s = spark.createDataFrame(rows, "trace_id string, trace_timestamp long")
    top_k = {
        r["trace_id"]
        for r in s.orderBy(
            F.col("trace_timestamp").desc(), F.col("trace_id")
        ).limit(10).collect()
    }
    quirk_cut = s.orderBy(
        F.expr("trace_timestamp div 60000000").desc(),
        F.col("trace_id").desc(),
    ).limit(10)
    quirk = {
        r["trace_id"]
        for r in quirk_cut.orderBy(
            F.col("trace_timestamp").desc(), F.col("trace_id")
        ).collect()
    }
    assert top_k == set("abcdefghij")   # newest ten by timestamp
    assert quirk == set("cdefghijkl")   # id-descending within the window
    assert top_k != quirk


def test_exemplar_spans_fixture(spark):
    """Magnitude bucketing and the min-md5 pick are hand-checked; the
    pick is stable under row order (re-run on a shuffled frame)."""
    from zipkin_storage_kafka_spark.operators.indexes import exemplar_spans

    rows = [
        ("t1", "a", "svc", 95),      # 2 digits
        ("t2", "b", "svc", 42),      # 2 digits
        ("t3", "c", "svc", 1500),    # 4 digits
        ("t4", "d", None, 10),       # null service: dropped
        ("t5", "e", "svc", None),    # null duration: dropped
    ]
    df = spark.createDataFrame(
        rows,
        "trace_id string, id string, local_service string, duration long",
    )
    out = {
        (r["local_service"], r["dur_digits"]): r
        for r in exemplar_spans(df).collect()
    }
    assert set(out) == {("svc", 2), ("svc", 4)}
    assert out[("svc", 4)]["exemplar_trace"] == "t3"
    assert out[("svc", 2)]["n_spans"] == 2
    import hashlib

    expect = min(
        ("t1:a", "t2:b"), key=lambda s: hashlib.md5(s.encode()).hexdigest()
    ).split(":")[0]
    assert out[("svc", 2)]["exemplar_trace"] == expect

    shuffled = df.orderBy(F.rand(7))
    again = {
        (r["local_service"], r["dur_digits"]): r["exemplar_trace"]
        for r in exemplar_spans(shuffled).collect()
    }
    assert again[("svc", 2)] == expect


def test_filtered_cosine_topk_prefilters(spark):
    """A higher-cosine vector OUTSIDE the predicate must be excluded and
    the top-k still fills from the allowed set — pre-filter semantics,
    not post-filtering an unfiltered top-k."""
    from zipkin_storage_kafka_spark.operators.similarity import (
        filtered_cosine_topk,
    )

    emb = spark.createDataFrame(
        [
            (0, [1.0, 0.0]),    # query
            (1, [1.0, 0.01]),   # best overall — but lang 'fr'
            (2, [1.0, 0.2]),    # allowed
            (3, [0.0, 1.0]),    # allowed, orthogonal
        ],
        "vec_id long, embedding array<float>",
    )
    docs = spark.createDataFrame(
        [(0, "en"), (1, "fr"), (2, "en"), (3, "en")],
        "doc_id long, lang string",
    )
    out = [
        r["vec_id"]
        for r in filtered_cosine_topk(emb, docs, 0, k=2).collect()
    ]
    assert out == [2, 3]


def test_filtered_topk_plan_is_takeordered(spark, sf_dir):
    from zipkin_storage_kafka_spark.plans.registry_pipeline import (
        q_ann_filtered_topk,
    )

    df = q_ann_filtered_topk(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrdered" in plan
    assert "Cartesian" not in plan


def test_service_cooccurrence_fixture(spark):
    """Hand-computed lift: traces {a,b}, {a,b}, {a}, {b,c} over N=4.
    pair(a,b)=2, a=3, b=3 -> lift = 2*4/(3*3) = 0.888888 -> 888888 micro.
    pair(b,c)=1, b=3, c=1 -> lift = 1*4/(3*1) = 1.333333 -> 1333333."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        service_cooccurrence,
    )

    rows = [
        ("t1", "1", "a"), ("t1", "2", "b"), ("t1", "3", "a"),
        ("t2", "1", "a"), ("t2", "2", "b"),
        ("t3", "1", "a"),
        ("t4", "1", "b"), ("t4", "2", "c"),
    ]
    df = spark.createDataFrame(
        rows, "trace_id string, id string, local_service string"
    )
    out = {
        (r["svc_a"], r["svc_b"]): (
            r["pair_traces"], r["a_traces"], r["b_traces"], r["lift_micro"]
        )
        for r in service_cooccurrence(df).collect()
    }
    assert out == {
        ("a", "b"): (2, 3, 3, 888888),
        ("b", "c"): (1, 3, 1, 1333333),
    }


def test_scd2_intervals_fixture(spark):
    """Hand-built change stream: u1 A A B A, u2 C. Runs: u1 (A x2, B, A),
    u2 (C).  Intervals are half-open on the next run's start; the last run
    per user stays open (NULL valid_to)."""
    from datetime import datetime, timezone

    def _t(s):
        return datetime.fromisoformat(s)

    rows = [
        (1, _t("2024-01-01 00:00:00"), 10, "A"),
        (2, _t("2024-01-01 00:01:00"), 10, "A"),
        (3, _t("2024-01-01 00:02:00"), 10, "B"),
        (4, _t("2024-01-01 00:03:00"), 10, "A"),
        (5, _t("2024-01-01 00:00:30"), 20, "C"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )

    import zipkin_storage_kafka_spark.operators.analytics as an
    from unittest import mock

    with mock.patch.object(an, "load_table", lambda s, d, n: df):
        out = {
            (r["user_id"], r["run_idx"]): (
                r["state"], r["valid_from_us"], r["valid_to_us"], r["n_events"]
            )
            for r in an.scd2_intervals(spark, "ignored").collect()
        }
    base = 1704067200 * 1_000_000
    assert out == {
        (10, 1): ("A", base, base + 120_000_000, 2),
        (10, 2): ("B", base + 120_000_000, base + 180_000_000, 1),
        (10, 3): ("A", base + 180_000_000, None, 1),
        (20, 1): ("C", base + 30_000_000, None, 1),
    }


def test_outage_islands_fixture(spark):
    """Type A observed at minutes 0,1,4,5,9 -> outages [2,3] and [6,8];
    type B observed at 0,2 -> outage [1,1].  Ranges are per type."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an

    def _t(minute):
        return datetime.fromtimestamp(minute * 60, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = []
    eid = 0
    for m in (0, 1, 4, 5, 9):
        rows.append((eid, _t(m), 1, "A")); eid += 1
    for m in (0, 2):
        rows.append((eid, _t(m), 2, "B")); eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    from zipkin_storage_kafka_spark.sources import tables

    with mock.patch.object(tables, "load_table", lambda s, d, n: df):
        out = {
            (r["event_type"], r["outage_start_ms"]): r["outage_minutes"]
            for r in an.outage_islands(spark, "ignored").collect()
        }
    assert out == {
        ("A", 2 * 60000): 2,
        ("A", 6 * 60000): 3,
        ("B", 1 * 60000): 1,
    }


def test_priority_sample_fixture(spark):
    """Priority-sampling invariants on a tiny corpus (k=3): exactly k
    rows, every priority >= tau (= max(weight, tau) >= weight), the
    estimator's expected-total property holds structurally (est_weight =
    max(weight, tau) with tau the (k+1)-th priority), and selection is
    reproducible (pure function of doc_id md5)."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        priority_sample,
    )

    rows = [(i, "x" * (10 * (i + 1)), "en", "s", 10 * (i + 1))
            for i in range(10)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string,"
        " n_chars long"
    )
    out = priority_sample(df, k=3).collect()
    assert len(out) == 3
    again = priority_sample(df, k=3).collect()
    assert sorted(r["doc_id"] for r in out) == sorted(
        r["doc_id"] for r in again
    )
    # recompute priorities in python and check selection + tau exactly
    import hashlib

    def pri(doc_id, w):
        u = int(hashlib.md5(str(doc_id).encode()).hexdigest()[:8], 16) + 1
        return (w * 4294967296) // u

    scored = sorted(
        ((pri(i, 10 * (i + 1)), -i) for i in range(10)), reverse=True
    )
    want = sorted(-nid for _, nid in scored[:3])
    tau = scored[3][0]
    assert sorted(r["doc_id"] for r in out) == want
    for r in out:
        assert r["est_weight"] == max(r["weight"], tau)


def test_service_kcore_fixture(spark):
    """Backbone = pairs above mean volume (3-call pairs beat the mean,
    the 1-call pair doesn't): triangle a-b-c plus pendant c-d, light
    edge d-e dropped.  2-core = {a,b,c}; d is backbone-but-peeled (1);
    e has no backbone edge (0)."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_kcore,
    )

    rows = []
    for pair in (("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")):
        rows += [pair] * 3
    rows += [("d", "e")]
    links = spark.createDataFrame(rows, "parent string, child string")
    out = {
        r["service"]: r["core_level"]
        for r in service_kcore(links).collect()
    }
    assert out == {"a": 2, "b": 2, "c": 2, "d": 1, "e": 0}


def test_query_probe_fixture(spark):
    """Tiny corpus: doc 1 = exact copy of the query, doc 2 = the query
    with one word changed (band collision expected, jaccard < 1), doc 3
    unrelated (no candidate row at all)."""
    from zipkin_storage_kafka_spark.operators.dedup import (
        build_dedup_index,
        query_probe,
        shingles_native,
    )

    body = "the quick brown fox jumps over the lazy dog again and again"
    near = body.replace("lazy", "sleepy")
    corpus = spark.createDataFrame(
        [(1, body), (2, near), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    query = spark.createDataFrame([(-1, body)], "doc_id long, text string")
    out = {
        r["doc_id"]: (r["exact_hit"], r["n_band_hits"], r["jaccard"])
        for r in query_probe(
            build_dedup_index(corpus), shingles_native(corpus), query
        ).collect()
    }
    assert set(out) <= {1, 2}
    assert 1 in out
    assert out[1][0] == 1 and out[1][2] == 1.0
    if 2 in out:  # survives only if >=1 band's minima avoid the edit
        assert out[2][0] == 0 and 0 < out[2][2] < 1.0


def test_rfm_scores_fixture(spark):
    """10 users with strictly increasing recency/frequency/spend: each
    quintile gets exactly 2 users and the orderings all agree (user i's
    scores are all ceil((i+1)/2))."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    rows = []
    eid = 0
    for u in range(10):
        for j in range(u + 1):  # frequency = u+1
            rows.append(
                (
                    eid,
                    datetime.fromtimestamp(
                        86400 * u + j, tz=timezone.utc
                    ).replace(tzinfo=None),
                    u,
                    "purchase",
                    float(u + 1),  # monetary = (u+1)^2 * 1000 milli
                    "{}",
                )
            )
            eid += 1
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: df):
        out = {
            r["user_id"]: (
                r["frequency"],
                r["monetary_milli"],
                r["r_score"],
                r["f_score"],
                r["m_score"],
                r["rfm_code"],
            )
            for r in an.rfm_scores(spark, "ignored").collect()
        }
    for u in range(10):
        q = u // 2 + 1
        assert out[u] == (
            u + 1,
            (u + 1) * (u + 1) * 1000,
            q,
            q,
            q,
            q * 111,
        )


def test_pmi_bigrams_fixture(spark):
    """Hand corpus: 'a b' occurs 5x (every 'a' precedes 'b'), 'c d' 5x
    but c and d each appear 10x (half the pairings) -> 'a b' carries
    the higher ratio.  N=30 tokens, Nb=25 bigram slots (5 docs x 5)."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        pmi_bigrams,
    )

    docs = spark.createDataFrame(
        [(i, "a b c d c d") for i in range(5)], "doc_id long, text string"
    )
    out = {
        (r["x"], r["y"]): (
            r["n_xy"], r["n_x"], r["n_y"], r["pmi_ratio"]
        )
        for r in pmi_bigrams(docs).collect()
    }
    # counts: a=5, b=5, c=10, d=10; bigrams: ab=5, bc=5, cd=10, dc=5; Nb=25
    n, nb = 30, 25
    assert out[("a", "b")] == (5, 5, 5, round(5 * n * n / (nb * 25), 4))
    assert out[("c", "d")] == (10, 10, 10, round(10 * n * n / (nb * 100), 4))
    assert out[("a", "b")][3] > out[("c", "d")][3]


def test_ewma_smooth_fixture(spark):
    """Minute counts [1, 0, 2] for one type: numerators are the exact
    power-of-two sums 1*2^15, 1*2^14, 2*2^15 + 1*2^13; micro values
    divide by the weight mass 2^16 - 1."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(minute, s):
        return datetime.fromtimestamp(minute * 60 + s, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = [
        (0, _t(0, 0), 1, "A", 1.0, "{}"),
        (1, _t(2, 0), 1, "A", 1.0, "{}"),
        (2, _t(2, 30), 1, "A", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: df):
        out = {
            r["minute_ms"] // 60000: (r["n_events"], r["ewma_micro"])
            for r in an.ewma_smooth(spark, "ignored").collect()
        }
    mass = 2**16 - 1
    assert out == {
        0: (1, (1 * 2**15 * 1_000_000) // mass),
        1: (0, (1 * 2**14 * 1_000_000) // mass),
        2: (2, ((2 * 2**15 + 2**13) * 1_000_000) // mass),
    }


def test_langid_agreement_fixture(spark):
    """Two hand prediction relations: doc 1 both correct, doc 2 methods
    agree but wrong, doc 3 split decision."""
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        langid_agreement,
    )

    s = spark.createDataFrame(
        [
            (1, "en", "en", True),
            (2, "fr", "en", False),
            (3, "en", "en", True),
        ],
        "doc_id long, predicted_lang string, lang string, is_correct boolean",
    ).selectExpr("doc_id", "predicted_lang", "lang")
    g = spark.createDataFrame(
        [
            (1, "en"),
            (2, "fr"),
            (3, "de"),
        ],
        "doc_id long, predicted_lang string",
    )
    out = {
        (r["lang"], r["pred_stopword"], r["pred_ngram"]): (
            r["n_docs"], r["both_correct"], r["methods_agree"]
        )
        for r in langid_agreement(s, g).collect()
    }
    assert out == {
        ("en", "en", "en"): (1, 1, 1),
        ("en", "fr", "fr"): (1, 0, 1),
        ("en", "en", "de"): (1, 0, 0),
    }


def test_heaps_law_fixture(spark):
    """Monotone nested-sample invariants + exact check: docs bucketed by
    md5(doc_id) first hex digit; vocab/doc/token counts at fraction f
    must equal a python recomputation and be monotone non-decreasing."""
    import hashlib

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        heaps_law_curve,
    )

    texts = {
        0: "a b c",
        1: "a b d d",
        2: "e f",
        3: "a g",
        4: "h h h",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    out = {
        r["sixteenth"]: (r["n_docs"], r["n_tokens"], r["vocab"])
        for r in heaps_law_curve(docs).collect()
    }
    bucket = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[0], 16)
        for i in texts
    }
    for f in range(1, 17):
        included = [i for i in texts if bucket[i] < f]
        n_docs = len(included)
        n_tokens = sum(len(texts[i].split(" ")) for i in included)
        vocab = len({t for i in included for t in texts[i].split(" ")})
        assert out[f] == (n_docs, n_tokens, vocab), (f, out[f])
    assert all(out[f][2] <= out[f + 1][2] for f in range(1, 16))


def test_trace_idle_gaps_fixture(spark):
    """Hand trace: [0,10], [5,15] (overlap), [20,25] (gap 5), [22,23]
    (contained) -> wall 25, idle 5, busy 20, 1 gap.  Second trace has
    one span -> 0 idle, 0 gaps."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        trace_idle_gaps,
    )

    rows = [
        ("t", "a", 0, 10),
        ("t", "b", 5, 10),
        ("t", "c", 20, 5),
        ("t", "d", 22, 1),
        ("u", "x", 100, 7),
    ]
    df = spark.createDataFrame(
        rows, "trace_id string, id string, timestamp long, duration long"
    )
    out = {
        r["trace_id"]: (
            r["n_spans"], r["wall_us"], r["busy_us"], r["idle_us"], r["n_gaps"]
        )
        for r in trace_idle_gaps(df).collect()
    }
    assert out == {"t": (4, 25, 20, 5, 1), "u": (1, 7, 7, 0, 0)}


def test_hazard_curve_fixture(spark):
    """3 users sign up at day 0; u1 converts day 0, u2 day 2, u3 never
    (censored at the horizon = day 4, set by u-other's last event).
    Hazards: day 0 -> 1/3, day 2 -> 1/2, day 4 censor row -> 0/1."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    day = 86400

    def _t(d, s=0):
        return datetime.fromtimestamp(d * day + s, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = [
        (0, _t(0), 1, "signup", 0.0, "{}"),
        (1, _t(0, 30), 1, "purchase", 1.0, "{}"),
        (2, _t(0), 2, "signup", 0.0, "{}"),
        (3, _t(2), 2, "purchase", 1.0, "{}"),
        (4, _t(0), 3, "signup", 0.0, "{}"),
        (5, _t(4), 9, "view", 0.0, "{}"),  # horizon setter, no signup
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: df):
        out = {
            r["day"]: (
                r["n_risk"], r["n_events"], r["n_censored"], r["hazard_micro"]
            )
            for r in an.hazard_curve(spark, "ignored").collect()
        }
    assert out == {
        0: (3, 1, 0, 333333),
        2: (2, 1, 0, 500000),
        4: (1, 0, 1, 0),
    }


def test_source_overlap_fixture(spark):
    """Hand verified-pair relation: (1,2) same-source exact dup (J=1),
    (1,3) cross-source at J=0.8 (qualifies), (2,4) cross-source at
    J=0.5 (below threshold, dropped)."""
    from zipkin_storage_kafka_spark.operators.dedup import source_overlap

    docs = spark.createDataFrame(
        [
            (1, "web"), (2, "web"), (3, "wiki"), (4, "books"),
        ],
        "doc_id long, source string",
    )
    verified = spark.createDataFrame(
        [
            (1, 2, 10, 10, 10),   # J = 10/10 = 1.0
            (1, 3, 8, 10, 8),     # J = 8/10 = 0.8
            (2, 4, 5, 10, 5),     # J = 5/10 = 0.5
        ],
        "doc_a long, doc_b long, i long, n_a long, n_b long",
    )
    out = {
        (r["source_a"], r["source_b"], r["same_source"]): (
            r["n_pairs"], r["avg_jaccard_micro"]
        )
        for r in source_overlap(docs, verified).collect()
    }
    assert out == {
        ("web", "web", True): (1, 1_000_000),
        ("web", "wiki", False): (1, 800_000),
    }


def test_fanout_hotspots_fixture(spark):
    """Hand tree: root (svcA) has 3 children, one child (svcB) has 1,
    the rest leaves.  svcA: 1 span, avg 3.0, max 3, 1 branching;
    svcB: 2 spans (one branching with 1 child, one leaf), avg 0.5."""
    from zipkin_storage_kafka_spark.operators.trace_aggregation import (
        fanout_hotspots,
    )

    rows = [
        ("t", "r", None, "svcA"),
        ("t", "c1", "r", "svcB"),
        ("t", "c2", "r", "svcB"),
        ("t", "c3", "r", "svcC"),
        ("t", "g1", "c1", "svcC"),
    ]
    df = spark.createDataFrame(
        rows, "trace_id string, id string, parent_id string,"
        " local_service string"
    )
    out = {
        r["local_service"]: (
            r["n_spans"], r["fanout_avg_micro"], r["fanout_max"],
            r["n_branching"],
        )
        for r in fanout_hotspots(df).collect()
    }
    assert out == {
        "svcA": (1, 3_000_000, 3, 1),
        "svcB": (2, 500_000, 1, 1),
        "svcC": (2, 0, 0, 0),
    }


def test_feature_hashing_fixture(spark):
    """Exact recompute of the hashed counts for one tiny doc; repeated
    tokens add to the same bucket, vector length is always 16 and the
    bucket sums equal the token count."""
    import hashlib

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        feature_hashing,
    )

    text = "a b a c d a"
    docs = spark.createDataFrame([(1, text)], "doc_id long, text string")
    row = feature_hashing(docs).collect()[0]
    want = [0] * 16
    for tok in text.split(" "):
        want[int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 16] += 1
    got = [int(x) for x in row["vec"].split(",")]
    assert row["n_tokens"] == 6
    assert got == want
    assert sum(got) == 6


def test_service_reachability_fixture(spark):
    """Chain a->b->c plus a cycle d<->e and a sink f fed by c: closure
    must terminate on the cycle and count downstream sets exactly."""
    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_reachability,
    )

    links = spark.createDataFrame(
        [
            ("a", "b"), ("b", "c"), ("c", "f"),
            ("d", "e"), ("e", "d"),
        ],
        "parent string, child string",
    )
    out = {
        r["service"]: r["n_reachable"]
        for r in service_reachability(links).collect()
    }
    assert out == {
        "a": 3,  # b, c, f
        "b": 2,  # c, f
        "c": 1,  # f
        "f": 0,
        "d": 2,  # e and itself via the cycle
        "e": 2,
    }


def test_fulfillment_latency_fixture(spark):
    """Two orders in one priority: completion = LAST line's ship day.
    Order 1 placed day 0 ships lines on days 2 and 5 -> 5; order 2
    placed day 1 ships day 2 -> 1.  p50 = 3.0 (interpolated), max 5."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    day = 86400

    def _t(d):
        return datetime.fromtimestamp(d * day, tz=timezone.utc).replace(
            tzinfo=None
        )

    orders = spark.createDataFrame(
        [(1, _t(0), "1-URGENT"), (2, _t(1), "1-URGENT")],
        "o_orderkey long, o_orderdate timestamp, o_orderpriority string",
    )
    lineitem = spark.createDataFrame(
        [(1, _t(2)), (1, _t(5)), (2, _t(2))],
        "l_orderkey long, l_shipdate timestamp",
    )

    def fake_load(s, d, name):
        return {"orders": orders, "lineitem": lineitem}[name]

    with mock.patch.object(tables, "load_table", fake_load):
        out = {
            r["o_orderpriority"]: (
                r["n_orders"], r["p50_days"], r["p95_days"], r["max_days"]
            )
            for r in an.fulfillment_latency(spark, "ignored").collect()
        }
    assert out == {"1-URGENT": (2, 3.0, 4.8, 5)}


def test_mmr_rerank_matches_python_greedy(spark):
    """Exact python recompute of the greedy on a tiny pool: round4
    cosines, score = cos - max-sim-to-picked, vec_id tie break.  The
    vector set makes pure-relevance order differ from MMR order (the
    near-duplicate of the top hit must be displaced by the diverse
    candidate)."""
    import math

    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.similarity import mmr_rerank

    vecs = {
        0: [1.0, 0.0, 0.0],    # query
        1: [0.9, 0.3, 0.0],    # top hit
        2: [0.89, 0.31, 0.0],  # near-dup of 1 (sim ~1 -> heavy penalty)
        3: [0.85, 0.0, 0.3],   # nearly as relevant, spread on the other axis
        4: [0.2, 0.5, 0.5],    # filler
    }
    emb = spark.createDataFrame(
        [Row(vec_id=i, embedding=v) for i, v in vecs.items()],
        "vec_id bigint, embedding array<double>",
    )

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        return round(
            d / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))),
            4,
        )

    rel = {i: cos(vecs[i], vecs[0]) for i in vecs if i != 0}
    picked = [max(rel, key=lambda i: (rel[i], -i))]
    while len(picked) < 3:
        rest = [i for i in rel if i not in picked]
        scores = {
            i: rel[i] - max(cos(vecs[i], vecs[j]) for j in picked)
            for i in rest
        }
        picked.append(max(rest, key=lambda i: (scores[i], -i)))
    out = [
        r["vec_id"]
        for r in sorted(
            mmr_rerank(emb, 0, k=3, pool=4).collect(),
            key=lambda r: r["rank"],
        )
    ]
    assert out == picked
    # and MMR must actually diverge from pure relevance here
    by_rel = sorted(rel, key=lambda i: (-rel[i], i))[:3]
    assert out != by_rel


def test_error_cooccurrence_excludes_clean_spans(spark):
    """Only ERROR spans form baskets: A and B err in minute 0 (pair),
    C is busy but never errs (absent), B errs alone in minute 1."""
    from unittest import mock

    import zipkin_storage_kafka_spark.plans.registry as reg

    rows = [
        ("a1", 0, "A", True),
        ("b1", 30_000_000, "B", True),
        ("c1", 10_000_000, "C", False),
        ("b2", 60_000_000, "B", True),
    ]
    spans = spark.createDataFrame(
        rows, "id string, timestamp long, local_service string,"
        " is_error boolean"
    )
    with mock.patch.object(reg, "_spans", lambda s, d: spans):
        out = {
            (r["item_a"], r["item_b"]): (
                r["pair_baskets"], r["a_baskets"], r["b_baskets"],
                r["lift_micro"],
            )
            for r in reg.q_error_cooccurrence(spark, "ignored").collect()
        }
    # N=2 error minutes; A in 1, B in 2, pair in 1 -> lift = 1*2/(1*2)=1
    assert out == {("A", "B"): (1, 1, 2, 1_000_000)}


def test_ab_conversion_window_and_cohort(spark):
    """md5-parity assignment (1,3,6 -> variant 0; 2,4 -> variant 1),
    72h conversion window inclusive at the boundary, purchase-before-
    signup not a conversion, purchase-only users excluded from the
    cohort.  Expected: v0 = 1/3 converted (333333 micro), v1 = 1/2
    (500000 micro), lift = 500000e6 // 333333 = 1500001."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(days):
        return datetime.fromtimestamp(
            (10 + days) * 86400, tz=timezone.utc
        ).replace(tzinfo=None)

    rows = [
        (1, _t(0), "signup"), (1, _t(1), "purchase"), (1, _t(0), "click"),
        (3, _t(0), "signup"), (3, _t(4), "purchase"),
        (6, _t(0), "signup"),
        (2, _t(0), "signup"), (2, _t(-1), "purchase"),
        (4, _t(0), "signup"), (4, _t(3), "purchase"),
        (5, _t(0), "purchase"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )

    with mock.patch.object(tables, "load_table", lambda s, d, n: ev):
        out = {
            r["variant"]: (
                r["n_users"], r["n_converted"], r["conv_micro"],
                r["lift_micro"],
            )
            for r in an.ab_conversion(spark, "ignored").collect()
        }
    assert out == {
        0: (3, 1, 333333, None),
        1: (2, 1, 500000, 1500001),
    }


def test_partition_skew_fixture(spark):
    """Keyed on 'k': key A has 8 of 10 rows (top1 800000 micro, 2.4x
    the 3-key mean -> skew 2400000), no key over 10x mean; NULL keys
    excluded from the key universe."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.skew import shuffle_key_skew

    rows = [Row(k="A")] * 8 + [Row(k="B"), Row(k="C"), Row(k=None)]
    df = spark.createDataFrame(rows, "k string")
    out = shuffle_key_skew(df, ["k"]).collect()
    assert len(out) == 1
    r = out[0]
    assert (
        r["key_name"], r["n_keys"], r["total_rows"], r["max_rows"],
        r["top1_share_micro"], r["skew_vs_mean_micro"], r["hot_keys_10x"],
    ) == ("k", 3, 10, 8, 800000, 2400000, 0)


def test_partition_skew_hot_key_census(spark):
    """22 keys: one with 100 rows, 21 with 1 — the hot key is 100x
    the count-weighted mean of ~5.5 rows -> hot_keys_10x = 1."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.skew import shuffle_key_skew

    rows = [Row(k="hot")] * 100 + [Row(k=f"c{i}") for i in range(21)]
    out = shuffle_key_skew(
        spark.createDataFrame(rows, "k string"), ["k"]
    ).collect()[0]
    # mean = 121/22 = 5.5; hot needs cnt * 22 > 10 * 121 -> cnt > 55
    assert out["hot_keys_10x"] == 1
    assert out["skew_vs_mean_micro"] == (100 * 22 * 1_000_000) // 121


def test_cusum_changepoint_fixture(spark):
    """One type, 6 minutes of counts [0,0,0,4,4,4] (T=12, n=6):
    s_scaled_t = 6*prefix - 12t peaks in |.| at t=3 (|S|=36), the
    minute BEFORE the level shift; before rate 0, after 4e6 micro.
    A constant series ('flat', [2,2]) has s=0 everywhere and picks
    the earliest minute."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(minute):
        return datetime.fromtimestamp(
            minute * 60, tz=timezone.utc
        ).replace(tzinfo=None)

    rows = []
    for m, c in enumerate([0, 0, 0, 4, 4, 4]):
        rows += [("step", _t(1000 + m))] * c
    # pin the observed range: single rows at the ends for 'step' would
    # change T; instead 'step' range is min..max of its own events
    # (minutes 1003..1005 only) — so ALSO place 1 event at minute 1000
    # to anchor lo.  Recompute expectation for [1,0,0,4,4,4]: T=13, n=6,
    # S_t = 6*prefix - 13t -> t=1..5: |6-13|=7, |6-26|=20, |6-39|=33,
    # |30-52|=22, |54-65|=11 -> max at t=3 (minute 1002).
    rows += [("step", _t(1000))]
    rows += [("flat", _t(2000)), ("flat", _t(2001))]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")

    with mock.patch.object(tables, "load_table", lambda s, d, n: ev):
        out = {
            r["event_type"]: (
                r["n_minutes"], r["total_events"], r["change_minute_ms"],
                r["s_abs_max"], r["before_rate_micro"],
                r["after_rate_micro"],
            )
            for r in an.cusum_changepoint(spark, "ignored").collect()
        }
    assert out["step"] == (6, 13, 1002 * 60_000, 33, 333333, 4_000_000)
    # flat series: every split has |S| = |2t - 2t| = 0 -> earliest t=1
    assert out["flat"] == (2, 2, 2000 * 60_000, 0, 1_000_000, 1_000_000)


def test_epoch_plan_fixture(spark):
    """Two sources, 30+10=40 tokens, budget 2x=80, target 40 each:
    big gets epochs 40/30 = 1.333333 (planned 39 after truncation),
    small gets 4.0 exact (planned 40)."""
    from unittest import mock

    from pyspark.sql import Row

    import zipkin_storage_kafka_spark.operators.text_analysis as ta

    docs = spark.createDataFrame(
        [
            Row(source="big", text=" ".join(["w"] * 30)),
            Row(source="small", text=" ".join(["w"] * 10)),
        ]
    )
    out = {
        r["source"]: (
            r["n_tokens"], r["target_tokens"], r["epochs_micro"],
            r["full_epochs"], r["planned_tokens"],
        )
        for r in ta.epoch_plan(docs).collect()
    }
    assert out == {
        "big": (30, 40, 1_333_333, 1, 39),
        "small": (10, 40, 4_000_000, 4, 40),
    }


def test_item_neighbors_fixture(spark):
    """Baskets {1:(10,20), 2:(10,20), 3:(10,30)}: J(10,20)=2/3
    (666666), J(10,30)=1/3 (333333), J(20,30)=0 absent; part 10's
    rank-1 neighbor is 20, duplicate lineitems collapse first."""
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    li = spark.createDataFrame(
        [
            (1, 10), (1, 20), (1, 10),  # dup (1,10) must collapse
            (2, 10), (2, 20),
            (3, 10), (3, 30),
        ],
        "l_orderkey long, l_partkey long",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: li):
        out = {
            (r["part_key"], r["rank"]): (
                r["neighbor_key"], r["pair_baskets"], r["item_baskets"],
                r["neighbor_baskets"], r["jaccard_micro"],
            )
            for r in an.item_neighbors(spark, "ignored").collect()
        }
    assert out == {
        (10, 1): (20, 2, 3, 2, 666666),
        (10, 2): (30, 1, 3, 1, 333333),
        (20, 1): (10, 2, 2, 3, 666666),
        (30, 1): (10, 1, 1, 3, 333333),
    }


def test_l2_topk_ordering(spark):
    """Exact squared-L2 ranking with vec_id tie break; the query row
    is excluded."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.similarity import l2_topk

    emb = spark.createDataFrame(
        [
            Row(vec_id=0, embedding=[0.0, 0.0]),
            Row(vec_id=1, embedding=[1.0, 0.0]),   # d2 = 1
            Row(vec_id=2, embedding=[0.0, 2.0]),   # d2 = 4
            Row(vec_id=3, embedding=[1.0, 0.0]),   # d2 = 1 (tie -> after 1)
            Row(vec_id=4, embedding=[3.0, 0.0]),   # d2 = 9
        ]
    )
    out = [(r["vec_id"], r["d2"]) for r in l2_topk(emb, 0, 3).collect()]
    assert out == [(1, 1.0), (3, 1.0), (2, 4.0)]


def test_pq_recall_perfect_when_codebook_covers_corpus(spark):
    """With fewer vectors than PQ_K the codebook contains every vector,
    codes reconstruct exactly, and ADC ranking equals the exact L2
    ranking -> recall 1.0."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.similarity import pq_recall

    rows = [
        Row(vec_id=i, embedding=[float((i * 7 + j * 3) % 5) for j in range(8)])
        for i in range(6)
    ]
    out = pq_recall(spark.createDataFrame(rows), 0, k_results=3).collect()[0]
    assert (out["k"], out["n_hits"], out["recall"]) == (3, 3, 1.0)


def test_customer_order_gaps_fixture(spark):
    """Customer 1 (BUILDING): orders on days 0, 3, 10 -> gaps 3, 7;
    customer 2 (AUTO): days 5, 5 (same day, stable o_orderkey order)
    -> gap 0.  Single-order customers contribute nothing."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _d(day):
        return datetime.fromtimestamp(day * 86400, tz=timezone.utc).replace(
            tzinfo=None
        )

    orders = spark.createDataFrame(
        [
            (1, 101, _d(0)), (1, 102, _d(3)), (1, 103, _d(10)),
            (2, 201, _d(5)), (2, 202, _d(5)),
            (3, 301, _d(1)),
        ],
        "o_custkey long, o_orderkey long, o_orderdate timestamp",
    )
    customer = spark.createDataFrame(
        [(1, "BUILDING"), (2, "AUTO"), (3, "MACHINERY")],
        "c_custkey long, c_mktsegment string",
    )

    def fake_load(s, d, name):
        return {"orders": orders, "customer": customer}[name]

    with mock.patch.object(tables, "load_table", fake_load):
        out = {
            r["c_mktsegment"]: (
                r["n_gaps"], r["p50_gap_days"], r["p90_gap_days"],
                r["max_gap_days"], r["mean_gap_micro"],
            )
            for r in an.customer_order_gaps(spark, "ignored").collect()
        }
    assert out == {
        "BUILDING": (2, 5.0, 6.6, 7, 5_000_000),
        "AUTO": (1, 0.0, 0.0, 0, 0),
    }


def test_simplified_silhouette_matches_python(spark):
    """Two orthogonal-ish clusters: recompute round6 centroid cosines
    and the integer-micro silhouette in plain python and demand
    identical per-cell rollups."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.similarity import (
        ivf_centroids,
        simplified_silhouette,
    )

    vecs = {
        0: ([1.0, 0.1, 0.0], "a"),
        1: ([0.9, 0.0, 0.1], "a"),
        2: ([0.1, 1.0, 0.0], "b"),
        3: ([0.0, 0.9, 0.2], "b"),
    }
    label_of = {"a": 0, "b": 1}
    emb = spark.createDataFrame(
        [
            Row(vec_id=i, label=label_of[lab], embedding=v)
            for i, (v, lab) in vecs.items()
        ]
    )
    cents = ivf_centroids(emb)
    out = {
        r["label"]: (r["n_points"], r["mean_sil_micro"], r["min_sil_micro"])
        for r in simplified_silhouette(emb, cents).collect()
    }

    # python recompute
    import math

    cent = {}
    for lab in (0, 1):
        members = [v for v, l in vecs.values() if label_of[l] == lab]
        cent[lab] = [sum(c) / len(members) for c in zip(*members)]

    def cos(a, b):
        d = sum(x * y for x, y in zip(a, b))
        n = math.sqrt(sum(x * x for x in a)) * math.sqrt(
            sum(y * y for y in b)
        )
        return round(d / n * 1000000) / 1000000

    cells = {}
    for i, (v, _) in vecs.items():
        scored = sorted(
            ((cos(v, cent[l]), -l) for l in (0, 1)), reverse=True
        )
        s1, s2 = scored[0][0], scored[1][0]
        cell = -scored[0][1]
        sil = 0 if (1.0 - s2) <= 0 else round((s1 - s2) / (1.0 - s2) * 1e6)
        cells.setdefault(cell, []).append(sil)
    expected = {
        c: (len(v), sum(v) // len(v), min(v)) for c, v in cells.items()
    }
    assert out == expected


def test_winnowing_guarantee_and_dfcap(spark):
    """Docs sharing a 40-char run share fingerprints (the winnowing
    guarantee: any common substring >= gram+window-1 = 11 chars yields
    a shared fp); an unrelated doc pairs with nobody; and a fingerprint
    carried by >max_df docs is dropped before pairing (12 clones -> no
    pairs at all)."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        winnowing_pairs,
    )

    shared = "the quick brown fox jumps over the lazy dog"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=shared + " alpha beta gamma"),
            Row(doc_id=2, text="PREFIX " + shared),
            Row(doc_id=3, text="zzzz completely different content yyyy"),
        ]
    )
    out = {
        (r["doc_a"], r["doc_b"]): r["shared_fps"]
        for r in winnowing_pairs(docs).collect()
    }
    assert set(out) == {(1, 2)} and out[(1, 2)] >= 2

    clones = spark.createDataFrame(
        [Row(doc_id=i, text=shared) for i in range(12)]
    )
    assert winnowing_pairs(clones).count() == 0


def test_audio_fingerprint_hand_case(spark):
    """n=16 mono samples (2 frames) from the oscillatory formula,
    doc 0: recompute the single 3-bit code with explicit loops and
    demand the decoded-bytes path agrees."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.multimodal import (
        audio_fingerprint,
        encode_wav,
        synth_fm_samples,
    )

    n, ch, doc_id = 16, 1, 5
    payload = encode_wav(synth_fm_samples(doc_id, n, ch), 8000)
    media = spark.createDataFrame(
        [Row(media_id=doc_id, sample_rate=8000, channels=ch,
             payload=bytearray(payload))]
    )
    out = audio_fingerprint(media).collect()[0]

    v = [((doc_id * 9973 + i * 40503) % 65536) - 32768 for i in range(16)]
    e = [
        [sum(x * x for x in v[f * 8 + b * 2 : f * 8 + b * 2 + 2])
         for b in range(4)]
        for f in range(2)
    ]
    d1 = [[e[f][b] - e[f][b + 1] for b in range(3)] for f in range(2)]
    bits = [1 if d1[1][b] - d1[0][b] > 0 else 0 for b in range(3)]
    code = bits[0] * 4 + bits[1] * 2 + bits[2]
    assert (
        out["n_frames"], out["n_codes"], out["n_distinct_codes"],
        out["codes"],
    ) == (2, 1, 1, str(code))


def test_seasonality_fixture(spark):
    """1970-01-01 was a Thursday (dow 4 with 0=Sunday): events at
    epoch hour 0 land in (4, 0); one event exactly one week later in
    the same cell; one at +25h lands in (5, 1).  Ratios: cell (4,0)
    has 2 of 3 -> 2*168e6/3 = 112000000."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(hours):
        return datetime.fromtimestamp(
            hours * 3600, tz=timezone.utc
        ).replace(tzinfo=None)

    ev = spark.createDataFrame(
        [("click", _t(0)), ("click", _t(168)), ("click", _t(25))],
        "event_type string, ts timestamp",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: ev):
        out = {
            (r["dow"], r["hour"]): (r["n_events"], r["uniform_ratio_micro"])
            for r in an.seasonality_profile(spark, "ignored").collect()
        }
    assert out == {
        (4, 0): (2, 112_000_000),
        (5, 1): (1, 56_000_000),
    }


def test_sampling_bias_trace_coherent(spark):
    """All spans of one trace are in or out together, and the
    estimate is exactly 16x the sampled count.  trace 'keep' is
    engineered into bucket 0; trace 'drop' is not."""
    import hashlib

    from unittest import mock

    from pyspark.sql import Row

    import zipkin_storage_kafka_spark.plans.registry as reg

    def bucket(tid):
        return int(hashlib.md5(tid.encode()).hexdigest()[:8], 16) % 16

    keep = next(f"k{i}" for i in range(1000) if bucket(f"k{i}") == 0)
    drop = next(f"d{i}" for i in range(1000) if bucket(f"d{i}") != 0)
    spans = spark.createDataFrame(
        [
            Row(trace_id=keep, local_service="svc"),
            Row(trace_id=keep, local_service="svc"),
            Row(trace_id=drop, local_service="svc"),
        ]
    )
    with mock.patch.object(reg, "_spans", lambda s, d: spans):
        out = reg.q_sampling_bias(spark, "ignored").collect()
    r = out[0]
    assert (
        r["local_service"], r["n_spans"], r["n_sampled"], r["est_spans"],
        r["bias_micro"],
    ) == ("svc", 3, 2, 32, 10_666_666)


def test_ltv_triangle_fixture(spark):
    """Customer 1 first orders in 202312 (ym boundary: +1 month is
    202401 -> months_since 1); customer 2's single order forms its own
    cohort.  Revenue is exact millis."""
    from datetime import datetime
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    orders = spark.createDataFrame(
        [
            (1, datetime(2023, 12, 15), 10.5),
            (1, datetime(2024, 1, 3), 20.25),
            (1, datetime(2024, 1, 20), 1.0),
            (2, datetime(2024, 1, 10), 5.125),
        ],
        "o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: orders):
        out = {
            (r["cohort_ym"], r["order_ym"]): (
                r["months_since"], r["n_customers"], r["n_orders"],
                r["revenue_milli"],
            )
            for r in an.ltv_triangle(spark, "ignored").collect()
        }
    assert out == {
        (202312, 202312): (0, 1, 1, 10500),
        (202312, 202401): (1, 1, 2, 21250),
        (202401, 202401): (0, 1, 1, 5125),
    }


def test_seasonal_anomalies_fixture(spark):
    """Type with minutes spread over one (dow,hour) cell: 3 events in
    one minute vs cell average; the spike minute ranks first with
    ratio = 3 * cell_minutes * 1e6 / cell_events."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(minute):
        return datetime.fromtimestamp(minute * 60, tz=timezone.utc).replace(
            tzinfo=None
        )

    # minutes 0..9 all fall in (dow=4, hour=0); total 12 events over
    # 10 spine minutes: one spike minute with 3, nine minutes with 1.
    rows = [("click", _t(0))] * 3 + [("click", _t(m)) for m in range(1, 10)]
    ev = spark.createDataFrame(rows, "event_type string, ts timestamp")
    with mock.patch.object(tables, "load_table", lambda s, d, n: ev):
        out = an.seasonal_anomalies(spark, "ignored", k=2).collect()
    top = out[0]
    assert (
        top["minute_ms"], top["n_events"], top["cell_events"],
        top["cell_minutes"], top["ratio_micro"],
    ) == (0, 3, 12, 10, (3 * 10 * 1_000_000) // 12)
    assert out[1]["n_events"] == 1 and out[1]["minute_ms"] == 60_000


def test_winnow_clusters_transitive(spark):
    """A~B and B~C via shared runs (A,C share nothing directly) must
    land in ONE component — the closure property the pair report alone
    doesn't give."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.dedup import dedup_clusters
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        winnowing_pairs,
    )

    run1 = "alpha bravo charlie delta echo foxtrot golf"
    run2 = "hotel india juliet kilo lima mike november"
    docs = spark.createDataFrame(
        [
            Row(doc_id=1, text=run1 + " 111"),
            Row(doc_id=2, text=run1 + " and then " + run2),
            Row(doc_id=3, text="333 " + run2),
            Row(doc_id=9, text="totally unrelated content here xyz"),
        ]
    )
    pairs = winnowing_pairs(docs).select("doc_a", "doc_b")
    out = {
        r["component_id"]: (r["n_docs"], r["member_ids"])
        for r in dedup_clusters(pairs).collect()
    }
    assert out == {1: (3, "1,2,3")}


def test_ivfpq_subset_of_cell_members(spark):
    """IVF-PQ results are exactly the PQ-ADC ranking restricted to the
    probed cells: every returned id is assigned to a probed cell, and
    restricting full PQ-ADC output to those members reproduces the
    IVF-PQ list (order included)."""
    from pyspark.sql import functions as F

    from zipkin_storage_kafka_spark.operators.similarity import (
        ann_topk_ivfpq,
        ivf_assignments,
        ivf_centroids,
        pq_adc_topk,
        _centroid_scores,
    )
    from zipkin_storage_kafka_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_centroids(emb)
    assign = ivf_assignments(emb, cents)
    out = ann_topk_ivfpq(
        emb, 0, 5, nprobe=2, centroids=cents, assign=assign
    ).collect()

    probe = {
        r["label"]
        for r in _centroid_scores(emb.filter("vec_id = 0"), cents)
        .orderBy(F.col("s").desc(), F.col("label"))
        .limit(2)
        .collect()
    }
    cell_of = {r["vec_id"]: r["label"] for r in assign.collect()}
    assert all(cell_of[r["vec_id"]] in probe for r in out)

    members = {v for v, c in cell_of.items() if c in probe}
    full = pq_adc_topk(emb, 0, 10_000).collect()
    expected = [r["vec_id"] for r in full if r["vec_id"] in members][:5]
    assert [r["vec_id"] for r in out] == expected


def test_ivfpq_recall_bounded_by_pq_recall_components(spark):
    """End-to-end IVF-PQ hits are a subset of the probed-cell exact
    hits: recall(ivfpq) <= recall(pq) can be violated (probing can
    luckily exclude PQ's false positives), but hits must always be
    drawn from the exact top-k AND the probed cells."""
    from pyspark.sql import functions as F

    from zipkin_storage_kafka_spark.operators.similarity import (
        ann_topk_ivfpq,
        ivf_assignments,
        ivf_centroids,
        l2_topk,
        _centroid_scores,
    )
    from zipkin_storage_kafka_spark.sources.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    cents = ivf_centroids(emb)
    assign = ivf_assignments(emb, cents)
    approx = {
        r["vec_id"]
        for r in ann_topk_ivfpq(
            emb, 0, 10, nprobe=3, centroids=cents, assign=assign
        ).collect()
    }
    probe = {
        r["label"]
        for r in _centroid_scores(emb.filter("vec_id = 0"), cents)
        .orderBy(F.col("s").desc(), F.col("label"))
        .limit(3)
        .collect()
    }
    cell_of = {r["vec_id"]: r["label"] for r in assign.collect()}
    assert all(cell_of[v] in probe for v in approx)
    exact = {r["vec_id"] for r in l2_topk(emb, 0, 10).collect()}
    hits = exact & approx
    assert 0 <= len(hits) <= 10


def test_winnow_decontaminate_direction(spark):
    """Only eval docs with a TRAIN partner are flagged: doc_ids are
    engineered by split nibble (md5(doc_id) first hex) so one train
    doc shares a run with one test doc and one val doc; train-train
    overlap and eval-eval overlap must NOT appear."""
    import hashlib

    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        winnow_decontaminate,
    )

    def nib(i):
        return hashlib.md5(str(i).encode()).hexdigest()[0]

    train_ids = [i for i in range(200) if nib(i) in "0123456789ab"]
    test_ids = [i for i in range(200) if nib(i) in "ef"]
    val_ids = [i for i in range(200) if nib(i) in "cd"]
    t1, t2 = train_ids[0], train_ids[1]
    ev1, v1 = test_ids[0], val_ids[0]
    run = "the quick brown fox jumps over the lazy dog again"
    docs = spark.createDataFrame(
        [
            Row(doc_id=t1, text=run + " t1"),
            Row(doc_id=t2, text=run + " t2"),            # train-train pair
            Row(doc_id=ev1, text="E " + run),            # test <- train
            Row(doc_id=v1, text=run + " validation"),    # val <- train
        ]
    )
    from zipkin_storage_kafka_spark.operators.text_analysis import (
        winnowing_pairs,
    )

    pairs = winnowing_pairs(docs)
    out = {
        r["doc_id"]: (r["split"], r["n_train_matches"])
        for r in winnow_decontaminate(pairs, docs).collect()
    }
    assert set(out) == {ev1, v1}
    assert out[ev1][0] == "test" and out[ev1][1] == 2
    assert out[v1][0] == "val" and out[v1][1] == 2


def test_active_users_fixture(spark):
    """3 users over 3 days: DAU exact per day; WAU/MAU trailing windows
    accumulate distinct users; a user active twice in a window counts
    once."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(day):
        return datetime.fromtimestamp(day * 86400, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = [
        (1, _t(100)), (2, _t(100)),
        (1, _t(101)),
        (3, _t(102)), (1, _t(102)), (1, _t(102)),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts timestamp")
    with mock.patch.object(tables, "load_table", lambda s, d, n: ev):
        out = {
            r["day_ms"] // 86_400_000: (r["dau"], r["wau"], r["mau"])
            for r in an.active_users(spark, "ignored").collect()
        }
    assert out == {
        100: (2, 2, 2),
        101: (1, 2, 2),
        102: (2, 3, 3),
    }


def test_active_users_kernels_agree(spark):
    """The r14 interval kernel and the explode kernel produce identical
    DAU/WAU/MAU panels on a randomized activity history that exercises
    run merges, gaps straddling both window sizes, and window-touching
    boundaries (gap == n)."""
    import random
    from datetime import datetime, timezone

    import zipkin_storage_kafka_spark.operators.analytics as an

    rng = random.Random(23)
    rows = []
    for u in range(40):
        day = 1000 + rng.randint(0, 10)
        for _ in range(rng.randint(1, 25)):
            rows.append((u, day))
            # gaps of 1 (merge), exactly 7/30 (touching), and larger
            day += rng.choice([1, 1, 2, 5, 7, 8, 30, 31, 45])
    ud = spark.createDataFrame(rows, "user_id long, day long").distinct()
    a = {
        r["day_ms"]: (r["dau"], r["wau"], r["mau"])
        for r in an.active_users(
            spark, "ignored", ud=ud, kernel="interval"
        ).collect()
    }
    b = {
        r["day_ms"]: (r["dau"], r["wau"], r["mau"])
        for r in an.active_users(
            spark, "ignored", ud=ud, kernel="explode"
        ).collect()
    }
    assert a == b
    assert len(a) > 100


def test_source_lang_gini_fixture(spark):
    """Monolingual source scores 0; a 2/1 mix scores 1e6 - (4+1)*1e6//9
    = 444445."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        source_lang_gini,
    )

    docs = spark.createDataFrame(
        [
            Row(source="mono", lang="en"),
            Row(source="mono", lang="en"),
            Row(source="mix", lang="en"),
            Row(source="mix", lang="en"),
            Row(source="mix", lang="de"),
        ]
    )
    out = {
        r["source"]: (r["n_langs"], r["n_docs"], r["gini_micro"])
        for r in source_lang_gini(docs).collect()
    }
    assert out == {
        "mono": (1, 2, 0),
        "mix": (2, 3, 1_000_000 - (5 * 1_000_000) // 9),
    }


def test_open_orders_timeline_fixture(spark):
    """Orders: A [day 0, ships day 2], B [day 1, ships day 1].  Open
    counts: d0=1, d1=2, d2=1 (B closes the day after its last ship),
    d3 boundary row shows the close.  Unshipped orders (no lineitem)
    never enter the timeline."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(day):
        return datetime.fromtimestamp(day * 86400, tz=timezone.utc).replace(
            tzinfo=None
        )

    orders = spark.createDataFrame(
        [(1, _t(0)), (2, _t(1)), (9, _t(0))],
        "o_orderkey long, o_orderdate timestamp",
    )
    lineitem = spark.createDataFrame(
        [(1, _t(1)), (1, _t(2)), (2, _t(1))],
        "l_orderkey long, l_shipdate timestamp",
    )

    def fake_load(s, d, name):
        return {"orders": orders, "lineitem": lineitem}[name]

    with mock.patch.object(tables, "load_table", fake_load):
        out = {
            r["day_ms"] // 86_400_000: (
                r["opened"], r["closed"], r["open_orders"]
            )
            for r in an.open_orders_timeline(spark, "ignored").collect()
        }
    assert out == {
        0: (1, 0, 1),
        1: (1, 0, 2),
        2: (0, 1, 1),
        3: (0, 1, 0),
    }


def test_dedup_mixture_shift_fixture(spark):
    """A 2-doc 'en' cluster drops its lower-quality member; 'de' is
    untouched — en loses token share, de gains it, shares stay exact
    integer micro and docs outside clusters are implicitly kept."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.dedup import (
        dedup_mixture_shift,
    )

    docs = spark.createDataFrame(
        [
            Row(doc_id=1, lang="en", text="a b c d"),     # 4 tokens, kept
            Row(doc_id=2, lang="en", text="a b c"),       # 3 tokens, dropped
            Row(doc_id=3, lang="de", text="x y z"),       # 3 tokens
        ]
    )
    pairs = spark.createDataFrame([Row(doc_a=1, doc_b=2)])
    quality = spark.createDataFrame(
        [Row(doc_id=1, quality=0.9), Row(doc_id=2, quality=0.5),
         Row(doc_id=3, quality=0.7)]
    )
    out = {
        r["lang"]: (
            r["docs_before"], r["docs_after"], r["tokens_before"],
            r["tokens_after"], r["share_before_micro"],
            r["share_after_micro"], r["shift_micro"],
        )
        for r in dedup_mixture_shift(pairs, quality, docs).collect()
    }
    # before: en 7/10, de 3/10; after: en 4/7, de 3/7
    assert out == {
        "en": (2, 1, 7, 4, 700000, 571428, -128572),
        "de": (1, 1, 3, 3, 300000, 428571, 128571),
    }


def test_revenue_pareto_fixture(spark):
    """5 customers with revenues 1..5 (millis 1000..5000): each forms
    its own quintile; bucket 5 holds the top spender with share
    5000/15000 = 333333 micro."""
    from datetime import datetime
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    orders = spark.createDataFrame(
        [(c, datetime(2024, 1, 1), float(c)) for c in range(1, 6)],
        "o_custkey long, o_orderdate timestamp, o_totalprice double",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: orders):
        out = {
            r["bucket"]: (r["n_customers"], r["revenue_milli"],
                          r["share_micro"])
            for r in an.revenue_pareto(spark, "ignored").collect()
        }
    assert out == {
        1: (1, 1000, 66666), 2: (1, 2000, 133333), 3: (1, 3000, 200000),
        4: (1, 4000, 266666), 5: (1, 5000, 333333),
    }


def test_vocab_coverage_fixture(spark):
    """Tokens: a x5, b x3, c x1, d x1 (T=10): K=4 covers everything
    (1e6); a tighter K via the ks parameter: K=1 -> 500000, K=2 ->
    800000; ties at cnt=1 rank c before d."""
    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.text_analysis import (
        vocab_coverage,
    )

    docs = spark.createDataFrame(
        [Row(doc_id=1, text="a a a b b", ),
         Row(doc_id=2, text="a a b c d")]
    )
    out = {
        r["vocab_k"]: (r["covered_tokens"], r["coverage_micro"])
        for r in vocab_coverage(docs, ks=(1, 2, 4)).collect()
    }
    assert out == {
        1: (5, 500000),
        2: (8, 800000),
        4: (10, 1_000_000),
    }


def test_new_vs_returning_fixture(spark):
    """User 1 active days 100,101; user 2 only day 101: day 100 = 1
    new; day 101 = 1 new (user 2) + 1 returning (user 1)."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(day):
        return datetime.fromtimestamp(day * 86400, tz=timezone.utc).replace(
            tzinfo=None
        )

    ev = spark.createDataFrame(
        [(1, _t(100)), (1, _t(100)), (1, _t(101)), (2, _t(101))],
        "user_id long, ts timestamp",
    )
    with mock.patch.object(tables, "load_table", lambda s, d, n: ev):
        out = {
            r["day_ms"] // 86_400_000: (
                r["new_users"], r["returning_users"], r["dau"]
            )
            for r in an.new_vs_returning(spark, "ignored").collect()
        }
    assert out == {100: (1, 0, 1), 101: (1, 1, 2)}


def test_supplier_hhi_fixture(spark):
    """Brand A: one supplier -> HHI 1e6 (monopoly).  Brand B: two
    equal suppliers -> shares 500000 each, HHI = 2 * 500000^2 / 1e6
    = 500000."""
    from datetime import datetime
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    lineitem = spark.createDataFrame(
        [
            (10, 1, 100.0, 0.0),
            (20, 2, 50.0, 0.0), (20, 3, 50.0, 0.0),
        ],
        "l_partkey long, l_suppkey long, l_extendedprice double,"
        " l_discount double",
    )
    part = spark.createDataFrame(
        [(10, "A"), (20, "B")], "p_partkey long, p_brand string"
    )

    def fake_load(s, d, name):
        return {"lineitem": lineitem, "part": part}[name]

    with mock.patch.object(tables, "load_table", fake_load):
        out = {
            r["p_brand"]: (r["n_suppliers"], r["revenue_cents"],
                           r["hhi_micro"])
            for r in an.supplier_hhi(spark, "ignored").collect()
        }
    assert out == {
        "A": (1, 10000, 1_000_000),
        "B": (2, 10000, 500_000),
    }


def test_path_redundancy_fixture(spark):
    """Diamond A->B->D, A->C->D, A->D: (A,D) has direct=1, via2=2;
    a triangle leg A->B gives (A,B) direct only (B->...->B paths are
    non-simple and excluded); self-loops never appear."""
    from unittest import mock

    from pyspark.sql import Row

    from zipkin_storage_kafka_spark.operators.dependency_links import (
        path_redundancy,
    )

    links = spark.createDataFrame(
        [
            Row(parent="A", child="B"),
            Row(parent="A", child="C"),
            Row(parent="B", child="D"),
            Row(parent="C", child="D"),
            Row(parent="A", child="D"),
            Row(parent="D", child="A"),  # cycle back
        ]
    )
    out = {
        (r["src"], r["dst"]): (
            r["direct"], r["via2"], r["via3"], r["total_paths"]
        )
        for r in path_redundancy(links).collect()
    }
    assert out[("A", "D")] == (1, 2, 0, 3)
    assert out[("A", "B")] == (1, 0, 0, 1)
    # D->B exists only via D->A->B (2 hops)
    assert out[("D", "B")] == (0, 1, 0, 1)
    # no self pairs anywhere
    assert all(s != d for (s, d) in out)


def test_event_funnel_strict_order(spark):
    """r14 one-exchange funnel: strict-inequality stage chain on the
    fixture edges — click at the same instant as the first view does
    NOT advance the funnel, a click before the first view is ignored,
    and a purchase between view and click is ignored (it must follow
    the click)."""
    from datetime import datetime, timezone
    from unittest import mock

    import zipkin_storage_kafka_spark.operators.analytics as an
    from zipkin_storage_kafka_spark.sources import tables

    def _t(sec):
        return datetime.fromtimestamp(1000 + sec, tz=timezone.utc).replace(
            tzinfo=None
        )

    rows = [
        # u1: full funnel in order
        (1, _t(0), "view"), (1, _t(1), "click"), (1, _t(2), "purchase"),
        # u2: click ties the first view exactly -> funnel stops at view
        (2, _t(0), "view"), (2, _t(0), "click"),
        # u3: click precedes the only view -> stops at view
        (3, _t(5), "view"), (3, _t(1), "click"),
        # u4: purchase between view and click -> stops at click
        (4, _t(0), "view"), (4, _t(2), "click"), (4, _t(1), "purchase"),
        # u5: no view at all -> not in the funnel
        (5, _t(0), "click"), (5, _t(1), "purchase"),
        # u6: second view earlier than first click -> t1 = min view
        (6, _t(3), "view"), (6, _t(1), "view"), (6, _t(2), "click"),
    ]
    ev = spark.createDataFrame(
        rows, "user_id long, ts timestamp, event_type string"
    )
    # event_funnel binds load_table at module import time
    with mock.patch.object(an, "load_table", lambda s, d, n: ev):
        out = an.event_funnel(spark, "ignored").collect()[0]
    assert (
        out["stage_view"], out["stage_click"], out["stage_purchase"]
    ) == (5, 3, 1)


def test_service_kcore_peel_flavors_agree(spark):
    """The r14 driver peel and the distributed peel produce identical
    core levels on the fixture graph and on a denser random graph."""
    import random

    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_kcore,
    )

    rows = []
    for pair in (("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")):
        rows += [pair] * 3
    rows += [("d", "e")]
    rng = random.Random(7)
    svcs = [f"s{i}" for i in range(12)]
    for _ in range(60):
        a, b = rng.sample(svcs, 2)
        rows += [(a, b)] * rng.randint(1, 4)
    links = spark.createDataFrame(rows, "parent string, child string")
    drv = {
        r["service"]: r["core_level"]
        for r in service_kcore(links, peel="driver").collect()
    }
    dst = {
        r["service"]: r["core_level"]
        for r in service_kcore(links, peel="distributed").collect()
    }
    assert drv == dst


def test_service_hits_loop_flavors_agree(spark):
    """The r15 driver HITS loop and the distributed one produce
    bit-identical integer micro hub/auth scores on the fixture graph
    and on a denser random graph (the kcore/pagerank precedent)."""
    import random

    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_hits,
    )

    rows = []
    for pair in (("a", "b"), ("b", "c"), ("a", "c"), ("c", "d")):
        rows += [pair] * 3
    rows += [("d", "e")]
    rng = random.Random(11)
    svcs = [f"s{i}" for i in range(10)]
    for _ in range(50):
        a, b = rng.sample(svcs, 2)
        rows += [(a, b)] * rng.randint(1, 3)
    links = spark.createDataFrame(rows, "parent string, child string")
    drv = {
        r["service"]: (r["hub_micro"], r["auth_micro"])
        for r in service_hits(links, loop="driver").collect()
    }
    dst = {
        r["service"]: (r["hub_micro"], r["auth_micro"])
        for r in service_hits(links, loop="distributed").collect()
    }
    assert drv == dst
    assert len(drv) > 0


def test_service_pagerank_power_flavors_agree(spark):
    """The r14 driver power loop and the distributed one produce
    bit-identical integer micro ranks on a weighted random graph."""
    import random

    from zipkin_storage_kafka_spark.operators.dependency_links import (
        service_pagerank,
    )

    rng = random.Random(11)
    svcs = [f"s{i}" for i in range(10)]
    rows = []
    for _ in range(40):
        a, b = rng.sample(svcs, 2)
        rows.append((a, b, rng.randint(1, 9)))
    links = spark.createDataFrame(
        rows, "parent string, child string, call_count long"
    )
    agg = links.groupBy("parent", "child").sum("call_count").toDF(
        "parent", "child", "call_count"
    )
    drv = {
        r["service"]: r["rank_micro"]
        for r in service_pagerank(agg, power="driver").collect()
    }
    dst = {
        r["service"]: r["rank_micro"]
        for r in service_pagerank(agg, power="distributed").collect()
    }
    assert drv == dst
