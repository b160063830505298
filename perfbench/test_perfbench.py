"""Tests of the benchmark itself.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import re
import threading

import numpy as np
import pyarrow.parquet as pq
import pytest

import eventlog
import gen
import run
from tracing import Tracer

BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _inputs(tmp_path, seed: int):
    """Events, stream files and request schedule for ``seed``, as the
    ``trace_query`` workload makes them (at a smaller size)."""
    out = tmp_path / f"seed{seed}"
    data = out / "data"
    data.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    gen.write_events(rng, str(data), 2_000, 40)
    spans = gen.oracle_spans(str(data))
    n = gen.write_stream_files(rng, spans, str(out / "stream"), 4)
    files = sorted(os.listdir(out / "stream"))
    stream = [
        (f, os.stat(out / "stream" / f).st_mtime_ns,
         pq.read_table(out / "stream" / f).to_pylist())
        for f in files
    ]
    requests = [(r.round, r.kind, r.args) for r in gen.schedule(rng, spans, 3)]
    return n, stream, requests


def test_same_seed_same_inputs_other_seed_differs(tmp_path):
    a = _inputs(tmp_path / "a", 1)
    b = _inputs(tmp_path / "b", 1)
    c = _inputs(tmp_path / "c", 2)
    assert a == b
    assert a[1] != c[1]
    assert a[2] != c[2]


def test_stream_files_are_time_ordered_and_end_with_sentinels(tmp_path):
    n, stream, _ = _inputs(tmp_path, 3)
    rows = [row for _, _, part in stream[:-2] for row in part]
    assert len(rows) == n
    ts = [r["timestamp"] for r in rows]
    assert ts == sorted(ts)
    mtimes = [m for _, m, _ in stream]
    assert mtimes == sorted(mtimes)
    last = max(ts)
    for seq, (_, _, part) in enumerate(stream[-2:], start=1):
        assert part[0]["timestamp"] == last + 2 * seq * gen.GAP_US


def test_find_traces_requests_are_registry_shapes_that_match_a_span(tmp_path):
    import oracles

    data = tmp_path / "data"
    data.mkdir()
    rng = np.random.default_rng(4)
    gen.write_events(rng, str(data), 2_000, 40)
    requests = gen.schedule(rng, gen.oracle_spans(str(data)), 5)
    finds = [r.args for r in requests if r.kind == "get_traces"]
    shapes = gen.find_traces_shapes()
    for rnd in range(5):
        kinds = [r.kind for r in requests if r.round == rnd]
        assert {k: kinds.count(k) for k, _ in gen.MIX} == {
            k: round(share * gen.ROUND) for k, share in gen.MIX
        }
    con = oracles.span_db(str(data))
    try:
        for args in finds:
            shape = next(s for s in shapes if s.limit == args["limit"]
                         and s.end_ts == args.get("end_ts", 0)
                         and s.min_duration == args.get("min_duration")
                         and s.max_duration == args.get("max_duration")
                         and set(s.annotation_query) == set(args.get("annotation_query", {})))
            assert bool(shape.service_name) == ("service_name" in args)
            assert bool(shape.span_name) == ("span_name" in args)
            # The names come from one span, so without the time window
            # and the duration bounds the request matches it.
            loose = {k: v for k, v in args.items()
                     if k not in ("end_ts", "min_duration", "max_duration")}
            assert len(con.execute(oracles.request_sql("get_traces", loose)).fetchall()) > 0
    finally:
        con.close()


def test_metric_names_units_and_workloads_match_benchmark_json():
    with open(BENCHMARK) as fh:
        bench = json.load(fh)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    declared = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    assert declared == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert NAME.match(m["name"]), m["name"]
        assert m["unit"]
    # Every run reports every end-to-end metric, so each is declared for
    # every workload.
    assert bench["end_to_end"][0]["name"] == "setup_s"


def test_family_of_registry_rows():
    assert run.family("w_topk_orders_per_priority") == "w"
    assert run.family("w25_latest_span_per_service") == "zipkin_core"
    assert run.family("h1_pricing_summary") == "tpch"
    assert run.family("hr_pricing_cube") == "tpch"
    assert run.family("p4_find_traces") == "zipkin_core"
    assert run.family("ann_ivf_topk") == "ann"


def test_event_log_rollup(tmp_path):
    log = tmp_path / "app"
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0], "Properties": {"spark.jobGroup.id": "req:1"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1100, "Finish Time": 1300, "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 200, "Executor CPU Time": 1.5e8,
                          "JVM GC Time": 10, "Shuffle Write Metrics": {"Shuffle Bytes Written": 64}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Launch Time": 1200, "Finish Time": 1400, "Accumulables": []},
         "Task Metrics": {"Executor Run Time": 200}},
    ]
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    groups = eventlog.parse(str(log))
    t = groups["req:1"]
    assert (t.jobs, t.tasks, t.shuffle_write_bytes) == (1, 2, 64)
    assert t.task_run_s == pytest.approx(0.4)
    # Tasks cover 1100..1400 of the 1000..1500 window: 200 ms of gap.
    assert eventlog.driver_gap_s(t, 1000, 1500) == pytest.approx(0.2)


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from zipkin_storage_kafka_spark.session import get_spark

    return get_spark(app_name="perfbench-tests", shuffle_partitions=2)


def test_trace_loads_as_zipkin_json_and_spans_reach_their_root(tmp_path, spark):
    from zipkin_storage_kafka_spark.sources.json_spans import read_json_v2

    tracer = Tracer()

    def request(i: int) -> None:
        with tracer.span("api.get_trace", group=f"req:{i}"):
            with tracer.span("plan"):
                pass
            with tracer.span("exec"):
                with tracer.span("matcache.spans"):
                    pass

    threads = [threading.Thread(target=request, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=30)
        assert not t.is_alive()
    path = str(tmp_path / "trace.json")
    tracer.write(path)
    rows = read_json_v2(spark, path).select("trace_id", "id", "parent_id", "name").collect()
    assert len(rows) == 16
    by_id = {(r.trace_id, r.id): r for r in rows}
    for r in rows:
        node = r
        while node.parent_id is not None:
            node = by_id[(node.trace_id, node.parent_id)]
        assert node.name == "api.get_trace"
    assert len({r.trace_id for r in rows}) == 4
