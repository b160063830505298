"""Benchmark of the Zipkin storage engine: trace queries, span ingest and a
cold registry pass.

    python3 perfbench/run.py --workload trace_query --seed 1 --seconds 10 --trace 0

Run from the repository root.  Each run is one fresh process with its own
Spark session, derived-table cache, Spark local dirs and temp dir, all
under ``.perfbench/`` of the checkout and removed at the end.  Inputs come
from ``--seed`` (``gen.py``).  Outputs are checked against DuckDB outside
the timed regions.  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics of ``BENCHMARK.json`` for ``--trace 0`` and its per-layer metrics
for ``--trace 1``.  A traced run also writes its Zipkin V2 trace and a
report (per-layer metrics plus tracing overhead) to ``.perfbench/out/``.

Every run walks the same path: inputs, set-up (engine imports, session
start), a cold build of the span stores, Zipkin query traffic from one
client after a short warm-up, a drain of the span stream, registry rows, and
last the output checks.  The workload sets the inputs and where the
weight lies; see ``WORKLOADS``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()  # for the phase log on stderr

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from dataclasses import dataclass, field  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

import numpy as np  # noqa: E402

import gen  # noqa: E402
import layers  # noqa: E402
import oracles  # noqa: E402
import procs  # noqa: E402
import report  # noqa: E402
from tracing import NoTracer, Tracer  # noqa: E402

STORES = ("spans", "links", "summaries", "path_costs", "root_paths")
SERVED_STORES = STORES[:3]  # the stores SpanStore reads
# Rounds of requests generated per second of traffic: 30 requests, four
# times what one client sends on 4 cores (7.2 req/s), so the traffic ends
# on time, not for want of requests.
ROUNDS_PER_S = 30.0 / gen.ROUND
# Untimed rounds before the traffic: the first round of a fresh session
# pays class loading and code generation for every request shape.
WARM_ROUNDS = 1
NPROC = len(os.sched_getaffinity(0))


@dataclass(frozen=True)
class Workload:
    events: int  # span corpus size; 0 = take events from the ten tables
    users: int
    tables_scale: float  # > 0: write all ten raw tables at this scale
    stores: tuple[str, ...]  # span stores built cold (ingest_build_s)
    query_share: float  # query traffic lasts query_share * --seconds
    stream_files: int
    stream_share: float  # leading, time-ordered share of the corpus streamed
    rows: tuple[str, ...]  # registry rows, run in __spark_entry__ order
    # True: one pass over ``rows`` after each traffic round, so the passes
    # spread over the traffic window; False: one pass after the stream.
    interleave: bool


# Registry rows of the cold pass: one per family, so the pass touches
# every layer (query_api, dedup, text, ANN, embeddings, multimodal and the
# Arrow boundary, pipeline, TPC-H, events, windows) at a cost that fits
# one run.  The stream rows (``w<N>_stream_*``) are left out: they run the
# session-window topology that the stream phase already drains.
COLD_ROWS = (
    "s9_get_trace", "z_trace_depth", "dedup_exact", "text_token_stats",
    "ann_cosine_topk", "emb_label_centroids", "mm_wav_roundtrip",
    "pipe_corpus_card", "h1_pricing_summary", "ev_user_sessions",
    "w_topk_orders_per_priority",
)

# trace_query: warm serving.  The weight is the query traffic on
# the three stores SpanStore reads, with a pass over four query-API
# registry rows after each round; ingest work is small (a two-file drain
# of half the spans).
# registry_cold: the cold path from raw parquet.  Empty cache, all five
# stores built (the two SpanStore does not read after the traffic),
# shorter traffic, the whole corpus drained through the aggregation
# topology, then one pass over the cold registry rows.
WORKLOADS = {
    "trace_query": Workload(
        events=20_000, users=400, tables_scale=0.0,
        stores=SERVED_STORES, query_share=1.3,
        stream_files=2, stream_share=0.5,
        rows=("p4_find_traces", "s9_get_trace", "s8_get_dependencies", "o5_trace_many"),
        interleave=True,
    ),
    "registry_cold": Workload(
        events=0, users=0, tables_scale=0.01,
        stores=STORES, query_share=0.8,
        stream_files=2, stream_share=1.0,
        rows=COLD_ROWS, interleave=False,
    ),
}

END_TO_END = {
    "setup_s": "s",
    "query_p50_ms": "ms",
    "query_p95_ms": "ms",
    "ingest_build_s": "s",
    "stream_spans_per_s": "1/s",
    "registry_s": "s",
    "ok_ratio": "ratio",
    "peak_rss_mb": "MB",
}
FAMILIES = (
    "zipkin_core", "z", "dedup", "text", "ann", "emb", "mm", "pipe", "tpch", "ev", "w",
)
API_KINDS = tuple(k for k, _ in gen.MIX)


def family(row: str) -> str:
    head = row.split("_")[0]
    if head in ("z", "dedup", "text", "ann", "emb", "mm", "pipe", "ev", "w"):
        return head
    if head == "hr" or (head.startswith("h") and head[1:].isdigit()) or head == "h":
        return "tpch"
    return "zipkin_core"


def per_layer_units() -> dict[str, str]:
    units = {"session.start_s": "s", "sources.wide_s": "s"}
    units.update({f"store.{s}_s": "s" for s in STORES})
    units.update(
        {
            "matcache.builds": "count", "matcache.hits": "count",
            "matcache.build_s": "s", "matcache.bytes_written": "bytes",
        }
    )
    units.update({f"api.{k}_ms": "ms" for k in API_KINDS})
    units.update({f"api.{k}.jobs": "count" for k in API_KINDS})
    units.update(
        {"api.plan_ms": "ms", "api.exec_ms": "ms"}
    )
    units.update(
        {
            "stream.batches": "count", "stream.batch_p50_ms": "ms",
            "stream.add_batch_ms": "ms", "stream.state_rows_max": "count",
            "stream.state_mem_bytes_max": "bytes",
        }
    )
    for fam in FAMILIES:
        units[f"registry.{fam}_s"] = "s"
        units[f"registry.{fam}.jobs"] = "count"
        units[f"registry.{fam}.driver_gap_s"] = "s"
    units.update(
        {
            "spark.jobs": "count", "spark.tasks": "count", "spark.driver_gap_s": "s",
            "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
            "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
            "spark.spill_bytes": "bytes", "spark.python_s": "s",
            "spark.python_bytes": "bytes",
        }
    )
    return units


def pct(values: list[float], q: float) -> float:
    """Percentile (q in 0..100) of a non-empty list, linearly interpolated."""
    return float(np.percentile(values, q))


@dataclass
class Op:
    """One timed operation, tagged as a Spark job group in traced runs."""

    group: str
    kind: str  # "api.<kind>", "registry.<family>", "store.<name>", "stream", ...
    start: float  # epoch seconds
    end: float = 0.0


@dataclass
class Run:
    workload: str
    spec: Workload
    seed: int
    seconds: float
    traced: bool
    work: str
    tracer: Tracer | NoTracer
    spark: object = None
    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)
    layer: dict = field(default_factory=dict)
    ops: list = field(default_factory=list)
    progress: list = field(default_factory=list)

    # -- bookkeeping ----------------------------------------------------
    def fail(self, what: str, exc: BaseException | str) -> None:
        self.failed += 1
        self.errors.append(f"{what}: {exc}")

    @contextlib.contextmanager
    def op(self, group: str, kind: str):
        """Time one operation; in traced runs also record a span and tag
        the calling thread's Spark jobs with ``group``."""
        rec = Op(group, kind, time.time())
        if self.traced:
            self.spark.sparkContext.setJobGroup(group, kind)
        try:
            with self.tracer.span(kind, group=group, workload=self.workload):
                yield rec
        finally:
            rec.end = time.time()
            self.ops.append(rec)


# --- environment ------------------------------------------------------------


def prepare_env(work: str) -> None:
    """Point every scratch location of the engine into the run dir, before
    any engine module is imported (matcache reads its root at import)."""
    for sub in ("cache", "local", "tmp", "eventlog", "data"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        SPARK_GRAFT_CPUS=str(NPROC),
        SPARK_DRIVER_MEMORY="1g",
        SPARK_GRAFT_CACHE_DIR=os.path.join(work, "cache"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        TMPDIR=os.path.join(work, "tmp"),
    )
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    import tempfile

    tempfile.tempdir = os.path.join(work, "tmp")


def import_engine() -> float:
    """Import the engine modules the run drives; returns the time it took."""
    t0 = time.monotonic()
    import __spark_entry__  # noqa: F401
    from zipkin_storage_kafka_spark import session  # noqa: F401
    from zipkin_storage_kafka_spark.plans import query_api, registry  # noqa: F401
    from zipkin_storage_kafka_spark.sources import matcache, spans  # noqa: F401
    from zipkin_storage_kafka_spark.streaming import jobs  # noqa: F401

    return time.monotonic() - t0


def start_session(run: Run) -> float:
    """Start the session, ready once one small job has run; returns the
    time it took.  Traced runs also write the Spark event log."""
    from zipkin_storage_kafka_spark.session import get_spark

    tmp = os.path.join(run.work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run.work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if run.traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(run.work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"  # one plain JSON-lines file
        conf["spark.eventLog.compress"] = "false"
    t0 = time.monotonic()
    with run.tracer.span("session.start"):
        run.spark = get_spark(app_name=f"perfbench-{run.workload}", extra_conf=conf)
        run.spark.range(1).count()
    run.layer["session.start_s"] = time.monotonic() - t0
    return run.layer["session.start_s"]


# --- phases -----------------------------------------------------------------


def build_stores(run: Run, data_dir: str, names: list[str]) -> tuple[float, dict[str, int]]:
    """Cold build of the span stores ``names``; returns the wall time and
    each store's row count."""
    from zipkin_storage_kafka_spark.sources import spans as S

    total, counts = 0.0, {}
    for name in names:
        fn = getattr(S, f"{name}_table")
        with run.op(f"store:{name}", f"store.{name}") as rec:
            counts[name] = fn(run.spark, data_dir).count()
        run.layer[f"store.{name}_s"] = rec.end - rec.start
        total += rec.end - rec.start
    return total, counts


def drain_stream(run: Run, stream_dir: str, out: str) -> float:
    """Drain the span files through the aggregation topology into ``out``;
    returns the wall time."""
    from zipkin_storage_kafka_spark.streaming.jobs import run_aggregation_pipeline

    with run.op("stream:aggregation", "stream") as rec:
        run_aggregation_pipeline(
            run.spark, stream_dir, os.path.join(out, "traces"),
            os.path.join(out, "links"), os.path.join(out, "ckpt"),
        )
    return rec.end - rec.start


def request_df(store, req: gen.Request):
    from zipkin_storage_kafka_spark.plans.query_api import QueryRequest

    a = req.args
    if req.kind == "get_traces":
        return store.get_traces(QueryRequest(**a))
    if req.kind == "get_trace":
        return store.get_trace(a["trace_id"]).select(*oracles.TRACE_COLS)
    if req.kind == "get_traces_by_ids":
        return store.get_traces_by_ids(a["trace_ids"]).select(
            "trace_id", "trace_timestamp", "span_count"
        )
    if req.kind == "service_names":
        return store.get_service_names()
    if req.kind == "span_names":
        return store.get_span_names(a["service_name"])
    if req.kind == "remote_service_names":
        return store.get_remote_service_names(a["service_name"])
    if req.kind == "autocomplete":
        return store.get_autocomplete_values(a["key"])
    if req.kind == "dependencies":
        return store.get_dependencies(a["end_ts"], a["lookback"])
    raise ValueError(req.kind)


@dataclass
class Sample:
    req: gen.Request
    latency: float  # from the send to the last row
    plan: float
    exec: float
    rows: list | None
    error: str | None = None


def send(run: Run, store, req: gen.Request) -> Sample:
    rows, error = None, None
    with run.op(f"req:{req.rid}", f"api.{req.kind}"):
        a = b = time.monotonic()
        try:
            df = request_df(store, req)
            b = time.monotonic()
            rows = df.collect()
        except Exception as exc:  # a failed request is counted, not fatal
            error = f"{type(exc).__name__}: {exc}"
        c = time.monotonic()
    return Sample(req, c - a, b - a, c - b, rows, error)


def drive_queries(
    run: Run, store, requests: list[gen.Request], seconds: float, between=None
) -> list[Sample]:
    """Closed loop: one client sends the requests back to back, a whole
    round at a time, until ``seconds`` have passed, and calls ``between``
    (if given) after each round.  With one request in flight the latency
    is the engine's own, not the queueing of overlapping requests on a
    few shared cores."""
    samples: list[Sample] = []
    deadline = time.monotonic() + seconds
    for req in requests:
        if samples and req.rid % gen.ROUND == 0:
            if between is not None:
                between()
            if time.monotonic() >= deadline:
                break
        samples.append(send(run, store, req))
    return samples


def warm_up(store, requests: list[gen.Request]) -> None:
    """Send ``requests`` the way the traffic does, untimed and unchecked."""
    for req in requests:
        request_df(store, req).collect()


def query_phase(run: Run, store, requests, between=None) -> list[Sample]:
    samples = drive_queries(run, store, requests, run.seconds * run.spec.query_share, between)
    lat = [s.latency * 1e3 for s in samples]
    run.e2e["query_p50_ms"] = statistics.median(lat)
    run.e2e["query_p95_ms"] = pct(lat, 95)
    run.layer["query.samples"] = len(lat)
    for kind in API_KINDS:
        ks = [s.latency * 1e3 for s in samples if s.req.kind == kind]
        run.layer[f"api.{kind}_ms"] = statistics.median(ks) if ks else 0.0
    run.layer["api.plan_ms"] = statistics.median(s.plan * 1e3 for s in samples)
    run.layer["api.exec_ms"] = statistics.median(s.exec * 1e3 for s in samples)
    return samples


class Registry:
    """The workload's registry rows in ``__spark_entry__`` order, run one
    pass at a time, each answer collected to the driver inside its timed
    region."""

    def __init__(self, run: Run, data_dir: str):
        import __spark_entry__ as entry

        self.run, self.data_dir = run, data_dir
        self.queries = entry.queries()
        self.rows = [q for q in self.queries if q in run.spec.rows]
        self.walls: dict[str, list[float]] = {name: [] for name in self.rows}
        self.answers: list = []  # (row, answer) pairs

    def run_pass(self) -> None:
        run = self.run
        for name in self.rows:
            n = len(self.walls[name])
            run.attempted += 1
            with run.op(f"row:{name}:{n}", f"registry.{family(name)}") as rec:
                try:
                    df = self.queries[name](run.spark, self.data_dir)
                    self.answers.append((name, df.toPandas()))
                except Exception as exc:
                    run.fail(name, f"{type(exc).__name__}: {exc}")
            self.walls[name].append(rec.end - rec.start)

    def registry_s(self) -> float:
        """The sum over rows of each row's median wall over the passes;
        the per-family and per-row walls of the first pass go to the
        per-layer metrics."""
        per_family = dict.fromkeys(FAMILIES, 0.0)
        for name, walls in self.walls.items():
            per_family[family(name)] += walls[0]
            self.run.layer[f"row.{name}_s"] = walls[0]
        for fam, wall in per_family.items():
            self.run.layer[f"registry.{fam}_s"] = wall
        return sum(statistics.median(w) for w in self.walls.values())


# --- output checks (after the engine has stopped) ---------------------------


def check_stores(run: Run, counts: dict[str, int], duck) -> None:
    """Store row counts against DuckDB."""
    expect = oracles.store_counts(duck)
    for name, got in counts.items():
        run.attempted += 1
        if got != expect[name]:
            run.fail(f"store {name}", f"{got} rows, DuckDB says {expect[name]}")


def check_queries(run: Run, samples: list[Sample], duck) -> None:
    """Every API response against DuckDB over the oracle span tables."""
    run.attempted += len(samples)
    checks = oracles.QueryOracle(duck)
    for s in samples:
        if s.error is not None:
            run.fail(f"request {s.req.rid} {s.req.kind}", s.error)
            continue
        try:
            checks.check(s.req, s.rows)
        except AssertionError as exc:
            run.fail(f"request {s.req.rid} {s.req.kind}", exc)


def check_stream(run: Run, out: str, spans_in: int, duck) -> None:
    """Span conservation: spans in = Σ span_count of the emitted
    non-sentinel sessions."""
    from zipkin_storage_kafka_spark.streaming.jobs import SENTINEL_TRACE_PREFIX

    run.attempted += 1
    emitted = duck.execute(
        "SELECT coalesce(sum(span_count), 0) FROM read_parquet(?, hive_partitioning = true) "
        "WHERE NOT starts_with(trace_id, ?)",
        [os.path.join(out, "traces", "*", "*.parquet"), SENTINEL_TRACE_PREFIX],
    ).fetchone()[0]
    if emitted != spans_in:
        run.fail("stream", f"spans in {spans_in} != sessions' span_count {emitted}")


def check_registry(run: Run, answers: list, data_dir: str) -> None:
    """Registry answers against their DuckDB oracles."""
    import __spark_entry__ as entry

    oracle_sql = entry.oracle_sql()
    con = oracles.duckdb_conn(data_dir)
    want = {}
    try:
        for name, pdf in answers:
            if name not in want:
                want[name] = con.execute(oracle_sql[name]).df()
            try:
                oracles.compare_frames(pdf, want[name], name=name)
            except AssertionError as exc:
                run.fail(name, exc)
    finally:
        con.close()


# --- the run ----------------------------------------------------------------


def phase(name: str) -> None:
    """Log on stderr how far into the run ``name`` ended."""
    print(f"perfbench: {name} done at {time.monotonic() - T_START:.2f} s", file=sys.stderr)


def execute(run: Run) -> None:
    spec = run.spec
    # Set-up of the engine (setup_s): imports, session start, warm-up.
    # The benchmark's own work (inputs, DuckDB oracles) is not in it.
    imports_s = import_engine()
    if run.traced:
        layers.install(run)
    rng = np.random.default_rng(run.seed)
    data = os.path.join(run.work, "data")
    if spec.tables_scale:
        gen.write_tables(rng, data, spec.tables_scale)
    else:
        gen.write_events(rng, data, spec.events, spec.users)
    spans = gen.oracle_spans(data)
    stream_dir = os.path.join(run.work, "stream-in")
    stream_out = os.path.join(run.work, "stream-out")
    streamed = spans.slice(0, int(len(spans) * spec.stream_share))
    spans_in = gen.write_stream_files(rng, streamed, stream_dir, spec.stream_files)
    rounds = int(np.ceil(run.seconds * spec.query_share * ROUNDS_PER_S))
    requests = gen.schedule(rng, spans, WARM_ROUNDS + rounds)
    warm, requests = requests[: WARM_ROUNDS * gen.ROUND], requests[WARM_ROUNDS * gen.ROUND :]
    del spans, streamed
    phase("inputs")

    # peak_rss_mb covers the engine only: the sampler runs from session
    # start to session stop, and the DuckDB checks come after it.
    sampler = procs.RssSampler()
    sampler.start()
    try:
        run.e2e["setup_s"] = imports_s + start_session(run)
        phase("set-up")
        if run.traced:
            layers.listen(run)
        from zipkin_storage_kafka_spark.plans.registry import _store

        # Measured phases, in this order: cold build of the stores that
        # SpanStore reads, query traffic (on trace_query with the registry
        # passes between its rounds), cold build of the other stores,
        # stream drain, registry rows.  So the traffic follows the same
        # builds on both workloads.  The warm-up before the traffic is
        # untimed work, so it counts as set-up.
        served = [s for s in spec.stores if s in SERVED_STORES]
        build_s, counts = build_stores(run, data, served)
        phase("stores")
        store = _store(run.spark, data)
        t0 = time.monotonic()
        warm_up(store, warm)
        run.e2e["setup_s"] += time.monotonic() - t0
        phase("warm-up")
        registry = Registry(run, data)
        samples = query_phase(run, store, requests, registry.run_pass if spec.interleave else None)
        phase("queries")
        rest_s, rest = build_stores(run, data, [s for s in spec.stores if s not in served])
        run.e2e["ingest_build_s"] = build_s + rest_s
        counts.update(rest)
        phase("other stores")
        run.e2e["stream_spans_per_s"] = spans_in / drain_stream(run, stream_dir, stream_out)
        phase("stream")
        if not spec.interleave:
            registry.run_pass()
            phase("registry")
        run.e2e["registry_s"] = registry.registry_s()
    finally:
        if run.spark is not None:
            procs.stop_spark(run.spark)
        sampler.stop()
    run.e2e["peak_rss_mb"] = sampler.peak_bytes / 2**20

    duck = oracles.span_db(data)
    try:
        check_stores(run, counts, duck)
        check_queries(run, samples, duck)
        check_stream(run, stream_out, spans_in, duck)
    finally:
        duck.close()
    check_registry(run, registry.answers, data)
    phase("checks")
    run.e2e["ok_ratio"] = (run.attempted - run.failed) / max(run.attempted, 1)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(work)
    traced = bool(args.trace)
    run = Run(
        args.workload, WORKLOADS[args.workload], args.seed, args.seconds, traced,
        work, Tracer() if traced else NoTracer(),
    )
    try:
        execute(run)
        report.append_result(base, run)
        if traced:
            layers.collect(run, base)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for err in run.errors:
        print(f"FAILED {err}", file=sys.stderr)
    if traced:
        units = per_layer_units()
        metrics = {k: {"value": float(run.layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(run.e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
