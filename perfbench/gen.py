"""Seeded input generator for the benchmark.

Everything a run feeds the engine is made here from ``--seed``: the raw
parquet tables (same schemas as the repository's test data), the
time-ordered span files of the streaming phase, and the request schedule
of the query phase.  The engine under test is never used to make inputs:
tables come from NumPy, stream spans from DuckDB over
``SPANS_ORACLE_CTE`` (the oracle twin of ``sources.spans``).
"""

from __future__ import annotations

import bisect
import datetime as dt
import os
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_2024_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z
DAY_US = 86_400_000_000
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
WORDS = (
    "the a data spark batch stream table scan merge join sort hash order "
    "key value row column filter group query window part line customer "
    "vector small big fast slow agg dup"
).split()
LANGS = ("en", "en", "en", "zh", "de", "es", "fr")
GAP_US = 60_000_000  # streaming.jobs.DEFAULT_TRACE_TIMEOUT

# Span columns of streaming.jobs.SPANS_STREAM_SCHEMA, as parquet types.
SPAN_COLUMNS = (
    "trace_id", "id", "parent_id", "kind", "name", "timestamp", "duration",
    "local_service", "remote_service", "tag_k", "env", "is_error",
)
SPAN_SCHEMA = pa.schema(
    [
        (c, pa.int64() if c in ("timestamp", "duration")
         else pa.bool_() if c == "is_error" else pa.string())
        for c in SPAN_COLUMNS
    ]
)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _date_us(rng: np.random.Generator, n: int, lo: str, hi: str) -> np.ndarray:
    lo_d = dt.date.fromisoformat(lo).toordinal()
    hi_d = dt.date.fromisoformat(hi).toordinal()
    days = rng.integers(lo_d, hi_d + 1, n) - dt.date(1970, 1, 1).toordinal()
    return days.astype("int64") * DAY_US


def write_events(rng: np.random.Generator, out: str, n: int, users: int) -> None:
    """``events``: one row per user action over 30 days of January 2024."""
    ts = np.sort(rng.integers(0, 30 * DAY_US, n)) + EPOCH_2024_US
    value = np.maximum(np.round(rng.exponential(50.0, n), 2), 0.01)
    k = rng.integers(0, 100, n)
    _write(
        pa.table(
            {
                "event_id": pa.array(np.arange(n, dtype="int64")),
                "ts": _ts(ts),
                "user_id": pa.array(rng.integers(0, users, n).astype("int64")),
                "event_type": pa.array(
                    [EVENT_TYPES[i] for i in rng.integers(0, 5, n)]
                ),
                "value": pa.array(value),
                "props": pa.array([f'{{"k": {int(x)}}}' for x in k]),
            }
        ),
        os.path.join(out, "events.parquet"),
    )


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:  # exact duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
            continue
        if i > 10 and r < 0.16:  # near duplicate: a few words swapped
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 10)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
            continue
        length = int(rng.integers(8, 100))
        texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), length)))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype="int64")),
            "text": pa.array(texts),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, len(LANGS), n)]),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0.0, 1.0, (10, dim))
    vecs = centers[labels] + rng.normal(0.0, 1.2, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n, dtype="int64")),
            "embedding": pa.array(
                list(vecs.astype("float32")), type=pa.list_(pa.float32())
            ),
            "label": pa.array(labels.astype("int32")),
        }
    )


def write_tables(rng: np.random.Generator, out: str, scale: float) -> None:
    """All ten raw tables, TPC-H-like, at ``scale`` (1.0 ~ 600k lineitems)."""
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord = int(1_500_000 * scale)
    write_events(rng, out, int(1_000_000 * scale), int(15_000 * scale))
    _write(
        pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype="int32")),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        os.path.join(out, "region.parquet"),
    )
    _write(
        pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype="int32")),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
            }
        ),
        os.path.join(out, "nation.parquet"),
    )
    segs = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    _write(
        pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
                "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_cust), 2)),
                "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)],
            }
        ),
        os.path.join(out, "customer.parquet"),
    )
    _write(
        pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
                "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)),
            }
        ),
        os.path.join(out, "supplier.parquet"),
    )
    adj = ("small", "red", "blue", "hot", "old", "cold", "big", "green")
    noun = ("widget", "bolt", "ring", "gear", "gizmo", "nut", "pipe", "valve")
    types = ("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    _write(
        pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part, dtype="int64")),
                "p_name": [
                    f"{adj[a]} {noun[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
                "p_type": [types[i] for i in rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
                "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2)),
            }
        ),
        os.path.join(out, "part.parquet"),
    )
    prios = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    _write(
        pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
                "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
                "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_ord), 2)),
                "o_orderdate": _ts(_date_us(rng, n_ord, "1995-01-01", "2001-08-01")),
                "o_orderpriority": [prios[i] for i in rng.integers(0, 5, n_ord)],
            }
        ),
        os.path.join(out, "orders.parquet"),
    )
    lines = rng.integers(1, 8, n_ord)
    l_ord = np.repeat(np.arange(n_ord, dtype="int64"), lines)
    n_li = len(l_ord)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    qty = rng.integers(1, 51, n_li).astype("float64")
    _write(
        pa.table(
            {
                "l_orderkey": pa.array(l_ord),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("int64")),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("int64")),
                "l_linenumber": pa.array(l_num),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2100, n_li), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
                "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
                "l_shipdate": _ts(_date_us(rng, n_li, "1995-01-02", "2001-11-04")),
            }
        ),
        os.path.join(out, "lineitem.parquet"),
    )
    _write(_documents(rng, 500), os.path.join(out, "documents.parquet"))
    _write(_embeddings(rng, 500), os.path.join(out, "embeddings.parquet"))


def oracle_spans(data_dir: str) -> pa.Table:
    """The span corpus of ``data_dir``, derived by DuckDB over the oracle
    CTE and sorted by (timestamp, id)."""
    from zipkin_storage_kafka_spark.sources.spans import with_spans_cte

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(data_dir, 'events.parquet')}'"
        )
        cols = ", ".join(SPAN_COLUMNS)
        return con.execute(
            with_spans_cte(f"SELECT {cols} FROM spans ORDER BY timestamp, id")
        ).arrow().cast(SPAN_SCHEMA)
    finally:
        con.close()


def write_stream_files(
    rng: np.random.Generator, spans: pa.Table, out: str, n_files: int
) -> int:
    """Split the time-ordered ``spans`` into ``n_files`` parquet files at
    seeded cut points, then add the two watermark sentinels 2x and 4x the
    session gap past the last span.  Cuts never split equal timestamps,
    so no span is late for the zero-delay watermark.  File mtimes rise in
    order, so a one-file-per-trigger stream replays them in order.
    Returns the number of non-sentinel spans written."""
    from zipkin_storage_kafka_spark.streaming.jobs import (
        SENTINEL_SERVICE,
        SENTINEL_TRACE_PREFIX,
    )

    os.makedirs(out)
    ts = spans.column("timestamp").to_numpy()
    cuts = sorted(
        set(
            bisect.bisect_left(ts, ts[int(c)])
            for c in rng.integers(1, len(ts), n_files - 1)
        )
        - {0}
    )
    bounds = [0, *cuts, len(ts)]
    files = [spans.slice(a, b - a) for a, b in zip(bounds, bounds[1:])]
    last = int(ts[-1])
    for seq in (1, 2):
        row = {c: [None] for c in SPAN_COLUMNS}
        row.update(
            trace_id=[f"{SENTINEL_TRACE_PREFIX}_{seq}"], id=[f"s{seq}"], name=["flush"],
            timestamp=[last + 2 * seq * GAP_US], duration=[1],
            local_service=[SENTINEL_SERVICE], is_error=[False],
        )
        files.append(pa.Table.from_pydict(row, schema=SPAN_SCHEMA))
    t0 = 1_000_000_000
    for i, table in enumerate(files):
        path = os.path.join(out, f"part-{i:03d}.parquet")
        pq.write_table(table, path)
        os.utime(path, (t0 + 10 * i, t0 + 10 * i))
    return len(ts)


# --- request schedule -------------------------------------------------------

# (type, share) of the query mix; ROUND requests hold it exactly.
MIX = (
    ("get_traces", 0.30),
    ("get_trace", 0.30),
    ("get_traces_by_ids", 0.05),
    ("service_names", 0.10),
    ("span_names", 0.10),
    ("remote_service_names", 0.05),
    ("autocomplete", 0.05),
    ("dependencies", 0.05),
)
ROUND = 20


@dataclass(frozen=True)
class Request:
    rid: int
    round: int  # the client sends the requests of a round back to back
    kind: str
    args: dict = field(hash=False)


# Span column behind each tag key of the scalar span store, as
# ``query_api._span_matches`` maps it.
TAG_COLUMNS = {"environment": "env", "k": "tag_k", "error": "is_error"}


def _exact_counts(n: int, shares: list[float]) -> list[int]:
    """Split ``n`` by ``shares`` exactly (largest remainder)."""
    quota = [share * n for share in shares]
    counts = [int(q) for q in quota]
    by_remainder = sorted(range(len(shares)), key=lambda i: counts[i] - quota[i])
    for i in by_remainder[: n - sum(counts)]:
        counts[i] += 1
    return counts


def _zipf_pick(rng: np.random.Generator, items: list, s: float = 1.0):
    """Rank-frequency Zipf pick: the item of rank r has weight 1 / r**s."""
    ranks = np.arange(1, len(items) + 1, dtype="float64")
    p = ranks ** -s
    return items[int(rng.choice(len(items), p=p / p.sum()))]


def find_traces_shapes() -> list:
    """The ``get_traces`` requests of the registry's find-traces rows
    (P4 service + duration + 7-day window; annotation + remote service +
    span name over 45 days; tag ``k`` + bare ``error``; service +
    duration bounds)."""
    from zipkin_storage_kafka_spark.plans import registry as R

    return [
        R.FIND_TRACES_REQUEST,
        R.FIND_TRACES_ANNOTATION_REQUEST,
        R.FIND_TRACES_TAGS_REQUEST,
        R.FIND_TRACES_DURATION_REQUEST,
    ]


def _find_args(rng: np.random.Generator, shape, spans: pa.Table) -> dict:
    """``shape`` as request arguments, its names (service, remote service,
    span name, tag values) taken from one seeded span that has all of
    them, so the single-span conjunct has at least one match.  Durations,
    window and limit stay as the registry row has them."""
    need = [c for c, v in (("local_service", shape.service_name),
                           ("remote_service", shape.remote_service_name),
                           ("name", shape.span_name)) if v]
    need += [TAG_COLUMNS[k] for k in shape.annotation_query]
    ok = np.ones(len(spans), dtype=bool)
    for c in need:
        col = spans.column(c)
        ok &= col.fill_null(False).to_numpy() if c == "is_error" else col.is_valid().to_numpy()
    span = spans.slice(int(rng.choice(np.flatnonzero(ok))), 1).to_pylist()[0]
    args = {"limit": shape.limit}
    if shape.service_name:
        args["service_name"] = span["local_service"]
    if shape.remote_service_name:
        args["remote_service_name"] = span["remote_service"]
    if shape.span_name:
        args["span_name"] = span["name"]
    if shape.annotation_query:
        args["annotation_query"] = {
            k: v if v == "" else span[TAG_COLUMNS[k]]
            for k, v in shape.annotation_query.items()
        }
    if shape.min_duration is not None:
        args["min_duration"] = shape.min_duration
    if shape.max_duration is not None:
        args["max_duration"] = shape.max_duration
    if shape.end_ts > 0:
        args["end_ts"], args["lookback"] = shape.end_ts, shape.lookback
    return args


def schedule(
    rng: np.random.Generator,
    spans: pa.Table,
    rounds: int,
) -> list[Request]:
    """``rounds`` rounds of :data:`ROUND` requests each.  Every round holds
    the kinds of :data:`MIX` at their exact shares in a seeded order, and
    the ``get_traces`` requests cycle through the four find-traces shapes,
    so the latency percentiles do not move with a seed's luck of the mix,
    whichever round the traffic stops after.

    Parameters come from the repository, names from the span corpus:
    ``get_traces`` uses the registry's four find-traces requests with
    names of a seeded span; ``get_traces_by_ids`` asks for
    ``TRACE_MANY_N`` ids like the registry's traceMany row; dependencies
    use the registry's end time and lookback; autocomplete asks for one
    of ``DEFAULT_AUTOCOMPLETE_KEYS``.  Trace ids are Zipf-skewed (s = 1)
    over a seeded permutation of the corpus' trace ids; names queries ask
    for a uniformly drawn service."""
    from zipkin_storage_kafka_spark.plans import registry as R
    from zipkin_storage_kafka_spark.plans.query_api import DEFAULT_AUTOCOMPLETE_KEYS

    shapes = find_traces_shapes()
    services = sorted(set(spans.column("local_service").to_pylist()))
    trace_ids = sorted(set(spans.column("trace_id").to_pylist()))
    hot = [trace_ids[i] for i in rng.permutation(len(trace_ids))]
    counts = _exact_counts(ROUND, [share for _, share in MIX])
    kinds = [k for (k, _), c in zip(MIX, counts) for _ in range(c)]
    finds = 0
    out: list[Request] = []
    for rnd in range(rounds):
        for i in rng.permutation(len(kinds)):
            kind = kinds[i]
            if kind == "get_traces":
                args = _find_args(rng, shapes[finds % len(shapes)], spans)
                finds += 1
            elif kind == "get_trace":
                args = {"trace_id": _zipf_pick(rng, hot)}
            elif kind == "get_traces_by_ids":
                args = {"trace_ids": [_zipf_pick(rng, hot) for _ in range(R.TRACE_MANY_N)]}
            elif kind in ("span_names", "remote_service_names"):
                args = {"service_name": services[int(rng.integers(len(services)))]}
            elif kind == "autocomplete":
                keys = DEFAULT_AUTOCOMPLETE_KEYS
                args = {"key": keys[int(rng.integers(len(keys)))]}
            elif kind == "dependencies":
                args = {"end_ts": R.DEPENDENCIES_END_TS, "lookback": R.DEPENDENCIES_LOOKBACK}
            else:
                args = {}
            out.append(Request(len(out), rnd, kind, args))
    return out
