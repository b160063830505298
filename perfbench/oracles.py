"""Output checks.  They run outside the timed regions and count a wrong
answer as a failed operation.

Registry rows use the repository's own comparator and DuckDB oracles
(``tests/oracle.py``, loaded by path, not edited).  Query responses and
store row counts are checked against DuckDB over ``SPANS_ORACLE_CTE``.
"""

from __future__ import annotations

import importlib.util
import json
import os

import duckdb
import pandas as pd

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_repo_oracle():
    spec = importlib.util.spec_from_file_location(
        "perfbench_repo_oracle", os.path.join(_ROOT, "tests", "oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_repo_oracle = _load_repo_oracle()
compare_frames = _repo_oracle.compare_frames
duckdb_conn = _repo_oracle.duckdb_conn

TRACE_COLS = ("trace_id", "id", "parent_id", "name", "timestamp", "duration")
# Value of each tag key on a scalar span row (``query_api._span_matches``).
TAG_SQL = {"environment": "env", "k": "tag_k", "error": "CASE WHEN is_error THEN 'true' END"}


def span_db(data_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB with the raw ``events`` view plus ``spans``, ``summaries``
    and ``links`` tables derived by the oracle CTE."""
    from zipkin_storage_kafka_spark.sources.spans import with_spans_cte

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW events AS SELECT * FROM "
        f"'{os.path.join(data_dir, 'events.parquet')}'"
    )
    con.execute("CREATE TABLE spans AS " + with_spans_cte("SELECT * FROM spans"))
    con.execute(
        """
        CREATE TABLE summaries AS
        SELECT trace_id,
               CAST(count(*) AS BIGINT) AS span_count,
               min(timestamp) AS trace_timestamp,
               min(CASE WHEN parent_id IS NULL THEN name END) AS root_name,
               max(timestamp + coalesce(duration, 0)) - min(timestamp) AS trace_duration,
               string_agg(DISTINCT local_service, ',' ORDER BY local_service) AS services,
               CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT) AS error_count
        FROM spans GROUP BY trace_id
        """
    )
    con.execute(
        """
        CREATE TABLE links AS
        SELECT c.trace_id, p.local_service AS parent, c.local_service AS child,
               c.is_error, c.timestamp
        FROM spans c JOIN spans p ON c.trace_id = p.trace_id AND c.parent_id = p.id
        """
    )
    return con


def store_counts(con: duckdb.DuckDBPyConnection) -> dict[str, int]:
    """Expected row counts of the five span stores.  ``path_costs`` and
    ``root_paths`` hold one row per span."""
    n_spans = con.execute("SELECT count(*) FROM spans").fetchone()[0]
    return {
        "spans": n_spans,
        "links": con.execute("SELECT count(*) FROM links").fetchone()[0],
        "summaries": con.execute("SELECT count(*) FROM summaries").fetchone()[0],
        "path_costs": n_spans,
        "root_paths": n_spans,
    }


def _lit(v) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return str(int(v))


def request_sql(kind: str, a: dict) -> str:
    """DuckDB answer of one Zipkin API request (same columns as the
    engine's response)."""
    if kind == "get_traces":
        conds = ["TRUE"]
        if "service_name" in a:
            conds.append(f"local_service = {_lit(a['service_name'])}")
        if "remote_service_name" in a:
            conds.append(f"remote_service = {_lit(a['remote_service_name'])}")
        if "span_name" in a:
            conds.append(f"name = {_lit(a['span_name'])}")
        if "min_duration" in a:
            conds.append(f"duration >= {_lit(a['min_duration'])}")
        if "max_duration" in a:
            conds.append(f"duration <= {_lit(a['max_duration'])}")
        for key, value in a.get("annotation_query", {}).items():
            col = TAG_SQL[key]
            conds.append(f"{col} IS NOT NULL" if value == "" else f"{col} = {_lit(value)}")
        window = ""
        if a.get("end_ts", 0) > 0:
            hi = a["end_ts"] * 1000
            lo = (a["end_ts"] - a["lookback"]) * 1000
            window = f"AND trace_timestamp BETWEEN {lo} AND {hi}"
        return f"""
            SELECT * FROM summaries
            WHERE trace_id IN (SELECT trace_id FROM spans WHERE {' AND '.join(conds)})
            {window}
            ORDER BY trace_timestamp DESC, trace_id LIMIT {int(a.get('limit', 10))}"""
    if kind == "get_trace":
        return f"SELECT {', '.join(TRACE_COLS)} FROM spans WHERE trace_id = {_lit(a['trace_id'])}"
    if kind == "get_traces_by_ids":
        ids = ", ".join(_lit(t) for t in a["trace_ids"])
        return f"""
            SELECT trace_id, min(timestamp) AS trace_timestamp,
                   CAST(count(*) AS BIGINT) AS span_count
            FROM spans WHERE trace_id IN ({ids}) GROUP BY trace_id"""
    if kind == "service_names":
        return """
            SELECT DISTINCT local_service AS service_name FROM spans
            WHERE local_service IS NOT NULL ORDER BY 1 LIMIT 1000"""
    if kind == "span_names":
        return f"""
            SELECT local_service AS service_name,
                   string_agg(name, ',' ORDER BY name) AS names
            FROM (SELECT DISTINCT local_service, name FROM spans
                  WHERE local_service = {_lit(a['service_name'])} AND name IS NOT NULL)
            GROUP BY local_service"""
    if kind == "remote_service_names":
        return f"""
            SELECT local_service AS service_name,
                   string_agg(remote_service, ',' ORDER BY remote_service) AS remote_services
            FROM (SELECT DISTINCT local_service, remote_service FROM spans
                  WHERE local_service = {_lit(a['service_name'])}
                    AND remote_service IS NOT NULL)
            GROUP BY local_service"""
    if kind == "autocomplete":
        col = TAG_SQL[a["key"]]
        return f"""
            SELECT {_lit(a['key'])} AS tag_key,
                   string_agg({col}, ',' ORDER BY {col}) AS tag_values
            FROM (SELECT DISTINCT {col} FROM spans WHERE {col} IS NOT NULL)"""
    if kind == "dependencies":
        hi = a["end_ts"] * 1000
        lo = (a["end_ts"] - a["lookback"]) * 1000
        return f"""
            SELECT parent, child,
                   CAST(count(*) AS BIGINT) AS call_count,
                   CAST(sum(CASE WHEN is_error THEN 1 ELSE 0 END) AS BIGINT) AS error_count,
                   parent || ':' || child AS link_key
            FROM links WHERE timestamp BETWEEN {lo} AND {hi}
            GROUP BY parent, child"""
    raise ValueError(kind)


class QueryOracle:
    """Checks collected responses; identical requests share one answer."""

    def __init__(self, con: duckdb.DuckDBPyConnection) -> None:
        self.con = con
        self._answers: dict[str, pd.DataFrame] = {}

    def check(self, req, rows: list) -> None:
        key = json.dumps([req.kind, req.args], sort_keys=True)
        if key not in self._answers:
            self._answers[key] = self.con.execute(request_sql(req.kind, req.args)).df()
        want = self._answers[key]
        got = pd.DataFrame([r.asDict() for r in rows], columns=list(want.columns))
        if rows:
            got = pd.DataFrame([r.asDict() for r in rows])
        compare_frames(got, want, name=f"{req.kind} {req.args}")
