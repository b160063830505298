"""Per-layer instrumentation of the traced run, all from benchmark code:

- ``sources.matcache``: ``materialized`` is wrapped (the module is not
  edited) to count derived-table builds and hits, their time and bytes;
- ``streaming.jobs``: a ``StreamingQueryListener`` keeps every
  ``StreamingQueryProgress``;
- Spark runtime: the event log of the traced session, rolled up per
  operation by ``eventlog``.

``collect`` turns these into the per-layer metrics and writes the run's
Zipkin V2 trace and its report under ``.perfbench/out/``.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import threading
import time

import eventlog
import report


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def install(run) -> None:
    """Wrap ``matcache.materialized`` to count builds and hits."""
    from zipkin_storage_kafka_spark.sources import matcache

    original = matcache.materialized
    lock = threading.Lock()
    for k in ("matcache.builds", "matcache.hits", "matcache.build_s",
              "matcache.bytes_written", "sources.wide_s"):
        run.layer[k] = 0

    def materialized(spark, sf_dir, table, fingerprint, build):
        path = os.path.join(matcache.CACHE_ROOT, "*", f"{table}-{fingerprint}")
        before = len(glob.glob(os.path.join(path, "_SUCCESS")))
        t0 = time.monotonic()
        with run.tracer.span(f"matcache.{table}"):
            out = original(spark, sf_dir, table, fingerprint, build)
        took = time.monotonic() - t0
        built = glob.glob(path)
        with lock:
            if len(built) > before:
                run.layer["matcache.builds"] += 1
                run.layer["matcache.build_s"] += took
                run.layer["matcache.bytes_written"] += sum(_du(p) for p in built)
                if table.startswith("wide_"):
                    run.layer["sources.wide_s"] += took
            else:
                run.layer["matcache.hits"] += 1
        return out

    matcache.materialized = materialized


def listen(run) -> None:
    """Keep every streaming progress record of the session."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            run.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    run.spark.streams.addListener(Listener())


def _stream_metrics(run) -> None:
    batches = [p for p in run.progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in batches]
    states = [s for p in run.progress for s in p.get("stateOperators", [])]
    run.layer["stream.batches"] = len(batches)
    run.layer["stream.batch_p50_ms"] = (
        statistics.median(d.get("triggerExecution", 0) for d in dur) if dur else 0
    )
    run.layer["stream.add_batch_ms"] = (
        statistics.median(d.get("addBatch", 0) for d in dur) if dur else 0
    )
    run.layer["stream.state_rows_max"] = max((s.get("numRowsTotal", 0) for s in states), default=0)
    run.layer["stream.state_mem_bytes_max"] = max(
        (s.get("memoryUsedBytes", 0) for s in states), default=0
    )


def _spark_metrics(run, log_path: str) -> None:
    groups = eventlog.parse(log_path)
    total = eventlog.Totals()
    for t in groups.values():
        total.add(t)
    for k in ("jobs", "tasks", "task_run_s", "task_cpu_s", "gc_s", "shuffle_write_bytes",
              "shuffle_read_bytes", "spill_bytes", "python_s", "python_bytes"):
        run.layer[f"spark.{k}"] = getattr(total, k)
    per_op = {op.group: eventlog.Totals() for op in run.ops}
    for g, t in groups.items():
        if g in per_op:
            per_op[g].add(t)
    # Streaming run-id groups belong to the stream op that started them.
    streams = [op for op in run.ops if op.kind == "stream"]
    for g, t in groups.items():
        if g is None or g in per_op:
            continue
        for op in streams:
            if op.start * 1e3 <= t.first_job_ms <= op.end * 1e3:
                per_op[op.group].add(t)
                break
    gap_total = 0.0
    per_kind: dict[str, list[tuple[int, float]]] = {}
    for op in run.ops:
        t = per_op[op.group]
        gap = eventlog.driver_gap_s(t, op.start * 1e3, op.end * 1e3)
        gap_total += gap
        if not (op.kind.startswith("registry.") and not op.group.endswith(":0")):
            per_kind.setdefault(op.kind, []).append((t.jobs, gap))  # registry: first pass
    run.layer["spark.driver_gap_s"] = gap_total
    for kind, vals in per_kind.items():
        if kind.startswith("registry."):
            run.layer[f"{kind}.jobs"] = sum(j for j, _ in vals)
            run.layer[f"{kind}.driver_gap_s"] = sum(g for _, g in vals)
        elif kind.startswith("api."):
            run.layer[f"{kind}.jobs"] = statistics.mean(j for j, _ in vals)


def collect(run, base: str) -> None:
    _stream_metrics(run)
    _spark_metrics(run, eventlog.find_log(os.path.join(run.work, "eventlog")))
    out = os.path.join(base, "out")
    os.makedirs(out, exist_ok=True)
    stem = os.path.join(out, f"{run.workload}-{run.seed}")
    run.tracer.write(stem + ".trace.json")
    with open(stem + ".report.json", "w") as fh:
        json.dump(
            {
                "workload": run.workload,
                "seed": run.seed,
                "per_layer": run.layer,
                "end_to_end_traced": run.e2e,
                "tracing_overhead": report.overhead(base, run.workload, run.seconds),
                "errors": run.errors,
            },
            fh,
            indent=1,
            sort_keys=True,
        )
