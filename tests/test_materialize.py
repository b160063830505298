"""Materialized store tests: layout, partition pruning, retention drop."""

from __future__ import annotations

import ast
import io
import os
from contextlib import redirect_stdout
from pathlib import Path

from pyspark.sql import functions as F

from zipkin_storage_kafka_spark.plans.materialize import (
    DATE_COL,
    drop_expired_partitions,
    materialize_stores,
    read_store,
    traces_in_range,
)
from zipkin_storage_kafka_spark.sources.spans import spans_from_events


def test_materialize_and_query(spark, sf_dir, tmp_path):
    out = str(tmp_path / "stores")
    spans = spans_from_events(spark, sf_dir)
    materialize_stores(spark, spans, out)

    # traces partitioned by date; row parity with the live aggregation
    trace_dirs = [
        d for d in os.listdir(os.path.join(out, "traces"))
        if d.startswith(f"{DATE_COL}=")
    ]
    assert len(trace_dirs) >= 25  # ~30 days of data
    assert read_store(spark, out, "traces").count() == (
        spans.select("trace_id").distinct().count()
    )

    # range query prunes partitions (PartitionFilters in the scan)
    df = traces_in_range(
        spark, out, end_ts_ms=1_704_326_400_000, lookback_ms=2 * 86_400_000
    )
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain()
    assert "PartitionFilters: [" in buf.getvalue()
    got_dates = {str(r[DATE_COL]) for r in df.select(DATE_COL).distinct().collect()}
    assert got_dates <= {"2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"}

    # name stores match live aggregations
    assert read_store(spark, out, "span_names").count() == 7
    tags = {
        r["tag_key"] for r in read_store(spark, out, "autocomplete_tags").collect()
    }
    assert tags == {"environment", "k"}


def test_retention_partition_drop(spark, sf_dir, tmp_path):
    out = str(tmp_path / "stores")
    materialize_stores(spark, spans_from_events(spark, sf_dir), out)
    before = read_store(spark, out, "traces").count()
    dropped = drop_expired_partitions(out, "traces", min_date="2024-01-10")
    assert dropped and all(d < f"{DATE_COL}=2024-01-10" for d in dropped)
    after = read_store(spark, out, "traces").count()
    assert after < before
    remaining = {
        str(r[DATE_COL])
        for r in read_store(spark, out, "traces").select(DATE_COL).distinct().collect()
    }
    assert min(remaining) >= "2024-01-10"

def test_bucketed_trace_point_lookup(spark, sf_dir, tmp_path):
    """Bucketed traces table: a trace_id equality filter must prune to ONE
    bucket (SelectedBucketsCount in the scan), the file-level analog of the
    reference's key-routed single-host lookup."""
    import io
    from contextlib import redirect_stdout

    from zipkin_storage_kafka_spark.plans.materialize import (
        lookup_trace_bucketed,
        materialize_bucketed_traces,
    )

    spans = spans_from_events(spark, sf_dir)
    table = materialize_bucketed_traces(
        spark, spans, path=str(tmp_path / "traces_bucketed"), n_buckets=8
    )
    try:
        # autoBucketedScan drops the bucket layout for plans with no
        # join/agg on the bucket key; a point lookup wants the pruning, so
        # pin the bucketed read (the production conf for a lookup service).
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "false"
        )
        target = spans.select("trace_id").orderBy("trace_id").first()["trace_id"]
        df = lookup_trace_bucketed(spark, table, target)
        buf = io.StringIO()
        with redirect_stdout(buf):
            df.explain("formatted")
        plan = buf.getvalue()
        assert "SelectedBucketsCount: 1 out of 8" in plan, plan
        rows = df.collect()
        assert len(rows) == 1 and rows[0]["trace_id"] == target
    finally:
        spark.conf.set(
            "spark.sql.sources.bucketing.autoBucketedScan.enabled", "true"
        )
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_training_shards_split_pruning(spark, sf_dir, tmp_path):
    """The cleaned-corpus shards partition by (split, lang); reading one
    split prunes at the directory level (PartitionFilters, no data files
    from other splits) and the splits tile the survivor set exactly."""
    from zipkin_storage_kafka_spark.plans.materialize import (
        materialize_training_shards,
        read_training_split,
    )

    out = str(tmp_path / "shards")
    materialize_training_shards(spark, sf_dir, out)

    train = read_training_split(spark, out, "train")
    plan = train._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    n_train = train.count()
    n_val = read_training_split(spark, out, "val").count()
    n_test = read_training_split(spark, out, "test").count()
    total = spark.read.parquet(out + "/training_shards").count()
    assert n_train + n_val + n_test == total
    assert n_train > n_val  # 12/16 vs 2/16 expected mass
    # split is content-hash-deterministic: re-materializing yields the same
    # per-split counts
    out2 = str(tmp_path / "shards2")
    materialize_training_shards(spark, sf_dir, out2)
    assert read_training_split(spark, out2, "val").count() == n_val


def test_compaction_rewrites_only_oversplit_partitions(spark, sf_dir, tmp_path):
    from zipkin_storage_kafka_spark.plans.materialize import (
        DATE_COL,
        compact_partitions,
        read_store,
    )
    import os

    out = str(tmp_path / "stores")
    spans = spans_from_events(spark, sf_dir)
    # simulate a streaming sink's file-per-trigger debt: many tiny files
    with_date = spans.withColumn(
        DATE_COL, F.to_date(F.timestamp_micros(F.col("timestamp")))
    )
    with_date.repartition(16).write.partitionBy(DATE_COL).parquet(
        os.path.join(out, "traces_frag")
    )
    store_dir = os.path.join(out, "traces_frag")
    parts = [p for p in os.listdir(store_dir) if p.startswith(f"{DATE_COL}=")]
    assert parts
    n_files_before = {
        p: len([f for f in os.listdir(os.path.join(store_dir, p))
                if f.endswith(".parquet")])
        for p in parts
    }
    assert max(n_files_before.values()) > 2

    before = read_store(spark, out, "traces_frag")
    rows_before = before.count()
    sum_before = before.agg(F.sum("duration")).first()[0]

    compacted = compact_partitions(spark, out, "traces_frag")
    assert set(compacted) == {
        p for p, n in n_files_before.items() if n > 1
    }
    for p in parts:
        n_after = len([
            f for f in os.listdir(os.path.join(store_dir, p))
            if f.endswith(".parquet")
        ])
        assert n_after == 1  # tiny partitions compact to a single file
    after = read_store(spark, out, "traces_frag")
    assert after.count() == rows_before
    assert after.agg(F.sum("duration")).first()[0] == sum_before
    # idempotent: nothing left to compact
    assert compact_partitions(spark, out, "traces_frag") == []


def test_bucketed_spans_join_no_shuffle(spark, sf_dir, tmp_path):
    """Both sides of the J1 self-join read the trace_id-bucketed table:
    HashPartitioning(trace_id) satisfies the (trace_id, parent_id=id)
    clustered distribution, so the sort-merge join must plan with ZERO
    Exchange — the write layout absorbs the pipeline's largest shuffle."""
    import io
    from contextlib import redirect_stdout

    from zipkin_storage_kafka_spark.operators import dependency_links
    from zipkin_storage_kafka_spark.plans.materialize import (
        materialize_bucketed_spans,
    )
    from zipkin_storage_kafka_spark.sources.spans import spans_from_events

    table = materialize_bucketed_spans(
        spark,
        spans_from_events(spark, sf_dir),
        str(tmp_path / "spans_bucketed"),
        table="test_spans_bucketed",
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.requireAllClusterKeysForCoPartition", "false")
    try:
        links = dependency_links(spark.table(table))
        buf = io.StringIO()
        with redirect_stdout(buf):
            links.explain("formatted")
        plan = buf.getvalue()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.conf.set(
            "spark.sql.requireAllClusterKeysForCoPartition", "true"
        )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert plan.count("Bucketed: true") == 2, plan
    assert links.count() > 0
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_autocomplete_keys_are_config(spark, sf_dir, tmp_path):
    """autoCompleteKeys is builder config in the reference
    (KafkaStorageBuilder.java), not a literal: a different key set must
    flow through both the SpanStore facade and the materialized store."""
    from zipkin_storage_kafka_spark.plans.query_api import SpanStore

    spans = spans_from_events(spark, sf_dir)

    store = SpanStore(spans, autocomplete_keys=("k",))
    keys = [r["tag_key"] for r in store.get_autocomplete_keys().collect()]
    assert keys == ["k"]
    # a key outside the configured whitelist yields no values
    assert store.get_autocomplete_values("environment").count() == 0
    assert store.get_autocomplete_values("k").count() == 1

    out = str(tmp_path / "stores_k")
    materialize_stores(spark, spans, out, autocomplete_keys=("k",))
    tags = {
        r["tag_key"]
        for r in read_store(spark, out, "autocomplete_tags").collect()
    }
    assert tags == {"k"}

    # default config unchanged
    assert [
        r["tag_key"]
        for r in SpanStore(spans).get_autocomplete_keys().collect()
    ] == ["environment", "k"]


def test_matcache_prune_respects_grace_window(spark, tmp_path, monkeypatch):
    """A stale-fingerprint dir younger than the grace window survives a new
    build (a concurrent process running older code may still be scanning
    it); once past the window, the next build prunes it."""
    from zipkin_storage_kafka_spark.sources import matcache

    monkeypatch.setattr(matcache, "CACHE_ROOT", str(tmp_path / "cache"))
    src = str(tmp_path / "src")
    os.makedirs(src)

    def build():
        return spark.range(3).withColumnRenamed("id", "v")

    matcache.materialized(spark, src, "t", "oldfp0000000", build)
    tag_dir = os.path.dirname(
        [
            os.path.join(r, d)
            for r, ds, _ in os.walk(str(tmp_path / "cache"))
            for d in ds
            if d.startswith("t-oldfp")
        ][0]
    )
    old_path = os.path.join(tag_dir, "t-oldfp0000000")

    # fresh stale dir: grace window protects it
    assert matcache.materialized(spark, src, "t", "newfp0000000", build).count() == 3
    assert os.path.isdir(old_path)

    # backdate past the grace window: the next build prunes it
    past = matcache._now() - matcache._PRUNE_GRACE_SECONDS - 60
    os.utime(old_path, (past, past))
    import shutil as _sh

    _sh.rmtree(os.path.join(tag_dir, "t-newfp0000000"))
    assert matcache.materialized(spark, src, "t", "newfp0000000", build).count() == 3
    assert not os.path.isdir(old_path)


def test_matcache_fingerprint_invalidation_contract(
    spark, tmp_path, monkeypatch
):
    """The staleness contract (VERDICT r13 next-round #5), both halves:
    an UNCHANGED fingerprint must reuse the persisted table (zero
    rebuilds), and mutating the fingerprint's INPUT BYTES must produce a
    different fingerprint, which relocates the cache path and rebuilds.
    The fingerprint input is exercised with a real on-disk module whose
    source this test edits — the same mechanism that keys pq_codes /
    semdedup_audit off operators/similarity.py."""
    import importlib.util

    from zipkin_storage_kafka_spark.sources import matcache

    monkeypatch.setattr(matcache, "CACHE_ROOT", str(tmp_path / "cache"))
    src = str(tmp_path / "src")
    os.makedirs(src)
    builds = []

    def build():
        builds.append(1)
        return spark.range(3).withColumnRenamed("id", "v")

    mod_path = tmp_path / "fp_probe_mod.py"
    mod_path.write_text("X = 1\n")
    spec = importlib.util.spec_from_file_location("fp_probe_mod", mod_path)
    mod = importlib.util.module_from_spec(spec)

    fp1 = matcache.code_fingerprint((mod,))
    assert matcache.materialized(spark, src, "t", fp1, build).count() == 3
    assert len(builds) == 1
    # unchanged fingerprint -> reuse, no rebuild (fresh memo = the
    # cross-process case: a new driver recomputes the same md5)
    monkeypatch.setattr(matcache, "_FP_CACHE", {})
    assert matcache.code_fingerprint((mod,)) == fp1
    assert matcache.materialized(spark, src, "t", fp1, build).count() == 3
    assert len(builds) == 1

    # mutate the fingerprint input -> new fingerprint -> rebuild
    mod_path.write_text("X = 2\n")
    monkeypatch.setattr(matcache, "_FP_CACHE", {})
    fp2 = matcache.code_fingerprint((mod,))
    assert fp2 != fp1
    assert matcache.materialized(spark, src, "t", fp2, build).count() == 3
    assert len(builds) == 2


def _package_imports(pkg_dir: Path, name: str) -> set[str]:
    """Package modules (dotted, package-relative) that module ``name``
    imports at module level, read from its source with ``ast``."""
    pkg = pkg_dir.name
    rel = pkg_dir / name.replace(".", "/")
    src = rel.with_suffix(".py") if rel.with_suffix(".py").is_file() else rel / "__init__.py"
    found = set()
    for node in ast.parse(src.read_text()).body:
        if isinstance(node, ast.Import):
            dotted = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            base = node.module or ""
            if node.level:
                parent = [pkg] + name.split(".")[: -node.level]
                base = ".".join(parent + ([base] if base else []))
            dotted = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for d in dotted:
            if not d.startswith(pkg + "."):
                continue
            mod = d[len(pkg) + 1:]
            path = pkg_dir / mod.replace(".", "/")
            if path.with_suffix(".py").is_file() or (path / "__init__.py").is_file():
                found.add(mod)
    return found


def test_span_store_fingerprint_covers_its_import_closure():
    """matcache promises that a stale read is impossible, so the span
    stores' fingerprint must list every package module that its modules
    import at module level, transitively: an edit to any of them changes
    what the stores hold."""
    import zipkin_storage_kafka_spark
    from zipkin_storage_kafka_spark.sources.spans import FINGERPRINT_MODULES

    pkg_dir = Path(zipkin_storage_kafka_spark.__file__).parent
    listed = set(FINGERPRINT_MODULES)
    missing = {
        (name, dep)
        for name in listed
        for dep in _package_imports(pkg_dir, name)
        if dep not in listed
    }
    assert not missing, missing


def test_pq_and_semdedup_caches_keyed_on_operator_source(
    spark, monkeypatch, tmp_path
):
    """_pq_index and _semdedup_audit_members must persist under a path
    embedding code_fingerprint((similarity, tables)) — so any edit to
    the operator source structurally relocates (= invalidates) the
    persisted pq_codes / pq_codebook / semdedup_audit tables.  Guards
    the wiring half of the staleness contract: a refactor that drops
    similarity.py from the fingerprint input would serve stale indexes
    across code versions."""
    from zipkin_storage_kafka_spark.operators import similarity as sim
    from zipkin_storage_kafka_spark.plans import registry_pipeline as rp
    from zipkin_storage_kafka_spark.sources import matcache, tables

    monkeypatch.setattr(matcache, "CACHE_ROOT", str(tmp_path / "cache"))
    monkeypatch.setattr(rp, "_PQ_INDEX_CACHE", {})
    monkeypatch.setattr(rp, "_SEMDEDUP_AUDIT_CACHE", {})
    monkeypatch.setattr(rp, "_IVF_CACHE", {})
    monkeypatch.setattr(rp, "_ANN_SCORES_CACHE", {})
    monkeypatch.setattr(rp, "_NLIST_ASSIGN_CACHE", {})

    sf_dir = "/root/testdata/sf0.001"
    codes, codebook = rp._pq_index(spark, sf_dir)
    assert codes.count() > 0 and codebook.count() > 0
    assert rp._semdedup_audit_members(spark, sf_dir).count() > 0
    # r15 additions to the serve layer: the eval query's per-vector
    # cosine relation and the nlist assignment index — same fingerprint
    # contract as the PQ index
    assert rp._ann_scores(spark, sf_dir).count() > 0
    assert rp._nlist_assign(spark, sf_dir).count() > 0

    fp = matcache.code_fingerprint((sim, tables))
    persisted = {
        d
        for r, ds, _ in os.walk(str(tmp_path / "cache"))
        for d in ds
        if "-" in d
    }
    for table in (
        "pq_codes",
        "pq_codebook",
        "semdedup_audit",
        f"ann_scores_cosine_q{rp.ANN_QUERY_VEC}",
        "ivf_nlist_assign",
    ):
        assert f"{table}-{fp}" in persisted, (table, sorted(persisted))
