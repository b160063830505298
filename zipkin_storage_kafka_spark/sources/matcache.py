"""Cross-process materialization of deterministic derived tables.

The reference never re-derives query inputs at request time: ingest writes
spans/links to Kafka-topic-backed stores once and every query reads the
store (TraceStorageTopology.java:87-91).  The batch analog is a parquet
materialization shared across driver processes — the first process to need
a derived table writes it, later processes pay one parquet scan instead of
re-running the derivation (scan + windows + shuffles) per process.

Cache keys include an md5 fingerprint of the SOURCE FILES that define the
derivation, so any code edit invalidates the cache structurally — a stale
read is impossible, the worst case is a rebuild.  Writes are atomic
(tmp-dir + rename) and race-safe between concurrent processes.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
import uuid
from collections.abc import Callable, Iterable
from types import ModuleType

from pyspark.sql import DataFrame, SparkSession

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
CACHE_ROOT = os.environ.get(
    "SPARK_GRAFT_CACHE_DIR", os.path.join(_REPO_ROOT, ".cache", "materialized")
)

_FP_CACHE: dict[tuple[str, ...], str] = {}

_now = time.time

# Stale-fingerprint dirs younger than this are left in place: a concurrent
# process running the PREVIOUS code version may still hold a DataFrame over
# them (parquet scans list files at plan time), and deleting underneath it
# fails that process's read with FILE_NOT_EXIST.
_PRUNE_GRACE_SECONDS = 30 * 60


def code_fingerprint(mods: Iterable[ModuleType]) -> str:
    """md5 over the given modules' source files (sorted for stability)."""
    files = tuple(sorted(m.__file__ for m in mods))
    if files not in _FP_CACHE:
        h = hashlib.md5()
        for f in files:
            with open(f, "rb") as fh:
                h.update(fh.read())
        _FP_CACHE[files] = h.hexdigest()[:12]
    return _FP_CACHE[files]


def _dir_stamp(sf_dir: str) -> str:
    """Identity of a testdata dir: its abspath plus each file's size+mtime."""
    root = os.path.abspath(sf_dir)
    parts = [root]
    try:
        for name in sorted(os.listdir(root)):
            st = os.stat(os.path.join(root, name))
            parts.append(f"{name}:{st.st_size}:{st.st_mtime_ns}")
    except OSError:
        pass
    return "|".join(parts)


def materialized(
    spark: SparkSession,
    sf_dir: str,
    table: str,
    fingerprint: str,
    build: Callable[[], DataFrame],
) -> DataFrame:
    """Return ``table`` for ``sf_dir`` from the cross-process cache,
    building and persisting it via ``build()`` on first use.

    Layout is ``<root>/<sf-tag>/<table>-<fingerprint>``; stale fingerprints
    of the SAME table are pruned on build (per-table, so unrelated cached
    tables with their own fingerprints are untouched).  The sf tag folds in
    every source file's (name, size, mtime), so a regenerated testdata dir
    (same path, new bytes — it happened between rounds 2 and 3) lands in a
    fresh tag dir instead of serving stale derived tables."""
    tag = hashlib.md5(_dir_stamp(sf_dir).encode()).hexdigest()[:10]
    tag_dir = os.path.join(CACHE_ROOT, tag)
    path = os.path.join(tag_dir, f"{table}-{fingerprint}")
    success = os.path.join(path, "_SUCCESS")
    if not os.path.exists(success):
        if os.path.isdir(tag_dir):
            for entry in os.listdir(tag_dir):
                if entry.startswith(f"{table}-") and entry != f"{table}-{fingerprint}":
                    stale = os.path.join(tag_dir, entry)
                    try:
                        age = _now() - os.stat(stale).st_mtime
                    except OSError:
                        age = _PRUNE_GRACE_SECONDS
                    if age >= _PRUNE_GRACE_SECONDS:
                        shutil.rmtree(stale, ignore_errors=True)
        tmp = f"{path}.tmp-{os.getpid()}-{uuid.uuid4().hex[:6]}"
        built = build()
        built.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # Lost a build race: another process renamed first.  Use theirs.
            shutil.rmtree(tmp, ignore_errors=True)
            if not os.path.exists(success):
                raise
        # The build's schema is the one Spark would infer from the files it
        # just wrote (file sources read every column as nullable), so the
        # read-back skips the schema-inference job.
        return spark.read.schema(built.schema).parquet(path)
    return spark.read.parquet(path)
