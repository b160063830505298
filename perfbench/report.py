"""Results log and tracing overhead.

Every run appends its end-to-end values to ``.perfbench/results.jsonl``,
with a fingerprint of the source tree and the run length.  The tracing
overhead of a metric on a workload is the median over traced runs minus
the median over untraced runs, over the runs of the current source tree
and the same ``--seconds``.

    python3 perfbench/report.py     # overhead table of every workload
"""

from __future__ import annotations

import glob
import hashlib
import json
import os
import statistics
import sys

RESULTS = "results.jsonl"
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def source_fingerprint(root: str = ROOT) -> str:
    """SHA-1 over the engine's and the benchmark's Python sources, so runs
    of different code never share an overhead figure (the checkout need
    not be a git repository)."""
    files = [os.path.join(root, "__spark_entry__.py")]
    for pkg in ("zipkin_storage_kafka_spark", "perfbench"):
        files += glob.glob(os.path.join(root, pkg, "**", "*.py"), recursive=True)
    digest = hashlib.sha1()
    for path in sorted(files):
        digest.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            digest.update(fh.read())
    return digest.hexdigest()[:16]


def append_result(base: str, run) -> None:
    os.makedirs(base, exist_ok=True)
    with open(os.path.join(base, RESULTS), "a") as fh:
        fh.write(
            json.dumps(
                {
                    "workload": run.workload,
                    "seed": run.seed,
                    "trace": int(run.traced),
                    "source": source_fingerprint(),
                    "seconds": run.seconds,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "e2e": run.e2e,
                }
            )
            + "\n"
        )


def overhead(base: str, workload: str, seconds: float) -> dict[str, dict]:
    """Per end-to-end metric: untraced and traced medians and their
    difference (traced - untraced), over the runs of ``workload`` with
    the current source tree and ``seconds``; ``None`` where a side has no
    runs."""
    runs = {0: [], 1: []}
    source = source_fingerprint()
    try:
        with open(os.path.join(base, RESULTS)) as fh:
            for line in fh:
                r = json.loads(line)
                if (r["workload"], r.get("source"), r.get("seconds")) == (
                    workload, source, seconds
                ):
                    runs[r["trace"]].append(r["e2e"])
    except FileNotFoundError:
        pass
    out = {}
    for metric in sorted({k for side in runs.values() for r in side for k in r}):
        med = {
            t: statistics.median(r[metric] for r in side) if side else None
            for t, side in runs.items()
        }
        out[metric] = {
            "untraced": med[0],
            "traced": med[1],
            "overhead": None if None in med.values() else med[1] - med[0],
            "runs": [len(runs[0]), len(runs[1])],
        }
    return out


def main() -> int:
    base = os.path.join(ROOT, ".perfbench")
    source = source_fingerprint()
    kinds = set()
    with open(os.path.join(base, RESULTS)) as fh:
        for line in fh:
            r = json.loads(line)
            if r.get("source") == source:
                kinds.add((r["workload"], r["seconds"]))
    json.dump(
        {f"{w} --seconds {s:g}": overhead(base, w, s) for w, s in sorted(kinds)},
        sys.stdout,
        indent=1,
    )
    print()
    return 0


if __name__ == "__main__":
    sys.exit(main())
