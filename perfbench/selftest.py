#!/usr/bin/env python3
"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Run it from the repository root. In one Spark session it

- runs each workload end to end with tracing on, and requires that every
  check passed;
- corrupts one engine result of every kind the workloads check (a BFS
  level, a DFS leaf, a component label, a PageRank value, a near-duplicate
  pair, a cluster label, a keyed-store row, a stored graph) and requires the
  check to reject it;
- requires every ``ingest.dedup_ingest_batch`` span to count the jobs of
  both store inserts, which the engine runs on pool threads outside the
  span's job group.

Prints one line per test and exits non-zero if any failed.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run as bench  # noqa: E402


def corrupt(name: str, got, want):
    """A copy of an engine result with one entry changed."""
    if name == "near-duplicate pair":  # drop one planted pair
        planted = want[1]
        victim = next(p for p in got if (p[0], p[1]) in planted)
        return [p for p in got if p is not victim]
    if isinstance(got, dict):
        out = dict(got)
        key = next(iter(out))
        value = out[key]
        out[key] = value[:-1] + ("corrupt",) if isinstance(value, tuple) else value + 1
        return out
    if isinstance(got, set):
        return set(list(got)[1:])
    out = got.copy()  # numpy array
    i = len(out) // 2
    if out.dtype.kind == "f":
        out[i] *= 1 + 1e-6  # 1000x the PageRank tolerance
    else:
        out[i] += 1
    return out


def main() -> int:
    workdir = os.path.join(bench.ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    cores = min(bench.MAX_CORES, os.cpu_count() or 1)
    bench.configure(workdir, cores)
    import workloads
    from spans import Tracer

    tiny = {
        "graphdb_mixed": {"n_initial": 3, "warm_reads": 2},
        "graph_analytics": {"scale": 7, "edge_factor": 4},
        "corpus_ingest": {"batch_docs": 40, "chains": 2, "chain_len": 4},
    }
    failures = []

    def report(name: str, ok: bool, why: str = "") -> None:
        print(f"{'ok  ' if ok else 'FAIL'} {name}{': ' + why if why and not ok else ''}", flush=True)
        if not ok:
            failures.append(name)

    spark = bench.start_session()
    try:
        tracer = Tracer(spark, cores)
        for name, kwargs in tiny.items():
            result = workloads.WORKLOADS[name](
                spark, 7, 0.0, tracer, os.path.join(workdir, name), **kwargs)
            report(f"{name} runs and its checks pass",
                   result.failed == 0 and result.ops != [], "; ".join(result.errors[:3]))
            for check_name, (fn, got, want) in result.last.items():
                report(f"{name} rejects a corrupted {check_name}", fn(corrupt(check_name, got, want), *want) != [])
        ingest_spans = [s for s in tracer.spans if s["name"] == "ingest.dedup_ingest_batch"]
        report("dedup_ingest_batch spans count both store inserts",
               bool(ingest_spans) and all(s["jobs_outside_group"] >= 2 for s in ingest_spans),
               str([s["jobs_outside_group"] for s in ingest_spans]))
        report("every span reads jobs and stages",
               all(s["jobs"] > 0 and s["stages"] > 0 for s in tracer.spans))
    finally:
        bench.stop_session(spark)
        bench.remove_workdir(workdir)
    print(f"{len(failures)} failed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
