"""Two traced runs of one seed give identical job and stage counts per op.

Each test runs the benchmark twice as a subprocess, at the benchmark's
own ``run_seconds`` (about 40 s a run on 4 cores), and compares the
per-op counters of the spans files. Ops are registry entries,
serve_search / serve_search_many calls, ingest batches, rewarms and
compactions. The only exceptions allowed are the
entries the benchmark itself lists as ``count_exempt``.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))

import workloads  # noqa: E402


def traced_counts(workload: str, seed: int) -> dict[str, tuple[int, int]]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        seconds = json.load(fh)["run_seconds"]
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "1"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
    assert json.loads(p.stdout.splitlines()[-1])["correct"]
    path = os.path.join(ROOT, "perfbench", "out",
                        f"spans-{workload}-seed{seed}.json")
    with open(path) as fh:
        spans = json.load(fh)
    out: dict[str, list[int]] = {}
    for s in spans:
        if s["op"] is None or not s.get("counters"):
            continue
        c = out.setdefault(s["op"], [0, 0])
        c[0] += s["counters"]["jobs"]
        c[1] += s["counters"]["stages"]
    return {op: tuple(c) for op, c in out.items()}


@pytest.mark.parametrize("workload", sorted(workloads.WORKLOADS))
def test_counts_repeat_exactly(workload):
    a = traced_counts(workload, 11)
    b = traced_counts(workload, 11)
    assert a.keys() == b.keys() and a
    differ = {op: (a[op], b[op]) for op in a
              if a[op] != b[op] and op not in workloads.COUNT_EXEMPT}
    assert not differ
