"""Tiny-input smoke of every workload: one cold and one warm pass, untraced
and traced, each query checked against its DuckDB oracle, the event-log
job counts checked against Spark's status tracker, and every per-layer
metric of ``BENCHMARK.json`` present.  A few minutes per workload:

    python3 -m pytest perfbench/test_smoke.py -q
"""

from __future__ import annotations

import dataclasses
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import run  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_tiny_workload_traced(name):
    full = WORKLOADS[name]
    copies = (100, full.doc_copies[1]) if full.doc_copies else None
    wl = dataclasses.replace(full, name=f"{name}-tiny", sf=0.001, doc_copies=copies)
    metrics, detail = run.run(wl, seed=1, seconds=0, trace=1)
    assert detail["mismatches"] == [] and detail["failed_execs"] == 0, detail
    assert detail["self_check"] == [], detail["self_check"]
    assert detail["missing"] == [], detail["missing"]
    assert detail["failed"] == 0
    assert set(metrics) == {m["name"] for m in run.bench_spec()["per_layer"]}
    assert len(detail["warm_pass_s"]) == 1 and detail["cold_pass_s"] > 0
