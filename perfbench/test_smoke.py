"""Smoke test of the benchmark itself, at tiny sizes (a 500-doc flagship
corpus and a 2000-doc bench corpus, one round each).

    python3 -m pytest perfbench/test_smoke.py -q

It runs every workload untraced and traced and asserts that each metric
BENCHMARK.json names is printed with its unit, that the trace holds a
span for every layer, that the seen-filters read zero on bench_crawl and
non-zero on scale_crawl, and that BENCHMARK.json records why each
workload was chosen.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def _run(workload: str, traced: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "7", "--seconds", "1", "--trace",
         str(traced), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.fixture(scope="module", params=WORKLOADS)
def results(request):
    return request.param, _run(request.param, 0), _run(request.param, 1)


def test_every_metric_printed_with_unit(results):
    _, plain, traced = results
    for out, key in ((plain, "end_to_end"), (traced, "per_layer")):
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] > 0
        printed = out["metrics"]
        for m in SPEC[key]:
            assert m["name"] in printed, m["name"]
            assert printed[m["name"]]["unit"] == m["unit"]
            assert isinstance(printed[m["name"]]["value"], (int, float))


def test_trace_has_a_span_per_layer(results):
    """Every layer is traced; bench_crawl never calls the seen-filters
    (its frontier stays below filter_min_keys), scale_crawl does."""
    workload, _, _ = results
    path = os.path.join(ROOT, ".perfbench", "results",
                        f"{workload}-spans.jsonl")
    with open(path) as f:
        layers = {json.loads(line)["layer"] for line in f}
    want = set(tracing.LAYERS)
    if workload == "bench_crawl":
        want.discard("seenfilter")
        assert "seenfilter" not in layers
    assert want <= layers, want - layers


def test_seenfilter_only_on_scale_crawl(results):
    workload, _, traced = results
    m = traced["metrics"]
    calls = m["seenfilter.calls"]["value"] + m["seenfilter.jobs"]["value"]
    if workload == "bench_crawl":
        assert calls == 0
    else:
        assert m["seenfilter.calls"]["value"] > 0
        assert m["seenfilter.jobs"]["value"] > 0


def test_each_workload_has_a_reason():
    assert len(SPEC["workloads"]) >= 2
    for w in SPEC["workloads"]:
        assert w["why"].strip() and "\n" not in w["why"]
