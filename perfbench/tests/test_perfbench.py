"""Tests of the benchmark itself (not of the package).

    python3 -m pytest perfbench/tests -q

The generator and metric-list tests take seconds. The end-to-end test
runs every workload once untraced and once traced (a few minutes on
four cores) and is enabled with ``PERFBENCH_E2E=1``.
"""

from __future__ import annotations

import ast
import json
import os
import subprocess
import sys
from types import SimpleNamespace

import numpy as np
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import gen  # noqa: E402
import metrics as M  # noqa: E402

SMALL = gen.TableSizes(customers=50, suppliers=10, parts=40, orders=200, events=300, users=20, documents=30, embeddings=40)


def _bronze(seed):
    return [(f.topic, f.name, f.body) for c in gen.bronze_cycles(seed, 4, 10) for f in c.files]


def _docs(seed):
    return [(d.doc_id, d.text, d.kind, d.ref) for b in gen.corpus_batches(seed, 3, 50) for d in b]


def _sessions(seed):
    tables = gen.lakehouse_tables(SMALL)
    return [
        (s.terms, s.query_vec, s.point_key, s.range_lo_us, s.range_hi_us, s.entry)
        for s in gen.sessions(seed, 10, tables)
    ]


@pytest.mark.parametrize("make", [_bronze, _docs, _sessions])
def test_same_seed_same_inputs_other_seed_other_inputs(make):
    assert make(11) == make(11)
    assert make(11) != make(12)


def test_lakehouse_tables_are_fixed():
    a, b = gen.lakehouse_tables(SMALL), gen.lakehouse_tables(SMALL)
    for name in a:
        for col in a[name]:
            assert np.array_equal(np.asarray(a[name][col]), np.asarray(b[name][col])), (name, col)


def test_bronze_shape():
    cycles = gen.bronze_cycles(3, 4, 20)
    for c in cycles:
        for topic in (gen.RAPID7_TOPIC, gen.FORTI_TOPIC):
            files = [f for f in c.files if f.topic == topic]
            assert len(files) == 20
            assert sum(f.record is None for f in files) == 1
            keys = [gen.asset_uid(topic, f.record) for f in files if f.record]
            assert len(keys) == len(set(keys)), "a key twice in one cycle"
            for f in files:
                if f.record is not None:
                    assert json.loads(f.body) == f.record
                    assert ("lastScanEngine" in f.record) == (topic == gen.RAPID7_TOPIC and c.index >= 1)
    seen = [{gen.asset_uid(f.topic, f.record) for f in c.files if f.record} for c in cycles]
    assert seen[0] & seen[1], "keys are re-reported across cycles"


def test_corpus_plants_duplicates():
    batches = gen.corpus_batches(5, 6, 200)
    assert all(d.kind == "fresh" for d in batches[0])
    later = [d for b in batches[1:] for d in b]
    share = {k: sum(d.kind == k for d in later) / len(later) for k in ("exact", "near")}
    assert 0.10 < share["exact"] < 0.20 and 0.06 < share["near"] < 0.14
    text = {d.doc_id: d.text for b in batches for d in b}
    first = {d.doc_id: i for i, b in enumerate(batches) for d in b}
    for d in later:
        if d.kind != "fresh":
            assert first[d.ref] < first[d.doc_id], "copies an earlier batch"
        if d.kind == "exact":
            assert text[d.ref] == d.text
        if d.kind == "near":
            assert text[d.ref] != d.text
            assert sum(a != b for a, b in zip(text[d.ref].split(), d.text.split())) <= 3


def _string_constants(path):
    """String literals, with f-strings reduced to their leading text."""
    tree = ast.parse(open(path).read())
    fragments = {id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values[1:]}
    return [
        n.value
        for n in ast.walk(tree)
        if isinstance(n, ast.Constant) and isinstance(n.value, str) and id(n) not in fragments
    ]


def test_program_receives_only_generated_inputs():
    """No workload names a path outside its own work directory or a
    fixture of the package's test suite: every input comes from gen."""
    for name in ("ingest.py", "admission.py", "serve.py", "run.py", "harness.py"):
        for s in _string_constants(os.path.join(BENCH, name)):
            assert not s.startswith("/") or s.startswith("/proc"), (name, s)
            assert "testdata" not in s and "tests." not in s, (name, s)
        src = open(os.path.join(BENCH, name)).read()
        assert "from tests" not in src and "import tests" not in src


def test_benchmark_json_matches_metric_list():
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _, _ in M.END_TO_END]
    assert [m["unit"] for m in spec["end_to_end"]] == [u for _, u, _ in M.END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == M.per_layer()
    from run import WORKLOADS

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


def test_timed_loop_warns_when_inputs_run_out(tmp_path):
    """Inputs sized for fewer steps than ``--seconds`` needs end the loop
    with a warning instead of silently."""
    import harness
    from run import Run

    class Short(harness.Workload):
        def __init__(self, work):
            self.work = str(work)

        def setup(self, n_steps):
            self.n_steps = n_steps - 3  # fewer than 5 s needs

        def has_step(self, step):
            return step < self.n_steps

        def step(self, step):
            return 1, [0.0]

        def check(self, steps):
            return []

    jsc = SimpleNamespace(getPersistentRDDs=lambda: SimpleNamespace(size=lambda: 0))
    spark = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=jsc))
    args = SimpleNamespace(workload="short", seed=1, seconds=5.0, trace=0)
    run = Run(spark, Short(tmp_path), harness.Recorder(spark, trace=False), args, 0.0)
    run.execute()
    assert run.steps == 2
    assert run.warnings and "ran out" in run.warnings[0]


@pytest.mark.skipif(os.environ.get("PERFBENCH_E2E") != "1", reason="set PERFBENCH_E2E=1")
@pytest.mark.parametrize("workload", ["ingest_assets", "corpus_admission", "lakehouse_serve"])
def test_every_metric_is_printed(workload):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
             "--seconds", "1", "--trace", str(trace)],
            cwd=ROOT, capture_output=True, text=True, timeout=300,
        )
        assert p.returncode == 0, p.stdout[-2000:] + p.stderr[-2000:]
        result = json.loads(p.stdout.strip().splitlines()[-1])
        assert result["correct"] is True
        assert set(result) == {"correct", "attempted", "failed", "metrics"}
        names = [m["name"] for m in spec[key]]
        assert sorted(result["metrics"]) == sorted(names)
        for n in names:
            assert n in p.stdout.split("\n", 1)[1]  # printed by name too
