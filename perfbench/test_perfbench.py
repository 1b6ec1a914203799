"""Self-tests of the benchmark: determinism, smoke runs, report shape.

    python3 -m pytest perfbench -q

The smoke tests start Spark (about half a minute per run).
"""

from __future__ import annotations

import hashlib
import itertools
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS  # noqa: E402

NAMES = sorted(WORKLOADS)


@pytest.fixture
def work_dir(request):
    """A scratch directory inside the checkout, like a benchmark run's."""
    d = os.path.join(ROOT, ".perfbench_runs", f"test-{request.node.name}-{os.getpid()}")
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _file_hashes(paths: dict) -> dict:
    out = {}
    for k, p in paths.items():
        with open(p, "rb") as f:
            out[k] = hashlib.sha256(f.read()).hexdigest()
    return out


@pytest.mark.parametrize("name", NAMES)
def test_inputs_are_a_function_of_the_seed(name, work_dir):
    w = WORKLOADS[name]().smoke()
    a = _file_hashes(w.inputs(7, os.path.join(work_dir, "a")))
    b = _file_hashes(w.inputs(7, os.path.join(work_dir, "b")))
    c = _file_hashes(w.inputs(8, os.path.join(work_dir, "c")))
    assert a == b
    assert all(a[k] != c[k] for k in a)


@pytest.mark.parametrize("name", NAMES)
def test_op_sequence_is_a_function_of_the_seed(name, work_dir):
    def seq(seed):
        w = WORKLOADS[name]().smoke()
        w.inputs(seed, os.path.join(work_dir, f"in{seed}"))
        w.rows = {k: 1 for k in ("points", "boxes", "lines", "near", "queries", "images")}
        return [(o.kind, o.spec) for o in itertools.islice(w.ops(seed), 40)]

    assert seq(3) == seq(3)
    if name != "join_batch":  # the join sequence is fixed; its inputs vary
        assert seq(3) != seq(4)


def _run(*args, cwd=ROOT):
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _digests(stdout: str) -> list:
    line = next(x for x in stdout.splitlines() if x.startswith("digests "))
    return json.loads(line[len("digests "):])


@pytest.mark.parametrize("name", NAMES)
def test_smoke_touches_every_op_kind_and_reports(name):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    runs = {}
    for seed, trace in ((1, "0"), (1, "1"), (2, "0")):
        p = _run("--workload", name, "--seed", str(seed), "--trace", trace, "--smoke")
        assert p.returncode == 0, p.stderr[-3000:]
        res = json.loads(p.stdout.strip().splitlines()[-1])
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1
        want = bench["per_layer" if trace == "1" else "end_to_end"]
        assert {m["name"]: m["unit"] for m in want} == {k: v["unit"] for k, v in res["metrics"].items()}
        runs[(seed, trace)] = _digests(p.stdout)
    kinds = {d[0] for d in runs[(1, "0")]}
    assert kinds == set(WORKLOADS[name].KINDS)
    # same seed, same outputs (the traced run repeats the sequence twice)
    assert runs[(1, "0")] == runs[(1, "1")][: len(runs[(1, "0")])]
    assert runs[(1, "0")] != runs[(2, "0")]


def test_refuses_to_run_without_the_engine(work_dir):
    shutil.copytree(HERE, os.path.join(work_dir, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), os.path.join(work_dir, "BENCHMARK.json"))
    p = _run("--workload", "scan_mix", "--seed", "1", "--seconds", "1", "--trace", "0", cwd=work_dir)
    assert p.returncode != 0
    assert not p.stdout.strip()
