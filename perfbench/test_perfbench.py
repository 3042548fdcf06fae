"""The benchmark's own tests: generators, metric parsing, and smoke runs
of both workloads through the command line with every check on.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.spans import parse_metric  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def test_parse_metric_forms():
    assert parse_metric("12,556") == 12556
    assert parse_metric("16.1 MiB") == pytest.approx(16.1 * 2**20)
    assert parse_metric("345 ms") == pytest.approx(0.345)
    per_task = "total (min, med, max (stageId: taskId))\n19 ms (1 ms, 5 ms, 10 ms (stage 19.0: task 36))"
    assert parse_metric(per_task) == pytest.approx(0.019)
    assert parse_metric(None) == 0.0


def test_generators_are_seeded(tmp_path):
    def corpus(seed, name):
        vocab = gen.Vocabulary(seed, 200, 8)
        props = gen.biarcs_corpus(str(tmp_path / name), seed, 500, vocab)
        return (tmp_path / name).read_bytes(), props

    a, props = corpus(7, "a.txt")
    b, _ = corpus(7, "b.txt")
    c, _ = corpus(8, "c.txt")
    assert a == b and a != c
    assert props["lines"] == 500 and sum(props["malformed"].values()) > 0
    docs = os.path.join(ROOT, "perfbench", "data", "sf0.01", "documents.parquet")

    def stream(seed, name):
        props = gen.stream_batches(str(tmp_path / name), docs, seed, 2, 20)
        return (tmp_path / name / "batch_001.parquet").read_bytes(), props

    (s, props), (t, _), (u, _) = stream(7, "s"), stream(7, "t"), stream(8, "u")
    assert s == t and s != u
    assert props["recrawl_share"] > 0 and props["near_copies_skipped"] > 0
    assert 0 < props["gated_share"] < 1


def _run(workload: str, trace: int, cwd: str = ROOT) -> tuple[int, list[str]]:
    p = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "5", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    return p.returncode, p.stdout.strip().splitlines()


@pytest.mark.parametrize("workload,trace", [("semsim", 0), ("semsim", 1), ("llm_session", 1)])
def test_smoke_run_prints_every_metric(workload, trace):
    rc, lines = _run(workload, trace)
    assert rc == 0
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in spec} == {
        k: v["unit"] for k, v in result["metrics"].items()
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    rc, lines = _run("semsim", 0, cwd=str(tmp_path))
    assert rc != 0 and not lines
