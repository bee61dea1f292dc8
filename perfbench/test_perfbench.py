"""Self-test of the benchmark on tiny corpora.

Run from the repository root:  python3 -m pytest perfbench -q
(each Spark-backed case starts its own benchmark process, about a minute each)
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import run  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    BENCH = json.load(f)


def bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), "--seconds", "1",
         "--rows", "300", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_tiny_run_prints_every_end_to_end_metric_with_its_unit():
    proc = bench("--workload", "ingest", "--seed", "5", "--trace", "0")
    res = result(proc)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 13
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())
    table = proc.stdout.splitlines()[:-1]
    for name, unit in run.E2E_UNITS.items():  # the gated ones and the p95s
        assert any(line.split()[:1] == [name] and line.endswith(" " + unit) for line in table)
    assert any(line.startswith("# error_rate=0.000000 ratio") for line in table)


def test_one_corrupted_answer_drives_error_rate_above_zero():
    proc = bench("--workload", "ingest", "--seed", "5", "--trace", "0", "--corrupt", "1")
    res = result(proc)
    assert res["failed"] == 1 and not res["correct"]
    rate = next(line for line in proc.stdout.splitlines() if line.startswith("# error_rate="))
    assert float(rate.split("=")[1].split()[0]) > 0


def test_traced_run_reports_every_per_layer_metric():
    res = result(bench("--workload", "search", "--seed", "6", "--trace", "1"))
    assert res["correct"]
    m = {k: v["value"] for k, v in res["metrics"].items()}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == {
        p["name"]: p["unit"] for p in BENCH["per_layer"]
    }
    phases = [k for k in m if k.startswith("index_store.") and k.endswith("_s")
              and k not in ("index_store.build_s", "index_store.load_s")]
    assert sum(m[k] for k in phases) == pytest.approx(m["index_store.build_s"])
    assert m["index_store.unattributed_s"] < 0.5 * m["index_store.build_s"]
    assert m["spark.jobs"] > 0 and m["fulltext.exec_ms.prefix"] > 0
    assert os.path.exists(os.path.join(ROOT, ".perfbench_out", "search-seed6.spans.jsonl"))


def test_refuses_to_run_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = bench("--workload", "ingest", "--seed", "1", "--trace", "0", cwd=str(tmp_path))
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout
