"""End-to-end `spark-submit --py-files` flow (the north rule's run mode):
build a persistent index, query it, tombstone a winner, re-query — all
through the CLI in separate spark-submit processes, checked against the
in-process engine."""

from __future__ import annotations

import json
import os
import subprocess

import pytest

SUBMIT = "/opt/spark/bin/spark-submit"
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _submit(args: list[str], timeout: int = 300) -> dict:
    from miru_spark.session import package_zip

    cmd = [SUBMIT, "--master", "local[4]", "--py-files", package_zip(), "main.py", *args]
    env = dict(os.environ, SPARK_GRAFT_CPUS="4", SPARK_GRAFT_MASTER="local[4]")
    out = subprocess.run(
        cmd, capture_output=True, text=True, cwd=REPO, timeout=timeout, env=env
    )
    assert out.returncode == 0, (out.stderr or out.stdout)[-3000:]
    lines = [l for l in out.stdout.splitlines() if l.startswith("{")]
    assert lines, out.stdout[-1000:]
    return json.loads(lines[-1])


@pytest.mark.skipif(not os.path.exists(SUBMIT), reason="no spark-submit")
def test_spark_submit_build_query_remove(tmp_path, spark, documents):
    from miru_spark.index_store import load_index
    from miru_spark.operators import fulltext

    idx_dir = str(tmp_path / "cli_idx")
    rep = _submit(
        [
            "build",
            "--input", "/root/testdata/sf0.001/documents.parquet",
            "--index", idx_dir,
            "--text-col", "text",
            "--dense-id-col", "doc_id",
            "--capacity", "128",
            "--aux-fields", "lang,source",
            "--numeric-aux-fields", "n_chars",
        ]
    )
    assert rep["n_docs"] == documents.count()

    res = _submit(
        ["query", "--index", idx_dir, "--q", "spark AND join", "--k", "5"]
    )
    assert len(res["results"]) == 5
    # the CLI must match the in-process top_k
    want = fulltext.top_k(load_index(spark, idx_dir), "spark AND join", k=5).collect()
    assert [(r["doc"], r["score"]) for r in want] == [
        (r["doc"], r["score"]) for r in res["results"]
    ]
    # numeric range through the CLI
    rng = _submit(
        ["query", "--index", idx_dir, "--q", "spark AND n_chars:[200 TO 400]",
         "--k", "5"]
    )
    assert len(rng["results"]) > 0

    # tombstone the top doc, re-query: it must disappear
    top_doc = res["results"][0]["doc"]
    rm = _submit(["remove", "--index", idx_dir, "--doc-keys", str(top_doc)])
    assert rm["removed"] == 1
    res2 = _submit(
        ["query", "--index", idx_dir, "--q", "spark AND join", "--k", "5"]
    )
    assert top_doc not in {r["doc"] for r in res2["results"]}
    assert [r["doc"] for r in res2["results"]][:4] == [
        r["doc"] for r in res["results"]
    ][1:5]
