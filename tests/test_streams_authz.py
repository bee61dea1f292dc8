"""authz / inbox / unread surface (round 3 — closes SURVEY §1.1's deferral)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from miru_spark.filters import QuerySpec, parse_query
from miru_spark.operators import fulltext, streams
from miru_spark.operators.build import build_index


@pytest.fixture(scope="module")
def authz_docs(spark):
    rows = [
        (0, "spark join alpha", ["team_a"]),
        (1, "spark join beta", ["team_b"]),
        (2, "spark merge gamma", ["team_a", "team_b"]),
        (3, "spark join delta", []),
        (4, "other words here", ["team_a"]),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, authz array<string>")


@pytest.fixture(scope="module")
def authz_index(authz_docs):
    return build_index(
        authz_docs, text_col="text", dense_id_col="doc_id", capacity=16,
        aux_fields=["authz"],
    )


def test_authz_mask_is_or_composite(authz_docs):
    docs = authz_docs.withColumn("part", F.lit(0)).withColumn("doc_id2", F.col("doc_id"))
    got = {
        r["doc_id"]
        for r in streams.authz_mask(docs, "authz", ["team_a"], ["doc_id"]).collect()
    }
    assert got == {0, 2, 4}
    both = {
        r["doc_id"]
        for r in streams.authz_mask(docs, "authz", ["team_a", "team_b"], ["doc_id"]).collect()
    }
    assert both == {0, 1, 2, 4}
    assert streams.authz_mask(docs, "authz", [], ["doc_id"]).count() == 0


def test_query_with_authz_expression(authz_index):
    spec = parse_query("spark", k=10)
    spec.authz = ["team_a"]
    docs = {r["doc"] for r in fulltext.top_k(authz_index, spec).collect()}
    # doc 4 has team_a but doesn't match "spark"; docs 1/3 are masked out
    assert docs == {0, 2}
    spec.authz = ["team_b"]
    assert {r["doc"] for r in fulltext.top_k(authz_index, spec).collect()} == {1, 2}
    spec.authz = []
    assert fulltext.top_k(authz_index, spec).count() == 0  # NOT_PROVIDED
    spec.authz = None
    assert fulltext.top_k(authz_index, spec).count() == 4


def test_wand_engine_honors_authz(authz_index):
    """The kernel path must never skip spec.authz (the CLI's query engine):
    it delegates authz'd specs to the tree paths' mask chain, so results
    match fulltext.top_k exactly — and NOT_PROVIDED ([]) sees nothing."""
    from miru_spark.operators import wand as wand_ops

    spec = parse_query("spark", k=10)
    spec.authz = ["team_a"]
    got = {r["doc"] for r in wand_ops.wand_topk(authz_index, spec).collect()}
    assert got == {0, 2}
    spec.authz = []
    assert wand_ops.wand_topk(authz_index, spec).count() == 0
    spec.authz = None
    assert wand_ops.wand_topk(authz_index, spec).count() == 4


def test_inbox_and_unread(spark):
    rows = [(s, d) for s, d in [("u1", 1), ("u1", 2), ("u1", 3), ("u1", 4), ("u2", 9)]]
    ev = spark.createDataFrame(rows, "stream string, event long")
    assert {r["doc"] for r in streams.inbox(ev, "stream", "u1", "event").collect()} == {1, 2, 3, 4}
    # watermark form (setLastActivityIndex cursor)
    assert {
        r["doc"] for r in streams.unread(ev, "stream", "u1", "event", last_read=2).collect()
    } == {3, 4}
    # explicit read-mask form (applyRead)
    read = spark.createDataFrame([(1,), (3,)], "doc long")
    assert {
        r["doc"] for r in streams.unread(ev, "stream", "u1", "event", read_docs=read).collect()
    } == {2, 4}
    # combined
    assert {
        r["doc"]
        for r in streams.unread(
            ev, "stream", "u1", "event", read_docs=read, last_read=1
        ).collect()
    } == {2, 4}


def test_tree_query_with_authz(authz_index):
    # authz folds into the single-scan tree evaluator as OR'd label flags
    spec = parse_query("spark AND (join OR merge)", k=10)
    spec.authz = ["team_a"]
    got = {r["doc"] for r in fulltext.top_k(authz_index, spec).collect()}
    # docs 0 (join, team_a) and 2 (merge, team_a+b) qualify; 1 is team_b
    assert got == {0, 2}
    spec.authz = []
    assert fulltext.top_k(authz_index, spec).count() == 0
