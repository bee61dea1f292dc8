"""WAND / TAAT / AND kernels over packed postings must be rank- AND
score-identical to the brute-force DuckDB oracle on the same parquet.
``fulltext.top_k`` runs the same kernel for flat queries, so the oracle is
the only independent reference."""

from __future__ import annotations

import duckdb
import numpy as np
import pytest

from miru_spark.filters import parse_query
from miru_spark.operators import wand
from miru_spark.oracles import fulltext_topk_sql

CASES = [
    ("spark", "bm25", "auto"),
    ("dup", "bm25", "auto"),
    ("spark AND join", "bm25", "auto"),
    ("spark join merge", "bm25", "auto"),
    ("spark OR vector OR dup", "bm25", "wand"),
    ("spark OR vector OR dup", "bm25", "taat"),
    ("merge NOT window", "bm25", "auto"),
    ("s*", "bm25", "wand"),
    ("s*", "bm25", "taat"),
    ("dup AND s*", "bm25", "auto"),
    ("spark OR join", "miru_tfidf", "auto"),
    # a term shared by two clauses ('spark' is also a spa* expansion)
    # contributes once per clause, as the oracle's query-term join does
    ("spark AND spa*", "bm25", "auto"),
    ("spark OR spa*", "bm25", "auto"),
    ("spark OR spa*", "bm25", "wand"),
]


@pytest.mark.parametrize("q,scorer,kernel", CASES)
def test_wand_matches_dataframe_path(doc_index, duck, q, scorer, kernel):
    spec = parse_query(q, k=50, scorer=scorer)
    want = duck.execute(fulltext_topk_sql(spec)).fetchall()
    got = wand.wand_topk(doc_index, spec, kernel=kernel).collect()
    assert want, f"{q}: the oracle answer is empty"
    assert [r["doc"] for r in got] == [int(d) for d, _ in want], f"{q} ({kernel}) ids diverge"
    assert [r["score"] for r in got] == [float(s) for _, s in want], (
        f"{q} ({kernel}) scores diverge"
    )


def test_round6_matches_duckdb_round():
    # exact half-way products: numpy's round-half-to-even gives 0.123456
    # for 0.1234565, DuckDB (and Spark's HALF_UP) give 0.123457
    xs = np.array([0.1234565, 1.0000005, 2.5e-6, 0.0000015, 3.1415925, -0.1234565,
                   0.12345649999, 7.9999995, 0.0])
    want = [duckdb.execute("SELECT round(?::DOUBLE, 6)", [float(x)]).fetchone()[0] for x in xs]
    assert list(wand._round6(xs)) == want
    assert wand._round6(np.array([0.1234565]))[0] == 0.123457


def test_wand_unknown_term_empty(doc_index):
    assert wand.wand_topk(doc_index, "zzzznotaterm", k=10).count() == 0


def test_wand_prunes(doc_index):
    # sanity: the WAND kernel returns exactly k when more docs match
    spec = parse_query("spark OR merge", k=7)
    got = wand.wand_topk(doc_index, spec, kernel="wand").toPandas()
    assert len(got) == 7


def test_and_with_unmatchable_prefix_clause_is_empty(doc_index):
    # 'spark AND qqqzz*' where no term starts with qqqzz: the conjunction is
    # unsatisfiable. The kernel path must agree with the oracle's
    # matched == len(positive) semantics instead of silently dropping the
    # empty clause and returning all 'spark' docs.
    from miru_spark.operators import fulltext as ft
    from miru_spark.operators import wand as wand_ops

    assert wand_ops.wand_topk(doc_index, "spark AND qqqzz*", k=10).count() == 0
    assert ft.top_k(doc_index, "spark AND qqqzz*", k=10).count() == 0
