"""spark-submit entry point.

    spark-submit --py-files $(python -c 'from miru_spark.session import package_zip; print(package_zip())') \
        main.py build  --input <parquet/iceberg dir> --index <index_dir> [--text-col content]
    spark-submit ... main.py query  --index <index_dir> --q "spark AND join" [--k 100] [--scorer bm25]
    spark-submit ... main.py bench
    spark-submit ... main.py gen-corpus --rows 100000 --out <dir>

The HTTP plugin endpoint of the reference (FullTextEndpoints) maps to this
CLI: a query returns one JSON document on stdout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _spark(app: str):
    from miru_spark.session import get_spark

    return get_spark(app)


def cmd_build(args) -> None:
    from miru_spark.index_store import build_persistent
    from miru_spark.sources import read_source

    spark = _spark("miru_build")
    src = read_source(spark, args.input, args.format)
    natural_key = args.natural_key.split(",") if args.natural_key else None
    stopwords = None
    stemmer = None
    if getattr(args, "locale", None):
        if args.stopwords:
            raise SystemExit("--locale and --stopwords are mutually exclusive")
        from miru_spark.analyzers import find_analyzer

        spec = find_analyzer(args.locale, use_stop_words=not args.no_stop_words)
        stopwords, stemmer = spec.stopwords, spec.stemmer
    elif args.stopwords == "english":
        from miru_spark.tokenize import ENGLISH_STOPWORDS

        stopwords = ENGLISH_STOPWORDS
    rep = build_persistent(
        src,
        args.index,
        text_col=args.text_col,
        dense_id_col=args.dense_id_col,
        natural_key=natural_key or (None if args.dense_id_col else ["repo", "path", "commit"]),
        capacity=args.capacity,
        wave_size=args.wave_size,
        aux_fields=args.aux_fields.split(",") if args.aux_fields else None,
        numeric_aux_fields=(
            args.numeric_aux_fields.split(",") if args.numeric_aux_fields else None
        ),
        stopwords=stopwords,
        stemmer=stemmer,
    )
    print(json.dumps(rep.__dict__))


def cmd_remove(args) -> None:
    from miru_spark.index_store import remove_docs

    spark = _spark("miru_remove")
    n = remove_docs(spark, args.index, [int(k) for k in args.doc_keys.split(",")])
    print(json.dumps({"removed": n}))


def cmd_upsert(args) -> None:
    """Version repair (MiruIndexer.set): docs in --input replace the index's
    content for their doc_keys; unknown keys are pure inserts."""
    from miru_spark.index_store import upsert_docs
    from miru_spark.sources import read_source

    spark = _spark("miru_upsert")
    src = read_source(spark, args.input, args.format)
    rep = upsert_docs(spark, args.index, src, doc_key_col=args.doc_key_col)
    print(json.dumps(rep))


def cmd_query(args) -> None:
    from miru_spark.filters import Leaf, parse_query
    from miru_spark.index_store import load_index
    from miru_spark.operators import fulltext

    spark = _spark("miru_query")
    idx = load_index(spark, args.index)
    time_range = None
    if args.time_range:
        lo, hi = args.time_range.split(",")
        time_range = (int(lo), int(hi))
    constraints = []
    for c in args.constraint or []:
        fld, val = c.split(":", 1)
        constraints.append(Leaf(val.lower(), fld.lower()))
    spec = parse_query(
        args.q, k=args.k, scorer=args.scorer, time_range=time_range, constraints=constraints
    )
    if args.authz is not None:
        # MiruRequest carries the caller's authz expression; empty = sees
        # nothing (NOT_PROVIDED). Labels resolve against the 'authz' aux field.
        spec.authz = [v for v in args.authz.split(",") if v != ""]
    res = fulltext.top_k(idx, spec)
    rows = [{"doc": r["doc"], "score": r["score"]} for r in res.collect()]
    print(json.dumps({"query": args.q, "scorer": args.scorer, "k": args.k, "results": rows}))


def cmd_gen_queries(args) -> None:
    """Materialize the FIXTURES.md reference query set from a source table's
    vocabulary (seeded, deterministic)."""
    from pyspark.sql import functions as F

    from miru_spark.queryset import generate_queries
    from miru_spark.sources import read_source
    from miru_spark.tokenize import tokens_col

    spark = _spark("miru_gen_queries")
    src = read_source(spark, args.input, "auto")
    stats = (
        src.select(F.explode(F.array_distinct(tokens_col(args.text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"))
        .collect()
    )
    qset = generate_queries([(r["term"], int(r["df"])) for r in stats], seed=args.seed)
    with open(args.out, "w") as f:
        for rec in qset:
            f.write(json.dumps(rec) + "\n")
    print(json.dumps({"queries": len(qset), "out": args.out}))


def cmd_gen_corpus(args) -> None:
    from miru_spark.corpus import materialize_corpus

    spark = _spark("miru_gen_corpus")
    materialize_corpus(spark, args.rows, args.out)
    print(json.dumps({"rows": args.rows, "out": args.out}))


def cmd_bench(_args) -> None:
    import bench

    print(json.dumps(bench.run_suite()))


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="miru_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    b = sub.add_parser("build")
    b.add_argument("--input", required=True)
    b.add_argument("--index", required=True)
    b.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg"])
    b.add_argument("--aux-fields", default=None, help="comma-separated single-term fields")
    b.add_argument("--text-col", default="content")
    b.add_argument("--dense-id-col", default=None)
    b.add_argument("--natural-key", default=None, help="comma-separated columns")
    b.add_argument("--capacity", type=int, default=1 << 20)
    b.add_argument("--wave-size", type=int, default=8)
    b.add_argument(
        "--numeric-aux-fields",
        default=None,
        help="comma-separated numeric fields (range-scannable via field:[lo TO hi])",
    )
    b.add_argument(
        "--stopwords",
        default=None,
        choices=["english"],
        help="analyzer stop set applied at ingest AND query (TermAnalyzers.useStopWords)",
    )
    b.add_argument(
        "--locale",
        default=None,
        help="select the analyzer by locale (TermAnalyzers.findAnalyzer: "
        "'en'/'en_*' -> stopwords+Porter; unknown -> standard). Mutually "
        "exclusive with --stopwords; combine with --no-stop-words for the "
        "non-stopword analyzer variant",
    )
    b.add_argument(
        "--no-stop-words",
        action="store_true",
        help="with --locale: pick the analyzer's empty-stop-set variant "
        "(still stems), the reference's useStopWords=false map",
    )
    b.set_defaults(fn=cmd_build)

    up = sub.add_parser("upsert")
    up.add_argument("--input", required=True, help="repair docs (same shape as build input)")
    up.add_argument("--index", required=True)
    up.add_argument("--format", default="auto", choices=["auto", "parquet", "iceberg"])
    up.add_argument(
        "--doc-key-col", default=None,
        help="column holding the doc_keys to repair (defaults to the build's dense id col)",
    )
    up.set_defaults(fn=cmd_upsert)

    rm = sub.add_parser("remove")
    rm.add_argument("--index", required=True)
    rm.add_argument("--doc-keys", required=True, help="comma-separated doc keys to tombstone")
    rm.set_defaults(fn=cmd_remove)

    q = sub.add_parser("query")
    q.add_argument("--index", required=True)
    q.add_argument("--q", required=True)
    q.add_argument("--k", type=int, default=100)
    q.add_argument("--scorer", default="bm25", choices=["bm25", "miru_tfidf", "time"])
    q.add_argument("--time-range", default=None, help="lo,hi inclusive doc_key range")
    q.add_argument(
        "--constraint", action="append", default=None, help="field:value mask (repeatable)"
    )
    q.add_argument(
        "--authz",
        default=None,
        help="comma-separated authz labels (the caller's MiruAuthzExpression); "
        "requires the index to have been built with an 'authz' aux field",
    )
    q.set_defaults(fn=cmd_query)

    g = sub.add_parser("gen-corpus")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_gen_corpus)

    gq = sub.add_parser("gen-queries")
    gq.add_argument("--input", required=True, help="source table (vocabulary donor)")
    gq.add_argument("--text-col", default="content")
    gq.add_argument("--out", required=True, help="queries.jsonl path")
    gq.add_argument("--seed", type=int, default=42)
    gq.set_defaults(fn=cmd_gen_queries)

    be = sub.add_parser("bench")
    be.set_defaults(fn=cmd_bench)
    return p


def main() -> None:
    args = build_parser().parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
