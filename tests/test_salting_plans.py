"""Skew-salting correctness (FIXTURES.md §5) + physical-plan quality gates:
filters must reach the parquet scan, small sides must broadcast."""

from __future__ import annotations

from pyspark.sql import functions as F

from miru_spark.operators import build as B


def _packed_bytes(packed_df):
    rows = packed_df.select("part", "term", "ids", "tfs").collect()
    return sorted((r["part"], r["term"], bytes(r["ids"]), bytes(r["tfs"])) for r in rows)


def test_salted_segments_byte_identical(spark, documents):
    docs = B.prepare_docs(documents, "text", dense_id_col="doc_id", capacity=128)
    flat = B.flat_postings(docs, "text").cache()
    hot = B.detect_hot_terms(flat, hot_df_threshold=64)
    assert len(hot) >= 4  # fixture's common terms exceed the threshold
    unsalted = B.pack_segments(B.build_segments(flat, hot_terms=None))
    salted = B.pack_segments(B.build_segments(flat, hot_terms=hot, salt_buckets=4))
    assert _packed_bytes(salted) == _packed_bytes(unsalted)


def test_salting_changes_plan(spark, documents):
    docs = B.prepare_docs(documents, "text", dense_id_col="doc_id", capacity=128)
    flat = B.flat_postings(docs, "text")
    plain = B.build_segments(flat, hot_terms=None)
    salted = B.build_segments(flat, hot_terms=["the", "a"], salt_buckets=4)
    plan_plain = plain._jdf.queryExecution().executedPlan().toString()
    plan_salted = salted._jdf.queryExecution().executedPlan().toString()
    # the salted plan has the two-stage aggregate on (part, term, salt)
    assert "salt" in plan_salted and "salt" not in plan_plain


def test_hot_term_spreads_across_salt_buckets(spark, documents):
    docs = B.prepare_docs(documents, "text", dense_id_col="doc_id", capacity=128)
    flat = B.flat_postings(docs, "text")
    salted = flat.withColumn(
        "salt",
        F.when(F.col("term") == "the", F.pmod(F.col("doc_id"), F.lit(4))).otherwise(F.lit(0)),
    )
    n_buckets = (
        salted.filter(F.col("term") == "the")
        .select("salt").distinct().count()
    )
    assert n_buckets >= 4  # FIXTURES.md §5: hot terms split across ≥4 buckets


def test_term_filter_pushed_to_parquet_scan(spark, documents, tmp_path):
    """The query path's `term IN (...)` must reach the postings parquet scan
    (PushedFilters) — at 100 TB this is the difference between reading a few
    row groups and reading the index."""
    from miru_spark.index_store import build_persistent, load_index

    index_dir = str(tmp_path / "idx")
    build_persistent(
        documents, index_dir, text_col="text", dense_id_col="doc_id",
        capacity=128, hot_df_threshold=64, wave_size=8, merge_partitions=4,
    )
    idx = load_index(spark, index_dir, documents)
    plan = (
        idx.packed.filter(F.col("term").isin(["spark", "join"]))
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "PushedFilters" in plan and "In(term" in plan, plan


def test_scorer_broadcasts_small_sides(doc_index):
    # the tree path's scoring join: the query-term relation broadcasts
    from miru_spark.operators import fulltext

    scored = fulltext.top_k(doc_index, "spark AND (join OR merge)", k=10)
    plan = scored._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan


def test_gather_broadcasts_winners_side(doc_index):
    """The post-LIMIT winners→docs gather must broadcast the ≤k winners as
    the BUILD side of every join — on a 100 TB docs table a shuffle join
    here would move the whole table to fetch k rows. Auto-broadcast is
    disabled for the assertion so a tiny fixture docs side can't mask a
    SortMergeJoin (the old right-outer hint was silently ignored: Spark
    cannot broadcast the preserved side of an outer join)."""
    from miru_spark.operators import fulltext

    spark = doc_index.docs.sparkSession
    winners = fulltext.top_k(doc_index, "spark AND join", k=20)
    gathered = fulltext.gather(doc_index, winners, ["lang", "source"])
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = gathered._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" not in plan, plan
        assert "ShuffledHashJoin" not in plan, plan
        assert "BroadcastHashJoin" in plan, plan
        # every winner survives even without a matching doc row
        assert gathered.count() == winners.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_gather_preserves_winner_whose_doc_row_vanished(doc_index):
    # simulate a source row lost after indexing: a winner doc_key absent
    # from docs must still come back, with null gather fields
    from pyspark.sql import functions as F

    from miru_spark.operators import fulltext

    winners = fulltext.top_k(doc_index, "spark AND join", k=5)
    top = winners.collect()
    lost_key = top[0]["doc"]
    pruned = doc_index.docs.filter(F.col("doc_key") != int(lost_key))
    import copy

    idx2 = copy.copy(doc_index)
    idx2.docs = pruned
    gathered = fulltext.gather(idx2, winners, ["lang", "source"]).collect()
    assert len(gathered) == len(top)
    by_doc = {r["doc"]: r for r in gathered}
    assert by_doc[lost_key]["lang"] is None and by_doc[lost_key]["source"] is None
    others = [r for r in gathered if r["doc"] != lost_key]
    assert all(r["lang"] is not None for r in others)


def test_sort_strategy_byte_identical_to_hash_agg(spark, documents):
    """The streaming sort-based pack (default) must produce byte-identical
    posting lists to the hash-agg + salting path."""
    docs = B.prepare_docs(documents, "text", dense_id_col="doc_id", capacity=128)
    flat = B.flat_postings(docs, "text").cache()
    via_sort = B.packed_from_flat(flat, num_partitions=5)
    hot = B.detect_hot_terms(flat, hot_df_threshold=64)
    via_agg = B.pack_segments(B.build_segments(flat, hot, salt_buckets=4))
    a = _packed_bytes(via_sort)
    b = _packed_bytes(via_agg)
    assert a == b
    # block metadata identical too
    sa = sorted(tuple(r) for r in via_sort.select("part", "term", "df_part", "cum_tf_part", "block_last", "block_max_tf").collect())
    sb = sorted(tuple(r) for r in via_agg.select("part", "term", "df_part", "cum_tf_part", "block_last", "block_max_tf").collect())
    assert sa == sb


def test_score_path_is_self_contained(doc_index):
    """Postings carry tf+dl+doc_key per row (FORMAT_VERSION 4): a flat
    top-k scores them in the per-partition kernel with no shuffle join, and
    the tree path's ONLY join is the broadcast query-term relation — any
    shuffle join here would be the O(corpus) doclens relation creeping back
    in."""
    from miru_spark.operators import fulltext

    flat = fulltext.top_k(doc_index, "spark AND join", k=10)
    plan = flat._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    tree = fulltext.top_k(doc_index, "spark AND (join OR merge)", k=10)
    plan = tree._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 1, plan


def test_wand_without_removal_skips_cogroup(doc_index):
    """No removal index -> the kernel plan is ONE grouped map over the
    term-pruned postings (no cogroup, no second grouped relation)."""
    from miru_spark.operators import wand as wand_ops

    assert doc_index.removed is None
    out = wand_ops.wand_topk(doc_index, "spark OR join", k=10, kernel="taat")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "FlatMapCoGroupsInPandas" not in plan, plan
