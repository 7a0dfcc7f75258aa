"""The one ranked-scoring core: block ids, tombstone masking on the
paths ``test_deletes.py`` leaves out, edge inputs on every ranked entry
point, and the plan shape of the unmasked fast path."""

import os
import re

import pytest
from pyspark.sql import functions as F

from search_engine_spark.engine import TranscriptSearchEngine, block_id_col
from search_engine_spark.fixtures import golden_transcripts, synthetic_transcripts

RANKED = "doc_id long, score double"


def _rows(df):
    return [(r["doc_id"], r["score"]) for r in df.collect()]


# ----------------------------------------------------------------- block id
def test_block_id_is_exact_integer_division(spark):
    """2^53 + 3 is not a double: dividing as doubles rounds it to
    2^53 + 4 first and lands in block 2^51 + 1."""
    df = spark.createDataFrame([(2**53 + 3,)], "doc_id long")
    assert df.select(block_id_col(4)).first()["block_id"] == 2**51
    double = (F.col("doc_id") / F.lit(4)).cast("long")
    assert df.select(double.alias("b")).first()["b"] == 2**51 + 1


# --------------------------------------------------- tombstone equivalence
TOMB_QUERY = "test here one"
BOOST = "CASE role WHEN 'assistant' THEN 2.0 WHEN 'tool' THEN 0.5 ELSE 1.0 END"


def _tomb_paths(eng, k):
    return {
        "phrase": lambda: _rows(eng.phrase_ranked_df("test here", k)),
        "synonym": lambda: _rows(
            eng.synonym_ranked_df([["test", "testing"], ["data"]], k)
        ),
        "fuzzy": lambda: _rows(eng.fuzzy_ranked_query_df("tset", k)),
        "bm25_boosted": lambda: _rows(
            eng.bm25_query_boosted_df(TOMB_QUERY, BOOST, k)
        ),
        "ranked_where": lambda: _rows(
            eng.ranked_query_df(TOMB_QUERY, k, where="role = 'assistant'")
        ),
    }


def test_masked_paths_equal_postfiltered_full_ranking(spark, tmp_path):
    """After delete(), each path's top-10 is its pre-delete full
    ranking with the deleted ids removed — scores bit-identical, since
    statistics stay pre-delete and masking never reorders a surviving
    doc's accumulation."""
    docs = synthetic_transcripts(spark, n_convs=40, turns_per_conv=10)
    eng = TranscriptSearchEngine.build(
        spark, docs, os.path.join(str(tmp_path), "idx"), block_span=16
    )
    full = {name: run() for name, run in _tomb_paths(eng, 1000).items()}
    for name, ranking in full.items():
        assert len(ranking) >= 12, name  # enough matches to backfill
    dele = sorted(
        {doc for ranking in full.values() for doc, _ in ranking[:3]} | {5, 17, 399}
    )
    eng.delete(dele)
    for name, run in _tomb_paths(eng, 10).items():
        expect = [(d, s) for d, s in full[name] if d not in set(dele)][:10]
        assert run() == expect, name


# -------------------------------------------------------------- edge inputs
def _df_entry_points(eng):
    """Every DataFrame-returning ranked entry point, as query -> df."""
    return {
        "ranked_query_df": lambda q, k: eng.ranked_query_df(q, k),
        "ranked_where": lambda q, k: eng.ranked_query_df(q, k, where="doc_id >= 0"),
        "bm25_query_df": lambda q, k: eng.bm25_query_df(q, k),
        "bm25_where": lambda q, k: eng.bm25_query_df(q, k, where="doc_id >= 0"),
        "ranked_boosted": lambda q, k: eng.ranked_query_boosted_df(
            q, BOOST, k
        ),
        "bm25_boosted": lambda q, k: eng.bm25_query_boosted_df(
            q, BOOST, k
        ),
        "diverse": lambda q, k: eng.ranked_query_diverse_df(q, k, per_group=k),
        "synonym": lambda q, k: eng.synonym_ranked_df([[w] for w in q.split()], k),
        "fuzzy": lambda q, k: eng.fuzzy_ranked_query_df(q, k, max_dist=0),
        "prf": lambda q, k: eng.prf_query_df(q, k),
    }


def _list_entry_points(eng):
    """Every list-returning ranked entry point, as query -> list."""
    return {
        "ranked_query": lambda q, k: eng.ranked_query(q, k),
        "ranked_pruned": lambda q, k: eng.ranked_query(q, k, pruned=True),
        "ranked_wand": lambda q, k: eng.ranked_query_wand(q, k),
        "bm25_query": lambda q, k: eng.bm25_query(q, k),
        "bm25_pruned": lambda q, k: eng.bm25_query(q, k, pruned=True),
        "bm25_wand": lambda q, k: eng.bm25_query_wand(q, k),
        "batch": lambda q, k: eng.ranked_query_batch([q], k)[0],
        "batch_pruned": lambda q, k: eng.ranked_query_batch([q], k, pruned=True)[0],
        "prf_query": lambda q, k: eng.prf_query(q, k),
    }


#: "!!!" normalizes to the empty term, which the golden corpus (no
#: symbol-only tokens) does not contain
EMPTY_QUERIES = ["", "!!!", "zzqxunknownterm"]


@pytest.mark.parametrize("query", EMPTY_QUERIES)
def test_empty_or_unknown_query_is_empty_with_schema(spark, golden_engine, query):
    eng = golden_engine

    def check(df, schema, name):
        assert df.schema.simpleString() == spark.createDataFrame(
            [], schema
        ).schema.simpleString(), name
        assert df.collect() == [], name

    for name, run in _df_entry_points(eng).items():
        diverse = "doc_id long, group_key string, score double"
        check(run(query, 10), diverse if name == "diverse" else RANKED, name)
    check(eng.phrase_ranked_df(query, 10), RANKED, "phrase")
    check(
        eng.ranked_conversations_df(query, 10),
        "conv_id string, score double, n_hits long, best_doc long",
        "conversations",
    )
    for name, run in _list_entry_points(eng).items():
        assert run(query, 10) == [], name
    assert eng.ranked_explain_df(query, 10).collect() == []
    assert eng.search(query, 10) == []
    assert eng.ranked_query_batch([query, "test"], 10)[0] == []


def test_empty_index_every_entry_point_is_empty(spark, tmp_path):
    """No docs: nothing to score, and no corpus statistic (N, avgdl) may
    be divided by zero on the way."""
    empty = synthetic_transcripts(spark, n_convs=1, turns_per_conv=1).where(
        "turn_idx < 0"
    )
    eng = TranscriptSearchEngine.build(
        spark, empty, os.path.join(str(tmp_path), "idx"), block_span=16
    )
    for name, run in _df_entry_points(eng).items():
        assert run("test here", 10).collect() == [], name
    for name, run in _list_entry_points(eng).items():
        assert run("test here", 10) == [], name
    assert eng.phrase_ranked_df("test here", 10).collect() == []
    assert eng.ranked_conversations("test here", 10, bm25=True) == []


def _assert_rank_order(rows, name):
    keys = [(-s, d) for d, s in rows]
    assert keys == sorted(keys), name
    assert len({d for d, _ in rows}) == len(rows), name


def test_k_larger_than_matches_returns_all_matches_in_order(golden_engine):
    eng = golden_engine
    query = "test here"
    matches = set(eng.boolean_query("test + here"))
    assert 0 < len(matches) < 1000
    for name, run in _df_entry_points(eng).items():
        rows = [(r["doc_id"], r["score"]) for r in run(query, 1000).collect()]
        _assert_rank_order(rows, name)
        got = {d for d, _ in rows}
        # PRF re-ranks with expansion terms, so it may match more docs
        assert got >= matches if name == "prf" else got == matches, name
        assert rows[:2] == [
            (r["doc_id"], r["score"]) for r in run(query, 2).collect()
        ], name
    for name, run in _list_entry_points(eng).items():
        rows = run(query, 1000)
        _assert_rank_order(rows, name)
        got = {d for d, _ in rows}
        assert got >= matches if name == "prf_query" else got == matches, name
    phrase = [(r["doc_id"], r["score"]) for r in eng.phrase_ranked_df(query, 1000).collect()]
    _assert_rank_order(phrase, "phrase")
    assert {d for d, _ in phrase} == set(eng.boolean_query('"test here"'))
    convs = eng.ranked_conversations(query, 1000)
    conv_of = {r["doc_id"]: r["conv_id"] for r in eng.docs.collect()}
    assert {c for c, *_ in convs} == {conv_of[d] for d in matches}
    assert sum(n for _c, _s, n, _b in convs) == len(matches)


# --------------------------------------------------------------- plan shape
def _count_nodes(df, node):
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(re.findall(rf"\b{node}\b", plan))


def test_unmasked_ranked_plan_has_no_cogroup(spark, tmp_path, cluster_placement):
    """On the cluster placement, with no tombstones and no ``where``:
    one block-sorted mapInPandas and no side union. After a delete: the
    same mapInPandas over exactly one union with the tombstone side.
    Never a grouped or cogrouped pandas node."""
    eng = TranscriptSearchEngine.build(
        spark, golden_transcripts(spark), os.path.join(str(tmp_path), "idx")
    )

    def shape(df):
        plan = df._jdf.queryExecution().executedPlan().toString()
        below = plan[plan.index("MapInPandas") :]
        flat = len(re.findall(r"\bFlatMap\w*InPandas\b", plan))
        sorted_blocks = re.search(r"\bSort \[block_id", below) is not None
        return _count_nodes(df, "MapInPandas"), _count_nodes(df, "Union"), flat, sorted_blocks

    assert shape(eng.ranked_query_df("test here", 10)) == (1, 0, 0, True)
    eng.delete([2])
    assert shape(eng.ranked_query_df("test here", 10)) == (1, 1, 0, True)
