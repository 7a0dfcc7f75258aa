"""Block-batch execution: every per-block worker runs in one
block-sorted ``mapInPandas`` whose calls hold whole blocks, so results
must not depend on how Spark cuts the rows into Arrow batches — and
every driver-built query dimension is a ``LocalRelation``, never a
``LogicalRDD``."""

import os
from math import log

import pytest

from search_engine_spark.engine import TranscriptSearchEngine
from search_engine_spark.fixtures import synthetic_transcripts

BATCH_KEY = "spark.sql.execution.arrow.maxRecordsPerBatch"
BOOST = "CASE role WHEN 'assistant' THEN 2.0 WHEN 'tool' THEN 0.5 ELSE 1.0 END"


@pytest.fixture(scope="module")
def eng(spark, tmp_path_factory):
    """block_span 16 over 600 turns (38 blocks, so the pruned paths have
    blocks to skip), with every 9th doc and all of block 2 deleted."""
    docs = synthetic_transcripts(spark, n_convs=60, turns_per_conv=10)
    index_dir = os.path.join(str(tmp_path_factory.mktemp("bb")), "idx")
    e = TranscriptSearchEngine.build(spark, docs, index_dir, block_span=16)
    e.delete(sorted(set(range(32, 48)) | set(range(0, 600, 9))))
    return e


def _canon(x):
    if isinstance(x, float):
        return x.hex()
    if isinstance(x, (list, tuple)):
        return [_canon(v) for v in x]
    return x


def _rows(df):
    return [_canon(list(r)) for r in df.collect()]


def _sorted_rows(df):
    return sorted(_rows(df))


def _calls(e):
    q = "test here data"
    return {
        "ranked": lambda: _rows(e.ranked_query_df(q, 10)),
        "bm25": lambda: _rows(e.bm25_query_df(q, 10)),
        "wand": lambda: _canon(e.ranked_query(q, 3, pruned=True)),
        "bm25_wand": lambda: _canon(e.bm25_query(q, 3, pruned=True)),
        "where": lambda: _rows(e.ranked_query_df(q, 10, where="role = 'assistant'")),
        "boosted": lambda: _rows(e.ranked_query_boosted_df(q, BOOST, 10)),
        "diverse": lambda: _rows(e.ranked_query_diverse_df(q, 10, 1)),
        "batch": lambda: _canon(e.ranked_query_batch([q, "spark", "test test"], 5)),
        "batch_wand": lambda: _canon(
            e.ranked_query_batch([q, "spark", "test test"], 3, pruned=True)
        ),
        "and": lambda: e.boolean_query("test here"),
        "or": lambda: e.boolean_query("spark + index"),
        "wildcard": lambda: e.boolean_query("run*"),
        "phrase": lambda: e.boolean_query('"test test"'),
        "near": lambda: e.near_query("test", "data", 2),
        "significant": lambda: _rows(e.significant_terms_df("spark", 10, 1)),
        "keywords": lambda: _sorted_rows(e.keywords_df(3)),
        "bm25f": lambda: _rows(e.bm25f_conv_df(q, k=10)),
        "trends": lambda: _sorted_rows(e.term_trends_df("test data", 60)),
        "synonym": lambda: _rows(e.synonym_ranked_df([["test", "testing"], ["data"]], 10)),
        "collocations": lambda: _rows(e.collocations_df(1, 30)),
    }


def test_results_do_not_depend_on_arrow_batch_size(spark, eng):
    """Batches of 1 and 3 rows make blocks straddle batch boundaries
    (a block of a multi-term query has several cells): the carried
    block must reach its worker whole, so every entry point returns
    exactly what it returns at Spark's default batch size."""
    calls = _calls(eng)
    expected = {name: fn() for name, fn in calls.items()}
    assert expected["ranked"] and expected["and"] and expected["collocations"]
    prev = spark.conf.get(BATCH_KEY, None)
    try:
        for size in ("1", "3"):
            spark.conf.set(BATCH_KEY, size)
            got = {name: fn() for name, fn in calls.items()}
            assert got == expected, [n for n in calls if got[n] != expected[n]]
    finally:
        if prev is None:
            spark.conf.unset(BATCH_KEY)
        else:
            spark.conf.set(BATCH_KEY, prev)


def _optimized(df):
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_no_query_plan_contains_a_logical_rdd(eng):
    """Query dimensions and empty results are Arrow-built LocalRelations:
    a list-built LogicalRDD would cost a broadcast job per query."""
    terms = eng._ranked_terms("test here data")
    queries = [terms, ["spark"]]
    dfs = eng._term_dfs({t for ts in queries for t in ts})
    batch_rows = [
        (t, qid, i, float(log(1 + eng.num_docs / dfs[t])))
        for qid, ts in enumerate(queries)
        for i, t in enumerate(ts)
    ]
    with eng._pruning(True) as counts:
        plans = {
            "ranked": eng.ranked_query_df("test here", 10),
            "bm25": eng.bm25_query_df("test here", 10),
            "pruned": eng._scores(eng._model(terms), 10, counts=counts),
            "phrase": eng.phrase_ranked_df("test here", 10),
            "batch": eng._batch_scores(batch_rows, 10),
            "batch_pruned": eng._batch_scores(batch_rows, 10, counts),
            "explain": eng.ranked_explain_df("test here", 5),
            "synonym": eng.synonym_ranked_df([["test", "testing"], ["data"]], 10),
            "bm25f": eng.bm25f_conv_df("test here", k=10),
            "empty_ranked": eng.ranked_query_df("", 10),
            "unknown_boolean": eng.boolean_query_df("zzzunknown"),
        }
    assert {n: "LogicalRDD" in _optimized(df) for n, df in plans.items()} == {
        n: False for n in plans
    }
    assert "LocalRelation" in _optimized(plans["ranked"])
