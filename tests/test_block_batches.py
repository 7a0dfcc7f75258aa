"""Block-batch execution: every per-block worker runs in one block
runner whose calls hold whole blocks, so results must not depend on how
Spark cuts the rows into Arrow batches, nor on where the runner places
the worker — and every driver-built query dimension is a
``LocalRelation``, never a ``LogicalRDD``.

These small inputs fit the driver placement's budget, so by default the
worker runs in the driver process; the ``cluster_placement`` fixture
puts them on the cluster placement (one block-sorted ``mapInPandas``),
where Arrow batch sizes of 1 and 3 rows cut blocks across batches."""

import os
from math import log

import pandas as pd
import pytest

from search_engine_spark import engine
from search_engine_spark.engine import TranscriptSearchEngine, _block_batches
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


def test_results_do_not_depend_on_arrow_batch_size(spark, eng, request):
    """On the cluster placement, batches of 1 and 3 rows make blocks
    straddle batch boundaries (a block of a multi-term query has several
    cells): the carried block must reach its worker whole, so every
    entry point returns exactly what it returns on the driver
    placement."""
    calls = _calls(eng)
    expected = {name: fn() for name, fn in calls.items()}
    assert expected["ranked"] and expected["and"] and expected["collocations"]
    request.getfixturevalue("cluster_placement")
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


def test_driver_placement_keeps_rows_after_an_empty_call(spark):
    """Blocks 0 and 1 reach the worker in two calls on the driver
    placement (the last block is carried to the end) and only the
    second call returns rows: an empty call's output must not cut off
    the rows of the calls after it."""
    cells = spark.createDataFrame([(0, 10), (1, 20), (1, 21)], "block_id long, doc_id long")

    def make():
        return lambda pdf: pdf.loc[pdf["block_id"] == 1, ["doc_id"]]

    df = _block_batches(cells, make, "doc_id long")
    assert "MapInPandas" not in df._jdf.queryExecution().executedPlan().toString()
    assert sorted(r.doc_id for r in df.collect()) == [20, 21]


def test_budget_counts_rows_and_coded_bytes(spark, monkeypatch):
    """The driver budget bounds the rows and the bytes of the coded
    blobs a worker decodes; ``weights_bin`` (raw float64) is not coded
    work and does not count."""
    cells = spark.createDataFrame(
        [(0, b"\x01" * 8, b"\x00" * 64), (1, b"\x02" * 8, b"\x00" * 64)],
        "block_id long, postings_bin binary, weights_bin binary",
    )

    def on_driver():
        df = _block_batches(cells, lambda: lambda pdf: pdf[["block_id"]], "block_id long")
        assert sorted(r.block_id for r in df.collect()) == [0, 1]
        return "MapInPandas" not in df._jdf.queryExecution().executedPlan().toString()

    monkeypatch.setattr(engine, "_DRIVER_BYTES", 64)  # 16 data + 12 offset bytes coded
    assert on_driver()
    monkeypatch.setattr(engine, "_DRIVER_ROWS", 1)
    assert not on_driver()
    monkeypatch.setattr(engine, "_DRIVER_ROWS", 2)
    monkeypatch.setattr(engine, "_DRIVER_BYTES", 16)
    assert not on_driver()


def test_worker_gets_the_same_frames_on_both_placements(spark, request):
    """The driver placement hands the worker the frames ``mapInPandas``
    hands it: integer columns (the union's 0-padding included), a NULL
    and a NaN boost, the side rows' null ``postings_bin`` and timestamps
    in the session time zone, with the same dtypes."""
    def make():
        def worker(c, s):
            seen = [f"{f.dtypes.to_dict()} {f.to_dict('list')}" for f in (c, s)]
            return pd.DataFrame({"seen": [" | ".join(seen)]})

        return worker

    def seen():
        cells = spark.createDataFrame(
            [(0, 7, b"\x01"), (1, 8, b"\x02\x03")],
            "block_id long, qidx int, postings_bin binary",
        )
        side = spark.sql(
            "SELECT * FROM VALUES "
            "(0L, 5L, CAST(NULL AS DOUBLE), TIMESTAMP'2024-03-09 23:30:00'), "
            "(1L, 33L, double('NaN'), TIMESTAMP'2024-07-01 12:00:00') "
            "AS t(block_id, doc_id, boost, ts)"
        )
        df = _block_batches(cells, make, "seen string", side)
        return sorted(r.seen for r in df.collect())

    key = "spark.sql.session.timeZone"
    prev = spark.conf.get(key)
    spark.conf.set(key, "America/New_York")
    try:
        on_driver = seen()
        assert len(on_driver) == 2 and "Timestamp('2024-07-01 12:00:00')" in on_driver[1]
        request.getfixturevalue("cluster_placement")
        assert seen() == on_driver
    finally:
        spark.conf.set(key, prev)


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
