"""The non-ranked per-block workers on multi-block indexes.

Positional parity: NEAR and phrase matching on the block_span-16
analytics index (8 blocks, stem-invariant corpus) must equal their
relational twins, so the block-base offset of the occurrence keys is
exercised on every block, not only the one-block golden index.

Edge inputs: on a fresh block_span-16 index with every doc of one block
deleted, an unknown term gives an empty result with each method's
schema, and the all-deleted block contributes no rows and raises no
error.
"""

from __future__ import annotations

import datetime as dt
import random

import pytest
from pyspark.sql import functions as F

from search_engine_spark import simple
from search_engine_spark.engine import TranscriptSearchEngine
from tests.test_engine_analytics import VOCAB, analytics_engine  # noqa: F401

SPAN = 16
QUERY = ["hash", "join"]


def _ids(df) -> list[int]:
    return sorted(int(r[0]) for r in df.collect())


@pytest.mark.parametrize("k", [1, 2, 4])
@pytest.mark.parametrize("a,b", [("hash", "join"), ("join", "join"), ("join", "zzz")])
def test_near_matches_simple_across_blocks(analytics_engine, a, b, k):  # noqa: F811
    eng = analytics_engine
    got = _ids(eng.near_query_df(a, b, k))
    assert got == _ids(simple.near_match(eng.docs, a, b, k))
    if b != "zzz":
        assert len({d // SPAN for d in got}) > 1


@pytest.mark.parametrize("phrase", ["hash join", "spark hash join", "spark row spark"])
def test_phrase_matches_simple_across_blocks(analytics_engine, phrase):  # noqa: F811
    eng = analytics_engine
    got = eng.boolean_query(f'"{phrase}"')
    assert got == _ids(simple.phrase_match(eng.docs, phrase.split()))
    assert got


@pytest.fixture(scope="module")
def block_deleted(spark, tmp_path_factory):
    """(engine, deleted doc ids, the engine's results before the delete)
    over 64 turns in 4 blocks, with every doc of block 1 deleted."""
    from search_engine_spark.build import IndexBuilder
    from search_engine_spark.fixtures import TRANSCRIPT_SCHEMA

    rng = random.Random(11)
    epoch = dt.datetime(2026, 1, 1)
    rows = [
        (
            f"c{i // 4:02d}",
            i % 4,
            ["user", "assistant", "tool"][i % 3],
            " ".join([rng.choice(VOCAB) for _ in range(4 + i % 5)] + QUERY * (i % 5 == 0)),
            "",
            epoch + dt.timedelta(seconds=i),
        )
        for i in range(64)
    ]
    idx = str(tmp_path_factory.mktemp("block_deleted") / "idx")
    IndexBuilder(spark, idx, block_span=SPAN).build(
        spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    )
    eng = TranscriptSearchEngine(spark, idx)
    ids = _ids(eng.docs.select("doc_id"))
    dead = [d for d in ids if d // SPAN == 1]
    assert len(dead) == SPAN and len(ids) == 4 * SPAN
    before = {
        "keywords": eng.keywords_df(n=3).collect(),
        "trends": eng.term_trends_df(QUERY, bucket_seconds=1).collect(),
        "near": eng.near_query(*QUERY, max_dist=3),
        "and": eng.boolean_query(" ".join(QUERY)),
        "bm25f": eng.bm25f_conv_df(" ".join(QUERY), k=100).collect(),
    }
    assert set(before["near"]) & set(dead) and set(before["and"]) & set(dead)
    eng.delete(dead)
    return eng, set(dead), before


def test_unknown_term_gives_empty_with_schema(block_deleted):
    eng, _dead, _before = block_deleted
    pairs = [
        (eng.term_trends_df(["zzz"]), eng.term_trends_df(QUERY)),
        (eng.bm25f_conv_df("zzz"), eng.bm25f_conv_df(" ".join(QUERY))),
        (
            eng.significant_terms_df("zzz"),
            eng.significant_terms_df(" ".join(QUERY), min_fg_df=1),
        ),
        (eng.near_query_df("zzz", "join"), eng.near_query_df(*QUERY)),
        (eng.boolean_query_df("zzz join"), eng.boolean_query_df(" ".join(QUERY))),
    ]
    for unknown, known in pairs:
        assert unknown.collect() == []
        assert unknown.schema == known.schema
        assert known.count() > 0


def test_deleted_block_contributes_nothing(block_deleted):
    eng, dead, before = block_deleted
    docs = eng.docs.select(
        "doc_id",
        "conv_id",
        "text",
        F.expr("unix_micros(CAST(ts AS TIMESTAMP)) DIV 1000000").alias("s"),
    ).collect()
    dead_s = {r["s"] for r in docs if r["doc_id"] in dead}

    kw = eng.keywords_df(n=3).collect()
    assert sorted(kw) == sorted(r for r in before["keywords"] if r["doc_id"] not in dead)

    # one-second buckets hold one turn each
    trends = eng.term_trends_df(QUERY, bucket_seconds=1).collect()
    assert sorted(trends) == sorted(r for r in before["trends"] if r["bucket"] not in dead_s)

    assert eng.near_query(*QUERY, max_dist=3) == [
        d for d in before["near"] if d not in dead
    ]
    assert eng.boolean_query(" ".join(QUERY)) == [
        d for d in before["and"] if d not in dead
    ]

    live = [r for r in docs if r["doc_id"] not in dead]
    dead_convs = {r["conv_id"] for r in docs} - {r["conv_id"] for r in live}
    assert dead_convs & {r["conv_id"] for r in before["bm25f"]}
    convs = {r["conv_id"] for r in eng.bm25f_conv_df(" ".join(QUERY), k=100).collect()}
    assert convs == {r["conv_id"] for r in live if set(r["text"].split()) & set(QUERY)}

    # fg_df counts live foreground docs only: recount them from the text
    fg = [ws for ws in (set(r["text"].split()) for r in live) if ws & set(QUERY)]
    want = {t: sum(t in ws for ws in fg) for t in set(VOCAB) - set(QUERY)}
    got = eng.significant_terms_df(" ".join(QUERY), n=100, min_fg_df=1).collect()
    assert {r["term"]: r["fg_df"] for r in got} == {t: c for t, c in want.items() if c}
