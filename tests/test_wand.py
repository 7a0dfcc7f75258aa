"""Block-max WAND pruning must be rank-identical to exhaustive scoring."""

import pytest

from search_engine_spark.engine import TranscriptSearchEngine
from search_engine_spark.fixtures import synthetic_transcripts

QUERIES = [
    "test",
    "spark index fast",
    "document data",
    "conspicuous",       # rare term
    "test nosuchterm",   # partial miss
    "nosuchterm",        # total miss
    "the test data spark index query",  # many terms incl. hot
]


@pytest.fixture(scope="module")
def wand_engine(spark, tmp_path_factory):
    """Index over 400 synthetic turns with block_span=16 -> ~25 blocks
    per hot term, so pruning actually has blocks to skip."""
    index_dir = str(tmp_path_factory.mktemp("wand") / "index")
    tr = synthetic_transcripts(spark, n_convs=40, turns_per_conv=10)
    return TranscriptSearchEngine.build(spark, tr, index_dir, block_span=16)


@pytest.mark.parametrize("query", QUERIES)
def test_wand_rank_identical(wand_engine, query):
    exhaustive = wand_engine.ranked_query(query, k=10)
    pruned = wand_engine.ranked_query(query, k=10, pruned=True)
    assert [d for d, _ in pruned] == [d for d, _ in exhaustive]
    for (_, a), (_, b) in zip(pruned, exhaustive):
        assert a == pytest.approx(b, abs=1e-12)


def test_wand_k_variants(wand_engine):
    for k in (1, 3, 25, 1000):
        exhaustive = wand_engine.ranked_query("test spark data", k=k)
        pruned = wand_engine.ranked_query("test spark data", k=k, pruned=True)
        assert [d for d, _ in pruned] == [d for d, _ in exhaustive]


def test_batch_wand_identical_to_per_query(wand_engine):
    """Batch WAND == per-query WAND == exhaustive batch, per result set."""
    batch_pruned = wand_engine.ranked_query_batch(QUERIES, k=10, pruned=True)
    batch_plain = wand_engine.ranked_query_batch(QUERIES, k=10)
    for q, got, plain in zip(QUERIES, batch_pruned, batch_plain):
        single = wand_engine.ranked_query(q, k=10, pruned=True)
        assert [d for d, _ in got] == [d for d, _ in single], q
        assert [d for d, _ in got] == [d for d, _ in plain], q
        for (_, a), (_, b) in zip(got, plain):
            assert a == pytest.approx(b, abs=1e-12)


@pytest.fixture(scope="module")
def fine_engine(spark, tmp_path_factory):
    """block_span=1 -> one block per doc (400 blocks): pruning must
    actually skip blocks, not just match ranks."""
    index_dir = str(tmp_path_factory.mktemp("wand_fine") / "index")
    tr = synthetic_transcripts(spark, n_convs=40, turns_per_conv=10)
    return TranscriptSearchEngine.build(spark, tr, index_dir, block_span=1)


def test_batch_wand_prunes_blocks(fine_engine):
    queries = ["test here data", "the test data spark index query"]
    pruned = fine_engine.ranked_query_batch(queries, k=10, pruned=True)
    plain = fine_engine.ranked_query_batch(queries, k=10)
    assert pruned == plain
    stats = fine_engine._last_wand_stats
    scored_pairs = stats["round1_blocks"]
    total_pairs = scored_pairs + stats["blocks_skipped"]
    # every query has ~400 candidate blocks (one per doc holding a query
    # term); pruning must decode strictly fewer than the exhaustive plan
    assert scored_pairs < total_pairs, stats
    totals = [
        fine_engine._doc_set_df(fine_engine._ranked_terms(q)).count() for q in queries
    ]
    assert total_pairs == sum(totals), (stats, totals)
    for total in totals:
        assert total > 32


def test_wand_driver_rows_bounded(fine_engine):
    """Scoring calls ship at most their TOP-K rows, not the decoded
    blocks' whole doc ranges: rows sent toward the driver <= decoded
    blocks * k."""
    k = 5
    for q in ["test here data", "the test data spark index query"]:
        pruned = fine_engine.ranked_query(q, k=k, pruned=True)
        exhaustive = fine_engine.ranked_query(q, k=k)
        assert [d for d, _ in pruned] == [d for d, _ in exhaustive], q
        stats = fine_engine._last_wand_stats
        selected = stats["round1_blocks"]
        assert selected > 0, stats
        assert stats["driver_rows"] <= selected * k, stats


def test_batch_wand_driver_rows_bounded(fine_engine):
    k = 5
    queries = ["test here data", "the test data spark index query"]
    pruned = fine_engine.ranked_query_batch(queries, k=k, pruned=True)
    plain = fine_engine.ranked_query_batch(queries, k=k)
    assert pruned == plain
    stats = fine_engine._last_wand_stats
    pairs = stats["round1_blocks"]
    assert pairs > 0, stats
    assert stats["driver_rows"] <= pairs * k, stats
