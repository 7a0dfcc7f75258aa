"""Checkpointed build: chunked commits, idempotent resume, metrics."""

import json
import os
import shutil

import pytest

from search_engine_spark.build import IndexBuilder
from search_engine_spark.engine import TranscriptSearchEngine
from search_engine_spark.fixtures import synthetic_transcripts
from search_engine_spark.functions import codec


def _index_content(spark, index_dir):
    rows = spark.read.parquet(os.path.join(index_dir, "postings")).collect()
    out = {}
    for r in rows:
        d, t = codec.decode_postings(bytes(r["postings_bin"]))
        out.setdefault(r["term"], []).extend(zip(map(int, d), map(int, t)))
    return {k: sorted(v) for k, v in out.items()}


def test_chunked_build_equals_single_chunk(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=12, turns_per_conv=5)
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    IndexBuilder(spark, one, block_span=16).build(df)
    # chunk_docs=17 is rounded UP to a whole number of 16-doc blocks
    # (32): a boundary inside a block would split (term, block_id) rows
    # across chunks
    metrics = IndexBuilder(spark, many, block_span=16).build(df, chunk_docs=17)
    assert metrics["n_chunks"] == 2
    assert _index_content(spark, one) == _index_content(spark, many)


def test_chunked_build_unique_block_keys_and_query_parity(spark, tmp_path):
    """Regression: misaligned chunk boundaries used to emit the same
    (term, block_id) from two chunks, silently corrupting boolean AND
    and WAND results (set ops assumed the key unique)."""
    df = synthetic_transcripts(spark, n_convs=12, turns_per_conv=5)  # 60 docs
    one = str(tmp_path / "one")
    many = str(tmp_path / "many")
    IndexBuilder(spark, one, block_span=16).build(df)
    IndexBuilder(spark, many, block_span=16).build(df, chunk_docs=17)

    from pyspark.sql import functions as F

    posts = spark.read.parquet(os.path.join(many, "postings"))
    dup = (
        posts.groupBy("term", "block_id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0

    from search_engine_spark.engine import TranscriptSearchEngine

    e1 = TranscriptSearchEngine(spark, one, cache=False)
    e2 = TranscriptSearchEngine(spark, many, cache=False)
    q_and = "test document"
    assert e1.boolean_query(q_and) == e2.boolean_query(q_and)
    q_ranked = "test here one"
    assert e1.ranked_query(q_ranked, k=10) == e2.ranked_query(q_ranked, k=10)
    assert (
        e2.ranked_query(q_ranked, k=10, pruned=True)
        == e2.ranked_query(q_ranked, k=10)
    )


def test_resume_skips_committed_chunks_and_rebuilds_missing(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=10, turns_per_conv=4)
    idx = str(tmp_path / "idx")
    first = IndexBuilder(spark, idx, block_span=8).build(df, chunk_docs=15)
    baseline = _index_content(spark, idx)
    assert first["n_chunks"] == 3

    # simulate a mid-build failure: chunk 1 never committed
    os.remove(os.path.join(idx, "manifest", "chunk_1.json"))
    shutil.rmtree(os.path.join(idx, "postings", "chunk=1"))

    resumed = IndexBuilder(spark, idx, block_span=8).build(
        df, chunk_docs=15, resume=True
    )
    assert resumed["n_chunks"] == 3
    assert _index_content(spark, idx) == baseline
    # committed chunks were not rebuilt: their manifest entries are reused
    assert resumed["chunks"][0]["secs"] == first["chunks"][0]["secs"]
    # engine over resumed index answers queries
    eng = TranscriptSearchEngine(spark, idx, cache=False)
    assert eng.num_docs == 40
    assert len(eng.ranked_query("test", k=5)) > 0


def test_manifest_metrics_recorded(spark, tmp_path):
    df = synthetic_transcripts(spark, n_convs=6, turns_per_conv=3)
    idx = str(tmp_path / "idx")
    metrics = IndexBuilder(spark, idx, block_span=8).build(df, chunk_docs=9)
    for chunk_file in os.listdir(os.path.join(idx, "manifest")):
        with open(os.path.join(idx, "manifest", chunk_file)) as f:
            m = json.load(f)
        assert m["posting_rows"] > 0
        assert m["posting_bytes"] > 0
        assert m["secs"] > 0
    assert metrics["num_docs"] == 18
    assert metrics["docs_per_sec"] > 0


def test_incremental_append(spark, tmp_path):
    """Append = one new block-aligned chunk: old postings untouched,
    (term, block_id) still unique, stats refreshed, results identical
    to what the combined corpus implies."""
    from pyspark.sql import functions as F

    from search_engine_spark.engine import TranscriptSearchEngine

    idx = str(tmp_path / "idx")
    base_df = synthetic_transcripts(spark, n_convs=10, turns_per_conv=4)  # 40
    eng = TranscriptSearchEngine.build(spark, base_df, idx, block_span=16)
    assert eng.num_docs == 40
    old_posting_files = set(
        spark.read.parquet(os.path.join(idx, "postings")).inputFiles()
    )
    hits_before = set(eng.boolean_query("test"))

    new_df = synthetic_transcripts(spark, n_convs=6, turns_per_conv=5)  # 30
    info = eng.append(new_df)
    assert info["appended_docs"] == 30
    assert info["first_doc_id"] == 48  # ceil(40/16)*16 — block-aligned gap
    assert eng.num_docs == 70
    assert eng.total_tokens == sum(
        int(r["doc_len"]) for r in eng.doc_stats.select("doc_len").collect()
    )

    posts = spark.read.parquet(os.path.join(idx, "postings"))
    assert (
        posts.groupBy("term", "block_id").count().where(F.col("count") > 1).count()
        == 0
    )
    # old chunk's files were not rewritten
    assert old_posting_files <= set(posts.inputFiles())

    hits_after = set(eng.boolean_query("test"))
    assert hits_before <= hits_after
    assert any(d >= 48 for d in hits_after)  # new docs are searchable
    # ranked scoring reflects the new corpus stats and WAND stays
    # rank-identical over the appended index
    exhaustive = eng.ranked_query("test here one", k=10)
    assert eng.ranked_query("test here one", k=10, pruned=True) == exhaustive

    # a second append stacks another chunk cleanly
    info2 = eng.append(synthetic_transcripts(spark, n_convs=2, turns_per_conv=3))
    assert info2["first_doc_id"] == 80  # ceil(78/16)*16
    assert eng.num_docs == 76


def test_failed_append_releases_caches(spark, tmp_path, monkeypatch):
    """An append whose postings merge raises still unpersists the
    chunk's analyzed cache: Spark's cache manager is left as found."""
    from search_engine_spark import build

    builder = IndexBuilder(spark, str(tmp_path / "idx"), block_span=16)
    builder.build(synthetic_transcripts(spark, n_convs=2, turns_per_conv=4))

    def failing_merge(batches, deleted):
        raise RuntimeError("merge failed")

    cache = spark._jsparkSession.sharedState().cacheManager()
    entries = cache.numCachedEntries()
    monkeypatch.setattr(build, "_merge_cells", failing_merge)
    with pytest.raises(Exception, match="merge failed"):
        builder.append(synthetic_transcripts(spark, n_convs=1, turns_per_conv=4))
    assert cache.numCachedEntries() == entries


def test_empty_and_single_doc_corpus(spark, tmp_path):
    """Degenerate corpora: an empty build yields a queryable (empty)
    index; a 1-doc corpus answers every query class."""
    from search_engine_spark.engine import TranscriptSearchEngine

    empty = synthetic_transcripts(spark, n_convs=1, turns_per_conv=1).where(
        "turn_idx < 0"
    )
    idx0 = str(tmp_path / "empty")
    eng0 = TranscriptSearchEngine.build(spark, empty, idx0, block_span=16)
    assert eng0.num_docs == 0 and eng0.total_tokens == 0
    assert eng0.ranked_query("test") == []
    assert eng0.boolean_query("test document") == []
    assert eng0.ranked_query("test", pruned=True) == []
    assert eng0.bm25_query("test") == []

    one = synthetic_transcripts(spark, n_convs=1, turns_per_conv=1)
    idx1 = str(tmp_path / "one")
    eng1 = TranscriptSearchEngine.build(spark, one, idx1, block_span=16)
    assert eng1.num_docs == 1
    terms = [r["term"] for r in eng1.terms.collect()]
    assert terms
    q = terms[0]
    assert eng1.boolean_query(q) == [0]
    assert [d for d, _s in eng1.ranked_query(q)] == [0]
    assert eng1.ranked_query(q, pruned=True) == eng1.ranked_query(q)
    assert [d for d, _s in eng1.bm25_query(q)] == [0]
