"""Storage pruning + distributed WAND selection + FP parity.

The reference's whole read-path design is "touch only the query's
terms" (B-tree dictionary point lookups, ``diskindex.py:203``,
``query.py:59-80``). Spark-side that must show up as PartitionFilters
(bucket directories) and PushedFilters (term min/max row-group stats)
on the Parquet scan — these tests pin the physical plan, not just the
answers.
"""

import io
import contextlib

import pytest
from pyspark.sql import functions as F

from search_engine_spark.build import IndexBuilder, term_bucket
from search_engine_spark.engine import TranscriptSearchEngine
from search_engine_spark.fixtures import synthetic_transcripts


@pytest.fixture(scope="module")
def cold_engine(spark, tmp_path_factory):
    """DEFAULT-constructed engine over a multi-file index. Since the
    cache size gate, the default config never persists postings, so
    postings plans show the Parquet scan (PartitionFilters +
    PushedFilters), not InMemoryTableScan — these tests pin that."""
    idx = str(tmp_path_factory.mktemp("pruning") / "idx")
    df = synthetic_transcripts(spark, n_convs=40, turns_per_conv=5)
    IndexBuilder(spark, idx, block_span=16).build(df)
    return TranscriptSearchEngine(spark, idx)


def _formatted_plan(spark, df) -> str:
    spark.conf.set("spark.sql.maxMetadataStringLength", "2000")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _files_read(df) -> int:
    return df.select(F.input_file_name()).distinct().count()


def test_postings_scan_prunes_buckets_and_terms(spark, cold_engine):
    eng = cold_engine
    pruned = eng._postings_for_terms(["test", "document"])
    plan = _formatted_plan(spark, pruned)
    assert "PartitionFilters: [bucket" in plan
    assert "In(term, [document,test])" in plan
    total = eng.postings.select(F.input_file_name()).distinct().count()
    assert _files_read(pruned) < total


def test_every_query_class_scans_pruned(spark, cold_engine):
    """Ranked, boolean AND/OR and phrase plans all carry the pushed
    term predicate — no query reads the whole postings table."""
    eng = cold_engine
    plans = {
        "ranked": _formatted_plan(spark, eng.ranked_query_df("test document")),
        "and": _formatted_plan(spark, eng._doc_set_df(["test", "document"], 2)),
        "or": _formatted_plan(spark, eng._doc_set_df(["test", "document"])),
        "phrase": _formatted_plan(spark, eng._phrase_df(["test", "document"])),
    }
    for name, plan in plans.items():
        assert "In(term, [document,test])" in plan, name
        assert "PartitionFilters: [bucket" in plan, name


def test_kgram_scan_prunes_grams(spark, cold_engine):
    # kgrams is a small dictionary, so the default engine rightly
    # persists it; assert the storage-level pruning on an uncached view
    eng = TranscriptSearchEngine(spark, cold_engine.index_dir, cache=False)
    grams_df = eng.kgrams.where(F.col("gram").isin(["$te", "tes", "est"]))
    plan = _formatted_plan(spark, grams_df)
    assert "In(gram" in plan
    # and the public entry points still answer correctly through it
    assert "test" in cold_engine.wildcard_expand("te*t")
    assert cold_engine.find_spelling_candidates("tst", 0.3)


def test_cache_size_gate(spark, cold_engine):
    """The default config persists small dictionaries but NEVER
    postings (whatever its size), and a zero byte-threshold disables
    persistence entirely — the gate that keeps a 100 TB index at
    O(query terms) I/O on the first query."""
    eng = cold_engine
    eng.terms.count()  # touch so _load has run
    assert eng._tables[eng._terms_name].storageLevel.useMemory
    assert not eng.postings.storageLevel.useMemory
    assert not eng.docs.storageLevel.useMemory

    gated = TranscriptSearchEngine(spark, eng.index_dir, cache_max_bytes=0)
    gated.terms.count()
    assert not gated._tables[gated._terms_name].storageLevel.useMemory


def test_term_bucket_python_matches_spark(spark):
    from search_engine_spark.build import term_bucket_col

    words = ["test", "document", "zebra", "Straße", "日本語", ""]
    df = spark.createDataFrame([(w,) for w in words], "term string").select(
        "term", term_bucket_col(F.col("term"), 32).alias("b")
    )
    got = {r["term"]: r["b"] for r in df.collect()}
    assert got == {w: term_bucket(w, 32) for w in words}


def test_wand_driver_sees_only_selected_blocks(spark, tmp_path):
    """block_span=1 -> one block per doc (200 blocks). The scorer must
    decode only some of them, and pruned results must stay
    rank-identical to exhaustive scoring."""
    idx = str(tmp_path / "idx")
    df = synthetic_transcripts(spark, n_convs=50, turns_per_conv=4)
    IndexBuilder(spark, idx, block_span=1).build(df)
    eng = TranscriptSearchEngine(spark, idx, cache=False)

    n_blocks = eng.postings.select("block_id").distinct().count()
    assert n_blocks == 200

    for q in ["test", "test here one", "spark join fast test"]:
        exhaustive = eng.ranked_query(q, k=10)
        pruned = eng.ranked_query(q, k=10, pruned=True)
        assert pruned == exhaustive, q
        stats = eng._last_wand_stats
        selected = stats["round1_blocks"]
        assert 0 < selected < n_blocks, (q, stats)


def test_duplicate_query_terms_accumulate_per_occurrence(spark, golden_engine):
    """Reference parity: a repeated query term adds its partial once
    PER OCCURRENCE (query.py:73-83). Exact float equality against a
    reference-order python accumulation, exhaustive AND pruned."""
    from math import log, sqrt

    eng = golden_engine
    # reconstruct tf/L_d from the index tables
    from search_engine_spark.functions import codec

    tf: dict[str, dict[int, int]] = {}
    for r in eng.postings.collect():
        d, t = codec.decode_postings(bytes(r["postings_bin"]))
        tf.setdefault(r["term"], {}).update(
            {int(x): int(y) for x, y in zip(d, t)}
        )
    ld = {
        int(r["doc_id"]): float(r["weight"])
        for r in eng.doc_stats.select("doc_id", "weight").collect()
    }
    dfs = {r["term"]: r["df"] for r in eng.terms.collect()}

    for query in ["test test test", "test test here", "document test test document"]:
        terms = [w for w in query.split()]
        acc: dict[int, float] = {}
        for t in terms:  # per-occurrence, in query order — the reference loop
            stem = t  # golden corpus terms are their own stems here
            if stem not in dfs:
                continue
            wqt = log(1 + eng.num_docs / dfs[stem])
            for doc, f in tf[stem].items():
                acc[doc] = acc.get(doc, 0.0) + wqt * (1.0 + log(f))
        expected = sorted(
            ((d, s / ld[d]) for d, s in acc.items()),
            key=lambda x: (-x[1], x[0]),
        )[:10]
        assert eng.ranked_query(query, k=10) == expected, query
        assert eng.ranked_query(query, k=10, pruned=True) == expected, query


def test_boolean_query_iter_streams(cold_engine):
    """Q20: streaming cursor yields the same ids as the materialized
    path without collecting the frame (reference utils.py:95-102)."""
    streamed = list(cold_engine.boolean_query_iter("test"))
    assert streamed == cold_engine.boolean_query("test")
    assert len(streamed) > 50


def test_bm25_matches_reference_formula(spark, golden_engine):
    """Engine BM25 == an independent python accumulation (Okapi BM25,
    Lucene non-negative idf) over the same index tables — exact float
    equality, including a repeated-term query."""
    from math import log

    from search_engine_spark.functions import codec

    eng = golden_engine
    tf: dict[str, dict[int, int]] = {}
    for r in eng.postings.collect():
        d, t = codec.decode_postings(bytes(r["postings_bin"]))
        tf.setdefault(r["term"], {}).update(
            {int(x): int(y) for x, y in zip(d, t)}
        )
    dl = {
        int(r["doc_id"]): int(r["doc_len"])
        for r in eng.doc_stats.select("doc_id", "doc_len").collect()
    }
    dfs = {r["term"]: r["df"] for r in eng.terms.collect()}
    n, avgdl = eng.num_docs, eng.total_tokens / eng.num_docs
    assert eng.total_tokens == sum(dl.values())
    k1, b = 1.2, 0.75

    for query in ["test document", "here test test"]:
        acc: dict[int, float] = {}
        for t in query.split():
            if t not in dfs:
                continue
            idf = log(1 + (n - dfs[t] + 0.5) / (dfs[t] + 0.5))
            for doc, f in tf[t].items():
                denom = f + k1 * (1.0 - b + b * float(dl[doc]) / avgdl)
                acc[doc] = acc.get(doc, 0.0) + idf * (f * (k1 + 1.0)) / denom
        expected = sorted(acc.items(), key=lambda x: (-x[1], x[0]))[:10]
        assert eng.bm25_query(query, k=10) == expected, query


def test_ranked_query_batch_matches_single(cold_engine):
    """One-job batch scoring is result-identical to per-query calls,
    including wildcard, repeated-term and no-hit queries."""
    queries = ["test", "test here one", "te*t", "zzzzzzz", "test test document"]
    batch = cold_engine.ranked_query_batch(queries, k=10)
    assert len(batch) == len(queries)
    for q, got in zip(queries, batch):
        assert got == cold_engine.ranked_query(q, k=10), q


def test_positions_column_pruned_for_non_phrase(spark, cold_engine):
    """Q4 parity: positions bytes are read ONLY by phrase plans (the
    reference seeks past positions otherwise, diskindex.py:124-125);
    Catalyst must prune the column from ranked/boolean scans."""
    eng = cold_engine
    ranked = _formatted_plan(spark, eng.ranked_query_df("test document"))
    booln = _formatted_plan(spark, eng._doc_set_df(["test", "document"], 2))
    phrase = _formatted_plan(spark, eng._phrase_df(["test", "document"]))
    for plan in (ranked, booln):
        scan_schema = plan.split("ReadSchema")[-1]
        assert "positions_bin" not in scan_schema
    assert "positions_bin" in phrase.split("ReadSchema")[-1]


def test_rebuild_same_path_not_served_stale_cache(spark, tmp_path):
    """Regression: Spark's CacheManager matches persisted relations by
    canonicalized plan (path), so an engine opened after REBUILDING an
    index at the same path used to answer from the previous index's
    cached rows."""
    import shutil

    idx = str(tmp_path / "idx")
    small = synthetic_transcripts(spark, n_convs=4, turns_per_conv=3)  # 12
    e1 = TranscriptSearchEngine.build(spark, small, idx)
    assert e1.num_docs == 12
    assert e1.boolean_query("test")  # materialize the cache

    shutil.rmtree(idx)
    bigger = synthetic_transcripts(spark, n_convs=8, turns_per_conv=3)  # 24
    e2 = TranscriptSearchEngine.build(spark, bigger, idx)
    assert e2.num_docs == 24
    hits = e2.boolean_query("test")
    assert any(d >= 12 for d in hits)  # rows only the NEW index contains


def test_bm25_wand_rank_identical(spark, tmp_path):
    """Block-max BM25 (idf * f(max_tf, min_dl) upper bounds) must be
    rank-identical to exhaustive BM25 and prune most blocks."""
    idx = str(tmp_path / "idx")
    df = synthetic_transcripts(spark, n_convs=50, turns_per_conv=4)
    IndexBuilder(spark, idx, block_span=1).build(df)
    eng = TranscriptSearchEngine(spark, idx, cache=False)
    n_blocks = eng.postings.select("block_id").distinct().count()
    for q in ["test", "test here one"]:
        exhaustive = eng.bm25_query(q, k=10)
        pruned = eng.bm25_query(q, k=10, pruned=True)
        assert pruned == exhaustive, q
        stats = eng._last_wand_stats
        assert 0 < stats["round1_blocks"] < n_blocks


# ---- metadata-filtered retrieval (where= over docs columns) ------------------

def test_filtered_ranked_golden(golden_engine):
    """Filtering restricts the ranking BEFORE top-k: scores equal the
    unfiltered ones (df stats and L_d stay corpus-global), only the
    candidate set shrinks."""
    eng = golden_engine
    full = dict(eng.ranked_query("test", k=10))
    by_role = eng.ranked_query("test", where="role = 'assistant'")
    assert [d for d, _s in by_role] == [4, 1]
    assert all(full[d] == s for d, s in by_role)
    assert eng.ranked_query("test", where="role = 'tool'") == []
    # ts windows (golden ts = epoch + doc_id seconds)
    early = eng.ranked_query("test", where="ts < timestamp'2026-01-01 00:00:03'")
    late = eng.ranked_query("test", where="ts >= timestamp'2026-01-01 00:00:03'")
    assert {d for d, _s in early} == {0, 1}
    assert {d for d, _s in late} == {3, 4}
    # Column predicates work like SQL strings
    from pyspark.sql import functions as F2

    assert eng.ranked_query("test", where=F2.col("role") == "assistant") == by_role


def test_filtered_equals_postfilter(cold_engine):
    """The cogrouped filter must give exactly post-filtering the FULL
    ranking (same floats — masking happens before np.unique, so each
    surviving doc's accumulation order is unchanged)."""
    eng = cold_engine
    allowed = {
        int(r["doc_id"])
        for r in eng.docs.where("role = 'assistant'").select("doc_id").collect()
    }
    for q in ["test", "test here one"]:
        full = eng.ranked_query(q, k=10**6)
        expected = [(d, s) for d, s in full if d in allowed][:10]
        assert eng.ranked_query(q, k=10, where="role = 'assistant'") == expected, q
        full_bm = eng.bm25_query(q, k=10**6)
        expected_bm = [(d, s) for d, s in full_bm if d in allowed][:10]
        assert eng.bm25_query(q, k=10, where="role = 'assistant'") == expected_bm, q


def test_filtered_predicate_pushed_to_docs_scan(spark, cold_engine):
    """The where= predicate must reach the docs Parquet scan as a
    PushedFilter with the text column pruned — the docs side of the
    cogroup reads (doc_id, role), never the corpus text."""
    eng = cold_engine
    df = eng.ranked_query_df("test document", where="role = 'assistant'")
    plan = _formatted_plan(spark, df)
    assert "EqualTo(role,assistant)" in plan
    assert "In(term, [document,test])" in plan  # postings side still pruned
    allowed_plan = _formatted_plan(spark, eng._mask_side(where="role = 'assistant'")[0])
    scan_schema = allowed_plan.split("ReadSchema")[-1]
    assert "text" not in scan_schema
    assert "role" in scan_schema


def test_filtered_wand_matches_exhaustive(spark, tmp_path):
    """Pruning with ``where=`` on a block_span-1 index with deletes:
    the same docs and bit-identical scores as the exhaustive filtered
    plan, with some blocks decoded and some not. The unfiltered k=50
    case puts deleted docs among the best-bound blocks, so the running
    threshold must wait for k LIVE docs."""
    idx = str(tmp_path / "idx")
    df = synthetic_transcripts(spark, n_convs=50, turns_per_conv=4)
    IndexBuilder(spark, idx, block_span=1).build(df)
    eng = TranscriptSearchEngine(spark, idx, cache=False)
    n_blocks = eng.postings.select("block_id").distinct().count()
    eng.delete([d for d, _s in eng.ranked_query("test here", k=5)] + [7, 101])

    def hexed(rows):
        return [(d, s.hex()) for d, s in rows]

    filters = ("role = 'user'", "role = 'assistant'", "doc_id % 3 = 1")
    for where, k in [(None, 50), *((w, 10) for w in filters)]:
        for q in ["test", "test here one"]:
            for run in (eng.ranked_query, eng.bm25_query):
                exhaustive = run(q, k=k, where=where)
                assert exhaustive, (q, where)
                assert hexed(run(q, k=k, pruned=True, where=where)) == hexed(
                    exhaustive
                ), (run.__name__, q, where)
                stats = eng._last_wand_stats
                assert 0 < stats["round1_blocks"] < n_blocks, (q, where, stats)
