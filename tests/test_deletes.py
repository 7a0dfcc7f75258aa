"""Tombstone deletes: logical masking, WAND threshold safety, and the
compaction purge.

Semantics under test (Lucene's deleted-docs discipline — the reference
has no deletes, so there is no reference behavior to match):

* after ``delete()``, every query path masks the tombstoned ids while
  scoring statistics (N, df, avgdl, L_d) stay PRE-delete — so a ranked
  result equals the full ranking post-filtered to live docs;
* masking happens BEFORE per-block top-k truncation and before a
  score can raise the pruned scorer's threshold (a deleted doc there
  would inflate it and over-prune live docs);
* ``compact()`` physically purges: postings/doc rows drop out, df/cf
  and num_docs/total_tokens are recomputed, doc ids are preserved.
"""

import os

import numpy as np
import pytest

from search_engine_spark.engine import TranscriptSearchEngine
from search_engine_spark.fixtures import synthetic_transcripts

QUERY = "test here one"


@pytest.fixture(scope="module")
def deleted_engine(spark, tmp_path_factory):
    """One 400-doc index with a delete set that includes top-ranked
    docs (so masking must actually change the top-k) plus arbitrary
    ids; yields (engine, deleted_ids, full_ranking)."""
    d = tmp_path_factory.mktemp("deletes")
    docs = synthetic_transcripts(spark, n_convs=40, turns_per_conv=10)
    eng = TranscriptSearchEngine.build(spark, docs, os.path.join(str(d), "idx"))
    full = eng.ranked_query(QUERY, k=400)
    top = [doc for doc, _ in full[:10]]
    dele = sorted(set(top[::2] + [5, 17, 399]))
    eng.delete(dele)
    return eng, set(dele), full


def test_delete_meta_and_num_live(deleted_engine):
    eng, dele, _ = deleted_engine
    assert eng.num_deleted == len(dele)
    assert eng.num_live == eng.num_docs - len(dele)
    assert eng.tombstones is not None
    got = {r["doc_id"] for r in eng.tombstones.collect()}
    assert got == dele


def test_ranked_equals_postfiltered_full_ranking(deleted_engine):
    """Stats stay pre-delete, so the masked top-k must equal the full
    ranking with deleted docs removed — scores IDENTICAL, not
    recomputed."""
    eng, dele, full = deleted_engine
    expect = [(doc, s) for doc, s in full if doc not in dele][:10]
    assert eng.ranked_query(QUERY, k=10) == expect


def test_masking_is_pre_topk(deleted_engine):
    """The deleted set contains docs from the full top-10, so a
    post-top-k filter would return < 10 rows; pre-top-k masking
    backfills from below."""
    eng, dele, full = deleted_engine
    res = eng.ranked_query(QUERY, k=10)
    assert len(res) == 10
    assert not ({doc for doc, _ in res} & dele)
    assert {doc for doc, _ in full[:10]} & dele  # the fixture is honest


def test_all_query_paths_mask(deleted_engine):
    eng, dele, _ = deleted_engine
    ranked = eng.ranked_query(QUERY, k=10)
    assert eng.ranked_query(QUERY, k=10, pruned=True) == ranked
    bm = eng.bm25_query(QUERY, k=10)
    assert eng.bm25_query(QUERY, k=10, pruned=True) == bm
    assert not ({doc for doc, _ in bm} & dele)
    batch = eng.ranked_query_batch([QUERY, "test"], k=10)
    assert batch[0] == ranked
    assert eng.ranked_query_batch([QUERY, "test"], k=10, pruned=True) == batch
    assert not (set(eng.boolean_query("test here")) & dele)
    assert not (set(eng.boolean_query('"test document"')) & dele)
    assert not (set(eng.near_query("test", "here", 3)) & dele)
    filtered = eng.ranked_query(QUERY, k=10, where="role = 'user'")
    assert not ({doc for doc, _ in filtered} & dele)


def test_facet_counts_exclude_deleted(deleted_engine):
    eng, dele, _ = deleted_engine
    hits = set(eng.boolean_query("test"))
    facets = {r["role"]: r["n_docs"] for r in eng.facet_counts("test", "role").collect()}
    assert sum(facets.values()) == len(hits)
    assert not (hits & dele)


def test_bm25f_conv_masks_deleted_turn_content(spark, tmp_path):
    """A deleted turn's content must not score its conversation: delete
    the ONLY turn containing the query term and the conversation drops
    out of the BM25F result (field lengths stay pre-delete, like every
    other path's stats)."""
    from search_engine_spark.fixtures import TRANSCRIPT_SCHEMA
    import datetime as dt

    epoch = dt.datetime(2026, 1, 1)
    rows = [
        ("c0", 0, "user", "unicorn word here", "", epoch),
        ("c0", 1, "assistant", "plain reply text", "", epoch),
        ("c1", 0, "user", "plain other words", "", epoch),
    ]
    docs = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    eng = TranscriptSearchEngine.build(spark, docs, str(tmp_path / "idx"))
    before = {r["conv_id"] for r in eng.bm25f_conv_df("unicorn").collect()}
    assert before == {"c0"}
    eng.delete([0])  # the only turn containing 'unicorn'
    after = {r["conv_id"] for r in eng.bm25f_conv_df("unicorn").collect()}
    assert after == set()


def test_term_trends_exclude_deleted(deleted_engine):
    """The trend view masks tombstones (unlike the corpus-global
    scoring stats): per-term n_turns must total the LIVE doc count for
    that term — the boolean path's masked answer."""
    eng, dele, _ = deleted_engine
    trends = eng.term_trends_df(["test"], bucket_seconds=60).collect()
    assert sum(r["n_turns"] for r in trends) == len(eng.boolean_query("test"))
    assert all(r["tf_sum"] >= r["n_turns"] for r in trends)


def test_delete_validates_ids(deleted_engine):
    eng, _, _ = deleted_engine
    with pytest.raises(ValueError, match="outside"):
        eng.delete([10**9])
    with pytest.raises(ValueError, match="outside"):
        eng.delete([-1])


def test_second_delete_unions_and_grace(spark, tmp_path):
    """Deletes accumulate across calls; the superseded tombstone
    snapshot survives exactly one flip (reader grace), like terms_v*."""
    docs = synthetic_transcripts(spark, n_convs=5, turns_per_conv=10)
    eng = TranscriptSearchEngine.build(spark, docs, str(tmp_path / "idx"))
    eng.delete([1, 2])
    eng.delete([2, 3])  # overlap is a no-op
    assert eng.num_deleted == 3
    listing = set(os.listdir(str(tmp_path / "idx")))
    assert {"tombstones_v000001", "tombstones_v000002"} <= listing
    eng.delete([4])
    listing = set(os.listdir(str(tmp_path / "idx")))
    assert "tombstones_v000001" not in listing
    assert {"tombstones_v000002", "tombstones_v000003"} <= listing
    assert set(eng.boolean_query("test")).isdisjoint({1, 2, 3, 4})


def test_wand_deletes_with_real_block_pruning(spark, tmp_path):
    """block_span=1 -> one block per doc, so WAND selection genuinely
    prunes. Deleting the entire full top-10 forces the threshold to be
    derived from live docs only — over-pruning would lose results."""
    docs = synthetic_transcripts(spark, n_convs=20, turns_per_conv=10)
    eng = TranscriptSearchEngine.build(
        spark, docs, str(tmp_path / "idx"), block_span=1
    )
    full = eng.ranked_query(QUERY, k=200)
    dele = [doc for doc, _ in full[:10]]
    eng.delete(dele)
    exact = eng.ranked_query(QUERY, k=10)
    assert exact == [(doc, s) for doc, s in full if doc not in set(dele)][:10]
    pruned = eng.ranked_query(QUERY, k=10, pruned=True)
    assert pruned == exact
    stats = eng._last_wand_stats
    assert stats["blocks_skipped"] > 0, stats
    assert stats["round1_blocks"] > 0
    bm = eng.bm25_query(QUERY, k=10)
    assert eng.bm25_query(QUERY, k=10, pruned=True) == bm
    batch = eng.ranked_query_batch([QUERY, "test here"], k=10, pruned=True)
    assert batch[0] == exact


def test_compact_purges_physically(spark, tmp_path):
    docs = synthetic_transcripts(spark, n_convs=30, turns_per_conv=10)
    idx = str(tmp_path / "idx")
    eng = TranscriptSearchEngine.build(spark, docs, idx)
    full_bool = set(eng.boolean_query("test here"))
    dele = sorted(set(list(full_bool)[:7] + [0, 299]))
    eng.delete(dele)
    masked_bool = set(eng.boolean_query("test here"))
    n_before, tok_before = eng.num_docs, eng.total_tokens
    info = eng.compact()
    # meta: tombstones cleared, stats shrunk to the live corpus
    assert info["purged_docs"] == len(dele)
    assert eng.tombstones is None and eng.num_deleted == 0
    assert eng.num_docs == n_before - len(dele)
    assert eng.total_tokens < tok_before
    # same visible doc set, doc ids preserved
    assert set(eng.boolean_query("test here")) == masked_bool
    assert not (set(eng.boolean_query("test")) & set(dele))
    # postings physically free of the deleted ids: the docs behind any
    # boolean result, and the dictionary row counts, now match a fresh
    # build over the surviving transcripts (term stats are id-agnostic)
    survivors = (
        eng.docs.select("conv_id", "turn_idx", "role", "text", "tool", "ts")
    )
    fresh = TranscriptSearchEngine.build(
        spark, survivors, str(tmp_path / "fresh")
    )
    old_terms = {
        (r["term"], r["df"], r["cf"]) for r in eng.terms.collect()
    }
    new_terms = {
        (r["term"], r["df"], r["cf"]) for r in fresh.terms.collect()
    }
    assert old_terms == new_terms
    assert eng.num_docs == fresh.num_docs
    assert eng.total_tokens == fresh.total_tokens
    # scoring now uses the purged stats: ranks equal the fresh build's
    # (ids differ only if deletion reordered assignment — it can't:
    # both assign by the same (conv_id, turn_idx) order)
    id_map = {
        r["new"]: r["old"]
        for r in fresh.docs.select(
            fresh.docs.doc_id.alias("new"), "conv_id", "turn_idx"
        )
        .join(
            eng.docs.select(
                eng.docs.doc_id.alias("old"), "conv_id", "turn_idx"
            ),
            ["conv_id", "turn_idx"],
        )
        .collect()
    }
    got = eng.ranked_query(QUERY, k=10)
    want = [
        (id_map[doc], round(s, 9)) for doc, s in fresh.ranked_query(QUERY, k=10)
    ]
    assert [(doc, round(s, 9)) for doc, s in got] == want


def _cell(term, block_id, doc, tf, flat, w, dl, bucket):
    """One postings row encoded from scratch (the reference the write
    path must reproduce byte for byte)."""
    from search_engine_spark.functions import codec

    return {
        "term": term,
        "block_id": block_id,
        "df_block": int(doc.size),
        "first_doc_id": int(doc[0]),
        "last_doc_id": int(doc[-1]),
        "max_tf": int(tf.max()),
        "min_dl": int(dl.min()),
        "sum_tf": int(tf.sum()),
        "max_partial": float(np.max((1.0 + np.log(tf)) / w)),
        "postings_bin": codec.encode_postings(doc, tf),
        "weights_bin": np.ascontiguousarray(w, dtype="<f8").tobytes(),
        "positions_bin": codec.encode_positions(tf, flat),
        "doclens_bin": codec.vb_encode(dl),
        "bucket": bucket,
    }


def test_merge_cells_roundtrip():
    """Unit check of the merge worker: purging a cell and merging a
    key's segments equal encoding the resulting postings from scratch
    (bytes, metadata and positions all identical)."""
    import pyarrow as pa

    from search_engine_spark.build import _merge_cells

    schema = pa.schema(
        [
            ("term", pa.string()), ("block_id", pa.int64()),
            ("df_block", pa.int32()), ("first_doc_id", pa.int64()),
            ("last_doc_id", pa.int64()), ("max_tf", pa.int32()),
            ("min_dl", pa.int32()), ("sum_tf", pa.int64()),
            ("max_partial", pa.float64()), ("postings_bin", pa.binary()),
            ("weights_bin", pa.binary()), ("positions_bin", pa.binary()),
            ("doclens_bin", pa.binary()), ("bucket", pa.int32()),
        ]
    )

    def merge(rows, deleted):
        batches = pa.Table.from_pylist(rows, schema).to_batches()
        out = _merge_cells(iter(batches), np.asarray(deleted, dtype=np.int64))
        return pa.Table.from_batches(list(out), schema).to_pylist()

    rng = np.random.RandomState(7)
    d = np.sort(rng.choice(np.arange(1000, 1100), size=20, replace=False)).astype(np.int64)
    t = rng.randint(1, 5, size=20).astype(np.int64)
    flat = np.sort(rng.randint(0, 500, size=int(t.sum()))).astype(np.int64)
    w = rng.rand(20) + 0.5
    dl = rng.randint(5, 50, size=20).astype(np.int64)
    whole = _cell("x", 0, d, t, flat, w, dl, 3)

    deleted = d[::3]
    keep = ~np.isin(d, deleted)
    flat_keep = flat[np.repeat(keep, t)]
    expect = _cell("x", 0, d[keep], t[keep], flat_keep, w[keep], dl[keep], 3)
    assert merge([whole], deleted) == [expect]
    # deleting every doc of the cell removes the row entirely
    assert merge([whole], d) == []
    # no deleted id inside [first_doc_id, last_doc_id]: the row passes
    # through byte-identical
    assert merge([whole], []) == [whole]
    assert merge([whole], [0, 999, 1100, 5000]) == [whole]

    # one key split into three segments (postings dealt round-robin),
    # given out of doc order beside a single-segment key of a lower
    # bucket: the segments merge into the whole cell, rows come back in
    # (bucket, term, block_id) order
    per_doc = np.split(flat, np.cumsum(t)[:-1])
    segs = []
    for i in (2, 0, 1):
        s = np.arange(i, d.size, 3)
        segs.append(
            _cell("x", 0, d[s], t[s], np.concatenate([per_doc[j] for j in s]), w[s], dl[s], 3)
        )
    other = _cell("y", 7, d[:4], t[:4], flat[: int(t[:4].sum())], w[:4], dl[:4], 1)
    assert merge(segs + [other], []) == [other, whole]


def test_compact_purge_bytes(spark, tmp_path):
    """After delete + compact, every postings row equals a from-scratch
    encoding of its pre-compaction row minus the deleted postings, and
    cells whose postings were all deleted are gone."""
    from search_engine_spark.build import IndexBuilder
    from search_engine_spark.functions import codec

    def rows(builder):
        df = spark.read.parquet(builder._t("postings")).drop("chunk")
        return {(r["term"], r["block_id"]): r.asDict() for r in df.collect()}

    builder = IndexBuilder(spark, str(tmp_path / "idx"), block_span=16)
    builder.build(synthetic_transcripts(spark, n_convs=62, turns_per_conv=10))
    before = rows(builder)
    deleted = np.array(sorted(set(range(5 * 16, 6 * 16)) | set(range(0, 620, 7))))
    builder.delete(deleted.tolist())
    builder.compact()

    expect = {}
    for key, r in before.items():
        d, t = codec.decode_postings(bytes(r["postings_bin"]))
        keep = ~np.isin(d, deleted)
        if not keep.any():
            continue
        flat = codec.decode_positions_flat(bytes(r["positions_bin"]), t)
        w = np.frombuffer(bytes(r["weights_bin"]), dtype="<f8")
        dl = codec.vb_decode(bytes(r["doclens_bin"]))
        expect[key] = _cell(
            r["term"], r["block_id"], d[keep], t[keep],
            flat[np.repeat(keep, t)], w[keep], dl[keep], r["bucket"],
        )
    after = rows(builder)
    assert any(key[1] == 5 for key in before)
    assert not any(key[1] == 5 for key in after)
    assert len(expect) < len(before)
    assert after.keys() == expect.keys()
    for key, want in expect.items():
        got = after[key]
        assert {c: got[c] for c in want} == want, key


def test_ranked_conversations_rollup(deleted_engine):
    """Conversation-level ranking is a pure rollup of the (masked)
    doc-level scores: best live turn per conversation, tie to the
    smaller doc_id, n_hits = live matching turns."""
    eng, dele, full = deleted_engine
    conv_of = {
        r["doc_id"]: r["conv_id"]
        for r in eng.docs.select("doc_id", "conv_id").collect()
    }
    agg: dict[str, tuple[float, int, int]] = {}
    for doc, s in full:
        if doc in dele:
            continue
        c = conv_of[doc]
        best_s, best_doc, n = agg.get(c, (float("-inf"), -1, 0))
        if s > best_s or (s == best_s and doc < best_doc):
            best_s, best_doc = s, doc
        agg[c] = (best_s, best_doc, n + 1)
    expect = sorted(
        ((c, s, n, d) for c, (s, d, n) in agg.items()),
        key=lambda x: (-x[1], x[0]),
    )[:10]
    assert eng.ranked_conversations(QUERY, k=10) == expect


def _rollup(pairs, conv_of, k=10):
    agg: dict[str, tuple[float, int, int]] = {}
    for doc, s in pairs:
        c = conv_of[doc]
        best_s, best_doc, n = agg.get(c, (float("-inf"), -1, 0))
        if s > best_s or (s == best_s and doc < best_doc):
            best_s, best_doc = s, doc
        agg[c] = (best_s, best_doc, n + 1)
    return sorted(
        ((c, s, n, d) for c, (s, d, n) in agg.items()),
        key=lambda x: (-x[1], x[0]),
    )[:k]


def test_ranked_conversations_bm25_and_where(deleted_engine):
    """BM25 scoring and metadata filtering compose with the rollup —
    each equals the pure-python rollup of the corresponding doc-level
    ranking (tombstones already masked by those paths)."""
    eng, _dele, _full = deleted_engine
    conv_of = {
        r["doc_id"]: r["conv_id"]
        for r in eng.docs.select("doc_id", "conv_id").collect()
    }
    bm = eng.bm25_query(QUERY, k=400)
    assert eng.ranked_conversations(QUERY, k=10, bm25=True) == _rollup(bm, conv_of)
    filt = eng.ranked_query(QUERY, k=400, where="role = 'user'")
    assert eng.ranked_conversations(QUERY, k=10, where="role = 'user'") == _rollup(
        filt, conv_of
    )


def test_more_like_this(deleted_engine):
    """MLT wiring: source excluded, k results, scores descending, and
    tombstoned docs masked out of the neighbor list."""
    eng, dele, full = deleted_engine
    src = next(doc for doc, _ in full if doc not in dele)
    res = eng.more_like_this(src, k=10)
    assert len(res) == 10
    docs = [doc for doc, _ in res]
    assert src not in docs
    assert not (set(docs) & dele)
    scores = [s for _, s in res]
    assert scores == sorted(scores, reverse=True)
    assert res == eng.more_like_this(src, k=10)  # deterministic
    with pytest.raises(KeyError):
        eng.more_like_this(10**8)


def test_delete_duplicates_composition(spark, tmp_path):
    """dedup_groups → delete: exact clones get tombstoned down to one
    survivor per cluster, entirely via the DataFrame path."""
    from pyspark.sql import functions as F

    base = synthetic_transcripts(spark, n_convs=6, turns_per_conv=10)
    clones = (
        base.where("turn_idx = 0")
        .withColumn("conv_id", F.concat(F.lit("clone-"), "conv_id"))
    )
    eng = TranscriptSearchEngine.build(
        spark, base.unionByName(clones), str(tmp_path / "idx")
    )
    texts = {
        r["doc_id"]: r["text"] for r in eng.docs.select("doc_id", "text").collect()
    }
    info = eng.delete_duplicates(threshold=0.9)
    assert info["num_deleted"] >= 6  # at least one loser per cloned turn
    # survivors: every text that was duplicated keeps exactly one live doc
    live = set(texts) - {r["doc_id"] for r in eng.tombstones.collect()}
    by_text: dict[str, int] = {}
    for doc in live:
        by_text[texts[doc]] = by_text.get(texts[doc], 0) + 1
    dup_texts = {t for t in by_text if sum(1 for x in texts.values() if x == t) > 1}
    assert dup_texts and all(by_text[t] == 1 for t in dup_texts)


def test_delete_then_append(spark, tmp_path):
    """Tombstones survive appends (ids are never reused) and new docs
    are immediately visible."""
    docs = synthetic_transcripts(spark, n_convs=5, turns_per_conv=10)
    eng = TranscriptSearchEngine.build(spark, docs, str(tmp_path / "idx"))
    eng.delete([0, 1])
    eng.append(synthetic_transcripts(spark, n_convs=2, turns_per_conv=10))
    assert eng.num_docs == 70 and eng.num_deleted == 2
    hits = set(eng.boolean_query("test"))
    assert hits.isdisjoint({0, 1})
    assert any(doc >= 50 for doc in hits)
