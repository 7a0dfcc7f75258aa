"""TranscriptSearchEngine — the read path (query facade).

Query grammar (identical to the reference, ``query.py``):
``+`` separates OR literals; within a literal, whitespace separates AND
conjuncts; ``"quoted words"`` is a positional phrase; ``*`` marks a
wildcard. Ranked retrieval is term-at-a-time tf-idf with
``wqt = ln(1 + N/df)``, ``wdt = 1 + ln(tf)``, length-normalized by
``L_d`` and tie-broken by lower doc_id (``query.py:69-84``,
``diskindex.py:90-99``).

Execution is Spark-first: query terms become a broadcast dimension
joined against the postings table (the reference's query-restricted
index load, ``diskindex.py:59-80``, re-expressed as a broadcast-hash
join + parquet predicate pushdown on ``term``), scoring is one
DataFrame plan ending in ``TakeOrderedAndProject`` (distributed heap
top-k), boolean set algebra is join/union over per-conjunct doc sets.

Every posting-cell worker — ranked scoring, doc sets, positional
matches, the analytics aggregates — runs through one block-sorted
``mapInPandas`` (:func:`_block_batches`) that hands it whole blocks one
Arrow batch at a time, so a query pays one Python call per batch, not
one per block; block-max WAND pruning (``pruned=True``) happens inside
the ranked worker of that same job. Driver-built query dimensions are
Arrow-backed ``LocalRelation`` s (:meth:`TranscriptSearchEngine._local_df`), which
broadcast without a job of their own.
"""

from __future__ import annotations

import heapq
import re
import shlex
from contextlib import contextmanager
from math import log
from functools import reduce

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.accumulators import AccumulatorParam
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegralType, StructType
from pyspark.storagelevel import StorageLevel

from search_engine_spark import fsio
from search_engine_spark.build import IndexBuilder  # noqa: F401  (re-export)
from search_engine_spark.functions import codec
from search_engine_spark.text.kgrams import kgrams, wildcard_grams
from search_engine_spark.text.normalize import (
    analyze,
    query_normalize,
    remove_special_characters,
)

JACCARD_THRESHOLD = 0.35  # reference query.py:14
DEFAULT_K = 10  # reference query.py:25
RANKED_SCHEMA = "doc_id long, score double"
_EMPTY = np.empty(0, dtype=np.int64)


def block_id_col(block_span: int) -> Column:
    """``block_id`` of a ``doc_id`` column: exact integer
    ``CAST(doc_id DIV block_span AS LONG)`` — a double division would
    mis-bucket doc_ids above 2^53."""
    return F.expr(f"CAST(doc_id DIV {int(block_span)} AS LONG)").alias("block_id")


def _tfidf_partials(cells: pd.DataFrame):
    """tf-idf per posting, ``wqt·(1+ln tf)``, normalized by the doc's
    L_d (``weights_bin`` — it rides inside the block, so scoring needs
    no doc_stats join). Yields cells in query-term order (qidx), the
    float-addition order of the reference's term-at-a-time loop
    (``query.py:78-83``)."""
    wqt, blobs, weights = (
        cells[c].to_numpy() for c in ("wqt", "postings_bin", "weights_bin")
    )
    for i in np.argsort(cells["qidx"].to_numpy(), kind="stable"):
        d, t = codec.decode_postings(bytes(blobs[i]))
        w = np.frombuffer(bytes(weights[i]), dtype="<f8")
        yield d, wqt[i] * (1.0 + np.log(t)), w


def _bm25_partials(k1: float, b: float, avgdl: float):
    """BM25 per posting, ``wqt·tf(k1+1)/(tf + k1(1-b+b·dl/avgdl))``
    with wqt = idf and no norm; doc lengths ride inside the block
    (``doclens_bin``). Yields cells in qidx order."""

    def partials(cells: pd.DataFrame):
        wqt, blobs, lens = (
            cells[c].to_numpy() for c in ("wqt", "postings_bin", "doclens_bin")
        )
        for i in np.argsort(cells["qidx"].to_numpy(), kind="stable"):
            d, t = codec.decode_postings(bytes(blobs[i]))
            dl = codec.vb_decode(bytes(lens[i])).astype(np.float64)
            denom = t + k1 * (1.0 - b + b * dl / avgdl)
            yield d, wqt[i] * (t * (k1 + 1.0)) / denom, None

    return partials


def _synonym_partials(cells: pd.DataFrame):
    """Synonym-group partials (Lucene ``SynonymQuery``): each group of
    stems — ``qidx`` holds the group id — scores as ONE pseudo-term,
    ``gtf = sum`` of member tfs per doc, weighted by the group's
    pre-computed ``wqt`` (from the group's ANY-member df) and
    normalized by the in-block L_d. Yields groups in ascending id
    order (a fixed fold, so the float result is reproducible
    cross-engine)."""
    per_gid: dict[int, list] = {}
    wqt_by_gid: dict[int, float] = {}
    for gid, wqt, pblob, wblob in zip(
        cells["qidx"], cells["wqt"], cells["postings_bin"], cells["weights_bin"]
    ):
        d, t = codec.decode_postings(bytes(pblob))
        w = np.frombuffer(bytes(wblob), dtype="<f8")
        per_gid.setdefault(int(gid), []).append((d, t, w))
        wqt_by_gid[int(gid)] = float(wqt)
    for gid in sorted(per_gid):
        docs, tfs, ws = (np.concatenate(c) for c in zip(*per_gid[gid]))
        uq, inv = np.unique(docs, return_inverse=True)
        gtf = np.zeros(uq.size)
        np.add.at(gtf, inv, tfs.astype(np.float64))  # integer tfs: exact
        ld = np.empty(uq.size)
        ld[inv] = ws
        yield uq, wqt_by_gid[gid] * (1.0 + np.log(gtf)), ld


def _tfidf_bound(cells: pd.DataFrame) -> np.ndarray:
    """Block-max bound on each cell's tf-idf partials, ``wqt·max_partial``:
    ``max_partial`` is the cell's largest (1+ln tf)/L_d
    (``build.py::_encode_cells``)."""
    return cells["wqt"].to_numpy() * cells["max_partial"].to_numpy()


def _bm25_bound(k1: float, b: float, avgdl: float):
    """Block-max bound on each cell's BM25 partials,
    ``wqt·max_tf(k1+1)/(max_tf + k1(1-b+b·min_dl/avgdl))``: the partial
    is increasing in tf and decreasing in dl, so the cell's largest tf
    and smallest doc length bound every posting in it."""

    def bound(cells: pd.DataFrame) -> np.ndarray:
        mt = cells["max_tf"].to_numpy(np.float64)
        dl = cells["min_dl"].to_numpy(np.float64)
        denom = mt + k1 * (1.0 - b + b * dl / avgdl)
        return cells["wqt"].to_numpy() * (mt * (k1 + 1.0)) / denom

    return bound


class _Counts(AccumulatorParam):
    """A Spark accumulator of a tuple of counters, added element-wise."""

    def zero(self, value):
        return (0,) * len(value)

    def addInPlace(self, value1, value2):
        return tuple(a + b for a, b in zip(value1, value2))


def _block_worker(partials, k, allow=None, per_group=None, prune=None):
    """The one ranked-scoring worker (a factory for :func:`_block_batches`)
    over the query-term cells of whole blocks (plus, when ``allow`` is
    not None, those blocks' mask-side rows, see
    :meth:`TranscriptSearchEngine._mask_side`).

    Pipeline, once per call (and per query_id on the batch paths):
    decode each cell into per-posting ``partials`` (doc ids, partial
    scores, optional per-doc norm) → mask → accumulate per doc in
    qidx/gid order → divide by the norm → multiply by the boost → cap
    per group → top-k of the call (score desc, doc_id asc, matching
    ``diskindex.py:98-99``), or every scored doc when ``k`` is None.

    Blocks partition the doc space and a call holds whole blocks, so a
    doc's score is COMPLETE within its call and the global top-k is a
    subset of the union of per-call top-ks. Masking happens BEFORE
    truncation: a filtered-out or deleted doc must neither occupy a
    top-k slot nor raise the pruning threshold below, and it never
    changes a surviving doc's accumulation order. An ``allow`` side
    keeps only its docs; a deny side drops its NULL-boost (deleted)
    docs. Boosts multiply AFTER normalization and BEFORE truncation, so
    a boosted doc can displace an unboosted one and vice versa; docs
    without a boost row keep weight 1.0.

    Correctness of the per-call cap: a call's docs are a union U of
    whole blocks. Order docs by the total order (score desc, doc_id
    asc). If doc d in U belongs to the global diversified top-k, then
    (a) d is among the global top ``per_group`` of its group, hence
    also among the top ``per_group`` of its group's docs WITHIN U
    (ranking within a subset can only improve), so d survives the
    per-(call, group) cap; and (b) for every call-capped survivor e
    ahead of d, e's group's global top-``per_group`` contains a doc
    ahead of e (pointwise: the group's global j-th best beats its
    U-local j-th best), giving an injection from call survivors ahead
    of d into GLOBAL diversified candidates ahead of d — fewer than k
    of those exist, so d is inside the call's top-k too. The global
    re-cap + top-k over the n_calls*k survivors happens in the
    DataFrame plan (window + limit over tiny rows).

    Block-max pruning, with ``prune = (bound, counts)`` (a top-k with
    no boost and no group cap): ``bound(cells)`` is each cell's upper
    bound on its partials (:func:`_tfidf_bound`, :func:`_bm25_bound`,
    over the cells' projected block-max columns), and a block's ub is
    the sum over its cells. A call visits its blocks in (ub desc,
    block_id) order and stops at the first block whose ub is strictly
    below the partition's running k-th masked score less a 1e-9
    relative slack (float re-association can then only make it decode
    MORE blocks); that block and the rest go undecoded. The running
    score is the k-th best of the docs this partition has scored so far
    (one per query_id on the batch path), so it is <= the global k-th
    score, and a skipped doc scores <= ub < it — strictly, so it is
    not even tied with the global top-k. Masking only removes docs, so
    an unmasked ub still bounds them, and a block with no allowed doc
    is skipped outright. A scored block's docs get exactly the
    additions of the exhaustive path (blocks partition the docs, each
    accumulates in qidx order), so every score is bit-identical. Each
    call adds (blocks decoded, blocks skipped, rows emitted) to the
    accumulator ``counts``; the thresholds live in the closure
    :func:`_block_batches` makes per partition, never longer."""

    def score(cells: pd.DataFrame, side: pd.DataFrame | None) -> tuple:
        """(doc ids, scores, group keys or None) of the docs of
        ``cells``, in (score desc, doc_id asc) order, cut to k unless
        groups are capped."""
        docs, vals, norms, groups = _EMPTY, np.empty(0), None, None
        dead = None if side is None else np.isnan(side["boost"].to_numpy())
        if len(cells) and not (allow and side.empty):
            parts = list(partials(cells))
            docs, vals = (np.concatenate([p[j] for p in parts]) for j in (0, 1))
            if parts[0][2] is not None:
                norms = np.concatenate([p[2] for p in parts])
            if side is not None and len(side):
                sdocs = side["doc_id"].to_numpy()
                if allow:
                    keep = np.isin(docs, sdocs[~dead])
                else:
                    keep = ~np.isin(docs, sdocs[dead])
                docs, vals = docs[keep], vals[keep]
                norms = None if norms is None else norms[keep]
        uniq, inv = np.unique(docs, return_inverse=True)
        scores = np.zeros(uniq.size)
        np.add.at(scores, inv, vals)  # sequential adds in qidx/gid order
        if norms is not None:
            ld = np.empty(uniq.size)
            ld[inv] = norms  # every occurrence carries the same L_d
            scores = scores / ld
        if per_group or (not allow and dead is not None and not dead.all()):
            over = side[~dead].set_index("doc_id").reindex(uniq)
            scores = scores * over["boost"].fillna(1.0).to_numpy()
            groups = over["group_key"].to_numpy()
        idx = np.lexsort((uniq, -scores))  # score desc, doc_id asc
        if not per_group:
            idx = idx[:k]
        return uniq[idx], scores[idx], None if groups is None else groups[idx]

    def frame(docs, scores, groups) -> pd.DataFrame:
        """The call's output rows from ``score``'s: groups capped, top-k."""
        out = pd.DataFrame({"doc_id": docs, "score": scores})
        if per_group:
            out["group_key"] = groups
            out = out[out.groupby("group_key", sort=False).cumcount() < per_group]
            out = out.head(k)
        return out

    def pruned(cells: pd.DataFrame, side: pd.DataFrame | None, top: list) -> pd.DataFrame:
        """``score`` block by block in (ub desc, block_id) order; ``top``
        is a min-heap of the partition's k best masked scores so far."""
        bound, counts = prune
        blocks = cells["block_id"].to_numpy()
        ids, first = np.unique(blocks, return_index=True)  # the call is block-sorted
        ends = np.r_[first[1:], blocks.size]
        ub = np.add.reduceat(bound(cells), first)
        if side is not None:
            sblocks = side["block_id"].to_numpy()
            lo, hi = np.searchsorted(sblocks, ids), np.searchsorted(sblocks, ids, "right")
        docs, scores = [_EMPTY], [np.empty(0)]
        for j in np.lexsort((ids, -ub)):
            if len(top) >= k and (not k or ub[j] < top[0] - abs(top[0]) * 1e-9):
                break
            bside = None if side is None else side.iloc[lo[j] : hi[j]]
            if allow and bside.empty:
                continue
            d, s, _groups = score(cells.iloc[first[j] : ends[j]], bside)
            docs.append(d)
            scores.append(s)
            for v in s:
                (heapq.heappush if len(top) < k else heapq.heappushpop)(top, v)
        d, s = np.concatenate(docs), np.concatenate(scores)
        idx = np.lexsort((d, -s))[:k]
        decoded = len(docs) - 1
        counts.add((decoded, int(ids.size) - decoded, int(idx.size)))
        return frame(d[idx], s[idx], None)

    def make():
        tops: dict[int, list] = {}  # query_id -> running top-k heap

        def call(cells: pd.DataFrame, side: pd.DataFrame | None, q: int) -> pd.DataFrame:
            if prune is None:
                return frame(*score(cells, side))
            return pruned(cells, side, tops.setdefault(q, []))

        def run(cells: pd.DataFrame, side: pd.DataFrame | None = None) -> pd.DataFrame:
            if "query_id" not in cells:
                return call(cells, side, 0)
            parts = [
                call(c, side, q).assign(query_id=q) for q, c in cells.groupby("query_id")
            ]
            return pd.concat([frame(*score(cells[:0], side)).assign(query_id=0), *parts])

        return run

    return make


def _block_batches(cells: DataFrame, make_worker, schema: str, side=None) -> DataFrame:
    """The one block-execution plan: ``cells`` (with the ``side`` rows
    unioned in, when given) hash-partitioned and sorted by block_id,
    then ONE ``mapInPandas`` whose partitions each make one worker with
    ``make_worker()`` and call it with the rows of whole blocks — one
    call per Arrow batch, not one per block, so the fixed cost of a
    Python call is paid per batch of Spark's own size. A worker's state
    (the pruning thresholds of :func:`_block_worker`) lives for its
    partition only.

    Each batch is prefixed with the block carried over from the batch
    before; every complete block goes to the worker in one call and the
    last block (which may continue in the next batch) is carried on,
    then flushed at the end of the partition. Blocks partition the doc
    space, so all of a doc's rows arrive in the same call.

    With a side, ``worker(cells, side)`` gets the call's cell rows and
    side rows apart, each with only its own columns (side rows are the
    ones with a null ``postings_bin``); without one, ``worker(cells)``.
    In the union, integer columns one side lacks are filled with 0, not
    null, so no integer column — doc ids above 2^53 included — passes
    through float64 on its way into pandas."""
    cell_cols, side_cols = cells.columns, None if side is None else side.columns
    if side is not None:
        fields = [*cells.schema, *side.schema]
        ints = {f.name: f.dataType for f in fields if isinstance(f.dataType, IntegralType)}

        def pad(df):
            missing = [c for c in ints if c not in df.columns]
            return df.withColumns({c: F.lit(0).cast(ints[c]) for c in missing})

        cells = pad(cells).unionByName(pad(side), allowMissingColumns=True)

    def run(batches):
        worker, carry = make_worker(), None

        def call(pdf):  # a closure over ``side`` itself would not pickle
            if side_cols is None:
                return worker(pdf)
            is_side = pdf["postings_bin"].isna().to_numpy()
            return worker(pdf.loc[~is_side, cell_cols], pdf.loc[is_side, side_cols])

        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            blocks = pdf["block_id"].to_numpy()
            if not blocks.size:
                continue
            if (blocks[1:] < blocks[:-1]).any():
                raise RuntimeError("block ids out of order: the block sort was lost")
            cut = int(np.searchsorted(blocks, blocks[-1]))  # the last block's first row
            if cut:
                yield call(pdf[:cut])
            carry = pdf[cut:]
        if carry is not None:
            yield call(carry)

    ordered = cells.repartition("block_id").sortWithinPartitions("block_id")
    return ordered.mapInPandas(run, schema)


def _rank(cells: DataFrame, partials, k, side=None, per_group=None, prune=None):
    """The one ranked-scoring plan: :func:`_block_worker` over ``cells``
    in :func:`_block_batches`, with the mask side's ``(df, allow)`` rows
    when there is one and block-max pruning when ``prune`` is given.
    Output: (doc_id, score) rows, plus query_id when the cells carry it
    (the batch paths) and group_key when ``per_group`` caps groups."""
    schema = ", ".join(
        ["query_id int"] * ("query_id" in cells.columns)
        + ["doc_id long"]
        + ["group_key string"] * bool(per_group)
        + ["score double"]
    )
    df, allow = side or (None, None)
    worker = _block_worker(partials, k, allow, per_group, prune)
    return _block_batches(cells, worker, schema, df)


def _decode_cells(cells: pd.DataFrame, labels=(), positions=False) -> dict[str, np.ndarray]:
    """The one posting-cell decoder of the non-ranked workers: a frame
    of cells (``postings_bin``, plus ``positions_bin`` / ``weights_bin``
    when projected) becomes flat numpy columns, each ``labels`` column
    of ``cells`` (term / slot / gid …) repeated alongside.

    * ``positions=False``: one row per posting — ``doc_id``, ``tf``, the
      labels, and ``weight`` (the doc's L_d) when ``weights_bin`` is
      present.
    * ``positions=True``: one row per occurrence — ``okey = rank·2^33 +
      pos`` and the labels, where ``rank`` indexes ``docs``, the sorted
      distinct doc ids of the call (returned alongside). Ranks are
      < 2^30 (checked) and positions are doc-local and < 2^33, so okey
      fits an int64, sorts by (doc, position), and a key shifted by a
      few positions never aliases into a neighbouring doc's key space.
    """
    decoded = [codec.decode_postings(bytes(b)) for b in cells["postings_bin"]]
    if not positions:
        counts = [d.size for d, _t in decoded]
        out = {
            "doc_id": np.concatenate([_EMPTY, *(d for d, _t in decoded)]),
            "tf": np.concatenate([_EMPTY, *(t for _d, t in decoded)]),
        }
        if "weights_bin" in cells:
            out["weight"] = np.concatenate(
                [np.empty(0)]
                + [np.frombuffer(bytes(w), dtype="<f8") for w in cells["weights_bin"]]
            )
    else:
        docs = np.unique(np.concatenate([_EMPTY, *(d for d, _t in decoded)]))
        if docs.size >= 1 << 30:
            raise ValueError(f"{docs.size} docs in one call: okey needs < 2^30")
        counts = [int(t.sum()) for _d, t in decoded]
        okeys = [
            np.repeat(np.searchsorted(docs, d), t) * np.int64(1 << 33)
            + codec.decode_positions_flat(bytes(p), t)
            for (d, t), p in zip(decoded, cells["positions_bin"])
        ]
        out = {"okey": np.concatenate([_EMPTY, *okeys]), "docs": docs}
    for label in labels:
        out[label] = np.repeat(cells[label].to_numpy(), counts)
    return out


def _block_set_op(n_required: int | None):
    """Block-batch boolean doc-set worker: AND of all ``n_required``
    distinct terms (``utils.py:33-51``) or, when None, OR across
    whatever terms are present (``utils.py:54-92``). A term's postings
    may span several cells (segments concatenate; a call holds several
    blocks), so the AND groups postings by term code, never by cell."""

    def run(pdf: pd.DataFrame) -> pd.DataFrame:
        terms, code = np.unique(pdf["term"].to_numpy(), return_inverse=True)
        c = _decode_cells(pdf.assign(code=code), ("code",))
        if n_required is None:
            out = np.unique(c["doc_id"])
        elif terms.size < n_required:
            out = _EMPTY
        else:
            per_term = (c["doc_id"][c["code"] == i] for i in range(terms.size))
            out = reduce(np.intersect1d, per_term)
        return pd.DataFrame({"doc_id": out})

    return run


def _block_positional(slots, offsets):
    """Block-batch positional matcher: slot i reads the occurrences of
    the cells whose ``slot`` label equals ``slots[i]``, and the docs
    returned are those where, for some tuple in ``offsets``, every slot
    i has an occurrence whose shifted key ``okey - tuple[i]`` is shared
    by all slots (see :func:`_decode_cells` for ``okey``). Each slot's
    keys are n-way ``np.intersect1d``-ed per tuple — fully vectorized,
    no per-doc Python loop.

    * A phrase (reference ``query.py:143-160``: shift slot i's
      positions by -i, intersect) is the single tuple
      ``(0, 1, …, n-1)``.
    * ``a NEAR/k b`` is the tuples ``(0, d)`` for d in
      ``[-k..k] \\ {0}``; ``a NEAR/k a`` needs two DISTINCT positions,
      which the half-window d in ``[1..k]`` gives for free.

    Every tuple starts at offset 0, so a shared key is slot 0's own
    okey and its high bits give the matching doc's rank."""

    def run(pdf):
        c = _decode_cells(pdf, ("slot",), positions=True)
        keys = [c["okey"][c["slot"] == s] for s in slots]
        hits = [
            reduce(np.intersect1d, (k - o for k, o in zip(keys, tup)))
            for tup in offsets
        ]
        ranks = np.unique(np.concatenate([_EMPTY, *hits]) >> 33)
        return pd.DataFrame({"doc_id": c["docs"][ranks]})

    return run


def _block_colloc_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
    """Block-batch adjacent-bigram partial counts from posting
    positions (the decode half of index-backed collocations).

    An adjacent pair (term_a at pos, term_b at pos+1, same doc) is a
    hash-merge of the call's occurrence table against itself on
    ``okey`` vs ``okey - 1`` (:func:`_decode_cells`) — a doc's last
    position + 1 can never alias into the next doc's key space, and
    blocks partition the doc space, so no pair crosses a call.
    Multi-term positions (dehyphenation sub-terms share one position,
    ``normalize.py`` semantics) contribute their cross product, exactly
    the self-join semantics of the positional-dump oracle. Output is
    pre-aggregated per call: (term_a, term_b, cnt).
    """
    c = _decode_cells(pdf, ("term",), positions=True)
    left = pd.DataFrame({"k": c["okey"], "term_a": c["term"]})
    right = pd.DataFrame({"k": c["okey"] - 1, "term_b": c["term"]})
    m = left.merge(right, on="k")
    return m.groupby(["term_a", "term_b"], sort=False).size().reset_index(name="cnt")


def _block_doc_agg(by, aggs):
    """Block-batch doc-side aggregate for the analytics plans (see
    :meth:`TranscriptSearchEngine._doc_agg`): decode the call's cells
    into one row per posting (doc_id, tf, the cells' ``by`` labels),
    inner-join them on doc_id to the call's doc-side rows when there is
    a side (foreground docs, (conv_id, role), bucket —
    tombstone-masked upstream, so the join also drops deleted docs'
    postings), and emit the pandas named aggregations ``aggs`` grouped
    by ``by``. Every aggregate is an integer count or sum, and blocks
    partition the doc space, so the per-call partials sum exactly
    downstream. Only posting DECODE happens here — the corpus text is
    never re-tokenized."""
    empty = pd.DataFrame(columns=[*by, *aggs])

    def run(cells: pd.DataFrame, side: pd.DataFrame | None = None) -> pd.DataFrame:
        if cells.empty or (side is not None and side.empty):
            return empty
        long = pd.DataFrame(_decode_cells(cells, [c for c in by if c in cells]))
        if side is not None:
            long = long.merge(side.drop_duplicates("doc_id"), on="doc_id")
        return long.groupby(list(by), as_index=False, sort=False).agg(**aggs)

    return run


def _block_keywords(n: int, n_docs: float):
    """Block-batch keywords worker: the cells are every posting cell of
    the call's blocks, the side rows are (term, df) for those blocks'
    terms (the slim dictionary join). A doc lives entirely inside its
    block, so its top-n terms by ``(1+ln tf)·ln(1+N/df)`` are COMPLETE
    here — no corpus-wide window. Ranking uses the UNROUNDED score
    (ties on term asc), matching ``simple.keywords``."""
    empty = pd.DataFrame(columns=["doc_id", "term", "tf_idf", "rank"])

    def run(cells: pd.DataFrame, dfs: pd.DataFrame) -> pd.DataFrame:
        df_t = cells["term"].map(dict(zip(dfs["term"], dfs["df"]))).fillna(0)
        found = df_t.to_numpy() > 0
        # wqt per term as a Python float, exactly as the relational twin
        wqt = [log(1.0 + n_docs / float(df)) for df in df_t[found]]
        c = _decode_cells(cells[found].assign(wqt=wqt), ("term", "wqt"))
        if c["doc_id"].size == 0:
            return empty
        docs, terms = c["doc_id"], c["term"].astype(str)
        scores = (1.0 + np.log(c["tf"])) * c["wqt"]
        order = np.lexsort((terms, -scores, docs))
        d_s, s_s, t_s = docs[order], scores[order], terms[order]
        idx = np.arange(d_s.size)
        newdoc = np.r_[True, d_s[1:] != d_s[:-1]]
        start = np.maximum.accumulate(np.where(newdoc, idx, 0))
        rank = (idx - start + 1).astype(np.int32)
        out = pd.DataFrame({"doc_id": d_s, "term": t_s, "tf_idf": s_s, "rank": rank})
        return out[rank <= n]

    return run


class TranscriptSearchEngine:
    #: default byte ceiling above which a table is never persisted —
    #: big enough for every dictionary/kgram table we build locally,
    #: far below any real postings table.
    CACHE_MAX_BYTES = 256 << 20

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        cache: bool = True,
        cache_max_bytes: int | None = None,
    ):
        self.spark = spark
        self.index_dir = index_dir
        self.cache = cache
        self.cache_max_bytes = (
            self.CACHE_MAX_BYTES if cache_max_bytes is None else cache_max_bytes
        )
        meta = fsio.read_json_atomic(spark, fsio.join(index_dir, "_meta.json"))
        from search_engine_spark.build import FORMAT_VERSION

        if meta.get("format_version") != FORMAT_VERSION:
            raise ValueError(
                f"index at {index_dir} has format_version "
                f"{meta.get('format_version')}, this engine needs "
                f"{FORMAT_VERSION} — rebuild the index"
            )
        self._apply_meta(meta)
        self._tables: dict[str, DataFrame] = {}

    def _apply_meta(self, meta: dict) -> None:
        self.num_docs: int = meta["num_docs"]
        self.total_tokens: int = meta["total_tokens"]
        self.block_span: int = meta["block_span"]
        self.term_buckets: int = meta["term_buckets"]
        # the dictionary is a versioned snapshot and compaction rotates
        # the data tables under generation-suffixed names — meta carries
        # the current pointers (flipped atomically by the writers)
        self._terms_name: str = meta["terms_table"]
        self._table_names: dict[str, str] = meta.get("tables", {})
        # logical deletes (Lucene live-docs semantics): every query
        # masks these doc ids; scoring statistics stay pre-delete until
        # compaction purges (see IndexBuilder.delete)
        self._tombstones_name: str | None = meta.get("tombstones_table")
        self.num_deleted: int = meta.get("num_deleted", 0)

    def _load(self, name: str) -> DataFrame:
        """Lazily read an index table, size-gated for caching.

        Tables load on FIRST USE, not at engine open: a ranked/boolean
        session never touches kgrams or doc_stats, so it never pays
        their scan or cache memory. Caching is gated on on-disk bytes
        (``cache_max_bytes``): small dictionaries/kgram tables persist
        (coalesced to 1 partition per 32 MB so query stages schedule a
        handful of tasks), while anything larger — above all
        ``postings`` — is returned as the raw Parquet relation so the
        bucket/term predicates keep reaching the scan as
        PartitionFilters/PushedFilters. A persisted-but-cold
        InMemoryRelation would not push those predicates, so caching a
        100 TB postings table would turn the first query into a
        full-index read; the gate keeps the default config at
        O(query terms) I/O, matching the reference's query-restricted
        load (``diskindex.py:59-80``).
        """
        if name in self._tables:
            return self._tables[name]
        path = fsio.join(self.index_dir, self._table_names.get(name, name))
        df = self.spark.read.parquet(path)
        # postings and docs NEVER persist: queries touch O(query terms)
        # of postings via storage pruning and O(k) of docs — caching
        # either would cost an O(index) scan to fill and lose pushdown.
        if self.cache and name not in ("docs", "postings"):
            nbytes = fsio.tree_bytes(self.spark, path)
            if nbytes <= self.cache_max_bytes:
                limit = int(self.spark.conf.get("spark.sql.shuffle.partitions"))
                parts = max(1, min(limit, nbytes // (32 << 20) + 1))
                df = df.coalesce(int(parts))
                # evict any stale cache entry for the same plan: Spark's
                # CacheManager matches by canonicalized plan (i.e. by
                # PATH), so an engine opened after rebuilding an index at
                # the same path would otherwise be served the PREVIOUS
                # index's rows
                df.unpersist(blocking=False)
                df.persist(StorageLevel.MEMORY_AND_DISK)
        self._tables[name] = df
        return df

    @property
    def postings(self) -> DataFrame:
        return self._load("postings")

    @property
    def terms(self) -> DataFrame:
        return self._load(self._terms_name)

    @property
    def doc_stats(self) -> DataFrame:
        return self._load("doc_stats")

    @property
    def kgrams(self) -> DataFrame:
        return self._load("kgrams")

    @property
    def docs(self) -> DataFrame:
        return self._load("docs")

    @property
    def tombstones(self) -> DataFrame | None:
        """(doc_id, block_id) of logically deleted docs, or None when
        the index has no deletes. Small between compactions (it holds
        DELETES, not docs), so the size gate in :meth:`_load` caches it
        like a dictionary table."""
        if self._tombstones_name is None:
            return None
        return self._load(self._tombstones_name)

    @property
    def num_live(self) -> int:
        """Documents visible to queries (num_docs minus tombstones)."""
        return self.num_docs - self.num_deleted

    def _mask_deleted(self, df: DataFrame) -> DataFrame:
        """Drop tombstoned doc ids from a doc-set result (boolean /
        phrase / NEAR outputs — no top-k involved, so post-filtering is
        exact). Broadcast anti-join while the tombstone set is small;
        past the threshold it falls back to a shuffled anti-join (and
        the right fix is to run compact())."""
        tomb = self.tombstones
        if tomb is None:
            return df
        t = tomb.select("doc_id")
        if self.num_deleted <= 5_000_000:
            t = F.broadcast(t)
        return df.join(t, "doc_id", "left_anti")

    def _local_df(self, rows, schema: str) -> DataFrame:
        """A small driver-built dimension (``rows`` of tuples, DDL
        ``schema``) as an Arrow-backed ``LocalRelation``: broadcasting
        it costs no job, where a list-built frame is a ``LogicalRDD``
        that Spark must run a job to collect first."""
        struct = StructType.fromDDL(schema)
        records = [dict(zip(struct.names, r)) for r in rows]
        table = pa.Table.from_pylist(records, to_arrow_schema(struct))
        return self.spark.createDataFrame(table, struct)

    # ------------------------------------------------------- pruned scans
    def _postings_for_terms(self, terms) -> DataFrame:
        """Postings scan restricted to ``terms`` — the reference's
        query-restricted index load (``diskindex.py:59-80``) as storage
        pruning: ``bucket.isin`` prunes whole directories (partition
        filter, no footer reads), ``term.isin`` is pushed into the
        Parquet scan where row-group min/max on the term-sorted files
        skips everything else. Query I/O is O(query terms), not
        O(index size) — the point of the reference's B-tree dictionary
        (``diskindex.py:203``)."""
        from search_engine_spark.build import term_bucket

        uniq = sorted(set(terms))
        buckets = sorted({term_bucket(t, self.term_buckets) for t in uniq})
        return self.postings.where(
            F.col("bucket").isin(buckets) & F.col("term").isin(uniq)
        )

    def _term_dfs(self, terms) -> dict[str, int]:
        """Document frequencies from the dictionary (``query.py:80``) —
        an isin-pushed scan of the terms table; only matching row
        groups are read."""
        uniq = sorted(set(terms))
        if not uniq:
            return {}
        rows = (
            self.terms.where(F.col("term").isin(uniq))
            .select("term", "df")
            .collect()
        )
        return {r["term"]: r["df"] for r in rows}

    # ------------------------------------------------------------------ build
    @classmethod
    def build(
        cls,
        spark: SparkSession,
        transcripts: DataFrame,
        index_dir: str,
        **builder_kwargs,
    ) -> "TranscriptSearchEngine":
        IndexBuilder(spark, index_dir, **builder_kwargs).build(transcripts)
        return cls(spark, index_dir)

    def append(self, transcripts: DataFrame) -> dict:
        """Incrementally index new transcripts (one new committed chunk,
        O(new docs) — see :meth:`IndexBuilder.append`), then refresh
        this engine's cached tables and corpus statistics."""
        info = IndexBuilder(
            self.spark,
            self.index_dir,
            block_span=self.block_span,
            term_buckets=self.term_buckets,
        ).append(transcripts)
        self._refresh()
        return info

    def delete(self, doc_ids) -> dict:
        """Tombstone-delete docs (list of ids or a DataFrame with a
        ``doc_id`` column — see :meth:`IndexBuilder.delete`). Logical
        and O(deletes): every subsequent query masks the ids, scoring
        statistics stay pre-delete until :meth:`compact` purges
        (Lucene's live-docs discipline)."""
        info = IndexBuilder(
            self.spark,
            self.index_dir,
            block_span=self.block_span,
            term_buckets=self.term_buckets,
        ).delete(doc_ids)
        self._refresh()
        return info

    def delete_duplicates(self, threshold: float = 0.7, **dedup_kwargs) -> dict:
        """The dedup→delete composition: find near-duplicate turns in
        the indexed corpus (MinHash-LSH pairs → connected components →
        one survivor per cluster, ``ops.components.dedup_groups``) and
        tombstone every non-representative. Fully cluster-side — the
        loser set flows into :meth:`delete` as a DataFrame, so nothing
        corpus-sized touches the driver; a later :meth:`compact` purges
        the losers physically. Returns delete()'s summary."""
        from search_engine_spark.ops import components

        losers = (
            components.dedup_groups(
                self.docs, threshold=threshold, **dedup_kwargs
            )
            .where(~F.col("keep"))
            .select("doc_id")
        )
        return self.delete(losers)

    def compact(self) -> dict:
        """Consolidate chunks / vacuum orphans / dedup dictionaries /
        purge tombstones (:meth:`IndexBuilder.compact`), then refresh
        this engine."""
        info = IndexBuilder(
            self.spark,
            self.index_dir,
            block_span=self.block_span,
            term_buckets=self.term_buckets,
        ).compact()
        self._refresh()
        return info

    def _refresh(self) -> None:
        """Drop cached tables and re-read meta (after append/compact)."""
        for df in self._tables.values():
            try:
                df.unpersist()
            except Exception:
                pass
        self._tables.clear()
        self._apply_meta(
            fsio.read_json_atomic(self.spark, fsio.join(self.index_dir, "_meta.json"))
        )

    # ----------------------------------------------------------------- ranked
    def ranked_query_df(
        self, query: str, k: int = DEFAULT_K, where=None
    ) -> DataFrame:
        """Top-k scoring as one DataFrame plan: (doc_id, score).

        ``where`` (Column or SQL string over the docs table's metadata
        columns — role, tool, ts, conv_id …) restricts the ranking to
        matching docs: "top-k among assistant turns", "top-k in this
        time window". See :meth:`_mask_side` for the execution
        shape."""
        return self._score_terms_df(self._ranked_terms(query), k, where=where)

    def ranked_query(
        self,
        query: str,
        k: int = DEFAULT_K,
        pruned: bool = False,
        where=None,
    ) -> list[tuple[int, float]]:
        """Top-k ranked retrieval. ``pruned=True`` adds block-max pruning
        to the same single scoring job (:func:`_block_worker`): it
        decodes only the blocks whose upper bound can still reach the
        top-k and returns exactly the exhaustive result, scores
        bit-identical (``tests/test_wand.py`` asserts it). ``where``
        filters by docs metadata (:meth:`ranked_query_df`), pruned or
        not."""
        with self._pruning(pruned) as counts:
            df = self._score_terms_df(
                self._ranked_terms(query), k, counts=counts, where=where
            )
            return [(r["doc_id"], r["score"]) for r in df.collect()]

    # -------------------------------------------------------- block-max WAND
    def ranked_query_wand(self, query: str, k: int = DEFAULT_K) -> list[tuple[int, float]]:
        """Block-max WAND top-k: :meth:`ranked_query` with ``pruned=True``.

        Postings are stored per (term, doc-range block) with
        ``max_partial`` = max over the block of (1+ln tf)/L_d
        (``build.py::_encode_cells``). Since a doc's terms all
        live in the doc's own block range, the per-block score upper
        bound is

            ub(b) = sum over the query-term cells c of b of wqt_c * max_partial_c

        and the scoring worker skips every block whose ub cannot reach
        its partition's running k-th score (:func:`_block_worker`)."""
        return self.ranked_query(query, k, pruned=True)

    def bm25_query_wand(
        self, query: str, k: int = DEFAULT_K, k1: float = 1.2, b: float = 0.75
    ) -> list[tuple[int, float]]:
        """Block-max WAND BM25, rank-identical to :meth:`bm25_query`:
        :meth:`bm25_query` with ``pruned=True``, per-cell bounds
        ``idf * f(max_tf, min_dl)`` (:func:`_bm25_bound`)."""
        return self.bm25_query(query, k, k1, b, pruned=True)

    @contextmanager
    def _pruning(self, on: bool):
        """Yield the block-count accumulator of one pruned query (None
        when ``on`` is false) and, when the block ends, record its
        totals in ``_last_wand_stats``: blocks — (query, block) pairs on
        the batch path — decoded (``round1_blocks``) and skipped, and
        the rows the scoring calls emitted toward the driver's top-k.
        One accumulator per query, so no two queries share counts."""
        if not on:
            yield None
            return
        counts = self.spark.sparkContext.accumulator((0, 0, 0), _Counts())
        yield counts
        decoded, skipped, rows = counts.value
        # perfbench/run.py reads round1_blocks + round2_blocks as blocks scored
        self._last_wand_stats = {
            "round1_blocks": decoded,
            "round2_blocks": 0,
            "blocks_skipped": skipped,
            "driver_rows": rows,
        }

    def _ranked_terms(self, query: str) -> list[str]:
        """Normalized query term list, wildcards expanded, duplicates kept
        (the reference accumulates per occurrence, ``query.py:73-77``)."""
        out: list[str] = []
        for word in query.split():
            if "*" in word:
                # expanded vocab words are looked up through query_normalize,
                # same as the reference's get_postings (diskindex.py:50)
                out.extend(query_normalize(w) for w in self.wildcard_expand(word.lower()))
            else:
                out.append(query_normalize(word))
        return out

    def _weighted_occurrences(
        self, terms: list[str]
    ) -> list[tuple[str, int, float]]:
        """(term, qidx, wqt) with one row PER QUERY-TERM OCCURRENCE —
        the reference accumulates a repeated term once per occurrence
        (``query.py:73-83``), and float addition is not associative, so
        folding ``m * wqt`` would be up to an ulp off for odd
        multiplicities. qidx preserves the reference's term-at-a-time
        addition order."""
        dfs = self._term_dfs(set(terms))
        return [
            (t, i, float(log(1 + self.num_docs / dfs[t])))
            for i, t in enumerate(terms)
            if dfs.get(t)
        ]

    def _model(self, terms: list[str], bm25=None):
        """(occurrences, then :meth:`_scoring`'s four) of a ranked query
        over ``terms``: tf-idf, or BM25 with ``bm25=(k1, b)``."""
        if bm25 is None:
            return self._weighted_occurrences(terms), *self._scoring()
        return self._bm25_occurrences(terms), *self._scoring(bm25)

    def _scoring(self, bm25=None):
        """(per-posting partials, payload column, per-cell block-max
        bound, the bound's input columns) of tf-idf, or of BM25 with
        ``bm25=(k1, b)``."""
        if bm25 is None:
            return _tfidf_partials, "weights_bin", _tfidf_bound, ("max_partial",)
        # max(): an empty index has no occurrences, so avgdl goes unused
        avgdl = self.total_tokens / max(self.num_docs, 1)
        bound = _bm25_bound(*bm25, avgdl)
        return _bm25_partials(*bm25, avgdl), "doclens_bin", bound, ("max_tf", "min_dl")

    def _cells(self, rows, *columns: str) -> DataFrame:
        """The ranked plans' (block, query-term) cells: the pruned
        postings scan joined to ``rows``, a broadcast dimension of
        (term, [query_id,] qidx, wqt) occurrences, projected to
        block_id, the other occurrence columns, ``postings_bin`` and
        ``columns`` (the partials' payload, plus the bound's inputs
        when pruning).

        Blocks partition the doc space, so each doc's score is COMPLETE
        within its block: one block-sorted ``mapInPandas``
        (:func:`_block_batches`) scores whole blocks in numpy, one call
        per Arrow batch, and emits only each call's top-k. The global
        answer is TakeOrderedAndProject over n_calls*k tiny rows — no
        posting-row explosion, no doc_stats join, and the only shuffle
        moves the (compressed) query-term blocks themselves. The df
        lookup behind ``rows`` is one tiny pruned-scan job (the
        reference's dictionary point lookups, query.py:80), and ``rows``
        itself is an Arrow-built LocalRelation, so broadcasting it runs
        no job; the main job keeps two stages."""
        batch = "query_id int, " * (len(rows[0]) == 4)
        occ = self._local_df(rows, f"term string, {batch}qidx int, wqt double")
        return (
            self._postings_for_terms({r[0] for r in rows})
            .join(F.broadcast(occ), "term")
            .select("block_id", *occ.columns[1:], "postings_bin", *columns)
        )

    def _mask_side(self, where=None, allowed=None, boost=None, group_col=None):
        """The ranked plans' one mask side: ``(df, allow)`` with df rows
        (block_id, doc_id, boost, group_key), unioned into the posting
        cells and block-sorted with them by ``block_id = doc_id DIV
        block_span`` (:func:`_block_batches`) so each worker call sees
        exactly the rows that can touch its docs — or None when nothing
        masks, which keeps the plan free of a union. The kind is fixed
        by the caller's arguments:

        * allow-list (``allow=True``): docs matching ``where`` (Column
          or SQL string over the docs metadata), the explicit doc_id
          candidates ``allowed`` (the phrase must-clause), or every doc
          with its ``group_col`` value (diversity groups). Only these
          docs rank; tombstones are anti-joined out. Candidates restrict
          the RANKING, never the statistics. The docs scan is
          column-pruned to doc_id + the predicate's columns, and the
          predicate is pushed into the Parquet reader (min/max row-group
          skipping — a ``ts`` range on a time-ordered corpus prunes
          storage the way the bucket/term predicates do for postings).
        * deny-list (``allow=False``): tombstoned docs as boost-NULL rows
          (a NULL boost means deleted), plus (doc_id, multiplier) rows
          for docs whose ``boost`` (Column or SQL string) differs from
          1.0 — the ``!= 1.0`` filter keeps the exchanged rows
          O(boosted docs + tombstones), not O(corpus).
        """
        tomb, block = self.tombstones, block_id_col(self.block_span)
        no_group = F.lit(None).cast("string").alias("group_key")
        if where is not None or allowed is not None or group_col is not None:
            if allowed is None:
                pred = F.expr(where) if isinstance(where, str) else where
                allowed = self.docs if where is None else self.docs.where(pred)
            side = allowed.select(
                block,
                "doc_id",
                F.lit(1.0).alias("boost"),
                F.col(group_col).cast("string").alias("group_key")
                if group_col
                else no_group,
            )
            if tomb is not None:
                side = side.join(
                    F.broadcast(tomb.select("doc_id")), "doc_id", "left_anti"
                )
            return side, True
        sides = []
        if boost is not None:
            b = F.expr(boost) if isinstance(boost, str) else boost
            sides.append(
                self.docs.select(
                    block, "doc_id", b.cast("double").alias("boost"), no_group
                ).where(F.col("boost") != 1.0)
            )
        if tomb is not None:
            sides.append(
                tomb.select(
                    "block_id",
                    "doc_id",
                    F.lit(None).cast("double").alias("boost"),
                    no_group,
                )
            )
        return (reduce(DataFrame.unionByName, sides), False) if sides else None

    def _scores(
        self, model, k: int | None, per_group=None, counts=None, **mask
    ) -> DataFrame:
        """Per-call ranked rows of ``model`` (see :func:`_rank`), masked
        by :meth:`_mask_side` called with ``mask``. ``counts`` (from
        :meth:`_pruning`) turns block-max pruning on: the cells then
        also carry the bound's input columns."""
        rows, partials, payload, bound, bound_cols = model
        prune = None if counts is None else (bound, counts)
        cells = self._cells(rows, payload, *(bound_cols if prune else ()))
        return _rank(cells, partials, k, self._mask_side(**mask), per_group, prune)

    def _top_k(self, model, k: int, **mask) -> DataFrame:
        """Global top-k (doc_id, score) over :meth:`_scores`' per-call
        rows — TakeOrderedAndProject over n_calls*k tiny rows."""
        if not model[0]:
            return self._local_df([], RANKED_SCHEMA)
        scored = self._scores(model, k, **mask)
        return scored.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)

    def _score_terms_df(self, terms: list[str], k: int, bm25=None, **mask) -> DataFrame:
        """Top-k (doc_id, score) of ``terms`` under tf-idf or BM25
        (``bm25=(k1, b)``), masked by :meth:`_mask_side` arguments."""
        return self._top_k(self._model(terms, bm25), k, **mask)

    def ranked_query_boosted_df(
        self, query: str, boost, k: int = DEFAULT_K
    ) -> DataFrame:
        """Metadata-boosted top-k: final score = tf-idf score × the
        ``boost`` expression evaluated on the doc's metadata row (role,
        tool, recency … — e.g. ``2.0 where role='assistant'``). The
        BM25F-style field weighting for transcripts, executed as a
        multiply in the block-batch scorer BEFORE top-k truncation (see
        :func:`_block_worker` for why truncation must come after).
        ``boost`` is a Column or SQL string over the docs table; docs
        not matched keep weight 1.0."""
        return self._score_terms_df(self._ranked_terms(query), k, boost=boost)

    def ranked_query_diverse_df(
        self,
        query: str,
        k: int = DEFAULT_K,
        per_group: int = 2,
        group_col: str = "conv_id",
    ) -> DataFrame:
        """Diversified top-k: at most ``per_group`` results from any
        one group (default: conversation). Search-result diversity
        for transcript corpora — a long conversation that matches the
        query everywhere must not monopolize the page.

        Execution: block-batch scoring with the blocks' (doc_id,
        group_key) map unioned in applies the SAME cap per (call,
        group) and a per-call top-k (provably lossless for any union of
        whole blocks — proof in :func:`_block_worker`), then a window
        over the surviving n_calls×k rows re-caps globally and takes
        the final top-k.
        Output: (doc_id, group_key, score)."""
        from pyspark.sql import Window

        model = self._model(self._ranked_terms(query))
        if not model[0]:
            return self._local_df([], "doc_id long, group_key string, score double")
        scored = self._scores(model, k, per_group=per_group, group_col=group_col)
        w = Window.partitionBy("group_key").orderBy(
            F.desc("score"), F.asc("doc_id")
        )
        return (
            scored.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= per_group)
            .drop("rn")
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .limit(k)
        )

    def bm25_query_boosted_df(
        self,
        query: str,
        boost,
        k: int = DEFAULT_K,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Metadata-boosted BM25 top-k — :meth:`ranked_query_boosted_df`
        with BM25 partials (same block-batch plan, same
        multiply-after-normalize-before-truncate discipline; the boost
        rides the accumulated BM25 score)."""
        return self._score_terms_df(
            self._ranked_terms(query), k, (k1, b), boost=boost
        )

    def ranked_query_batch(
        self, queries: list[str], k: int = DEFAULT_K, pruned: bool = False
    ) -> list[list[tuple[int, float]]]:
        """Many ranked queries in ONE Spark job (plus one shared
        dictionary lookup): per-result-set identical to calling
        :meth:`ranked_query` per query. ``pruned=True`` adds block-max
        pruning with one running threshold per query
        (:func:`_block_worker`) — still the same one job, and
        ``_last_wand_stats`` then counts (query, block) pairs.

        Per-query job scheduling dominates small-query latency (~1 s
        per job locally; similar per-job overhead on a real cluster),
        so interactive latency and batch throughput are different
        regimes. Here every (query, term) occurrence becomes a row of
        one broadcast dimension, the postings scan is pruned to the
        UNION of all query terms, scoring runs per query_id within each
        call of whole blocks, and one window takes each query's top-k —
        total cost is one job regardless of batch size.
        """
        per_query = [self._ranked_terms(q) for q in queries]
        dfs = self._term_dfs({t for terms in per_query for t in terms})
        rows = [
            (t, qid, i, float(log(1 + self.num_docs / dfs[t])))
            for qid, terms in enumerate(per_query)
            for i, t in enumerate(terms)
            if dfs.get(t)
        ]
        out: list[list[tuple[int, float]]] = [[] for _ in queries]
        with self._pruning(pruned) as counts:
            if not rows:
                return out
            from pyspark.sql.window import Window

            w = Window.partitionBy("query_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            top = (
                self._batch_scores(rows, k, counts)
                .withColumn("rn", F.row_number().over(w))
                .where(F.col("rn") <= k)
                .orderBy("query_id", "rn")
                .collect()
            )
        for r in top:
            out[r["query_id"]].append((r["doc_id"], r["score"]))
        return out

    def _batch_scores(self, rows, k: int, counts=None) -> DataFrame:
        """(query_id, doc_id, score): each call's per-query top-k for the
        batch occurrences ``rows`` (term, query_id, qidx, wqt) in one
        job, tf-idf scored; ``counts`` prunes as in :meth:`_scores`. A
        block's tombstones apply to EVERY query that scores it."""
        return self._scores((rows, *self._scoring()), k, counts=counts)

    # ------------------------------------------------------------------ BM25
    def bm25_query_df(
        self,
        query: str,
        k: int = DEFAULT_K,
        k1: float = 1.2,
        b: float = 0.75,
        where=None,
    ) -> DataFrame:
        """Okapi BM25 top-k as one DataFrame plan: (doc_id, score).

        idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's non-negative
        variant); length normalization uses the per-posting doc lengths
        stored inside each block, so the plan shape is identical to the
        tf-idf scorer: pruned scan -> per-block numpy scoring ->
        TakeOrderedAndProject. Repeated query terms accumulate per
        occurrence, like ranked_query. ``where`` filters by docs
        metadata (see :meth:`ranked_query_df`).
        """
        return self._score_terms_df(
            self._ranked_terms(query), k, (k1, b), where=where
        )

    def _bm25_occurrences(
        self, terms: list[str]
    ) -> list[tuple[str, int, float]]:
        """(term, qidx, idf) per occurrence — Lucene's non-negative
        idf = ln(1 + (N - df + 0.5)/(df + 0.5))."""
        dfs = self._term_dfs(set(terms))
        return [
            (t, i, float(log(1 + (self.num_docs - dfs[t] + 0.5) / (dfs[t] + 0.5))))
            for i, t in enumerate(terms)
            if dfs.get(t)
        ]

    def bm25_query(
        self,
        query: str,
        k: int = DEFAULT_K,
        k1: float = 1.2,
        b: float = 0.75,
        pruned: bool = False,
        where=None,
    ) -> list[tuple[int, float]]:
        """Top-k BM25. ``pruned=True`` adds block-max pruning, exactly
        as in :meth:`ranked_query` — same result, fewer blocks decoded.
        ``where`` filters by docs metadata, pruned or not."""
        with self._pruning(pruned) as counts:
            df = self._score_terms_df(
                self._ranked_terms(query), k, (k1, b), counts=counts, where=where
            )
            return [(r["doc_id"], r["score"]) for r in df.collect()]

    # ---------------------------------------------------------------- boolean
    def boolean_query(self, query: str) -> list[int]:
        # Arrow toPandas: materializing a large result (a stopword AND
        # can match most of the corpus) as columnar batches is ~10x
        # cheaper than driver-side Row objects from collect()
        df = self.boolean_query_df(query)
        return [int(x) for x in df.toPandas()["doc_id"].to_numpy()]

    def boolean_query_iter(self, query: str, batch_rows: int = 10_000):
        """Streaming cursor over a boolean result (reference
        ``utils.py:95-102``, the SQLite ``fetchmany`` generator): yields
        doc_ids one at a time via ``toLocalIterator`` — partitions are
        fetched on demand, so a corpus-sized result set never
        materializes on the driver."""
        df = self.boolean_query_df(query)
        for row in df.toLocalIterator(prefetchPartitions=True):
            yield int(row["doc_id"])

    def boolean_query_df(self, query: str) -> DataFrame:
        literals = [lit.strip() for lit in query.split("+")]
        literal_dfs = [self._literal_df(lit) for lit in literals]
        literal_dfs = [d for d in literal_dfs if d is not None]
        if not literal_dfs:
            return self._local_df([], "doc_id long")
        hits = reduce(DataFrame.union, literal_dfs).distinct()
        # doc-set results post-filter exactly (no top-k involved)
        return self._mask_deleted(hits).orderBy("doc_id")

    def _literal_df(self, literal: str) -> DataFrame | None:
        """Doc set for one AND literal; None when no conjunct survives."""
        try:
            conjuncts = shlex.split(literal)
        except ValueError:
            conjuncts = [literal]
        parts: list[DataFrame] = []
        single_terms: list[str] = []
        for conjunct in conjuncts:
            words = conjunct.split()
            wildcards = [w for w in words if "*" in w]
            if wildcards:
                # reference parity (query.py:103-113): each wildcard term
                # contributes an OR-of-expansions doc set; EMPTY expansions
                # are silently dropped from the AND; non-wildcard words in
                # the same conjunct are ignored. Every expanded vocab word
                # came from the corpus, so its stem has postings — no
                # emptiness re-check needed.
                for w in wildcards:
                    expansion = self.wildcard_expand(w.lower())
                    if not expansion:
                        continue
                    parts.append(
                        self._doc_set_df([query_normalize(x) for x in expansion])
                    )
                continue
            terms = [query_normalize(w) for w in words]
            if len(terms) > 1:
                parts.append(self._phrase_df(terms))
            elif terms:
                single_terms.append(terms[0])
        if single_terms:
            # ALL single-term conjuncts resolve in ONE decode pass:
            # docs containing every term via count_distinct == n (Q6 as a
            # single aggregation, not a join chain — one shuffle total).
            parts.insert(0, self._doc_set_df(single_terms, len(set(single_terms))))
        if not parts:
            return None
        return reduce(lambda a, b: a.join(b, "doc_id"), parts)

    def _doc_set_df(self, terms: list[str], n_required: int | None = None) -> DataFrame:
        """Docs containing ALL ``n_required`` distinct ``terms`` (per-block
        n-way sorted intersect, ``utils.py:33-51`` at block granularity)
        or, when None, ANY of them (per-block sorted union: single terms
        and wildcard expansions) — block results are disjoint, so their
        union needs no dedup."""
        cells = self._postings_for_terms(terms).select(
            "block_id", "term", "postings_bin"
        )
        return _block_batches(cells, lambda: _block_set_op(n_required), "doc_id long")

    def _positional_df(self, cells: DataFrame, slots, offsets) -> DataFrame:
        """Docs matching the ``offsets`` tuples over slot-labelled
        ``cells`` (block_id, slot, postings_bin, positions_bin):
        :func:`_block_positional` over whole blocks in
        :func:`_block_batches`."""
        return _block_batches(
            cells, lambda: _block_positional(slots, offsets), "doc_id long"
        )

    def _phrase_df(self, terms: list[str]) -> DataFrame:
        """Docs where ``terms`` occur at consecutive positions
        (reference ``query.py:143-160``: shift term i's positions by -i,
        intersect). Slots come from a broadcast (term, slot) dimension:
        each (cell, slot) row is decoded once, so a repeated word fills
        each of its slots."""
        n = len(terms)
        qdf = self._local_df([(t, i) for i, t in enumerate(terms)], "term string, slot int")
        cells = (
            self._postings_for_terms(terms)
            .join(F.broadcast(qdf), "term")
            .select("block_id", "slot", "postings_bin", "positions_bin")
        )
        return self._positional_df(cells, range(n), [tuple(range(n))])

    # ------------------------------------------------------------ autocomplete
    def suggest(self, prefix: str, k: int = 10) -> list[str]:
        """Top-k query completions for a prefix, most-frequent first
        (df desc, term asc) — the search-box autocomplete. A prefix
        scan of the term dictionary: ``startswith`` pushes to the
        Parquet reader as a ``StringStartsWith`` filter, and the
        dictionary files are term-sorted, so row-group min/max stats
        skip everything outside the prefix range — O(prefix range),
        not O(vocabulary), same storage-pruning story as term lookups
        (Q3). The prefix is lowercased/specials-stripped but NOT
        stemmed (stemming a partial word would mangle it); completions
        are dictionary TERMS — stems, the same vocabulary the
        reference's showterms exposes."""
        p = remove_special_characters(prefix.lower())
        if not p:
            return []
        rows = (
            self.terms.where(F.col("term").startswith(p))
            .orderBy(F.desc("df"), F.asc("term"))
            .limit(k)
            .select("term")
            .collect()
        )
        return [r["term"] for r in rows]

    # -------------------------------------------------------------- exclusion
    def boolean_query_not(self, query: str, exclude: str) -> list[int]:
        """Docs matching ``query`` but NOT ``exclude`` (both in the
        reference's boolean grammar) — the AND-NOT the reference's
        grammar lacks, kept as a separate method so its query-string
        parsing stays reference-identical (a ``-`` inside a query word
        is corpus text there, not an operator). Executed as a
        left-anti join of the two doc-set plans: both sides stay
        per-block pruned scans, the anti join is the standard
        distributed set difference, nothing new reaches the driver."""
        inc = self.boolean_query_df(query)
        exc = self.boolean_query_df(exclude)
        df = inc.join(exc, "doc_id", "left_anti").orderBy("doc_id")
        return [int(x) for x in df.toPandas()["doc_id"].to_numpy()]

    # ----------------------------------------------------------------- facets
    def facet_counts(self, query: str, facet_col: str) -> DataFrame:
        """(facet, n_docs): distribution of a boolean query's matches
        over a docs metadata column (role, tool, conv_id, a date bucket
        of ts …) — the facet-sidebar aggregation, served from the same
        per-block doc sets as the boolean query itself. The facet join
        keys on doc_id against the column-pruned docs scan and the
        count is a partial-agg'd groupBy — map-side combinable at any
        corpus size."""
        hits = self.boolean_query_df(query)
        return (
            hits.join(self.docs.select("doc_id", facet_col), "doc_id")
            .groupBy(facet_col)
            .agg(F.count("*").cast("long").alias("n_docs"))
        )

    # ------------------------------------------------- conversation rollup
    def ranked_conversations_df(
        self,
        query: str,
        k: int = DEFAULT_K,
        where=None,
        bm25: bool = False,
        k1: float = 1.2,
        b: float = 0.75,
    ) -> DataFrame:
        """Top-k CONVERSATIONS for a ranked query: (conv_id, score,
        n_hits, best_doc) — score = the conversation's best-scoring
        turn (max-aggregation: order-independent, so results are
        deterministic on any cluster), n_hits = matching turns,
        best_doc = the turn behind the score (ties: smaller doc_id).
        ``where`` restricts to docs matching a metadata predicate (same
        machinery as :meth:`ranked_query_df`); ``bm25=True`` scores
        turns with Okapi BM25 instead of tf-idf.

        The transcript data model makes this the natural result unit —
        users search for the conversation, not the turn. Plan: the
        exhaustive block-batch scorer WITHOUT truncation (a
        conversation's best turn can rank anywhere doc-level, so
        doc-level top-k would be wrong), tombstones/filter masked as
        usual, then ONE partial-agg'd groupBy on conv_id after a join
        against the column-pruned docs scan (doc_id, conv_id): the
        rollup costs one shuffle over O(matching docs) rows. The
        struct-max (score, -doc_id) folds best-score, tie-break and
        best-turn id into a single agg — no window, no second pass."""
        out_schema = "conv_id string, score double, n_hits long, best_doc long"
        model = self._model(self._ranked_terms(query), (k1, b) if bm25 else None)
        if not model[0]:
            return self._local_df([], out_schema)
        scored = self._scores(model, None, where=where)
        keyed = scored.join(self.docs.select("doc_id", "conv_id"), "doc_id")
        best = F.max(F.struct(F.col("score"), (-F.col("doc_id")).alias("neg_id")))
        rolled = (
            keyed.groupBy("conv_id")
            .agg(best.alias("best"), F.count(F.lit(1)).cast("long").alias("n_hits"))
            .select(
                "conv_id",
                F.col("best.score").alias("score"),
                "n_hits",
                (-F.col("best.neg_id")).cast("long").alias("best_doc"),
            )
        )
        return rolled.orderBy(F.desc("score"), F.asc("conv_id")).limit(k)

    def ranked_conversations(
        self, query: str, k: int = DEFAULT_K, **kwargs
    ) -> list[tuple[str, float, int, int]]:
        return [
            (r["conv_id"], r["score"], r["n_hits"], r["best_doc"])
            for r in self.ranked_conversations_df(query, k, **kwargs).collect()
        ]

    # ---------------------------------------------------- more-like-this
    def more_like_this(
        self, doc_id: int, k: int = DEFAULT_K, n_terms: int = 10
    ) -> list[tuple[int, float]]:
        """Similar documents to ``doc_id`` (Lucene's MoreLikeThis):
        the source doc's terms are weighted by the engine's own tf-idf
        ((1+ln tf)·ln(1+N/df) — the :mod:`keywords <ops>` formula), the
        top ``n_terms`` become a ranked query (each term once), and the
        source is excluded from the result.

        Cost shape: one pruned docs point-read (doc_id pushed to the
        range-partitioned scan), the source text analyzed in-process
        (one doc — no job), one pruned dictionary lookup for its
        distinct terms, then the standard exhaustive ranked plan over
        ``n_terms`` terms. The source doc is dropped AFTER scoring
        (fetch k+1, drop, take k) — exact, because exactly one doc is
        excluded. Tombstones mask as usual; a tombstoned source doc is
        still a valid query seed until compaction purges its row."""
        from collections import Counter

        rows = (
            self.docs.where(F.col("doc_id") == int(doc_id))
            .select("text")
            .collect()
        )
        if not rows:
            raise KeyError(f"doc_id {doc_id} not in the index")
        tfs = Counter(t for t, _pos, _raw in analyze(rows[0]["text"]))
        dfs = self._term_dfs(set(tfs))
        weighted = sorted(
            (
                (-(1.0 + log(tf)) * log(1 + self.num_docs / dfs[t]), t)
                for t, tf in tfs.items()
                if dfs.get(t)
            ),
        )[:n_terms]
        terms = [t for _w, t in weighted]
        if not terms:
            return []
        res = [
            (r["doc_id"], r["score"])
            for r in self._score_terms_df(terms, k + 1).collect()
        ]
        return [(d, s) for d, s in res if d != int(doc_id)][:k]

    def prf_query_df(
        self,
        query: str,
        k: int = DEFAULT_K,
        fb_docs: int = 5,
        n_expansion: int = 3,
    ) -> DataFrame:
        """Pseudo-relevance-feedback ranked retrieval ON THE INDEX
        (Rocchio/RM-style two-pass, the scale path of
        :func:`search_engine_spark.simple.prf_ranked`): run the base
        ranked query, take its top ``fb_docs`` results as
        presumed-relevant, pick the ``n_expansion`` terms most
        characteristic of the feedback set (highest feedback df, then
        total feedback tf, then term asc — all-integer keys, so the
        selection is exact), and re-rank with the expanded term set.

        Cost shape — O(query), the corpus is NEVER re-tokenized: one
        standard pruned ranked plan (pass 1), one pruned docs
        point-read of the ``fb_docs`` ids (isin pushdown to the
        range-partitioned scan), the feedback TEXTS analyzed
        in-process (``fb_docs`` rows — no job, the
        :meth:`more_like_this` pattern), then the standard pruned
        ranked plan over ``len(query) + n_expansion`` terms (pass 2).
        """
        from collections import Counter

        base = [
            int(r["doc_id"])
            for r in self.ranked_query_df(query, k=fb_docs).collect()
        ]
        orig = self._ranked_terms(query)
        if not base:
            return self._score_terms_df(orig, k)
        rows = (
            self.docs.where(F.col("doc_id").isin(base))
            .select("text")
            .collect()
        )
        fb_df: Counter = Counter()
        fb_tf: Counter = Counter()
        for r in rows:
            tfs = Counter(t for t, _pos, _raw in analyze(r["text"]))
            for t, c in tfs.items():
                fb_df[t] += 1
                fb_tf[t] += c
        known = set(orig)
        cand = sorted(
            (-df, -fb_tf[t], t)
            for t, df in fb_df.items()
            if t not in known
        )[:n_expansion]
        return self._score_terms_df(orig + [t for _a, _b, t in cand], k)

    def prf_query(
        self,
        query: str,
        k: int = DEFAULT_K,
        fb_docs: int = 5,
        n_expansion: int = 3,
    ) -> list[tuple[int, float]]:
        """List form of :meth:`prf_query_df`."""
        return [
            (int(r["doc_id"]), float(r["score"]))
            for r in self.prf_query_df(query, k, fb_docs, n_expansion).collect()
        ]

    # ------------------------------------------------ index-backed analytics
    def _doc_agg(self, cells: DataFrame, by, aggs, side=None, docs=None) -> DataFrame:
        """The analytics plans' one doc-side aggregate:
        :func:`_block_doc_agg` over ``cells`` (block_id, labels,
        postings_bin) in :func:`_block_batches`, the side's rows unioned
        in when there is one (the ranked mask-side shape) — then the
        integer partials summed per ``by``.

        ``side`` is a ready (block_id, doc_id, …) doc side. ``docs``, a
        projection of the docs table (doc_id + side columns), becomes
        the side restricted to the cells' blocks and tombstone-masked —
        a deleted turn's postings then drop out in the worker's join."""
        if docs is not None:
            blocks = cells.select("block_id").distinct()
            side = self._mask_deleted(
                docs.select("*", block_id_col(self.block_span)).join(
                    F.broadcast(blocks), "block_id", "left_semi"
                )
            )
        types = {
            f.name: f.dataType.simpleString()
            for df in (cells, side)
            if df is not None
            for f in df.schema
        }
        schema = ", ".join([f"{c} {types[c]}" for c in by] + [f"{a} long" for a in aggs])
        parts = _block_batches(cells, lambda: _block_doc_agg(by, aggs), schema, side)
        return parts.groupBy(*by).agg(*(F.sum(a).cast("long").alias(a) for a in aggs))

    def significant_terms_df(
        self, query: str, n: int = 10, min_fg_df: int = 2
    ) -> DataFrame:
        """Significant-terms aggregation ON THE INDEX (the scale path of
        :func:`search_engine_spark.simple.significant_terms`): terms
        unusually frequent in the docs matching ANY query term vs the
        background corpus, scored by JLH ``(fg_rate - bg_rate) *
        (fg_rate / bg_rate)``. Output (term, fg_df, df, score) — top
        ``n`` by unrounded score desc, term asc; query terms excluded,
        ``min_fg_df`` suppresses one-doc noise.

        Cost shape — the corpus is NEVER re-tokenized: the foreground
        doc set comes from the engine's per-block any-term path, fg_df
        from decoding posting cells of ONLY the blocks that contain
        foreground docs (one :meth:`_doc_agg` pass with the foreground
        side unioned in, integer partials), bg df from the terms
        dictionary, N / fg_n folded as literals. At 100 TB a selective
        query touches the few posting blocks its foreground occupies;
        the re-analyze-everything plan of the relational twin is exactly
        what this method exists to avoid.

        Returns a MATERIALIZED frame of at most ``n`` rows (the top-n is
        collected on the driver, then re-wrapped), not a lazy plan."""
        qt = sorted({t for t in self._ranked_terms(query) if t})
        schema = "term string, fg_df long, df long, score double"
        empty = self._local_df([], schema)
        dfs = self._term_dfs(qt)
        present = [t for t in qt if dfs.get(t)]
        if not present:
            return empty
        fg = (
            self._mask_deleted(self._doc_set_df(present))
            .select("doc_id", block_id_col(self.block_span))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            fg_n = fg.count()
            if fg_n == 0:
                return empty
            blocks = fg.select("block_id").distinct()
            cells = self.postings.join(
                F.broadcast(blocks), "block_id", "left_semi"
            ).select("block_id", "term", "postings_bin")
            fgd = (
                self._doc_agg(cells, ("term",), {"fg_df": ("doc_id", "size")}, side=fg)
                .where(~F.col("term").isin(qt))
                .where(F.col("fg_df") >= int(min_fg_df))
            )
            # background df straight from the dictionary snapshot —
            # stats stay corpus-global (pre-delete, the Lucene
            # deleted-docs discipline the tombstone paths follow)
            fg_rate = F.col("fg_df") / F.lit(float(fg_n))
            bg_rate = F.col("df") / F.lit(float(self.num_docs))
            score = (fg_rate - bg_rate) * (fg_rate / bg_rate)
            rows = (
                fgd.join(self.terms.select("term", "df"), "term")
                .select("term", "fg_df", "df", score.alias("_s"))
                .orderBy(F.desc("_s"), F.asc("term"))
                .limit(int(n))
                .select("term", "fg_df", "df", F.round("_s", 6).alias("score"))
                .collect()
            )
        finally:
            fg.unpersist()
        return self._local_df(rows, schema)

    def keywords_df(self, n: int = 5) -> DataFrame:
        """Per-doc top-``n`` terms by tf-idf ON THE INDEX (the scale
        path of :func:`search_engine_spark.simple.keywords`):
        (doc_id, term, tf_idf, rank), ranked by the unrounded
        ``(1+ln tf)·ln(1+N/df)`` with ties on term asc.

        Cost shape: keywords is inherently a full reorganization of the
        index from term-major to doc-major, so ONE shuffle of the
        compressed posting blocks (groupBy block_id) is the floor — but
        text is never re-tokenized and the blobs move varbyte-compressed.
        The dictionary join runs on a metadata-only projection of the
        postings scan (term + block_id columns — Parquet never reads the
        binary columns for that branch), so only slim rows join against
        ``terms``. Per-doc top-n is complete within a block (blocks
        partition the doc space) — no corpus-wide window."""
        # column pruning keeps the slim scan to the term/block_id columns
        dfs_by_block = (
            self.postings.select("block_id", "term")
            .join(self.terms.select("term", "df"), "term")
            .select("block_id", "term", "df")
        )
        n, n_docs = int(n), float(self.num_docs)  # the worker must not close over self
        out = _block_batches(
            self.postings.select("block_id", "term", "postings_bin"),
            lambda: _block_keywords(n, n_docs),
            "doc_id long, term string, tf_idf double, rank int",
            dfs_by_block,
        )
        return self._mask_deleted(out).select(
            "doc_id", "term", F.round("tf_idf", 6).alias("tf_idf"), "rank"
        )

    def ranked_explain_df(self, query: str, k: int = DEFAULT_K) -> DataFrame:
        """Score explanation for the ranked top-``k`` (Lucene
        ``explain()``; the scale path of
        :func:`search_engine_spark.simple.ranked_explain`): one row per
        (top-k doc, query term) with every factor — tf, df,
        ``wqt = ln(1+N/df)``, ``wdt = 1+ln tf``, the doc's L_d
        (``weight``) and ``contrib = wqt·wdt/L_d`` — so a doc's
        contribs sum to its :meth:`ranked_query_df` score. A REPEATED
        query term accumulates once per occurrence on the ranked path
        (reference ``query.py:73-83`` semantics), so its single explain
        row folds the multiplicity into ``contrib`` (wqt/wdt stay the
        per-occurrence factors; the sum invariant holds to the shared
        6-dp rounding).

        Cost shape: the underlying ranked query runs as usual; the
        explain pass then decodes ONLY the query terms' cells in the
        k result docs' blocks (term + block isin pushdown) and masks to
        the k ids — O(k · |terms|) output, no corpus scan, no
        re-tokenize."""
        from collections import Counter

        mult = Counter(t for t in self._ranked_terms(query) if t)
        qt = sorted(mult)
        dfs = self._term_dfs(qt)
        present = [t for t in qt if dfs.get(t)]
        schema = (
            "doc_id long, term string, tf long, df long, wqt double, "
            "wdt double, weight double, contrib double"
        )
        empty = self._local_df([], schema)
        if not present:
            return empty
        top = [
            int(r["doc_id"]) for r in self.ranked_query_df(query, k).collect()
        ]
        if not top:
            return empty
        blocks = sorted({d // self.block_span for d in top})
        allowed = np.array(sorted(top), dtype=np.int64)
        cells = (
            self._postings_for_terms(present)
            .where(F.col("block_id").isin(blocks))
            .select("term", "postings_bin", "weights_bin")
        )

        def extract(batches):
            for pdf in batches:
                c = _decode_cells(pdf, ("term",))
                keep = np.isin(c["doc_id"], allowed)
                yield pd.DataFrame({name: col[keep] for name, col in c.items()})

        ext = cells.mapInPandas(
            extract, "doc_id long, term string, tf long, weight double"
        )
        qdf = self._local_df(
            [(t, int(dfs[t]), int(mult[t])) for t in present],
            "term string, df long, mult long",
        )
        wqt = F.log(F.lit(1.0) + F.lit(float(self.num_docs)) / F.col("df"))
        wdt = F.lit(1.0) + F.log("tf")
        return ext.join(F.broadcast(qdf), "term").select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.round(wqt, 6).alias("wqt"),
            F.round(wdt, 6).alias("wdt"),
            F.round(F.col("weight"), 6).alias("weight"),
            F.round(
                F.col("mult") * wqt * wdt / F.col("weight"), 6
            ).alias("contrib"),
        )

    def phrase_ranked_df(self, query: str, k: int = DEFAULT_K) -> DataFrame:
        """Exact-phrase-constrained ranked retrieval ON THE INDEX
        (Lucene ``PhraseQuery`` as a scored must-clause; the scale path
        of :func:`search_engine_spark.simple.phrase_ranked`): only docs
        containing the terms at consecutive positions qualify, and
        qualifiers rank by the standard tf-idf formula over the
        phrase's terms. Statistics (N, df, L_d) stay corpus-global —
        the phrase restricts the CANDIDATES, exactly the ``where=`` /
        tombstone discipline (masking happens BEFORE the per-call top-k
        truncation, via the same mask side)."""
        terms = [t for t in (query_normalize(w) for w in query.split()) if t]
        # scoring dedupes (the twin's ranked_scores scores each DISTINCT
        # term once — a repeated phrase word must not double its idf
        # contribution); the positional match keeps the ordered
        # duplicate-preserving list, which phrase semantics require
        return self._score_terms_df(
            sorted(set(terms)), k, allowed=self._phrase_df(terms)
        )

    def synonym_ranked_df(
        self, groups: list[list[str]], k: int = DEFAULT_K
    ) -> DataFrame:
        """Synonym-expanded ranked retrieval ON THE INDEX (Lucene
        ``SynonymQuery`` blending; the scale path of
        :func:`search_engine_spark.simple.synonym_ranked`): each group
        of synonymous words scores as ONE pseudo-term — group tf = sum
        of member tfs, group df = docs containing ANY member — so a doc
        is not rewarded for matching several spellings of one concept.

        Two pruned jobs, no corpus re-tokenize: (1) group dfs by
        per-call distinct-doc counts over the members' posting cells
        (:meth:`_doc_agg` with no side; blocks partition docs and a
        call holds whole blocks, so the integer partials sum exactly);
        (2) the standard block-batch scoring plan with group-tf
        blending inside the partials (:func:`_synonym_partials`),
        tombstones masked as usual."""
        mapping: list[tuple[str, int]] = []
        for gi, g in enumerate(groups):
            stems = sorted({query_normalize(w) for w in g if query_normalize(w)})
            mapping.extend((t, gi) for t in stems)
        empty = self._local_df([], RANKED_SCHEMA)
        if not mapping:
            return empty
        qdf = self._local_df(mapping, "term string, gid int")
        gcells = (
            self._postings_for_terms([t for t, _ in mapping])
            .join(F.broadcast(qdf), "term")
            .select("block_id", "gid", "postings_bin")
        )
        gdf_rows = self._doc_agg(
            gcells, ("gid",), {"df": ("doc_id", "nunique")}
        ).collect()
        gdfs = {int(r["gid"]): int(r["df"]) for r in gdf_rows if r["df"]}
        if not gdfs:
            return empty
        rows = [
            (t, gi, float(log(1 + self.num_docs / gdfs[gi])))
            for t, gi in mapping
            if gi in gdfs
        ]
        return self._top_k((rows, _synonym_partials, "weights_bin", None, ()), k)

    def bm25f_conv_df(
        self,
        query: str,
        weights: dict[str, float] | None = None,
        k: int = DEFAULT_K,
        k1: float = 1.5,
        b: float = 0.75,
    ) -> DataFrame:
        """Conversation-level BM25F ON THE INDEX (roles are the fields;
        the scale path of
        :func:`search_engine_spark.simple.bm25f_conv`): per-field
        length-normalized tfs blend BEFORE the single saturation, idf
        over any-field conversation df. Scoring reuses the relational
        twin's fixed-order expression tree
        (:func:`search_engine_spark.simple.bm25f_score_topk`) over
        integer tables, so the float result is identical between the
        two paths by construction.

        Cost shape — no corpus re-tokenize: per-(conv, term, role) tfs
        come from decoding the QUERY-PRUNED posting cells with a
        blocks-restricted, tombstone-masked docs-metadata projection
        unioned in (:meth:`_doc_agg`, the ranked mask-side shape; a
        deleted turn's content must not score its
        conversation, while field lengths stay pre-delete, the
        corpus-stats discipline every query path follows);
        per-(conv, role) field lengths come from ``doc_stats`` (the
        index's own doc_len), one thin join + integer agg."""
        from search_engine_spark.simple import bm25f_score_topk

        weights = weights or {"user": 1.0, "assistant": 2.0, "tool": 0.5}
        roles = sorted(weights)
        words = query.split() if isinstance(query, str) else list(query)
        qstems = sorted({query_normalize(w) for w in words if query_normalize(w)})
        if not qstems:
            # empty / symbol-only query: same guard as the sibling
            # analytics paths (bm25f_score_topk cannot aggregate an
            # empty term list)
            return self._local_df([], "conv_id string, score double")
        cells = self._postings_for_terms(qstems).select(
            "block_id", "term", "postings_bin"
        )
        ctf_long = self._doc_agg(
            cells,
            ("conv_id", "term", "role"),
            {"tf": ("tf", "sum")},
            docs=self.docs.select("doc_id", "conv_id", "role").where(
                F.col("role").isin(roles)
            ),
        )
        clen_long = (
            self.docs.select("doc_id", "conv_id", "role")
            .join(self.doc_stats.select("doc_id", "doc_len"), "doc_id")
            .groupBy("conv_id", "role")
            .agg(F.sum("doc_len").cast("long").alias("flen"))
        )
        return bm25f_score_topk(
            self.spark, ctf_long, clen_long, qstems, roles, weights, k1, b, k
        )

    def regex_vocab_df(self, pattern: str) -> DataFrame:
        """Vocabulary terms matching a regex, with df (Lucene
        ``RegexpQuery`` expansion) — ON THE DICTIONARY snapshot: the
        regex runs |vocab| times over the terms table, never touching
        postings or text. Keep patterns in the Java∩RE2 common subset
        (the :mod:`..ops.pii` discipline) so SQL oracles replicate
        them. Output (word, df)."""
        return self.terms.where(F.col("term").rlike(pattern)).select(
            F.col("term").alias("word"), "df"
        )

    def collocations_df(self, min_count: int = 5, k: int = 20) -> DataFrame:
        """Top-``k`` adjacent-bigram collocations by PMI ON THE INDEX
        (the scale path of
        :func:`search_engine_spark.ops.textstats.collocations`):
        (term_a, term_b, n_pair, pmi) with
        ``pmi = ln(P(ab) / (P(a)·P(b)))``, ``min_count`` suppressing the
        unstable tail, ties on (term_a, term_b) asc — the corpus text is
        never re-tokenized.

        Cost shape: ONE decode pass over the posting blocks
        (:func:`_block_batches`, one Python call per Arrow batch of
        whole blocks — blocks partition the doc space and positions are
        doc-local, so every adjacent pair is block-local) emitting
        pre-aggregated (term_a, term_b) partials;
        one pair-keyed shuffle sums them. Unigram counts and the token
        total come FREE from the terms dictionary (``cf`` = Σtf — the
        occurrence count the positional dump would give), so the only
        corpus-sized work is the varbyte decode. Stats are
        corpus-global (tombstoned docs included until compaction — the
        Lucene deleted-docs discipline the other analytics paths
        follow). The pair table persists across its two consumers
        (the n_pairs total and the final top-k) and is unpersisted
        before returning: the result is a MATERIALIZED frame of at most
        ``k`` collected rows, not a lazy plan."""
        schema = "term_a string, term_b string, n_pair long, pmi double"
        empty = self._local_df([], schema)
        cells = self.postings.select(
            "block_id", "term", "postings_bin", "positions_bin"
        )
        partials = _block_batches(
            cells, lambda: _block_colloc_pairs, "term_a string, term_b string, cnt long"
        )
        pairs = (
            partials.groupBy("term_a", "term_b")
            .agg(F.sum("cnt").cast("long").alias("n_pair"))
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        try:
            total = pairs.select(F.sum("n_pair").alias("t")).first()["t"]
            if not total:
                return empty
            n_pairs = float(total)
            n_tok = float(
                self.terms.select(F.sum("cf").alias("t")).first()["t"] or 0
            )
            uni = self.terms.select("term", "cf")
            pmi = F.log(
                (F.col("n_pair").cast("double") / F.lit(n_pairs))
                / (
                    (F.col("c_a").cast("double") / F.lit(n_tok))
                    * (F.col("c_b").cast("double") / F.lit(n_tok))
                )
            )
            rows = (
                pairs.where(F.col("n_pair") >= int(min_count))
                .join(
                    uni.select(
                        F.col("term").alias("term_a"), F.col("cf").alias("c_a")
                    ),
                    "term_a",
                )
                .join(
                    uni.select(
                        F.col("term").alias("term_b"), F.col("cf").alias("c_b")
                    ),
                    "term_b",
                )
                .select(
                    "term_a", "term_b", "n_pair",
                    F.round(pmi, 6).alias("pmi"),
                )
                # order on the ROUNDED pmi with (term_a, term_b) ties —
                # the textstats twin's ordering, deterministic at the
                # k boundary when unrounded scores differ by < 5e-7
                .orderBy(F.desc("pmi"), F.asc("term_a"), F.asc("term_b"))
                .limit(int(k))
                .collect()
            )
        finally:
            pairs.unpersist()
        return self._local_df(rows, schema)

    def term_trends_df(
        self, terms, bucket_seconds: int = 3600
    ) -> DataFrame:
        """Term-frequency trend over tumbling event-time buckets ON THE
        INDEX (the scale path of
        :func:`search_engine_spark.simple.term_trends`): one row per
        (term, bucket) with ``n_turns`` (live turns containing the
        term) and ``tf_sum`` (total occurrences), ``bucket = floor(
        epoch_seconds / bucket_seconds)`` on exact integer microseconds
        so boundaries match the relational twin bit-for-bit.

        Cost shape — no corpus re-tokenize: tfs come from decoding the
        QUERY-PRUNED posting cells (``_postings_for_terms`` — bucket
        directories + term row groups, I/O O(query terms)); timestamps
        ride a TWO-COLUMN docs-metadata projection (doc_id, bucket —
        the bucket arithmetic runs JVM-side in projection) restricted
        to the matching blocks and tombstone-masked BEFORE it is
        unioned into the :meth:`_doc_agg` input, so deleted turns drop
        out of the trend while the per-call partial aggregation is
        preserved. The only exchanges are the block-keyed shuffle of
        the cells plus O(matching docs) thin rows and one partial-agg'd
        (term, bucket) shuffle whose map-side output is at most
        |terms| x |buckets| rows per call."""
        words = terms.split() if isinstance(terms, str) else list(terms)
        qstems = sorted(
            {query_normalize(w) for w in words if query_normalize(w)}
        )
        schema = "term string, bucket long, n_turns long, tf_sum long"
        if not qstems:
            return self._local_df([], schema)
        cells = self._postings_for_terms(qstems).select(
            "block_id", "term", "postings_bin"
        )
        us = F.unix_micros(F.col("ts").cast("timestamp"))
        b = F.lit(int(bucket_seconds) * 1_000_000)
        bucket = ((us - F.pmod(us, b)) / b).cast("long").alias("bucket")
        return self._doc_agg(
            cells,
            ("term", "bucket"),
            {"n_turns": ("tf", "size"), "tf_sum": ("tf", "sum")},
            docs=self.docs.select("doc_id", bucket),
        )

    # --------------------------------------------------------------- snippets
    def search(
        self,
        query: str,
        k: int = DEFAULT_K,
        window: int = 3,
        where=None,
    ) -> list[tuple[int, float, str]]:
        """Top-k ranked retrieval WITH result snippets: (doc_id, score,
        ±window words around the first query-term hit). The reference
        UI ships each hit's whole document (``searchengine.py:85-96``);
        at transcript scale the excerpt must be computed corpus-side.

        Cost on top of :meth:`ranked_query_df`: one isin-pushed docs
        lookup and one analyzer pass over exactly k rows — the Arrow
        UDF re-derives the stemmed positions for those k texts, which
        stay aligned with the raw whitespace split (the analyzer's
        ``pos`` is the whitespace-word counter), so the snippet window
        is a JVM-side ``slice`` of the original words."""
        from search_engine_spark.functions.udfs import analyze_udf

        stems = sorted(set(self._ranked_terms(query)))
        if not stems:
            return []
        topk = self.ranked_query_df(query, k, where=where)
        stem_arr = F.array(*[F.lit(s) for s in stems])
        tks = analyze_udf(F.col("text"))
        qpos = F.transform(
            F.filter(tks, lambda t: F.array_contains(stem_arr, t["term"])),
            lambda t: t["pos"],
        )
        first = F.array_min(qpos)  # 0-based whitespace-word index
        ws = F.split(F.col("text"), r"\s+")
        start = F.greatest(first + 1 - window, F.lit(1))  # slice is 1-based
        rows = (
            topk.join(self.docs.select("doc_id", "text"), "doc_id")
            .select(
                "doc_id",
                "score",
                F.concat_ws(" ", F.slice(ws, start, 2 * window + 1)).alias(
                    "snippet"
                ),
            )
            .orderBy(F.desc("score"), F.asc("doc_id"))
            .collect()
        )
        return [(r["doc_id"], r["score"], r["snippet"]) for r in rows]

    # -------------------------------------------------------------- proximity
    def near_query_df(
        self, word_a: str, word_b: str, max_dist: int = 3
    ) -> DataFrame:
        """Docs where the two words occur within ``max_dist`` positions
        (``a NEAR/k b``) — an extension beyond the reference's grammar
        that its positional index already pays for (the positions are
        stored for phrase match, ``memoryindex.py:22-49``; NEAR is the
        k>1 generalization of the k=1 adjacency the reference exposes).
        Same pruned-scan + per-block positional worker as
        :meth:`_phrase_df`, with the offset tuples (0, d), d in
        [-k..k] \\ {0} (d in [1..k] when both words are the same); block
        results are disjoint so the union needs no dedup."""
        ta, tb = query_normalize(word_a), query_normalize(word_b)
        # the term is the slot label: ``a NEAR/k a`` reads one decode twice
        cells = self._postings_for_terms([ta, tb]).select(
            "block_id", F.col("term").alias("slot"), "postings_bin", "positions_bin"
        )
        span = range(1, max_dist + 1) if ta == tb else range(-max_dist, max_dist + 1)
        hits = self._positional_df(cells, (ta, tb), [(0, d) for d in span if d])
        return self._mask_deleted(hits).orderBy("doc_id")

    def near_query(
        self, word_a: str, word_b: str, max_dist: int = 3
    ) -> list[int]:
        df = self.near_query_df(word_a, word_b, max_dist)
        return [int(x) for x in df.toPandas()["doc_id"].to_numpy()]

    # --------------------------------------------------------------- wildcard
    def wildcard_expand(self, pattern: str) -> list[str]:
        """Vocab words containing every gram of the wildcard pattern
        (reference ``query.py:125-134`` — NO post-filter against the
        pattern, preserved deliberately)."""
        grams = wildcard_grams(pattern)
        if not grams:
            return []
        rows = (
            self.kgrams.where(F.col("gram").isin(sorted(grams)))
            .groupBy("word")
            .agg(F.count_distinct("gram").alias("ng"))
            .where(F.col("ng") == len(grams))
            .select("word")
            .collect()
        )
        return sorted(r["word"] for r in rows)

    # ------------------------------------------------------------------ fuzzy
    def fuzzy_expand(self, word: str, max_dist: int = 2) -> list[str]:
        """Vocabulary words within ``max_dist`` edits of ``word``,
        candidate-pruned by the k-gram index: only words sharing at
        least one gram of length >= 2 with ``$word$`` are read (the
        length-1 grams are universal — every word's gram set contains
        ``$`` — so they prune nothing and are excluded). One pruned
        kgram scan + a codegen'd ``levenshtein`` filter; the driver
        receives only the surviving words. Complete for query words of
        >= 2*max_dist characters (``max_dist`` edits destroy at most
        ``2*max_dist`` of ``$word$``'s len+1 bigrams); shorter words
        may miss exotic rewrites — the same candidate trade the
        reference's k-gram spell checker makes (``kgram.py:66-91``)."""
        grams = sorted(g for g in kgrams(word) if len(g) >= 2)
        if not grams:
            return []
        rows = (
            self.kgrams.where(F.col("gram").isin(grams))
            .select("word")
            .distinct()
            .withColumn("dist", F.levenshtein(F.lit(word), F.col("word")))
            .where(F.col("dist") <= max_dist)
            .collect()
        )
        return sorted(r["word"] for r in rows)

    def fuzzy_ranked_query_df(
        self, query: str, k: int = DEFAULT_K, max_dist: int = 2
    ) -> DataFrame:
        """Fuzzy ranked retrieval (Lucene FuzzyQuery shape) over the
        index: each query word expands to the vocabulary words within
        ``max_dist`` edits (:meth:`fuzzy_expand` — k-gram-pruned, so
        candidate I/O is O(query grams), not O(vocabulary)); the
        DISTINCT stems of all expansions are scored as a union, each
        with its own idf, through the standard per-block ranked plan."""
        words = {remove_special_characters(w) for w in query.split()}
        cands: set[str] = set()
        for w in sorted(words):
            if w:
                cands.update(self.fuzzy_expand(w, max_dist))
        stems = sorted({query_normalize(w) for w in cands})
        return self._score_terms_df(stems, k)

    # --------------------------------------------------------------- spelling
    def _terms_present(self, words: set[str]) -> set[str]:
        """Subset of ``words`` that exist in the term dictionary — one
        isin-pushed pruned scan (O(query terms) I/O), replacing the
        driver-side whole-vocabulary set a 10^9-term index cannot hold."""
        if not words:
            return set()
        rows = (
            self.terms.where(F.col("term").isin(sorted(words)))
            .select("term")
            .collect()
        )
        return {r["term"] for r in rows}

    def check_spelling(
        self, query: str, vocab: set[str] | None = None, ranked_flag: bool = False
    ) -> str | None:
        """Spell-correct a query (reference ``query.py:35-59``).

        ``vocab=None`` (the scalable default) resolves membership with a
        pruned dictionary scan; passing an explicit set keeps the
        reference's signature for parity tests."""
        if ranked_flag:
            terms = query.split()
        else:
            terms = re.findall(r"\w+", query)
        if vocab is None:
            vocab = self._terms_present(
                {remove_special_characters(t) for t in terms if "*" not in t}
            )
        new_terms = [
            t
            if ("*" in t or remove_special_characters(t) in vocab)
            else self.select_best_spelling(t)
            for t in terms
        ]
        if terms == new_terms:
            return None
        if not all(new_terms):
            return None
        if ranked_flag:
            return " ".join(new_terms)
        for term, new in zip(terms, new_terms):
            if term != new:
                query = query.replace(term, new)
        return query

    def select_best_spelling(self, term: str) -> str | None:
        """Best candidate by (Jaccard > 0.35) -> min edit distance -> max df
        (reference ``query.py:61-67``, ``kgram.py:66-91``).

        df ties pick the alphabetically-FIRST candidate — a documented,
        deterministic divergence from the reference, which keeps the
        first candidate in k-gram-index insertion order (``query.py:67``,
        an artifact of Python dict ordering that a distributed vocab
        does not reproduce). The golden spelling tests pin this.
        """
        candidates = self.find_spelling_candidates(term, JACCARD_THRESHOLD)
        if not candidates:
            return None
        # df of each candidate's stemmed form (reference get_doc_frequency
        # normalizes first, diskindex.py:29)
        stems = {w: query_normalize(w) for w in candidates}
        dfs_by_stem = self._term_dfs(set(stems.values()))
        return max(sorted(candidates), key=lambda w: dfs_by_stem.get(stems[w], 0))

    def find_spelling_candidates(self, qword: str, threshold: float) -> list[str]:
        qgrams = kgrams(qword)
        cand = (
            self.kgrams.where(F.col("gram").isin(sorted(set(qgrams))))
            .groupBy("word", "n_grams")
            .agg(F.count_distinct("gram").alias("n_common"))
            .withColumn(
                "jaccard",
                F.col("n_common")
                / (F.lit(len(qgrams)) + F.col("n_grams") - F.col("n_common")),
            )
            .where(F.col("jaccard") > threshold)
            .withColumn("dist", F.levenshtein(F.lit(qword), F.col("word")))
        )
        rows = cand.select("word", "dist").collect()
        if not rows:
            return []
        min_dist = min(r["dist"] for r in rows)
        return sorted(r["word"] for r in rows if r["dist"] == min_dist)

    # ------------------------------------------------------------------ misc
    def vocab(self) -> list[str]:
        """All index terms, sorted (reference ``diskindex.py:82-88``)."""
        return [r["term"] for r in self.terms.select("term").orderBy("term").collect()]

    def query(self, query: str, ranked_flag: bool = False):
        """Reference-compatible dispatch (``query.py:29-33``)."""
        if ranked_flag:
            return self.ranked_query(query, DEFAULT_K)
        return self.boolean_query(query)
