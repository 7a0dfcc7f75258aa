"""Simple-analyzer relational index primitives (pure JVM expressions).

The full engine (:mod:`.build` / :mod:`.engine`) normalizes with
Porter2 stemming inside Arrow UDFs — bit-faithful to the reference but
not expressible in ANSI SQL, so its parity is proven by the golden
tests against the reference's own corpus/query set (tests/).

This module re-expresses the same *operator semantics* — positional
tf table, doc-length weights (``diskindex.py:302-306``), term-at-a-time
tf-idf ranking (``query.py:69-84``), boolean AND/OR (``query.py:118-122``),
positional phrase match (``query.py:143-160``), k-gram wildcard
expansion (``query.py:125-134``), and Levenshtein spelling candidates
(``kgram.py:66-91``) — over a trivial whitespace analyzer, with **zero
Python in the plan** (whole-stage codegen end to end). That makes every
operator independently checkable by the driver's DuckDB oracle, and it
is also the fastest path when stemming isn't wanted.

Scale: identical shapes to the full engine — one posexplode + groupBy
per build table, broadcast query dims, TakeOrderedAndProject top-k.
"""

from __future__ import annotations

from functools import reduce

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from search_engine_spark.text.kgrams import wildcard_grams


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), r"\s+")


def tokens_with_pos(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(doc_id, pos, term): 0-based whitespace token positions."""
    return docs.select(
        id_col, F.posexplode(_tokens(text_col)).alias("pos", "term")
    )


def tf_table(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """(term, doc_id, tf) — the positional-index aggregate (B1/B2)."""
    return (
        tokens_with_pos(docs, text_col, id_col)
        .groupBy("term", id_col)
        .agg(F.count("*").cast("long").alias("tf"))
    )


def doc_weight_table(tf: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(doc_id, weight, doc_len): L_d = sqrt(sum (1+ln tf)^2) (B3)."""
    return tf.groupBy(id_col).agg(
        F.round(
            F.sqrt(F.sum(F.pow(F.lit(1.0) + F.log("tf"), F.lit(2.0)))), 6
        ).alias("weight"),
        F.sum("tf").cast("long").alias("doc_len"),
    )


def term_stats(tf: DataFrame) -> DataFrame:
    """(term, df, cf) — the dictionary aggregate (B4/B8)."""
    return tf.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf")
    )


def ranked_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
    exclude=None,
) -> DataFrame:
    """Term-at-a-time tf-idf top-k (Q9/Q10): (doc_id, score).

    wqt = ln(1 + N/df), wdt = 1 + ln tf, score = sum(wqt*wdt)/L_d;
    ties break on smaller doc_id (``diskindex.py:98-99``). The plan is
    broadcast(query terms) |><| tf -> partial-agg sum -> join doc
    weights -> TakeOrderedAndProject. Scores rounded to 6 dp for
    engine-portable comparison.

    ``exclude`` (Column predicate over the candidate rows) implements
    tombstone-delete semantics: excluded docs are masked BEFORE the
    top-k, but every statistic that feeds scoring (N, df, L_d) is still
    computed over the FULL corpus — Lucene's deleted-docs discipline,
    mirrored by the disk engine's query-time masking
    (``engine.TranscriptSearchEngine.delete``).
    """
    scored = ranked_scores(docs, query_terms, text_col, id_col)
    if exclude is not None:
        scored = scored.where(~exclude)
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def ranked_scores(
    docs: DataFrame,
    query_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Every matching doc's tf-idf score (the :func:`ranked_topk` plan
    without the final top-k) — the scoring core shared by doc-level
    and group-level ranking."""
    spark = docs.sparkSession
    n_docs = docs.count()
    tf = tf_table(docs, text_col, id_col)
    # UNROUNDED L_d: dividing by doc_weight_table's display-rounded
    # weight injects ~1e-8 relative error, enough to flip the score's
    # own 6-dp rounding against an oracle that divides by the exact
    # weight (observed at sf0.001, doc 127)
    weights = tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.pow(F.lit(1.0) + F.log("tf"), F.lit(2.0)))).alias("weight")
    )
    qdf = spark.createDataFrame([(t,) for t in set(query_terms)], "term string")
    dfs = term_stats(tf).join(F.broadcast(qdf), "term").select("term", "df")
    return (
        tf.join(F.broadcast(dfs), "term")
        .select(
            id_col,
            (
                F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
                * (F.lit(1.0) + F.log("tf"))
            ).alias("partial"),
        )
        .groupBy(id_col)
        .agg(F.sum("partial").alias("acc"))
        .join(weights.select(id_col, "weight"), id_col)
        .select(id_col, F.round(F.col("acc") / F.col("weight"), 6).alias("score"))
    )


def synonym_ranked(
    docs: DataFrame,
    groups: list[list[str]],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Synonym-expanded ranked retrieval with Lucene ``SynonymQuery``
    blending: each group of synonymous terms scores as ONE pseudo-term
    — ``tf_g(doc) = sum`` of member tfs, ``df_g = `` docs containing
    ANY member — so a document is not rewarded for matching several
    spellings of the same concept (the failure mode of naive
    OR-expansion, where "quick fast rapid" triple-counts). Scoring is
    otherwise the engine's Q9 formula: ``score =
    sum_g ln(1+N/df_g)·(1+ln tf_g) / L_d`` with L_d over the FULL
    vocabulary, ties on smaller doc_id, 6-dp rounding.

    Plan shape: the term→group map broadcasts (synonym tables are
    KB-sized); group tf is one partial-agg'd shuffle over only the
    matching postings; group df is a count over that already-grouped
    table (O(matching docs × groups) rows, never the corpus); the
    final accumulate reuses the grouped table. A term listed in two
    groups contributes to both (Lucene allows overlapping
    SynonymQueries); duplicates WITHIN a group are collapsed.
    """
    spark = docs.sparkSession
    n_docs = docs.count()
    tf = tf_table(docs, text_col, id_col)
    weights = tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.pow(F.lit(1.0) + F.log("tf"), F.lit(2.0)))).alias("weight")
    )
    mapping = [(t, gi) for gi, g in enumerate(groups) for t in sorted(set(g))]
    mdf = spark.createDataFrame(mapping, "term string, gid int")
    gtf = (
        tf.join(F.broadcast(mdf), "term")
        .groupBy(id_col, "gid")
        .agg(F.sum("tf").alias("gtf"))
    )
    gdf = gtf.groupBy("gid").agg(F.count(F.lit(1)).cast("long").alias("df"))
    return (
        gtf.join(F.broadcast(gdf), "gid")
        .select(
            id_col,
            (
                F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
                * (F.lit(1.0) + F.log("gtf"))
            ).alias("partial"),
        )
        .groupBy(id_col)
        .agg(F.sum("partial").alias("acc"))
        .join(weights, id_col)
        .select(id_col, F.round(F.col("acc") / F.col("weight"), 6).alias("score"))
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


def bm25f_conv(
    turns: DataFrame,
    query_terms: list[str],
    weights: dict[str, float] | None = None,
    k: int = 10,
    k1: float = 1.5,
    b: float = 0.75,
) -> DataFrame:
    """Conversation-level BM25F (Robertson/Zaragoza): the document is
    the CONVERSATION and its fields are the turn ROLES, so an
    assistant-said match can outweigh the same words in a tool dump.
    Per field f: ``wtf_t += w_f * tf_{t,f} / (1 - b + b *
    len_f/avglen_f)``; per term: ``idf_t * wtf_t / (k1 + wtf_t)``
    (saturation applied ONCE on the blended tf — the point of BM25F
    over naive per-field BM25 summation); idf is the BM25 form
    ``ln(1 + (N - df + .5)/(df + .5))`` with df = conversations
    matching in ANY field. Ties break on conv_id; scores round to 6dp.

    Determinism: per-(conv, term, role) tfs are INTEGER conditional
    aggregates (exact under any aggregation order), and both the
    role-blend and the term-sum are written as FIXED-ORDER expression
    trees over those integers (sorted roles / sorted terms), so the
    float result is bit-identical on any engine evaluating the same
    tree — no aggregation-order wobble. Default weights and b are
    binary fractions for the same reason.

    Scale shape: tokens filter to the query terms immediately after
    the explode (nothing corpus-sized shuffles for tf); field lengths
    are a second conv-keyed partial agg with no explode (``size
    (split())`` per turn); corpus stats (N, df_t, total field lengths)
    fold into the plan as literals — one tiny driver collect of
    ``2 + |terms|`` integers, the same footprint as ``n_docs`` in
    :func:`ranked_scores`.
    """
    weights = weights or {"user": 1.0, "assistant": 2.0, "tool": 0.5}
    roles = sorted(weights)
    qt = sorted(set(query_terms))

    # long-format integer partials; the wide pivot + fixed expression
    # tree live in :func:`bm25f_score_topk`, shared with the
    # index-backed engine path (integer partials are exact under any
    # aggregation, so long-vs-wide construction cannot change scores)
    ctf_long = (
        turns.select(
            "conv_id",
            "role",
            F.explode(_tokens("text")).alias("term"),
        )
        .where(F.col("term").isin(qt))
        .groupBy("conv_id", "term", "role")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    # per-(conv, role) integer field lengths (no explode: size(split))
    clen_long = turns.groupBy("conv_id", "role").agg(
        F.sum(F.size(_tokens("text"))).cast("long").alias("flen")
    )
    return bm25f_score_topk(
        turns.sparkSession, ctf_long, clen_long, qt, roles, weights, k1, b, k
    )


def bm25f_score_topk(
    spark,
    ctf_long: DataFrame,
    clen_long: DataFrame,
    qt: list[str],
    roles: list[str],
    weights: dict[str, float],
    k1: float,
    b: float,
    k: int,
) -> DataFrame:
    """The BM25F scoring core shared by :func:`bm25f_conv` (tokens from
    a whitespace re-tokenize) and
    :meth:`..engine.TranscriptSearchEngine.bm25f_conv_df` (tfs decoded
    from posting cells, lengths from ``doc_stats``). Inputs are
    LONG-format integer tables — ``ctf_long (conv_id, term, role, tf)``
    and ``clen_long (conv_id, role, flen)`` — pivoted here into
    per-(term, role) integer columns and scored through one fixed-order
    expression tree (sorted roles / sorted terms), so the float result
    is bit-identical for any producer of the same integers.

    Returns a MATERIALIZED frame of at most ``k`` (conv_id, score) rows
    — the top-k is collected on the driver so the persisted
    intermediates can be released, then re-wrapped — not a lazy plan."""
    from pyspark import StorageLevel

    if not qt:
        # empty / symbol-only query: agg(*[]) is rejected by Spark, and
        # an empty term list can match nothing anyway
        return _conv_scores_df(spark, [])

    # per-conv integer tf matrix: one column per (term, role)
    tf_cols = [
        F.coalesce(
            F.sum(
                F.when(
                    (F.col("term") == t) & (F.col("role") == r), F.col("tf")
                )
            ),
            F.lit(0),
        )
        .cast("long")
        .alias(f"tf_{ti}_{ri}")
        for ti, t in enumerate(qt)
        for ri, r in enumerate(roles)
    ]
    # ctf and clen each feed BOTH a corpus-stat collect and the final
    # scored join; without a persist the producing scans would run
    # twice. MEMORY_AND_DISK keeps lineage recomputable (executor loss
    # re-derives, unlike a localCheckpoint), and both tables are
    # conv-keyed aggregates — already corpus-reduced before caching.
    ctf = (
        ctf_long.groupBy("conv_id")
        .agg(*tf_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    len_cols = [
        F.coalesce(
            F.sum(F.when(F.col("role") == r, F.col("flen"))), F.lit(0)
        )
        .cast("long")
        .alias(f"len_{ri}")
        for ri, r in enumerate(roles)
    ]
    clen = (
        clen_long.groupBy("conv_id")
        .agg(*len_cols)
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    # corpus scalars, folded as literals (exact integers driver-side)
    totals = clen.agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(f"len_{ri}").alias(f"tot_{ri}") for ri in range(len(roles))],
    ).collect()[0]
    n_convs = int(totals["n"])
    # a field with zero tokens corpus-wide contributes tf = 0 everywhere;
    # pin its avglen to 1.0 so the (irrelevant) denominator stays finite
    avglen = {
        ri: (float(totals[f"tot_{ri}"]) / n_convs) if totals[f"tot_{ri}"] else 1.0
        for ri in range(len(roles))
    }
    # coalesce: when NO conversation matches any query term ctf is empty
    # and bare sums aggregate to NULL — df_t must read as 0, not crash
    dfs = ctf.agg(
        *[
            F.coalesce(
                F.sum(
                    (
                        sum(
                            (F.col(f"tf_{ti}_{ri}") for ri in range(len(roles))),
                            F.lit(0),
                        )
                        > 0
                    ).cast("long")
                ),
                F.lit(0),
            ).alias(f"df_{ti}")
            for ti in range(len(qt))
        ]
    ).collect()[0]

    import math

    scored = ctf.join(clen, "conv_id")
    score = F.lit(0.0)
    for ti in range(len(qt)):
        df_t = int(dfs[f"df_{ti}"])
        idf = math.log(1.0 + (n_convs - df_t + 0.5) / (df_t + 0.5))
        wtf = F.lit(0.0)
        for ri in range(len(roles)):
            denom = (
                F.lit(1.0 - b)
                + F.lit(b) * F.col(f"len_{ri}") / F.lit(avglen[ri])
            )
            wtf = wtf + (
                F.lit(float(weights[roles[ri]]))
                * F.col(f"tf_{ti}_{ri}")
                / denom
            )
        score = score + F.lit(idf) * wtf / (F.lit(float(k1)) + wtf)
    plan = (
        scored.select("conv_id", F.round(score, 6).alias("score"))
        .where(F.col("score") > 0)
        .orderBy(F.desc("score"), F.asc("conv_id"))
        .limit(k)
    )
    # materialize the (tiny, k-row) answer so the persisted intermediates
    # can be released here — otherwise repeated calls accumulate cached
    # tables in executor storage for the application lifetime
    try:
        rows = plan.collect()
    finally:
        ctf.unpersist()
        clen.unpersist()
    return _conv_scores_df(spark, rows)


def _conv_scores_df(spark, rows) -> DataFrame:
    """(conv_id, score) ``rows`` as an Arrow-backed ``LocalRelation``:
    a list-built frame would be a ``LogicalRDD``, which Spark must run
    a job to collect before it can broadcast it."""
    schema = pa.schema([("conv_id", pa.string()), ("score", pa.float64())])
    table = pa.Table.from_pylist([r.asDict() for r in rows], schema)
    return spark.createDataFrame(table)


def term_tf_pairs(terms: list[str], text_col: str = "text") -> Column:
    """``array<struct<term, tf>>`` of per-row term frequencies for a
    query term list — the in-projection HOF core shared by
    :func:`term_trends` and the streaming term-rate feed
    (:mod:`.streaming.trends`): one ``size(filter(tokens, = term))``
    per term, so the row's token array is never exploded."""
    toks = _tokens(text_col)

    def _eq(term: str):
        # NB: a `lambda x, t=t:` default-arg closure would have arity 2,
        # which F.filter dispatches as a (value, index) lambda
        return lambda x: x == F.lit(term)

    return F.array(
        *[
            F.struct(
                F.lit(t).alias("term"),
                F.size(F.filter(toks, _eq(t))).alias("tf"),
            )
            for t in sorted(set(terms))
        ]
    )


def prf_ranked(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    fb_docs: int = 5,
    n_expansion: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Pseudo-relevance-feedback ranked retrieval (Rocchio/RM-style
    two-pass): run the base tf-idf query, take its top ``fb_docs``
    results as presumed-relevant feedback, pick the ``n_expansion``
    terms most characteristic of that feedback set (highest feedback
    document frequency, then total feedback tf, then term asc —
    integer keys, so the selection is exact cross-engine), and re-rank
    with the EXPANDED term set under the standard Q9 formula. Original
    query terms are excluded from expansion candidates.

    Scale shape: pass 1 is the standard :func:`ranked_topk` plan; the
    expansion-term scan tokenizes ONLY the feedback docs (an
    ``isin(fb_ids)`` pushdown BEFORE the analyzer — O(fb_docs) text,
    never the corpus); pass 2 is again the standard plan with a wider
    broadcast term dim. The two driver round-trips carry ``fb_docs``
    ids and ``n_expansion`` strings — query-shaped scalars, the same
    footprint as :meth:`engine.TranscriptSearchEngine.more_like_this`.
    """
    base = ranked_topk(docs, query_terms, fb_docs, text_col, id_col)
    fb_ids = [r[id_col] for r in base.select(id_col).collect()]
    orig = sorted(set(query_terms))
    fb_tf = tf_table(
        docs.where(F.col(id_col).isin(fb_ids)), text_col, id_col
    )
    exp_rows = (
        fb_tf.where(~F.col("term").isin(orig))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).alias("fb_df"),
            F.sum("tf").alias("fb_tf"),
        )
        .orderBy(F.desc("fb_df"), F.desc("fb_tf"), F.asc("term"))
        .limit(n_expansion)
        .collect()
    )
    expanded = orig + [r["term"] for r in exp_rows]
    return ranked_topk(docs, expanded, k, text_col, id_col)


def term_trends(
    turns: DataFrame,
    terms: list[str],
    bucket_seconds: int = 3600,
    text_col: str = "text",
    ts_col: str = "ts",
) -> DataFrame:
    """Term frequency over time — how often each query term appears
    per tumbling event-time bucket, the trend/drift view a corpus owner
    watches ("is 'error' spiking this week?"): one row per (term,
    bucket) with ``n_turns`` (turns containing the term) and ``tf_sum``
    (total occurrences). ``bucket`` is ``floor(epoch_seconds /
    bucket_seconds)`` computed on exact integer microseconds, so
    boundaries are identical cross-engine and across timezones
    (session tz pins the NTZ→LTZ cast, as in :mod:`.ops.sessions`).

    Scale shape: per-turn tf is computed IN PROJECTION — one
    ``size(filter(tokens, = term))`` JVM higher-order function per
    query term, so the corpus-sized token stream is never exploded and
    there is NO pre-aggregation shuffle. The only exchange is the
    final partial-agg'd ``groupBy(term, bucket)``: its map-side input
    is at most ``len(terms)`` rows per turn (zero-tf pairs are dropped
    first) and it combines down to |terms| x |buckets| rows. Query
    term lists are small by construction (they inline as literals).
    """
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    b = F.lit(int(bucket_seconds) * 1_000_000)
    # exact integer bucketing: strip the remainder first so the double
    # division is of an exact multiple (no FP boundary wobble)
    bucket = ((us - F.pmod(us, b)) / b).cast("long")
    return (
        turns.select(
            bucket.alias("bucket"),
            F.explode(term_tf_pairs(terms, text_col)).alias("p"),
        )
        .select("bucket", "p.term", "p.tf")
        .where(F.col("tf") > 0)
        .groupBy("term", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_turns"),
            F.sum("tf").alias("tf_sum"),
        )
    )


def ranked_groups(
    docs: DataFrame,
    query_terms: list[str],
    group_col,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Group-level ranked retrieval: (group, score, n_hits, best_doc).

    Conversation search over transcripts — rank CONVERSATIONS by their
    best-scoring turn (max-aggregation: order-independent, so the
    result is deterministic and oracle-comparable in float; sum-style
    aggregation would depend on float addition order across a
    distributed agg). ``group_col`` is a Column expression over the
    docs table (conv_id, or any derived key). Ties break on the doc-id
    of the best hit via the (score, -doc_id) struct-max, then group
    asc. The plan: score every matching doc (:func:`ranked_scores`),
    one partial-agg'd groupBy on the group key, TakeOrdered k — the
    rollup adds exactly one shuffle over O(matching docs) rows.
    """
    scored = ranked_scores(docs, query_terms, text_col, id_col)
    keyed = scored.join(
        docs.select(F.col(id_col), group_col.alias("grp")), id_col
    )
    # struct-max: (score, -doc_id) picks the best turn, smaller doc_id
    # winning equal scores — one agg pass, no window
    best = F.max(F.struct(F.col("score"), (-F.col(id_col)).alias("neg_id")))
    out = (
        keyed.groupBy("grp")
        .agg(
            best.alias("best"),
            F.count(F.lit(1)).cast("long").alias("n_hits"),
        )
        .select(
            F.col("grp").alias("group_key"),
            F.col("best.score").alias("score"),
            "n_hits",
            (-F.col("best.neg_id")).cast("long").alias("best_doc"),
        )
    )
    return out.orderBy(F.desc("score"), F.asc("group_key")).limit(k)


def more_like_this(
    docs: DataFrame,
    source_id: int,
    k: int = 10,
    n_terms: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Similar-document search: rank docs by the SOURCE doc's most
    characteristic terms (Lucene's MoreLikeThis shape).

    Query construction: the source doc's terms scored by the engine's
    own tf-idf weighting (1+ln tf)·ln(1+N/df) — the same formula as
    :func:`keywords` — top ``n_terms`` kept (ties: term asc, on the
    UNROUNDED weight so cross-system ordering is identical). Retrieval
    is then the standard ranked plan over those terms with each term
    contributing once, the source doc excluded from the result (it
    would trivially rank #1). Stats (N, df, L_d) are full-corpus.
    """
    tf = tf_table(docs, text_col, id_col)
    n_docs = docs.count()
    st = term_stats(tf)
    wqt = F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
    top_terms = (
        tf.where(F.col(id_col) == int(source_id))
        .join(st, "term")
        .select("term", ((F.lit(1.0) + F.log("tf")) * wqt).alias("tw"))
        .orderBy(F.desc("tw"), F.asc("term"))
        .limit(n_terms)
        .select("term")
    )
    weights = tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.pow(F.lit(1.0) + F.log("tf"), F.lit(2.0)))).alias("weight")
    )
    scored = (
        tf.join(st, "term")
        .join(F.broadcast(top_terms), "term", "left_semi")
        .select(id_col, (wqt * (F.lit(1.0) + F.log("tf"))).alias("partial"))
        .groupBy(id_col)
        .agg(F.sum("partial").alias("acc"))
        .join(weights, id_col)
        .select(id_col, F.round(F.col("acc") / F.col("weight"), 6).alias("score"))
        .where(F.col(id_col) != int(source_id))
    )
    return scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k)


def bm25_topk(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Okapi BM25 top-k: (doc_id, score), score rounded to 6 dp.

    idf = ln(1 + (N - df + 0.5)/(df + 0.5)) (Lucene's non-negative
    variant); norm = tf*(k1+1)/(tf + k1*(1 - b + b*dl/avgdl)); ties
    break on smaller doc_id. avgdl is exact (integer token total /
    integer doc count, one double division) so the oracle reproduces
    it bit-identically.
    """
    from pyspark import StorageLevel

    spark = docs.sparkSession
    n_docs = docs.count()
    # the tf table feeds THREE branches (doclen, the df dictionary, the
    # scored join) plus the avgdl scalar collect — persist it so the
    # corpus tokenizes once, not once per branch (the
    # significant_terms pattern)
    tf = tf_table(docs, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        doclen = tf.groupBy(id_col).agg(F.sum("tf").cast("long").alias("dl"))
        total_tokens = doclen.agg(F.sum("dl")).first()[0]
        if n_docs == 0 or total_tokens is None:
            # empty corpus: sum() is NULL and avgdl would divide by
            # zero — return the empty result like the engine's guard
            return spark.createDataFrame([], f"{id_col} long, score double")
        avgdl = float(total_tokens) / float(n_docs)
        qdf = spark.createDataFrame(
            [(t,) for t in set(query_terms)], "term string"
        )
        dfs = term_stats(tf).join(F.broadcast(qdf), "term").select("term", "df")
        scored = (
            tf.join(F.broadcast(dfs), "term")
            .join(doclen, id_col)
            .select(
                id_col,
                (
                    F.log(
                        F.lit(1.0)
                        + (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
                        / (F.col("df") + F.lit(0.5))
                    )
                    * (
                        (F.col("tf") * F.lit(k1 + 1.0))
                        / (
                            F.col("tf")
                            + F.lit(k1)
                            * (
                                F.lit(1.0 - b)
                                + F.lit(b) * F.col("dl") / F.lit(avgdl)
                            )
                        )
                    )
                ).alias("partial"),
            )
            .groupBy(id_col)
            .agg(F.round(F.sum("partial"), 6).alias("score"))
        )
        rows = scored.orderBy(F.desc("score"), F.asc(id_col)).limit(k).collect()
    finally:
        tf.unpersist()
    return spark.createDataFrame(rows, f"{id_col} long, score double")


def keywords(
    docs: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, term, tf_idf, rank): each doc's top-n terms by tf-idf —
    document tagging / topic labeling for corpus curation, using the
    engine's own weighting ((1+ln tf) · ln(1 + N/df), Q9's wdt·wqt).

    One tf aggregation, a term-keyed join against the vocab-sized df
    table, then a per-doc window top-n — ranked by the UNROUNDED score
    (ties on term asc) so the oracle's ordering is bit-identical; the
    emitted score is rounded for comparison. Costs two shuffles of the
    tf stream (the (term, doc) aggregation, then the per-doc window) —
    inherent to ranking within docs from term-keyed statistics; window
    groups are bounded by document length, so no skew concern.
    """
    spark = docs.sparkSession
    n_docs = docs.count()
    tf = tf_table(docs, text_col, id_col)
    stats = term_stats(tf).select("term", "df")
    from pyspark.sql import Window

    score = (F.lit(1.0) + F.log("tf")) * F.log(
        F.lit(1.0) + F.lit(float(n_docs)) / F.col("df")
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("_s"), F.asc("term"))
    return (
        tf.join(stats, "term")
        .select(id_col, "term", score.alias("_s"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .where(F.col("rank") <= n)
        .select(id_col, "term", F.round("_s", 6).alias("tf_idf"), "rank")
    )


def docs_with_all(
    docs: DataFrame, terms: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """AND of single-term conjuncts (Q6): docs containing every term."""
    tok = tokens_with_pos(docs, text_col, id_col)
    qdf = docs.sparkSession.createDataFrame([(t,) for t in set(terms)], "term string")
    return (
        tok.join(F.broadcast(qdf), "term")
        .groupBy(id_col)
        .agg(F.count_distinct("term").alias("nt"))
        .where(F.col("nt") == len(set(terms)))
        .select(id_col)
    )


def docs_with_any(
    docs: DataFrame, terms: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """OR across terms (Q7): docs containing any term, deduped."""
    tok = tokens_with_pos(docs, text_col, id_col)
    qdf = docs.sparkSession.createDataFrame([(t,) for t in set(terms)], "term string")
    return tok.join(F.broadcast(qdf), "term").select(id_col).distinct()


def boolean_or_of_ands(
    docs: DataFrame,
    literals: list[list[str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reference boolean grammar shape (Q1/Q2): OR of AND-literals."""
    parts = [docs_with_all(docs, lit, text_col, id_col) for lit in literals]
    return reduce(DataFrame.union, parts).distinct()


def boolean_and_not(
    docs: DataFrame,
    include_terms: list[str],
    exclude_terms: list[str],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Docs containing ALL include terms and NONE of the exclude terms
    (AND-NOT — the exclusion operator the reference grammar lacks):
    left-anti join of the two doc sets, the distributed set
    difference."""
    inc = docs_with_all(docs, include_terms, text_col, id_col)
    exc = docs_with_any(docs, exclude_terms, text_col, id_col)
    return inc.join(exc, id_col, "left_anti")


def phrase_match(
    docs: DataFrame, phrase_terms: list[str], text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Docs where the terms appear at consecutive positions (Q8).

    The reference's shift-and-intersect (``query.py:150-156``) as a
    positional self-join: term_i at pos p matches term_0 at p-i.
    """
    tok = tokens_with_pos(docs, text_col, id_col)
    spark = docs.sparkSession
    qdf = spark.createDataFrame(
        [(t, i) for i, t in enumerate(phrase_terms)], "term string, slot int"
    )
    hits = tok.join(F.broadcast(qdf), "term").select(
        id_col, (F.col("pos") - F.col("slot")).alias("anchor"), "slot"
    )
    return (
        hits.groupBy(id_col, "anchor")
        .agg(F.count_distinct("slot").alias("ns"))
        .where(F.col("ns") == len(phrase_terms))
        .select(id_col)
        .distinct()
    )


def facet_counts(
    docs: DataFrame,
    terms: list[str],
    facet_col: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(facet, n_docs): how the docs matching an AND query distribute
    over a metadata column (lang, source, role …) — the aggregation a
    search UI's facet sidebar runs next to every result page.

    The match set comes from :func:`docs_with_all` (one scan + one
    aggregation); the facet join is on the doc-id key and the facet
    aggregation is a partial-agg'd groupBy — both map-side combinable,
    nothing driver-bound, at any corpus size.
    """
    matches = docs_with_all(docs, terms, text_col, id_col)
    return (
        matches.join(docs.select(id_col, facet_col), id_col)
        .groupBy(facet_col)
        .agg(F.count("*").cast("long").alias("n_docs"))
    )


def suggest(
    docs: DataFrame,
    prefix: str,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(term, df): top-k prefix completions by document frequency
    (df desc, term asc) — search-box autocomplete over the term
    dictionary."""
    stats = term_stats(tf_table(docs, text_col, id_col))
    return (
        stats.where(F.col("term").startswith(prefix))
        .select("term", "df")
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(k)
    )


def near_match(
    docs: DataFrame,
    term_a: str,
    term_b: str,
    max_dist: int,
    text_col: str = "text",
    id_col: str = "doc_id",
    ordered: bool = False,
) -> DataFrame:
    """Docs where ``term_a`` and ``term_b`` occur within ``max_dist``
    positions of each other (``a NEAR/k b`` — proximity search, the
    positional-index generalization of the phrase operator Q8; the
    reference stores the positions that make this answerable,
    ``memoryindex.py:22-49``, but only exposes the k=1 adjacent case).
    With ``ordered=True`` the match requires ``term_a`` BEFORE
    ``term_b`` (``0 < pos_b - pos_a <= k`` — Lucene's ordered
    SpanNearQuery / "phrase with slop" for the pair case; k=1 ordered
    is exactly the two-word phrase operator).

    One scan, one shuffle: positions of both terms are gathered per doc
    in a single conditional aggregation, then the pair predicate is a
    codegen'd ``exists x exists y |x-y| <= k`` over the two (per-doc,
    hence bounded) position arrays — no positional self-join, no second
    pass over the corpus. ``a NEAR/k a`` means two DISTINCT positions
    within k (the ``pos <> pos`` guard).
    """
    tok = tokens_with_pos(docs, text_col, id_col)
    hits = (
        tok.where(F.col("term").isin([term_a, term_b]))
        .groupBy(id_col)
        .agg(
            F.collect_list(
                F.when(F.col("term") == term_a, F.col("pos"))
            ).alias("pa"),
            F.collect_list(
                F.when(F.col("term") == term_b, F.col("pos"))
            ).alias("pb"),
        )
    )
    if ordered:
        pair_ok = F.exists(
            F.col("pa"),
            lambda x: F.exists(
                F.col("pb"),
                lambda y: (y > x) & (y - x <= F.lit(max_dist)),
            ),
        )
    else:
        pair_ok = F.exists(
            F.col("pa"),
            lambda x: F.exists(
                F.col("pb"),
                lambda y: (F.abs(x - y) <= F.lit(max_dist)) & (x != y),
            ),
        )
    return hits.where(pair_ok).select(id_col)


def phrase_ranked(
    docs: DataFrame,
    phrase_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact-phrase-constrained ranked retrieval — Lucene's
    ``PhraseQuery`` inside a scored must-clause: only docs containing
    the terms at CONSECUTIVE positions qualify (:func:`phrase_match`),
    and qualifiers rank by the standard Q9 tf-idf formula over the
    phrase's terms. Statistics (N, df, L_d) stay corpus-global — the
    phrase restricts the CANDIDATES, not the stats, matching the
    engine's ``where=`` / tombstone discipline.

    Plan: the phrase-match doc set (already bounded by the rarest
    term's postings) left-semi joins the scored table before top-k —
    the same masked-before-truncation shape as ``exclude=`` in
    :func:`ranked_topk`.
    """
    matches = phrase_match(docs, phrase_terms, text_col, id_col)
    scored = ranked_scores(docs, phrase_terms, text_col, id_col)
    return (
        scored.join(matches, id_col, "left_semi")
        .orderBy(F.desc("score"), F.asc(id_col))
        .limit(k)
    )


#: sentinel "no match" position for the snippet window math (larger
#: than any real token index)
_NO_POS = 1 << 40


def snippets(
    docs: DataFrame,
    terms: list[str],
    window: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, snippet): a ±``window``-token excerpt around the FIRST
    occurrence of any query term, for every doc containing one — the
    result-highlighting projection a search UI renders per hit (the
    reference returns whole documents, ``searchengine.py:85-96``; a
    10^12-turn corpus needs the excerpt computed corpus-side, not the
    text shipped).

    Pure per-row expressions (array_position / slice / concat over the
    token array): no shuffle, no UDF, embarrassingly parallel.
    """
    ws = _tokens(text_col)
    pos_cols = [
        F.when(F.array_position(ws, F.lit(t)) == 0, F.lit(_NO_POS)).otherwise(
            F.array_position(ws, F.lit(t))
        )
        for t in terms
    ]
    first = pos_cols[0] if len(pos_cols) == 1 else F.least(*pos_cols)
    start = F.greatest(first - window, F.lit(1))
    return (
        docs.select(
            id_col,
            first.alias("_first"),
            F.concat_ws(" ", F.slice(ws, start, 2 * window + 1)).alias(
                "snippet"
            ),
        )
        .where(F.col("_first") < _NO_POS)
        .select(id_col, "snippet")
    )


def vocab_kgrams(
    docs: DataFrame, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """(word, gram): all 1..k-grams of ``$word$`` per distinct token —
    the k-gram index (B9) as pure JVM ``sequence``+``transform``."""
    vocab = tokens_with_pos(docs, text_col, id_col).select(
        F.col("term").alias("word")
    ).distinct()
    wrapped = F.concat(F.lit("$"), F.col("word"), F.lit("$"))
    grams = F.array_distinct(
        F.flatten(
            F.transform(
                F.sequence(F.lit(1), F.lit(k)),
                lambda n: F.filter(
                    F.transform(
                        F.sequence(F.lit(1), F.length(wrapped)),
                        lambda i: wrapped.substr(i, n),
                    ),
                    lambda g: F.length(g) == n,
                ),
            )
        )
    )
    return vocab.select("word", F.explode(grams).alias("gram"))


def wildcard_vocab(
    docs: DataFrame, pattern: str, k: int = 3, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Vocab words matching a wildcard via k-gram containment (Q11).

    Reference parity: NO post-filter against the pattern — a word
    matches iff it contains every gram of the pattern.
    """
    grams = sorted(wildcard_grams(pattern, k))
    kg = vocab_kgrams(docs, k, text_col, id_col)
    gdf = docs.sparkSession.createDataFrame([(g,) for g in grams], "gram string")
    return (
        kg.join(F.broadcast(gdf), "gram")
        .groupBy("word")
        .agg(F.count_distinct("gram").alias("ng"))
        .where(F.col("ng") == len(grams))
        .select("word")
    )


def significant_terms(
    docs: DataFrame,
    query_terms: list[str],
    n: int = 10,
    min_fg_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Elasticsearch's significant-terms aggregation: terms that are
    UNUSUALLY frequent in the foreground (docs matching ANY query
    term) relative to the background corpus — "what words characterize
    the matching docs", the corpus-analysis sibling of PRF expansion.
    Scored by JLH: ``(fg_rate - bg_rate) * (fg_rate / bg_rate)`` with
    ``fg_rate = fg_df / fg_n`` and ``bg_rate = df / N`` — every factor
    derives from integers through one fixed expression tree, so the
    float score is identical cross-engine. Query terms are excluded;
    ``min_fg_df`` suppresses one-doc noise. Output: (term, fg_df, df,
    score round 6), top ``n`` by (unrounded score desc, term asc).

    Plan shape: the foreground doc set is a semi join of the tf table
    against the matching-doc ids (both sides term-pruned or
    partial-agg'd); fg_df is one groupBy over foreground postings
    only; bg df comes from the corpus dictionary aggregate restricted
    to the foreground's candidate terms (a semi join keeps it
    O(foreground vocabulary), not O(vocabulary)); the corpus scalars
    N and fg_n fold in as literals.
    """
    from pyspark import StorageLevel

    qt = sorted(set(query_terms))
    n_docs = docs.count()
    # the tf table feeds THREE branches of the plan (fg_ids, fg_tf, bgd)
    # plus the fg_n count — without a persist each branch re-tokenizes
    # the corpus (~5 scans per call even at oracle scale)
    tf = tf_table(docs, text_col, id_col).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        fg_ids = (
            tf.where(F.col("term").isin(qt)).select(id_col).distinct()
        )
        fg_tf = tf.join(fg_ids, id_col, "left_semi")
        fg_n = fg_ids.count()
        if fg_n == 0:
            return docs.sparkSession.createDataFrame(
                [], "term string, fg_df long, df long, score double"
            )
        fgd = (
            fg_tf.where(~F.col("term").isin(qt))
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("fg_df"))
            .where(F.col("fg_df") >= min_fg_df)
        )
        # NO broadcast hint on the foreground vocabulary: for a common
        # query term the foreground is nearly the corpus and its vocab
        # is unbounded — let AQE pick the semi-join strategy from the
        # observed size instead of forcing it through the driver
        bgd = (
            tf.join(fgd.select("term"), "term", "left_semi")
            .groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"))
        )
        fg_rate = F.col("fg_df") / F.lit(float(fg_n))
        bg_rate = F.col("df") / F.lit(float(n_docs))
        score = (fg_rate - bg_rate) * (fg_rate / bg_rate)
        rows = (
            fgd.join(bgd, "term")
            .select(
                "term",
                "fg_df",
                "df",
                score.alias("_s"),
            )
            .orderBy(F.desc("_s"), F.asc("term"))
            .limit(n)
            .select("term", "fg_df", "df", F.round("_s", 6).alias("score"))
            .collect()
        )
    finally:
        tf.unpersist()
    return docs.sparkSession.createDataFrame(
        rows, "term string, fg_df long, df long, score double"
    )


def regex_vocab(
    docs: DataFrame,
    pattern: str,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Vocabulary terms matching a regular expression, with df —
    Lucene's RegexpQuery term-expansion step: (word, df). The scan is
    over the DICTIONARY (one row per distinct term), never the corpus
    token stream, so the regex runs |vocab| times regardless of corpus
    size; at the engine level the same expression would prune further
    via a k-gram prefilter exactly as wildcards do (Q11). Keep
    patterns inside the Java∩RE2 common subset (the :mod:`.ops.pii`
    discipline) so SQL oracles replicate them.
    """
    tf = tf_table(docs, text_col, id_col)
    return (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
        .where(F.col("term").rlike(pattern))
        .select(F.col("term").alias("word"), "df")
    )


def ranked_explain(
    docs: DataFrame,
    query_terms: list[str],
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score EXPLANATION for the Q9 ranking — Lucene's ``explain()``:
    one row per (matching doc, query term) with every factor of that
    term's contribution: ``tf``, ``df``, ``wqt = ln(1+N/df)``,
    ``wdt = 1+ln tf``, the doc's length norm ``weight``, and
    ``contrib = wqt*wdt/L_d`` (so a doc's contribs sum to its
    :func:`ranked_topk` score). Indispensable for relevance debugging
    — "why did doc A outrank doc B" decomposes term by term.

    Restricted to the top-``k`` docs of the underlying ranking, so the
    output is k x |terms| rows; the plan is the :func:`ranked_scores`
    core with the per-term rows kept (the partial-sum groupBy removed)
    and a semi join against the top-k set.
    """
    qt = sorted(set(query_terms))
    n_docs = docs.count()
    tf = tf_table(docs, text_col, id_col)
    weights = tf.groupBy(id_col).agg(
        F.sqrt(F.sum(F.pow(F.lit(1.0) + F.log("tf"), F.lit(2.0)))).alias("weight")
    )
    top = ranked_topk(docs, query_terms, k, text_col, id_col).select(id_col)
    dfs = (
        tf.where(F.col("term").isin(qt))
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("df"))
    )
    wqt = F.log(F.lit(1.0) + F.lit(float(n_docs)) / F.col("df"))
    wdt = F.lit(1.0) + F.log("tf")
    return (
        tf.where(F.col("term").isin(qt))
        .join(F.broadcast(dfs), "term")
        .join(F.broadcast(top), id_col, "left_semi")
        .join(weights, id_col)
        .select(
            id_col,
            "term",
            "tf",
            "df",
            F.round(wqt, 6).alias("wqt"),
            F.round(wdt, 6).alias("wdt"),
            F.round(F.col("weight"), 6).alias("weight"),
            F.round(wqt * wdt / F.col("weight"), 6).alias("contrib"),
        )
    )


def spelling_candidates(
    docs: DataFrame,
    qword: str,
    max_dist: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(word, dist, df): vocab words within ``max_dist`` edits (Q14/Q18
    via the built-in codegen'd ``levenshtein``), with doc frequency for
    the reference's best-pick tie-break (Q15)."""
    tf = tf_table(docs, text_col, id_col)
    stats = term_stats(tf)
    return (
        stats.select(F.col("term").alias("word"), "df")
        .withColumn("dist", F.levenshtein(F.col("word"), F.lit(qword)).cast("int"))
        .where(F.col("dist") <= max_dist)
        .select("word", "dist", "df")
    )


def fuzzy_expansions(
    docs: DataFrame,
    words: list[str],
    max_dist: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(word, term, dist): vocabulary terms within ``max_dist`` edits of
    each query word — Lucene FuzzyQuery's expansion step. One codegen'd
    ``levenshtein`` projection over the (vocab-sized, corpus-tiny) term
    dictionary against a broadcast of the query words; the disk
    engine's k-gram index is the sublinear-candidate variant of the
    same semantics (``engine.find_spelling_candidates``)."""
    tf = tf_table(docs, text_col, id_col)
    vocab = term_stats(tf).select("term")
    qdf = docs.sparkSession.createDataFrame(
        [(w,) for w in sorted(set(words))], "word string"
    )
    return (
        vocab.crossJoin(F.broadcast(qdf))
        .withColumn(
            "dist", F.levenshtein(F.col("term"), F.col("word")).cast("int")
        )
        .where(F.col("dist") <= max_dist)
        .select("word", "term", "dist")
    )


def fuzzy_ranked(
    docs: DataFrame,
    words: list[str],
    max_dist: int = 2,
    k: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Fuzzy ranked retrieval: expand each query word to every vocab
    term within ``max_dist`` edits (:func:`fuzzy_expansions`), then
    score the UNION of expansions term-at-a-time — each expansion
    contributes with its own idf, so exact matches (low df inflation)
    and typo variants rank naturally. The expansion list is collected
    to the driver (O(expansions), bounded by the edit-distance ball)
    and folded into the ranked plan as broadcast literals — the
    corpus-sized scoring stays fully distributed."""
    exp = sorted(
        r["term"]
        for r in fuzzy_expansions(docs, words, max_dist, text_col, id_col)
        .select("term")
        .distinct()
        .collect()
    )
    if not exp:
        return docs.sparkSession.createDataFrame(
            [], f"{id_col} long, score double"
        )
    return ranked_topk(docs, exp, k, text_col, id_col)
