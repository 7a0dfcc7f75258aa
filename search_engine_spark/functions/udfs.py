"""Arrow-batched pandas UDFs: text analysis and k-grams.

Per the north_rule, everything in the build/query hot path is a
vectorized pandas UDF over Arrow batches — no row-at-a-time Python UDFs.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

from search_engine_spark.text.kgrams import kgrams
from search_engine_spark.text.normalize import analyze

# Return types are built with DataType constructors (not DDL strings) so
# importing this module never requires an active SparkContext.
ANALYZE_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("term", T.StringType()),
            T.StructField("pos", T.IntegerType()),
            T.StructField("raw", T.StringType()),
        ]
    )
)


@F.pandas_udf(ANALYZE_TYPE)
def analyze_udf(texts: pd.Series) -> pd.Series:
    """Tokenize+normalize (reference ``normalize.py``/``diskindex.py:165-185``)."""
    return texts.map(
        lambda t: [
            {"term": term, "pos": pos, "raw": raw} for term, pos, raw in analyze(t or "")
        ]
    )


ANALYZE_DOC_TYPE = T.StructType(
    [
        T.StructField("terms", T.ArrayType(T.StringType())),
        T.StructField("tfs", T.ArrayType(T.IntegerType())),
        T.StructField("positions", T.ArrayType(T.ArrayType(T.IntegerType()))),
        T.StructField("words", T.ArrayType(T.StringType())),
        T.StructField("weight", T.DoubleType()),
        T.StructField("doc_len", T.IntegerType()),
    ]
)


@F.pandas_udf(ANALYZE_DOC_TYPE)
def analyze_doc_udf(texts: pd.Series) -> pd.DataFrame:
    """Tokenize + normalize + per-doc aggregate, all map-side.

    Emits, per document: aligned (terms, tfs, sorted position lists)
    arrays, the distinct unstemmed vocabulary words, and the reference's
    doc weight L_d = sqrt(sum (1+ln tf)^2) accumulated in
    term-first-occurrence order (``memoryindex.py:22-51``,
    ``diskindex.py:162-186,302-306``).

    Doing the per-doc aggregation inside the Arrow batch means the index
    build shuffles one row per (doc, term) instead of one per token
    occurrence — at transcript scale that deletes the largest shuffle
    (every token) plus the doc-weight aggregation and the tf-weight join
    that a naive groupBy pipeline needs. The struct-of-arrays layout
    (not array-of-structs) keeps the Arrow conversion to a few list
    columns instead of millions of tiny structs.
    """
    from math import log, sqrt

    terms_col, tfs_col, pos_col, words_col, weights, lens = [], [], [], [], [], []
    for t in texts:
        toks = analyze(t or "")
        acc: dict[str, list[int]] = {}
        words: set[str] = set()
        for term, pos, raw in toks:
            acc.setdefault(term, []).append(pos)
            words.add(raw)
        weight = 0.0
        tfs = []
        for positions in acc.values():
            tf = len(positions)
            w = 1.0 + log(tf)
            weight += w * w
            tfs.append(tf)
        terms_col.append(list(acc.keys()))
        tfs_col.append(tfs)
        pos_col.append(list(acc.values()))
        words_col.append(sorted(words))
        weights.append(sqrt(weight))
        lens.append(len(toks))
    return pd.DataFrame(
        {
            "terms": terms_col,
            "tfs": tfs_col,
            "positions": pos_col,
            "words": words_col,
            "weight": weights,
            "doc_len": lens,
        }
    )


@F.pandas_udf(T.ArrayType(T.StringType()))
def kgrams_udf(words: pd.Series) -> pd.Series:
    """All 1..3-grams of ``$word$`` (reference ``kgram.py:18-25``)."""
    return words.map(lambda w: sorted(kgrams(w)))
