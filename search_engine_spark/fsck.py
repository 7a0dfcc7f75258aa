"""Distributed index integrity verification (fsck).

At 10^12-turn scale an index is built by thousands of tasks over days and
then survives crash-resumed chunk appends, logical deletes, purges and
compactions — each a separate writer. Operators need a way to PROVE the
on-disk structure is still self-consistent without trusting any single
writer, the way a filesystem fsck re-derives its invariants from the raw
blocks. This module re-checks every structural invariant the query paths
rely on, entirely cluster-side — the driver only ever sees per-check
counters:

* **cell-level** (one ``mapInPandas`` decode pass over postings — runs
  where the data lives, no blob ever shuffles):
  varbyte blobs decode and their lengths agree (``df_block`` postings,
  8-byte weights, ``sum_tf`` positions, ``df_block`` doclens); doc ids
  strictly increase and stay inside the block's
  ``[block_id*span, (block_id+1)*span)`` range; the redundant metadata
  columns (``df_block``/``first_doc_id``/``last_doc_id``/``max_tf``/
  ``min_dl``/``sum_tf``) match the decoded truth; per-doc positions are
  non-decreasing; and ``max_partial`` equals the recomputed block-max
  WAND bound ``max((1+ln tf)/L_d)`` EXACTLY (every cell — built,
  merged or purged — is written by ``build.py::_encode_cells`` with the
  identical numpy expression, so any drift is corruption; an
  understated bound would make the pruned path silently LOSE results).
  The recomputation here stays independent of that writer.
* **dictionary-level** (slim metadata aggregation — Parquet never reads
  the binary columns for this branch): per-term ``sum(df_block)`` ==
  ``terms.df`` and ``sum(sum_tf)`` == ``terms.cf``, with terms missing
  from either side counted as violations.
* **corpus-level**: ``doc_stats`` ids unique and ``count == num_docs``;
  ``sum(doc_len) == meta.total_tokens``; global
  ``sum(df_block) == sum(n_terms)`` (every distinct (term, doc) pair is
  exactly one posting); tombstone ids in ``[0, next_doc_id)`` with
  ``distinct count == num_deleted``.
* **kgram-level**: distinct k-gram words == vocab words (symmetric
  difference), and each word's distinct-gram count matches its
  ``n_grams`` (append may duplicate (gram, word) rows until compaction
  dedups — counted distinct, so that documented state stays clean).
* **layout-level** (driver, metadata listing only): committed manifest
  chunk ids == on-disk ``chunk=`` directories of postings/doc_stats.
* **deep** (``deep=True``): one block-keyed cogroup of the postings
  with a two-column ``doc_stats`` projection (the analytics paths'
  shape, but over ALL blocks — compaction's cost class, for scheduled
  maintenance): every inline weight byte-equals ``doc_stats.weight``,
  every inline doclen equals ``doc_stats.doc_len``, every posting's
  doc exists in ``doc_stats``, and per doc
  ``sum((1+ln tf)^2)`` over all its cells in the block equals
  ``weight^2`` (rel 1e-9) — the L_d invariant end-to-end.

Usage::

    from search_engine_spark.fsck import fsck_index
    report = fsck_index(spark, index_dir)          # DataFrame
    bad = report.where("violations > 0").collect()

or the CLI (same shape as the other cluster entry points)::

    spark-submit --py-files "$PYFILES" tools/fsck_index.py --index-dir ...

Each report row is ``(check string, checked long, violations long)``;
a healthy index has ``violations == 0`` on every row. The reference has
no comparable tool (its single-writer files are assumed intact,
``diskindex.py``); at cluster scale the assumption doesn't survive
contact with object stores and preempted executors.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from search_engine_spark import fsio
from search_engine_spark.functions import codec

REPORT_SCHEMA = "check string, checked long, violations long"

#: cell-pass check names, in report order
_CELL_CHECKS = (
    "cell_decode",
    "cell_docid_order",
    "cell_block_range",
    "cell_meta_stats",
    "cell_positions",
    "cell_wand_bound",
)


def _check_cell(row, block_span: int, counts: dict) -> None:
    """Validate one posting cell, incrementing ``counts`` per failed
    check (at most 1 per check per cell)."""
    try:
        d, t = codec.decode_postings(bytes(row.postings_bin))
        w = np.frombuffer(bytes(row.weights_bin), dtype="<f8")
        dl = codec.vb_decode(bytes(row.doclens_bin))
        n = int(d.size)
        if not (
            n == int(row.df_block)
            and w.size == n
            and dl.size == n
            and t.size == n
        ):
            counts["cell_decode"] += 1
            return  # aligned arrays are the precondition for the rest
    except Exception:
        counts["cell_decode"] += 1
        return
    if n == 0:
        # empty cells never get written (purge drops them)
        counts["cell_decode"] += 1
        return
    tf = t.astype(np.int64)
    if not (np.diff(d) > 0).all():
        counts["cell_docid_order"] += 1
    base = int(row.block_id) * block_span
    if not (int(d[0]) >= base and int(d[-1]) < base + block_span):
        counts["cell_block_range"] += 1
    if not (
        int(row.first_doc_id) == int(d[0])
        and int(row.last_doc_id) == int(d[-1])
        and int(row.max_tf) == int(tf.max())
        and int(row.sum_tf) == int(tf.sum())
        and int(row.min_dl) == int(dl.min())
    ):
        counts["cell_meta_stats"] += 1
    try:
        flat = codec.decode_positions_flat(bytes(row.positions_bin), tf)
        if flat.size != int(tf.sum()):
            counts["cell_positions"] += 1
        else:
            # per-doc non-decreasing: every in-doc delta >= 0 (doc
            # starts restart the chain, so mask them out)
            starts = np.zeros(flat.size, dtype=bool)
            starts[np.concatenate(([0], np.cumsum(tf)[:-1]))] = True
            deltas_ok = (np.diff(flat) >= 0) | starts[1:]
            if not deltas_ok.all() or (flat < 0).any():
                counts["cell_positions"] += 1
    except Exception:
        counts["cell_positions"] += 1
    if float(row.max_partial) != float(np.max((1.0 + np.log(tf)) / w)):
        counts["cell_wand_bound"] += 1


def _cell_pass(block_span: int):
    """``mapInPandas`` worker: per-batch (check, checked, violations)
    counters — blobs are decoded in place and never leave the scan
    partition."""

    def run(batches):
        checked = 0
        counts = {name: 0 for name in _CELL_CHECKS}
        for pdf in batches:
            checked += len(pdf)
            for row in pdf.itertuples(index=False):
                _check_cell(row, block_span, counts)
        yield pd.DataFrame(
            {
                "check": list(_CELL_CHECKS),
                "checked": [checked] * len(_CELL_CHECKS),
                "violations": [counts[c] for c in _CELL_CHECKS],
            }
        )

    return run


def _deep_pass():
    """``cogroup().applyInPandas`` worker for the deep per-block check:
    left = the block's posting cells, right = the block's
    (doc_id, weight, doc_len) stats rows."""

    def run(cells: pd.DataFrame, stats: pd.DataFrame) -> pd.DataFrame:
        names = ["deep_weights", "deep_doclens", "deep_l2norm"]

        def report(checked, checked_l2, vw, vd, vl):
            return pd.DataFrame(
                {
                    "check": names,
                    "checked": [checked, checked, checked_l2],
                    "violations": [vw, vd, vl],
                }
            )

        parts = []
        for row in cells.itertuples(index=False):
            try:
                d, t = codec.decode_postings(bytes(row.postings_bin))
                w = np.frombuffer(bytes(row.weights_bin), dtype="<f8")
                dl = codec.vb_decode(bytes(row.doclens_bin))
                if not (d.size == t.size == w.size == dl.size):
                    continue  # cell_decode's problem, not deep's
            except Exception:
                continue
            parts.append(
                pd.DataFrame(
                    {
                        "doc_id": d,
                        "tf": t.astype(np.int64),
                        "w": w,
                        "dl": dl.astype(np.int64),
                    }
                )
            )
        if not parts:
            return report(0, 0, 0, 0, 0)
        post = pd.concat(parts, ignore_index=True)
        m = post.merge(
            stats[["doc_id", "weight", "doc_len"]], on="doc_id", how="left"
        )
        missing = m["weight"].isna()
        vw = int((missing | (m["w"] != m["weight"])).sum())
        vd = int((missing | (m["dl"] != m["doc_len"])).sum())
        m["sq"] = (1.0 + np.log(m["tf"].to_numpy(dtype=np.float64))) ** 2
        g = (
            m[~missing]
            .groupby("doc_id", as_index=False)
            .agg(sq=("sq", "sum"), weight=("weight", "first"))
        )
        wsq = g["weight"].to_numpy() ** 2
        vl = int(
            (np.abs(g["sq"].to_numpy() - wsq) > 1e-9 * np.maximum(1.0, wsq)).sum()
        )
        return report(len(post), len(g), vw, vd, vl)

    return run


def _chunk_dirs(spark: SparkSession, path: str) -> set[int]:
    return {
        int(name.split("=", 1)[1])
        for name in fsio.listdir(spark, path)
        if name.startswith("chunk=")
    }


def fsck_index(
    spark: SparkSession, index_dir: str, deep: bool = False
) -> DataFrame:
    """Verify the structural invariants of the index at ``index_dir``.

    Returns a small report DataFrame ``(check, checked, violations)``;
    every ``violations`` is 0 on a healthy index, whatever its history
    of appends, deletes, purges and compactions. ``deep=True`` adds the
    block-cogrouped weight/doclen/L2-norm cross-check against
    ``doc_stats`` (one full co-shuffle — compaction's cost class).
    """
    from search_engine_spark.engine import TranscriptSearchEngine, block_id_col

    eng = TranscriptSearchEngine(spark, index_dir, cache=False)
    rows: list[tuple[str, int, int]] = []

    # ---- layout: manifests vs on-disk chunk directories (driver-only)
    manifest_dir = fsio.join(index_dir, eng._table_names.get("manifest", "manifest"))
    manifests = {
        int(name[len("chunk_"):-len(".json")])
        for name in fsio.listdir(spark, manifest_dir)
        if name.startswith("chunk_") and name.endswith(".json")
    }
    post_path = fsio.join(index_dir, eng._table_names.get("postings", "postings"))
    stats_path = fsio.join(index_dir, eng._table_names.get("doc_stats", "doc_stats"))
    mismatch = len(manifests ^ _chunk_dirs(spark, post_path)) + len(
        manifests ^ _chunk_dirs(spark, stats_path)
    )
    rows.append(("manifest_chunks", len(manifests), mismatch))

    # ---- corpus level: doc_stats identity + token totals
    agg = eng.doc_stats.agg(
        F.count("*").alias("n"),
        F.count_distinct("doc_id").alias("nd"),
        F.min("doc_id").alias("mn"),
        F.sum("doc_len").alias("tok"),
        F.sum("n_terms").alias("nt"),
    ).first()
    id_viol = int(agg["n"] != eng.num_docs) + int(agg["nd"] != agg["n"]) + int(
        (agg["mn"] or 0) < 0
    )
    rows.append(("doc_ids_unique", int(agg["n"]), id_viol))
    rows.append(
        ("total_tokens", int(agg["n"]), int(int(agg["tok"] or 0) != eng.total_tokens))
    )

    # ---- dictionary level: slim postings metadata vs the terms snapshot.
    # Fresh relation so column pruning provably keeps the binaries unread.
    slim = spark.read.parquet(post_path).select("term", "df_block", "sum_tf")
    post_terms = slim.groupBy("term").agg(
        F.sum("df_block").cast("long").alias("p_df"),
        F.sum("sum_tf").cast("long").alias("p_cf"),
    )
    joined = post_terms.join(
        eng.terms.select("term", "df", "cf"), "term", "full_outer"
    )
    dict_agg = joined.agg(
        F.count("*").alias("n"),
        F.sum(
            (
                F.col("p_df").isNull()
                | F.col("df").isNull()
                | (F.col("p_df") != F.col("df"))
                | (F.col("p_cf") != F.col("cf"))
            ).cast("long")
        ).alias("bad"),
        F.sum("p_df").alias("total_df"),
    ).first()
    rows.append(("dictionary_df_cf", int(dict_agg["n"]), int(dict_agg["bad"] or 0)))
    # every distinct (term, doc) pair is exactly one posting
    rows.append(
        (
            "postings_vs_n_terms",
            int(agg["n"]),
            int(int(dict_agg["total_df"] or 0) != int(agg["nt"] or 0)),
        )
    )

    # ---- tombstones: logical deletes must point at docs that are
    # still IN doc_stats (stats stay pre-delete until compaction purges,
    # and compaction clears the tombstone table — so a dangling
    # tombstone is always corruption)
    tomb = eng.tombstones
    if tomb is not None:
        nd = tomb.select("doc_id").distinct().count()
        dangling = (
            tomb.select("doc_id")
            .distinct()
            .join(eng.doc_stats.select("doc_id"), "doc_id", "left_anti")
            .count()
        )
        rows.append(
            ("tombstones", nd, int(nd != eng.num_deleted) + dangling)
        )
    else:
        rows.append(("tombstones", 0, int(eng.num_deleted != 0)))

    # ---- kgram level
    vocab = eng._load("vocab").select("word", "n_grams").distinct()
    kg = eng.kgrams
    kg_words = kg.groupBy("word").agg(
        F.count_distinct("gram").alias("k_grams")
    )
    kv = kg_words.join(vocab, "word", "full_outer")
    kv_agg = kv.agg(
        F.count("*").alias("n"),
        F.sum(
            (
                F.col("k_grams").isNull()
                | F.col("n_grams").isNull()
                | (F.col("k_grams") != F.col("n_grams"))
            ).cast("long")
        ).alias("bad"),
    ).first()
    rows.append(("kgram_vocab", int(kv_agg["n"]), int(kv_agg["bad"] or 0)))

    # ---- cell level: the decode pass (distributed; counters only)
    cell_report = (
        eng.postings.select(
            "term", "block_id", "df_block", "first_doc_id", "last_doc_id",
            "max_tf", "min_dl", "sum_tf", "max_partial",
            "postings_bin", "weights_bin", "positions_bin", "doclens_bin",
        )
        .mapInPandas(_cell_pass(eng.block_span), REPORT_SCHEMA)
        .groupBy("check")
        .agg(
            F.sum("checked").cast("long").alias("checked"),
            F.sum("violations").cast("long").alias("violations"),
        )
    )
    report = spark.createDataFrame(rows, REPORT_SCHEMA).unionByName(cell_report)

    if deep:
        stats_by_block = eng.doc_stats.select(
            "doc_id",
            block_id_col(eng.block_span),
            "weight",
            "doc_len",
        )
        deep_report = (
            eng.postings.select(
                "block_id", "postings_bin", "weights_bin", "doclens_bin"
            )
            .groupBy("block_id")
            .cogroup(stats_by_block.groupBy("block_id"))
            .applyInPandas(_deep_pass(), REPORT_SCHEMA)
            .groupBy("check")
            .agg(
                F.sum("checked").cast("long").alias("checked"),
                F.sum("violations").cast("long").alias("violations"),
            )
        )
        report = report.unionByName(deep_report)
    return report
