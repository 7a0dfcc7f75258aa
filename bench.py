"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": total_sec, "unit": "sec",
   "queries": {name: MEDIAN sec, ...}, "repeats": {name: [sec, ...]},
   "cpu_probe_secs": {...}, "sf": ..., "build_turns_per_sec": ...}

Covers the north-rule hot paths: full Porter2 index build
(turns/sec), ranked / boolean / phrase / wildcard query latency over
the built index, and the training-data pipeline ops (dedup sweeps,
similarity top-k, text stats) at the same scale factor.

Measurement discipline (this VM swings ±2x with neighbor throttle —
see BENCH.md): every repeatable query runs REPEATS interleaved rounds
(round-robin over the whole suite, so a throttle window hits all
queries, not one) and ``queries`` reports per-query MEDIANS; the
single-shot stages (build, append — they mutate the index) are
bracketed by the same fixed single-core numpy CPU probe
``tools/scaling_run.py`` uses, recorded in ``cpu_probe_secs``
(healthy < 2 s; 6-18 s means the box was throttled and the run should
not be read as a code regression).
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

REPEATS = 3
#: CPU-probe seconds above which a repeat round counts as throttled and
#: is excluded from the per-query medians (healthy ~0.2-1 s on this VM;
#: 4-18 s during neighbor-throttle windows). One poisoned round out of
#: three shifts every fast query's median-of-3, so medians are computed
#: over probe-healthy rounds only; the raw repeats stay in the JSON.
PROBE_HEALTHY_SECS = 2.0


def cpu_probe() -> float:
    """Fixed single-core numpy workload (seconds) — same probe as
    tools/scaling_run.py; healthy < 2 s on this VM."""
    import numpy as np

    a = np.random.default_rng(0).integers(0, 1 << 40, 10_000_000)
    # warm the allocator: the first sort in a fresh process pays the
    # copy's page faults inside the timed section (3-5 s cold vs
    # 0.2 s warm on an idle box)
    np.sort(a[: a.size // 4])
    t0 = time.time()
    np.sort(a)
    return round(time.time() - t0, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from pyspark.sql import functions as F

    from search_engine_spark import simple
    from search_engine_spark.engine import TranscriptSearchEngine
    from search_engine_spark.fixtures import (
        documents_as_agent_turns,
        documents_as_multiturn,
        documents_as_noisy_turns,
        documents_as_transcripts,
    )
    from search_engine_spark.ops import (
        components,
        decontam,
        dedup,
        export,
        pii,
        sampling,
        sessions,
        similarity,
        textstats,
    )
    from search_engine_spark.fsck import fsck_index
    from search_engine_spark.session import get_spark

    probes: dict[str, float] = {"pre": cpu_probe()}

    spark = get_spark(
        app_name="search-engine-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    docs.persist().count()
    emb.persist().count()
    events.persist().count()

    repeats: dict[str, list[float]] = {}

    def record(name: str, fn):
        t0 = time.time()
        fn()
        repeats.setdefault(name, []).append(round(time.time() - t0, 3))

    # ---- index build (the north-rule critical path; single-shot) ----------
    index_dir = "/tmp/bench_index"
    shutil.rmtree(index_dir, ignore_errors=True)
    transcripts = documents_as_transcripts(docs)
    n_turns = docs.count()
    record(
        "build_index",
        lambda: TranscriptSearchEngine.build(spark, transcripts, index_dir)
        and None,
    )
    probes["post_build"] = cpu_probe()
    eng = TranscriptSearchEngine(spark, index_dir)
    # warm caches + Python UDF workers so query timings measure the
    # steady-state read path, not one-time session costs (doc_stats is
    # deliberately NOT touched — no query path reads it)
    eng.terms.count()
    eng.postings.count()
    eng.kgrams.count()
    eng.ranked_query("warmup")
    eng.boolean_query("warmup")

    batch_queries = [
        f"{a} {b}"
        for a in ["spark", "join", "fast", "test"]
        for b in ["query", "vector", "stream", "dup"]
    ]
    qv = [float(x) for x in emb.where("vec_id = 0").first()["embedding"]]
    # metadata filter covering the corpus's first half (ts = epoch +
    # doc_id seconds in documents_as_transcripts)
    import datetime as dt

    from search_engine_spark.fixtures import _EPOCH

    ts_pred = F.col("ts") < F.lit(_EPOCH + dt.timedelta(seconds=n_turns // 2))

    suite: list[tuple[str, object]] = [
        # ---- engine read path ----
        ("ranked_query", lambda: eng.ranked_query("spark join fast")),
        (
            "ranked_wand",
            lambda: eng.ranked_query("spark join fast", pruned=True),
        ),
        ("boolean_query", lambda: eng.boolean_query("spark vector + dup")),
        (
            "ranked_batch16",
            lambda: eng.ranked_query_batch(batch_queries, k=10),
        ),
        (
            "ranked_batch16_wand",
            lambda: eng.ranked_query_batch(batch_queries, k=10, pruned=True),
        ),
        ("phrase_query", lambda: eng.boolean_query('"hash join"')),
        ("near_query", lambda: eng.near_query("spark", "join", 3)),
        (
            "ranked_filtered",
            lambda: eng.ranked_query("spark join fast", where=ts_pred),
        ),
        ("wildcard_ranked", lambda: eng.ranked_query("s*m query")),
        (
            # recency boost over half the corpus: the boost side
            # carries O(boosted docs) rows
            "ranked_boosted",
            lambda: eng.ranked_query_boosted_df(
                "spark join fast", F.when(ts_pred, 2.0).otherwise(1.0), k=10
            ).collect(),
        ),
        (
            "ranked_diverse",
            lambda: eng.ranked_query_diverse_df(
                "spark join fast", k=10, per_group=2
            ).collect(),
        ),
        (
            "conv_ranked",
            lambda: eng.ranked_conversations("spark join fast", k=10),
        ),
        ("more_like_this", lambda: eng.more_like_this(3, k=10)),
        (
            "prf_engine",
            lambda: eng.prf_query("spark join fast", k=10),
        ),
        # ---- index-backed analytics (no corpus re-tokenize) ----
        (
            "engine_significant_terms",
            lambda: eng.significant_terms_df("spark join fast", n=10).count(),
        ),
        ("engine_keywords", lambda: eng.keywords_df(n=3).count()),
        (
            "engine_explain",
            lambda: eng.ranked_explain_df("spark join fast", k=10).collect(),
        ),
        (
            "engine_phrase_ranked",
            lambda: eng.phrase_ranked_df("hash join", k=10).collect(),
        ),
        (
            "engine_synonym_ranked",
            lambda: eng.synonym_ranked_df(
                [["join", "merge"], ["fast", "quick"]], k=10
            ).collect(),
        ),
        (
            "engine_bm25f_conv",
            lambda: eng.bm25f_conv_df("spark join fast", k=10).count(),
        ),
        (
            "engine_collocations",
            lambda: eng.collocations_df(min_count=5, k=20).count(),
        ),
        (
            "engine_term_trends",
            lambda: eng.term_trends_df(
                ["spark", "join", "fast"], bucket_seconds=60
            ).count(),
        ),
        (
            # full structural verification: every posting blob decoded
            # and every invariant re-derived (maintenance-path cost)
            "index_fsck",
            lambda: fsck_index(spark, index_dir)
            .agg(F.sum("violations"))
            .collect(),
        ),
        # ---- simple-analyzer relational path ----
        ("tf_table_agg", lambda: simple.tf_table(docs).count()),
        (
            "ranked_topk_simple",
            lambda: simple.ranked_topk(
                docs, ["spark", "join", "fast"], 10
            ).collect(),
        ),
        # ---- training-data ops ----
        (
            "dedup_exact",
            lambda: dedup.exact_duplicates(docs).where("is_dup").count(),
        ),
        (
            "dedup_minhash",
            lambda: dedup.minhash_near_dup_pairs(docs, threshold=0.7).count(),
        ),
        (
            "dedup_simhash",
            lambda: dedup.simhash_near_dup_pairs(docs, max_hamming=3).count(),
        ),
        (
            "dedup_groups",
            lambda: components.dedup_groups(docs, threshold=0.7)
            .where("keep")
            .count(),
        ),
        (
            "sample_stratified",
            lambda: sampling.stratified_sample(
                docs, {"en": 0.1, "de": 0.5, "es": 0.2, "fr": 1.0}, "lang"
            ).count(),
        ),
        (
            "pii_redact",
            lambda: pii.redact_pii(docs)
            .agg(F.sum(F.length("redacted")))
            .collect(),
        ),
        (
            "decontam",
            lambda: decontam.contamination(
                docs.where("doc_id % 97 != 0"), docs.where("doc_id % 97 = 0")
            )
            .where("contaminated")
            .count(),
        ),
        ("embed_topk", lambda: similarity.cosine_topk(emb, qv, 10).collect()),
        (
            "embed_int8_rerank",
            lambda: similarity.ann_int8_rerank_topk(emb, qv, k=10).collect(),
        ),
        (
            "hybrid_rrf",
            lambda: similarity.rrf_fuse(
                [
                    simple.ranked_topk(docs, ["spark", "join", "fast"], 50),
                    similarity.cosine_topk(emb, qv, 50).select(
                        F.col("vec_id").alias("doc_id"),
                        F.col("cosine").alias("score"),
                    ),
                ],
                k=10,
            ).collect(),
        ),
        (
            "sessionize",
            lambda: sessions.session_stats(events, gap_minutes=1440)
            .agg(F.sum("n_events"))
            .collect(),
        ),
        ("keywords_top3", lambda: simple.keywords(docs, n=3).count()),
        (
            "fuzzy_ranked",
            lambda: simple.fuzzy_ranked(docs, ["tabel", "merg"], k=10).collect(),
        ),
        (
            "repetition_scores",
            lambda: textstats.repetition_scores(docs).count(),
        ),
        (
            "conversation_threads",
            lambda: export.conversation_threads(
                documents_as_multiturn(docs)
            ).count(),
        ),
        (
            "training_pairs",
            lambda: export.training_pairs(
                documents_as_multiturn(docs), context_turns=3
            ).count(),
        ),
        (
            "transcript_report",
            lambda: export.transcript_report(
                documents_as_noisy_turns(docs)
            ).count(),
        ),
        (
            "tool_stats",
            lambda: export.tool_stats(
                documents_as_agent_turns(docs)
            ).collect(),
        ),
        (
            "synonym_ranked",
            lambda: simple.synonym_ranked(
                docs, [["join", "merge"], ["fast", "quick"]], k=10
            ).collect(),
        ),
        (
            "significant_terms",
            lambda: simple.significant_terms(
                docs, ["spark", "join", "fast"], n=10
            ).collect(),
        ),
        (
            "phrase_ranked",
            lambda: simple.phrase_ranked(docs, ["hash", "join"], k=10).collect(),
        ),
        (
            "bm25f_conv",
            lambda: simple.bm25f_conv(
                documents_as_multiturn(docs), ["spark", "join", "fast"], k=10
            ).collect(),
        ),
        (
            "prf_ranked",
            lambda: simple.prf_ranked(
                docs, ["spark", "join", "fast"], k=10
            ).collect(),
        ),
        (
            "ann_recall_at_k",
            lambda: similarity.ann_recall_at_k(
                emb.where("vec_id <> 0"), qv, k=10
            ).collect(),
        ),
        (
            "term_trends",
            lambda: simple.term_trends(
                documents_as_transcripts(docs), ["key", "merge", "scan"], 100
            ).count(),
        ),
        (
            "text_stats",
            lambda: textstats.quality_scores(docs)
            .join(textstats.language_scores(docs), "doc_id")
            .join(textstats.fingerprints(docs), "doc_id")
            .count(),
        ),
    ]

    # interleaved repeats: round-robin over the whole suite so a
    # throttle window degrades one ROUND of every query (visible in
    # the spread), not every repeat of one query
    for rnd in range(REPEATS):
        for name, fn in suite:
            record(name, fn)
        probes[f"round{rnd}"] = cpu_probe()

    # ---- incremental append (last: it mutates the bench index) ------------
    # 1% of the corpus as one append chunk — with the incremental
    # finalize this must cost O(new docs) + O(dictionary), not O(index)
    delta = documents_as_transcripts(docs.limit(max(n_turns // 100, 1)))
    record("append_1pct", lambda: eng.append(delta))
    probes["post"] = cpu_probe()

    # a repeat round is healthy iff BOTH probes bracketing it are under
    # the threshold (round r runs between probe r-1's end and probe r);
    # if every round is throttled, fall back to all rounds and say so
    bracket = ["post_build"] + [f"round{r}" for r in range(REPEATS)]
    healthy_rounds = [
        r
        for r in range(REPEATS)
        if probes[bracket[r]] <= PROBE_HEALTHY_SECS
        and probes[bracket[r + 1]] <= PROBE_HEALTHY_SECS
    ]
    excluded_rounds = [r for r in range(REPEATS) if r not in healthy_rounds]
    use = healthy_rounds or list(range(REPEATS))

    def _median(vals: list[float]) -> float:
        picked = [vals[r] for r in use] if len(vals) == REPEATS else vals
        return round(statistics.median(picked), 3)

    medians = {name: _median(vals) for name, vals in repeats.items()}
    total = round(sum(medians.values()), 3)
    build_tps = round(n_turns / medians["build_index"], 2)
    print(
        json.dumps(
            {
                "metric": "index_build_plus_query_suite",
                "value": total,
                "unit": "sec",
                "queries": medians,
                "repeats": repeats,
                "cpu_probe_secs": probes,
                "n_repeats": REPEATS,
                "healthy_rounds": healthy_rounds,
                "excluded_throttled_rounds": excluded_rounds,
                "all_rounds_throttled": not healthy_rounds,
                "sf": sf,
                "n_turns": n_turns,
                "build_turns_per_sec": build_tps,
            }
        )
    )


if __name__ == "__main__":
    main()
