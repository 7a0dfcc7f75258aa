"""Per-class query cost of one checkout: median latency, Spark jobs per
call, and whether the query's plan runs a Python ``MapInPandas`` stage.

    python tools/query_jobs.py [--seed 7] [--calls 8] [--cores 2]

Run it with the checkout it should measure (it imports the engine from
the checkout that holds this file). It generates the perfbench seed-N
corpus with ``perfbench/corpus.py``, indexes it the way
``perfbench/run.py`` does (same turn count and ``block_span``) under a
temporary directory, and runs each of the 8 perfbench query classes
``--calls`` times, cycling through the class's queries, after one
warm-up call per class. A call builds the query's DataFrame (``*_df``;
for ``wand_head`` the pruned plan ``ranked_query(pruned=True)``
collects) and collects it. It prints one Markdown table row per class:

* ``p50 ms`` — median wall time of a call;
* ``jobs/call`` — median Spark jobs a call started (one job group per
  call, read back from the status tracker);
* ``MapInPandas`` — whether the executed plan of any call's frame holds
  a ``MapInPandas`` node.

Nothing under ``perfbench/`` is written; the temporary directory is
removed at exit.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

import corpus  # noqa: E402  (perfbench/corpus.py)
from run import BLOCK_SPAN, K, N_TURNS  # noqa: E402  (perfbench/run.py)


def frame(eng, cls: str, text: str, window):
    """The DataFrame of one query of class ``cls``: the frame whose
    collect is the call perfbench's closed loop issues."""
    if cls == "wand_head":
        with eng._pruning(True) as counts:
            return eng._score_terms_df(eng._ranked_terms(text), K, counts=counts)
    if cls == "bm25_head":
        return eng.bm25_query_df(text, K)
    if cls in ("boolean", "phrase"):
        return eng.boolean_query_df(text)
    where = corpus.ts_filter(window) if window else None
    return eng.ranked_query_df(text, K, where=where)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seed", type=int, default=7)
    ap.add_argument("--calls", type=int, default=8)
    ap.add_argument("--cores", type=int, default=2)
    args = ap.parse_args()

    from search_engine_spark.build import IndexBuilder
    from search_engine_spark.engine import TranscriptSearchEngine
    from search_engine_spark.session import get_spark

    os.environ.setdefault(
        "PYSPARK_SUBMIT_ARGS", "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    work = tempfile.mkdtemp(prefix="query_jobs_")
    try:
        pdf = corpus.make_corpus(args.seed, N_TURNS)
        corpus.write_parquet(pdf, os.path.join(work, "corpus"))
        queries = corpus.make_queries(args.seed, pdf["text"].tolist())
        spark = get_spark(
            app_name="query-jobs",
            master=f"local[{args.cores}]",
            shuffle_partitions=args.cores,
            driver_memory="2g",
        )
        sc = spark.sparkContext
        index_dir = os.path.join(work, "index")
        IndexBuilder(spark, index_dir, block_span=BLOCK_SPAN).build(
            spark.read.parquet(os.path.join(work, "corpus"))
        )
        eng = TranscriptSearchEngine(spark, index_dir)
        print(f"seed {args.seed}, {N_TURNS} turns, block_span {BLOCK_SPAN}, "
              f"local[{args.cores}], {args.calls} calls per class")
        print("| class | p50 ms | jobs/call | MapInPandas |")
        print("|---|---|---|---|")
        for cls in corpus.CLASSES:
            qs = queries[cls]
            frame(eng, cls, *qs[0]).collect()  # warm-up
            ms, jobs, python = [], [], False
            for i in range(args.calls):
                group = f"query_jobs-{cls}-{i}"
                sc.setJobGroup(group, cls)
                t = time.perf_counter()
                df = frame(eng, cls, *qs[i % len(qs)])
                df.collect()
                ms.append((time.perf_counter() - t) * 1000)
                jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
                plan = df._jdf.queryExecution().executedPlan().toString()
                python = python or "MapInPandas" in plan
            sc.setLocalProperty("spark.jobGroup.id", None)
            print(f"| {cls} | {statistics.median(ms):.0f} | "
                  f"{statistics.median(jobs):g} | {'yes' if python else 'no'} |")
        spark.stop()
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
