"""Transcript-search benchmark: one workload, one seed, one JSON line.

    python3 perfbench/run.py --workload query --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout of the repository. It generates the
corpus and queries from the seed, starts a local Spark session sized to
the machine, builds the index, runs the workload's closed loop (one
client, each call waits for its answer) for as many whole rounds as fit
in ``--seconds`` (see ROUND_S), checks every output against the numpy
answer key (``answerkey.py``) and prints one JSON object as the last
line of standard output.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs one
loop cycle with spans, measures the tracing overhead, probes each layer and
reports the per-layer metrics; it writes the spans and the Spark event
log to ``.perfbench_work/trace/<workload>-<seed>/``. BENCHMARK.json lists
both metric sets and README.md in this directory maps each layer metric
to the end-to-end metric it should move. All files the run writes stay
under ``.perfbench_work/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import time

import numpy as np

import corpus
from tracing import Tracer, span_totals, stage_metrics

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")

N_TURNS = 4096
#: 128 doc-range blocks: more than the 32 that block-max WAND probes in
#: its first round, so the pruned path really prunes
BLOCK_SPAN = 32
K = 10
#: turns per append and doc ids per delete in the ingest workload (1%)
WRITE_DOCS = N_TURNS // 100
WORKLOADS = ("query", "ingest")
#: the query classes each workload warms in set-up: the first call of a
#: scoring path pays its Python worker, code generation and JIT start-up
#: (about 1.5 s more for the first ranked query, 0.8 s for the first
#: wildcard one); without this the first measured round ran 30-40%
#: slower than the second, with it about 15%
WARM_CLASSES = ("ranked_head", "wildcard")
#: seconds one loop cycle takes on a 4-vCPU box: a query round (one
#: query of each class) on ``query``; an append unit and a delete unit
#: (each a write and then a query round) on ``ingest``. The loop runs as
#: many whole cycles as fit in --seconds at this pace, at least one: a
#: fixed op count per run keeps the op mix, and so the medians, alike
#: across runs, where a deadline would cut some runs one round short.
ROUND_S = {"query": 10, "ingest": 20}
#: CPU-steal policy (``bench.py``'s ``cpu_probe`` idea, measured as the
#: hypervisor's steal in /proc/stat instead of a timed probe): a run with
#: a loop unit during which more than this share of the CPU time the
#: machine wanted was stolen is flagged, and its result still counts. On
#: a 4-vCPU VM calm units saw 0-6%; at 15% the queries ran 30% slower,
#: at 30% 80% slower. Rerunning such a unit rescued fewer than half of
#: them (steal episodes outlast a unit) and cost 10-20 s per rerun.
STEAL_MAX = 0.10
#: Spark task slots (and shuffle partitions). The read path is serial
#: Spark fixed cost: one, two and four slots gave the same query
#: latencies. Two slots leave the other vCPUs of a 4-vCPU box to the
#: JVM's JIT and GC threads and the Python driver, so a busy host
#: disturbs a run less.
CORES = 2


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, busy) jiffies of all CPUs so far, from /proc/stat: the
    hypervisor's steal shows here, where no timing of our own sees it.
    Busy is every state but idle and iowait, steal included."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9]
        )
    return steal, user + nice + system + irq + softirq + steal


def steal_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the machine wanted between two
    ``cpu_jiffies`` readings that the hypervisor gave to others."""
    return (after[0] - before[0]) / max(1, after[1] - before[1])


def p50(samples: list[float]) -> float:
    """Median by the Harrell-Davis estimator: a weighted mean of all
    order statistics, each weighted by the mass a Beta((n+1)/2, (n+1)/2)
    law puts on its 1/n slice of [0, 1]. A run's 16 queries come from 8
    classes whose latencies leave gaps; the sample median, the mean of
    the two middle samples, jumps across such a gap, where this estimate
    moves smoothly. Over ten seeds it cut the spread of ``ingest``'s
    query_p50_ms from 0.185 to 0.136."""
    x = np.sort(samples)
    a = (len(x) + 1) / 2
    grid = np.linspace(0.0, 1.0, 20001)
    pdf = grid ** (a - 1) * (1 - grid) ** (a - 1)
    cdf = np.concatenate(([0.0], np.cumsum(pdf[1:] + pdf[:-1])))
    weights = np.diff(np.interp(np.arange(len(x) + 1) / len(x), grid, cdf / cdf[-1]))
    return float(weights @ x)


def tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, files in os.walk(path) for f in files
    )


class Bench:
    def __init__(self, args):
        self.args = args
        self.run_dir = os.path.join(WORK, "run")
        self.corpus_dir = os.path.join(self.run_dir, "corpus")
        self.index_dir = os.path.join(self.run_dir, "index")
        self.trace_dir = os.path.join(WORK, "trace", f"{args.workload}-{args.seed}")
        self.attempted = 0
        self.failed = 0
        self.op_id = 0
        self.batch = 0  # next ingest write batch
        self.units = 0  # loop units run so far; picks each unit's queries
        self.append_scans: list[int] = []
        self.wand_ratio: list[float] = []
        self._answers: dict = {}
        self._exhaustive: dict = {}
        self.layer: dict[str, tuple[float, str]] = {}

    # ------------------------------------------------------------ set-up
    def prepare(self) -> None:
        """Generate the inputs and point every temporary file of this
        process, the JVM and the Python workers into the work dir."""
        shutil.rmtree(self.run_dir, ignore_errors=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        # every JVM, the spark-submit launcher's too
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        submit = [
            "--conf", f"spark.local.dir={tmp}",
            "--conf", "spark.ui.showConsoleProgress=false",
        ]
        if self.args.trace:
            shutil.rmtree(self.trace_dir, ignore_errors=True)
            self.event_dir = os.path.join(self.trace_dir, "eventlog")
            os.makedirs(self.event_dir)
            submit += [
                "--conf", "spark.eventLog.enabled=true",
                "--conf", f"spark.eventLog.dir=file://{self.event_dir}",
                "--conf", "spark.eventLog.compress=false",
                "--conf", "spark.eventLog.rolling.enabled=false",
            ]
        os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(submit + ["pyspark-shell"])

        from answerkey import AnswerKey

        pdf = corpus.make_corpus(self.args.seed, N_TURNS)
        corpus.write_parquet(pdf, self.corpus_dir)
        self.texts = pdf["text"].tolist()
        self.text_bytes = sum(len(t.encode()) for t in self.texts)
        self.queries = corpus.make_queries(self.args.seed, self.texts)
        self.key = AnswerKey(BLOCK_SPAN)
        self.key.add(self.texts)

    def setup(self) -> None:
        """Session start until the workload is ready: build, open, warm."""
        from search_engine_spark.build import IndexBuilder
        from search_engine_spark.engine import TranscriptSearchEngine
        from search_engine_spark.session import get_spark

        cores = min(CORES, len(os.sched_getaffinity(0)))
        mem_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 30
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{cores}]",
            shuffle_partitions=cores,
            driver_memory=f"{max(1, min(8, mem_gb // 2))}g",
        )
        self.session_s = time.perf_counter() - t0
        self.tracer = Tracer(self.spark.sparkContext if self.args.trace else None)
        if self.args.trace:  # the session span, recorded once the session exists
            self.tracer.spans.append(
                {"id": 0, "name": "session", "op": None, "parent": None,
                 "start": t0, "end": t0 + self.session_s}
            )
        t = time.perf_counter()
        with self.tracer.span("build"):
            self.build_info = IndexBuilder(
                self.spark, self.index_dir, block_span=BLOCK_SPAN
            ).build(self.spark.read.parquet(self.corpus_dir))
        self.build_s = time.perf_counter() - t
        self.index_bytes = tree_bytes(self.index_dir)
        with self.tracer.span("engine_open"):
            self.eng = TranscriptSearchEngine(self.spark, self.index_dir)
        self.check(
            self.build_info["num_docs"] == N_TURNS
            and self.eng.num_docs == self.key.num_docs
            and self.eng.total_tokens == self.key.total_tokens,
            "build: doc and token counts",
        )
        for cls in WARM_CLASSES:
            self.query(cls, *self.queries[cls][-1])
        self.setup_s = time.perf_counter() - t0

    # ------------------------------------------------------- correctness
    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"MISMATCH: {what}")

    def expected(self, cls: str, text: str, window):
        """The answer key's result, memoized until the next write."""
        memo = (cls in ("boolean", "phrase"), cls == "bm25_head", text, window)
        if memo not in self._answers:
            key = self.key
            if memo[0]:
                ans = key.boolean(text)
            elif memo[1]:
                ans = key.bm25(text)
            elif window is not None:
                lo, hi = window
                ans = key.ranked(text, where=lambda d: lo <= key.turn[d] < hi)
            else:
                ans = key.ranked(text)
            self._answers[memo] = ans
        return self._answers[memo]

    def agrees(self, cls: str, text: str, window, got) -> bool:
        from answerkey import close, topk_matches

        want = self.expected(cls, text, window)
        if cls in ("boolean", "phrase"):
            return got == want
        ok = topk_matches(got, *want, K)
        if cls == "ranked_head":
            self._exhaustive[text] = got
        elif cls == "wand_head" and text in self._exhaustive:
            ex = self._exhaustive[text]
            ok = ok and len(ex) == len(got) and all(
                close(a[1], b[1]) for a, b in zip(ex, got)
            )
        return ok

    def wrote(self) -> None:
        self._answers.clear()
        self._exhaustive.clear()

    # ------------------------------------------------------------- ops
    def query(self, cls: str, text: str, window) -> float:
        """Run one query of class ``cls``, check it, return its latency (ms)."""
        eng = self.eng
        self.op_id += 1
        t = time.perf_counter()
        try:
            with self.tracer.span(cls, self.op_id):
                if cls == "wand_head":
                    got = eng.ranked_query(text, K, pruned=True)
                elif cls == "bm25_head":
                    got = eng.bm25_query(text, K)
                elif cls in ("boolean", "phrase"):
                    got = eng.boolean_query(text)
                else:
                    where = corpus.ts_filter(window) if window else None
                    got = eng.ranked_query(text, K, where=where)
        except Exception as e:  # a raised op counts as failed
            self.check(False, f"{cls} {text!r} raised {e!r}")
            return (time.perf_counter() - t) * 1000
        ms = (time.perf_counter() - t) * 1000
        self.check(self.agrees(cls, text, window, got), f"{cls} {text!r} -> {got}")
        if cls == "wand_head":  # pruning effectiveness: share of blocks scored
            st = eng._last_wand_stats
            n_blocks = -(-eng.num_docs // BLOCK_SPAN)
            self.wand_ratio.append((st["round1_blocks"] + st["round2_blocks"]) / n_blocks)
        return ms

    def append(self, batch: int) -> float:
        """Append the corpus's next WRITE_DOCS turns; returns seconds."""
        first = N_TURNS + batch * WRITE_DOCS
        pdf = corpus.make_corpus(self.args.seed, WRITE_DOCS, first_turn=first)
        df = self.spark.createDataFrame(pdf)
        self.op_id += 1
        t = time.perf_counter()
        with self.tracer.span("append", self.op_id):
            info = self.eng.append(df)
        secs = time.perf_counter() - t
        base = self.key.add(pdf["text"].tolist(), first_turn=first)
        self.wrote()
        self.append_scans.append(sum(len(f) for f in info["finalize_scans"].values()))
        self.check(
            info["first_doc_id"] == base
            and info["appended_docs"] == WRITE_DOCS
            and self.eng.num_docs == self.key.num_docs,
            f"append {batch}: {info}",
        )
        return secs

    def delete(self, batch: int) -> float:
        """Tombstone WRITE_DOCS live doc ids chosen by the seed; seconds."""
        rng = np.random.default_rng([self.args.seed, batch, 3])
        ids = sorted(int(d) for d in rng.choice(self.key.live_ids(), WRITE_DOCS, replace=False))
        self.op_id += 1
        t = time.perf_counter()
        with self.tracer.span("delete", self.op_id):
            info = self.eng.delete(ids)
        secs = time.perf_counter() - t
        self.key.delete(ids)
        self.wrote()
        self.check(info["num_deleted"] == len(self.key.deleted), f"delete {batch}: {info}")
        return secs

    # ---------------------------------------------------------- windows
    def unit(self, kind: str) -> dict:
        """One unit of the closed loop: a query round (one query of each
        class), or a write (``append`` or ``delete``) and then a query
        round, whose first query pays the cache refresh. Returns its
        samples and the CPU steal over it."""
        u = {"kind": kind, "query_ms": [], "queries": [], "op_s": 0.0, "ops": 0}
        cpu0 = cpu_jiffies()
        if kind != "round":
            u["write_s"] = getattr(self, kind)(self.batch)
            u["op_s"] += u["write_s"]
            u["ops"] += 1
            self.batch += 1
        for cls in corpus.CLASSES:
            query = (cls, *self.queries[cls][self.units % corpus.QUERIES_PER_CLASS])
            ms = self.query(*query)
            u["queries"].append(query)
            u["query_ms"].append(ms)
            u["op_s"] += ms / 1000
            u["ops"] += 1
        self.units += 1
        u["steal"] = steal_share(cpu0, cpu_jiffies())
        log(f"{kind}: {u['op_s']:.1f} s of ops, steal {u['steal']:.1%}")
        return u

    def window(self, cycles: int) -> dict:
        """The workload's closed loop: ``cycles`` query rounds (``query``)
        or append and delete units (``ingest``). Returns the samples and
        the highest steal share a unit met."""
        kinds = ("round",) if self.args.workload == "query" else ("append", "delete")
        units = [self.unit(kind) for kind in kinds * cycles]
        s = {"query_ms": [], "by_class": {}, "queries": [], "append_s": [], "delete_s": [],
             "after_write_ms": []}
        for u in units:
            s["query_ms"] += u["query_ms"]
            s["queries"] += u["queries"]
            for (cls, *_q), ms in zip(u["queries"], u["query_ms"]):
                s["by_class"].setdefault(cls, []).append(ms)
            if u["kind"] != "round":
                s[f"{u['kind']}_s"].append(u["write_s"])
                s["after_write_ms"].append(u["query_ms"][0])
        s["ops"] = sum(u["ops"] for u in units)
        s["op_s"] = sum(u["op_s"] for u in units)
        s["steal"] = max(u["steal"] for u in units)
        return s

    def end_to_end(self, s: dict) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "index_bytes_per_text_byte": (self.index_bytes / self.text_bytes, "ratio"),
            "query_p50_ms": (p50(s["query_ms"]), "ms"),
            "ops_per_s": (s["ops"] / s["op_s"], "1/s"),
        }

    # ---------------------------------------------------------- traced
    def traced(self) -> None:
        """Traced window, tracing overhead, layer probes. Fills self.layer
        with everything except the event-log metrics (event_log_metrics)."""
        with self.tracer.span("window") as rec:
            s = self.window(1)
        self.window_span = rec["id"]  # its children are the per-class queries
        by_class = s["by_class"]
        L = self.layer
        # p95: the loop's 8 or 16 queries are too few for a percentile with
        # ten samples beyond it; interpolated, p95 falls between the slowest
        # ones (the WAND queries) rather than on the single maximum
        L["engine.query_tail_ms"] = (float(np.percentile(s["query_ms"], 95)), "ms")

        # overhead: two of the window's queries once more, untraced then
        # traced (same index state and warmth for both)
        again = s["queries"][:2]
        rerun = {}
        for enabled in (False, True):
            self.tracer.enabled = enabled
            rerun[enabled] = [self.query(*q) for q in again]
        for q, ms in zip(again, rerun[True]):
            by_class[q[0]].append(ms)
        L["trace.overhead.query_p50_ms"] = (
            statistics.median(rerun[True]) - statistics.median(rerun[False]), "ms"
        )

        L["session.start_s"] = (self.session_s, "s")
        self.probe_spark()
        self.probe_text_and_codec()
        self.probe_engine()
        if self.args.workload == "query":
            # one append and one delete, so the write-path layer metrics
            # exist on this workload too
            s["append_s"].append(self.append(self.batch))
            s["after_write_ms"].append(self.query("ranked_head", *self.queries["ranked_head"][0]))
            s["delete_s"].append(self.delete(self.batch))
        L["build.append_s"] = (statistics.median(s["append_s"]), "s")
        L["build.delete_s"] = (statistics.median(s["delete_s"]), "s")
        L["build.append_finalize_scans"] = (statistics.median(self.append_scans), "count")
        L["engine.first_query_after_write_ms"] = (statistics.median(s["after_write_ms"]), "ms")

        # compact: stats shrink to the live docs
        t = time.perf_counter()
        with self.tracer.span("compact"):
            self.eng.compact()
        L["build.compact_s"] = (time.perf_counter() - t, "s")
        self.key.compact()
        self.wrote()
        self.check(
            self.eng.num_docs == self.key.num_docs
            and self.eng.total_tokens == self.key.total_tokens
            and self.eng.num_deleted == 0,
            "compact: live doc and token counts",
        )
        # scores after compact use the live docs' stats
        self.query("ranked_head", *self.queries["ranked_head"][0])
        L["engine.wand_block_ratio"] = (statistics.median(self.wand_ratio), "ratio")
        for cls, ms in by_class.items():
            L[f"engine.{cls}.p50_ms"] = (statistics.median(ms), "ms")

        from search_engine_spark.fsck import fsck_index

        # the deep cross-check (about 25 s) gates the index the writes
        # changed; the freshly built read-only index gets the shallow one
        deep = self.args.workload == "ingest"
        t = time.perf_counter()
        with self.tracer.span("fsck"):
            rows = fsck_index(self.spark, self.index_dir, deep=deep).collect()
        L["fsck.s"] = (time.perf_counter() - t, "s")
        bad = [r.asDict() for r in rows if r["violations"]]
        self.check(bool(rows) and not bad, f"fsck (deep={deep}): {bad}")

    def probe_spark(self) -> None:
        from search_engine_spark.functions.udfs import analyze_doc_udf
        from search_engine_spark.operators.docids import with_doc_ids_counted
        import pyspark.sql.functions as F

        spark, L = self.spark, self.layer
        noop = []
        for _ in range(5):
            t = time.perf_counter()
            spark.range(1).count()
            noop.append((time.perf_counter() - t) * 1000)
        L["spark.noop_job_ms"] = (statistics.median(noop), "ms")

        t = time.perf_counter()
        with self.tracer.span("docids"):
            docs, n, parted = with_doc_ids_counted(spark.read.parquet(self.corpus_dir))
            docs.write.format("noop").mode("overwrite").save()
            parted.unpersist()
        L["docids.assign_s"] = (time.perf_counter() - t, "s")
        self.check(n == N_TURNS, "docids: row count")

        t = time.perf_counter()
        with self.tracer.span("analyze_udf"):
            spark.read.parquet(self.corpus_dir).select(
                analyze_doc_udf("text").alias("a")
            ).select(F.col("a.doc_len")).write.format("noop").mode("overwrite").save()
        L["udfs.analyze_doc_s"] = (time.perf_counter() - t, "s")

    def probe_text_and_codec(self) -> None:
        from search_engine_spark.functions.codec import decode_postings, encode_postings
        from search_engine_spark.text import normalize

        L = self.layer
        for state in ("cold", "warm"):
            if state == "cold":
                normalize._analyze_token.cache_clear()
            t = time.perf_counter()
            analyzed = [normalize.analyze(text) for text in self.texts]
            secs = time.perf_counter() - t
            n_tok = sum(len(toks) for toks in analyzed)
            L[f"text.analyze_tokens_per_s.{state}"] = (n_tok / secs, "tokens/s")
            if state == "cold":
                L["udfs.analyze_overhead_ratio"] = (L["udfs.analyze_doc_s"][0] / secs, "ratio")
        terms = {term for toks in analyzed for term, _p, _r in toks}
        L["text.distinct_token_ratio"] = (len(terms) / n_tok, "ratio")

        # posting lists with the corpus's own df distribution
        lists = [
            (np.fromiter(sorted(p), np.int64), np.fromiter((p[d] for d in sorted(p)), np.int64))
            for p in self.key.postings.values()
        ]
        t = time.perf_counter()
        blobs = [encode_postings(d, tf) for d, tf in lists]
        enc = time.perf_counter() - t
        t = time.perf_counter()
        decoded = [decode_postings(b) for b in blobs]
        dec = time.perf_counter() - t
        mb = sum(len(b) for b in blobs) / 1e6
        L["codec.encode_mb_per_s"] = (mb / enc, "MB/s")
        L["codec.decode_mb_per_s"] = (mb / dec, "MB/s")
        self.check(
            all(np.array_equal(a[0], b[0]) and np.array_equal(a[1], b[1]) for a, b in zip(lists, decoded)),
            "codec: decode(encode(x)) == x",
        )

    def probe_engine(self) -> None:
        import pyspark.sql.functions as F

        from search_engine_spark import fsio
        from search_engine_spark.build import term_bucket
        from search_engine_spark.engine import TranscriptSearchEngine
        from search_engine_spark.text.normalize import query_normalize

        eng, L = self.eng, self.layer
        opens = []
        for _ in range(5):
            t = time.perf_counter()
            TranscriptSearchEngine(self.spark, self.index_dir)
            opens.append((time.perf_counter() - t) * 1000)
        L["fsio.engine_open_ms"] = (statistics.median(opens), "ms")

        terms = sorted({query_normalize(w) for q, _ in self.queries["ranked_head"] for w in q.split()})
        lookups = []
        for _ in range(5):
            t = time.perf_counter()
            rows = eng.terms.where(F.col("term").isin(terms)).select("term", "df").collect()
            lookups.append((time.perf_counter() - t) * 1000)
        L["engine.dict_lookup_ms"] = (statistics.median(lookups), "ms")
        self.check(
            {r["term"]: r["df"] for r in rows} == {t: self.key.df[t] for t in terms if t in self.key.df},
            "dictionary lookup: df",
        )

        buckets = sorted({term_bucket(t, eng.term_buckets) for t in terms})
        t = time.perf_counter()
        with self.tracer.span("postings_scan"):
            row = eng.postings.where(
                F.col("bucket").isin(buckets) & F.col("term").isin(terms)
            ).agg(F.count("*").alias("cells"), F.sum(F.length("postings_bin")).alias("b")).first()
        L["engine.postings_scan_ms"] = ((time.perf_counter() - t) * 1000, "ms")
        L["engine.postings_cells"] = (row["cells"], "count")
        self.postings_bytes = fsio.tree_bytes(
            self.spark, fsio.join(self.index_dir, eng._table_names.get("postings", "postings"))
        )

        expands = []
        for pattern, _ in self.queries["wildcard"]:
            t = time.perf_counter()
            got = eng.wildcard_expand(pattern)
            expands.append((time.perf_counter() - t) * 1000)
            self.check(got == self.key.wildcard_expand(pattern), f"wildcard_expand {pattern!r}")
        L["text.wildcard_expand_ms"] = (statistics.median(expands), "ms")

    # ----------------------------------------------------------- finish
    def stop(self) -> None:
        """Stop Spark and wait until its JVM (and with it every Python
        worker) has exited."""
        if not hasattr(self, "spark"):
            return
        sc = self.spark.sparkContext
        proc = getattr(sc._gateway, "proc", None)
        self.spark.stop()
        sc._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()

    def event_log_metrics(self) -> None:
        spans, L = self.tracer.spans, self.layer
        metrics = stage_metrics(self.event_dir)
        build = span_totals(metrics, spans, self.tracer.named("build"))
        for k in ("jobs", "stages", "tasks"):
            L[f"build.{k}"] = (build[k], "count")
        L["build.shuffle_write_bytes"] = (build["shuffle_write_bytes"], "bytes")
        L["build.spill_bytes"] = (build["spill_bytes"], "bytes")
        L["build.executor_run_s"] = (build["executor_run_ms"] / 1000, "s")
        scan = span_totals(metrics, spans, self.tracer.named("postings_scan"))
        L["engine.scan_bytes_ratio"] = (scan["input_bytes"] / self.postings_bytes, "ratio")
        for cls in corpus.CLASSES:
            roots = [s for s in self.tracer.named(cls) if s["parent"] == self.window_span]
            per = span_totals(metrics, spans, roots[:1])
            for k in ("jobs", "stages", "tasks"):
                L[f"engine.{cls}.{k}"] = (per[k], "count")

    def build_layer_metrics(self) -> None:
        L, info = self.layer, self.build_info
        phases = dict(info["phases"])
        for chunk in info["chunks"]:
            for k, v in chunk["phases"].items():
                phases[k] = phases.get(k, 0.0) + v
        for k in ("doc_ids", "tf_and_stats", "vocab", "postings", "finalize"):
            L[f"build.phase.{k}_s"] = (phases[k], "s")
        L["build.turns_per_s"] = (N_TURNS / self.build_s, "turns/s")
        L["build.posting_rows"] = (info["posting_rows"], "count")
        tables = {t: t for t in TABLES}
        tables["terms"] = self.eng._terms_name  # the versioned dictionary
        for name, path in tables.items():
            L[f"index.bytes.{name}"] = (tree_bytes(os.path.join(self.index_dir, path)), "bytes")


#: index tables whose on-disk bytes the traced run reports, measured
#: right after the build
TABLES = ("docs", "doc_stats", "postings", "vocab_chunks", "kgrams", "vocab", "terms")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, "search_engine_spark", "engine.py")):
        log("run this from the root of a checkout of the repository")
        return 2
    sys.path[:0] = [ROOT, HERE]

    bench = Bench(args)
    bench.prepare()
    steal = by_class = None
    try:
        bench.setup()
        if args.trace:
            bench.build_layer_metrics()
            bench.traced()
        else:
            s = bench.window(max(1, int(args.seconds // ROUND_S[args.workload])))
            metrics = bench.end_to_end(s)
            by_class = {c: [round(x) for x in ms] for c, ms in s["by_class"].items()}
            steal = s["steal"]
    finally:
        bench.stop()
    if args.trace:
        bench.event_log_metrics()
        bench.tracer.write(os.path.join(bench.trace_dir, "spans.jsonl"))
        metrics = bench.layer
    throttled = steal is not None and steal > STEAL_MAX
    if steal is not None:
        log(f"CPU steal during the loop: {steal:.1%}" + (" THROTTLED" if throttled else ""))
    record = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "steal": steal, "throttled": throttled,
        "attempted": bench.attempted, "failed": bench.failed,
        "metrics": {k: v for k, (v, _u) in metrics.items()},
        "query_ms_by_class": by_class,
    }
    with open(os.path.join(WORK, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    shutil.rmtree(bench.run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
