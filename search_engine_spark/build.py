"""Index build pipeline (the write path).

Spark-first re-expression of the reference's SPIMI build
(reference ``diskindex.py:130-260``):

* tokenize/normalize/per-doc aggregate: one Arrow-batched pandas UDF
  (``analyze_doc_udf``) — tf entries, vocabulary and doc weights
  (``diskindex.py:302-306``) all map-side, so the build's only shuffle
  is the term partitioning (Spark's sort-based shuffle-with-spill
  subsumes SPIMI block flush/merge, ``diskindex.py:187-260``)
* postings are stored per (term, doc-range block): the block span both
  bounds per-key shuffle payload for hot terms (the salted two-phase
  groupBy — salt = doc range, so blocks stay doc-ordered and delta
  encoding still works) and carries block-max metadata for WAND-style
  top-k pruning
* physical layout: delta + varbyte binary postings (north_rule upgrade
  over the reference's fixed 4-byte encoding, ``diskindex.py:262-279``),
  positions in a separate column so column pruning skips them for
  non-phrase queries
* checkpointed build: the doc space is split into chunks; each chunk
  commits independently with a manifest entry (rows/bytes/secs), and
  ``resume=True`` skips committed chunks — the reference's Spimi restarts
  from zero on failure; the north_rule requires idempotent resume.

Tables are written as Parquet directories (Iceberg-ready layout: add the
Iceberg catalog jars and swap ``storage.write_table``; the jars are not
in this sandbox image).
"""

from __future__ import annotations

import functools
import math
import time

import numpy as np
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from search_engine_spark import fsio
from search_engine_spark.functions.udfs import (
    analyze_doc_udf,
    kgrams_udf,
)
from search_engine_spark.operators.docids import with_doc_ids_counted

# Docs per posting block — the doc-range salt. This bounds (a) the
# per-(term, block) group size in the build shuffle and (b) the decode
# unit at query time, so a hot term (a stopword present in every doc)
# fans out across corpus_size/BLOCK_SPAN tasks instead of landing on
# one reducer. 64k docs/block keeps the worst group ~hundreds of KB
# encoded while the per-term metadata stays tiny (10^12 turns -> ~15M
# blocks per hot term, spread over the cluster).
DEFAULT_BLOCK_SPAN = 1 << 16

# The positional workers pack (doc rank, position) into one int64 key,
# where the rank is dense over the distinct docs of one worker call and
# checked < 2^30 there, and position < 2^33 (engine._decode_cells). A
# span of at most 2^30 keeps any single block under that rank limit.
MAX_BLOCK_SPAN = 1 << 30

# Hash-bucketed storage layout: postings are written under
# bucket=<crc32(term) % N> directories so a query's term set prunes to
# ~|buckets(terms)|/N of the files BEFORE any footer/row-group stats
# are consulted (the directory-level stand-in for Iceberg's bucket
# transform; row-group min/max on the term-sorted files prunes the
# rest). N is fixed per index and recorded in _meta.json.
DEFAULT_TERM_BUCKETS = 32

# Logical table -> physical directory name. Fresh builds use the
# identity map; compaction rewrites tables under generation-suffixed
# names and flips the map atomically in _meta.json (same snapshot
# discipline as the versioned terms dictionary).
DEFAULT_TABLES = {
    name: name
    for name in (
        "docs", "doc_stats", "postings", "vocab_chunks", "kgrams", "vocab",
        "manifest",
    )
}

# Bump whenever the on-disk table layout changes (readers refuse
# mismatched indexes instead of failing mid-query).
# v6: versioned terms dictionary (meta["terms_table"] snapshot pointer),
#     meta["n_chunks"] commit counter, per-append manifest provenance
#     (base/n_docs/ingest) enabling crash recovery, all metadata I/O
#     through the Hadoop FileSystem API (non-local index_dir works).
FORMAT_VERSION = 6


def term_bucket(term: str, n_buckets: int) -> int:
    """Python-side twin of :func:`term_bucket_col` (query-side pruning)."""
    import zlib

    return zlib.crc32(term.encode("utf-8")) % n_buckets


def term_bucket_col(col, n_buckets: int):
    """crc32(term) % N as a Column — matches :func:`term_bucket` exactly
    (both are unsigned CRC-32 of the UTF-8 bytes)."""
    return (F.crc32(F.encode(col, "UTF-8")) % F.lit(n_buckets)).cast("int")


POSTINGS_SCHEMA = (
    "term string, block_id long, df_block int, first_doc_id long, "
    "last_doc_id long, max_tf int, min_dl int, sum_tf long, "
    "max_partial double, postings_bin binary, weights_bin binary, "
    "positions_bin binary, doclens_bin binary"
)


def _encode_cells(codes, term_dict, block, doc, tf, weight, doclen, positions):
    """The one posting-cell writer: the SPIMI block flush
    (``diskindex.py:187-217``) shared by the build's map side and the
    merge worker, and the write path's only caller of the codec encoders.

    Input: postings in any order, one entry each — the posting's term is
    ``term_dict[codes[i]]`` (an Arrow string array) and ``positions`` is
    flat, ``tf[i]`` positions per posting in input order. The postings
    are sorted by (term code, block, doc) and one ``POSTINGS_SCHEMA``
    row is returned per (term code, block), in that order, as a
    ``pyarrow.Table``. The block metadata reduces the same elementwise
    expressions fsck's ``cell_wand_bound`` recomputes per cell, so
    ``max_partial`` matches it exactly.
    """
    import pyarrow as pa

    from search_engine_spark.functions import codec

    in_start = np.cumsum(tf) - tf
    order = np.lexsort((doc, block, codes))
    codes, block, doc, tf, weight, doclen = (
        a[order] for a in (codes, block, doc, tf, weight, doclen)
    )
    pos_end = np.cumsum(tf)
    pos_start = pos_end - tf
    positions = positions[
        np.repeat(in_start[order] - pos_start, tf) + np.arange(int(tf.sum()))
    ]

    new = np.ones(doc.size, dtype=bool)
    new[1:] = (codes[1:] != codes[:-1]) | (block[1:] != block[:-1])
    gs = np.flatnonzero(new)
    df = np.diff(np.append(gs, doc.size))
    ge = gs + df
    # per-posting L_d inline (raw float64): ranked scoring reads it from
    # the block instead of shuffling doc_stats per query
    weight_bytes = np.ascontiguousarray(weight, dtype="<f8").tobytes()
    postings, weights, pos_bins, doclens = [], [], [], []
    for s, e in zip(gs.tolist(), ge.tolist()):
        postings.append(codec.encode_postings(doc[s:e], tf[s:e]))
        weights.append(weight_bytes[8 * s : 8 * e])
        pos_bins.append(
            codec.encode_positions(tf[s:e], positions[pos_start[s] : pos_end[e - 1]])
        )
        # per-posting doc length (varbyte) — BM25's length normalization
        # reads it from the block, no doc_stats join at query time
        doclens.append(codec.vb_encode(doclen[s:e]))
    return pa.table(
        {
            "term": term_dict.take(pa.array(codes[gs])).cast(pa.string()),
            "block_id": pa.array(block[gs], pa.int64()),
            "df_block": pa.array(df, pa.int32()),
            "first_doc_id": pa.array(doc[gs], pa.int64()),
            "last_doc_id": pa.array(doc[ge - 1], pa.int64()),
            "max_tf": pa.array(np.maximum.reduceat(tf, gs), pa.int32()),
            # block-min doc length: BM25's block-max upper bound is
            # monotone decreasing in dl, so f(max_tf, min_dl) bounds
            # every posting in the cell
            "min_dl": pa.array(np.minimum.reduceat(doclen, gs), pa.int32()),
            "sum_tf": pa.array(np.add.reduceat(tf, gs), pa.int64()),
            # block-max of the doc-normalized partial score (1+ln tf)/L_d
            # -- the WAND upper bound for this block under wqt scaling
            "max_partial": pa.array(
                np.maximum.reduceat((1.0 + np.log(tf)) / weight, gs), pa.float64()
            ),
            "postings_bin": pa.array(postings, pa.binary()),
            "weights_bin": pa.array(weights, pa.binary()),
            "positions_bin": pa.array(pos_bins, pa.binary()),
            "doclens_bin": pa.array(doclens, pa.binary()),
        }
    )


def _encode_partial_blocks(batches, block_span):
    """``mapInArrow`` worker: turn one doc-range partition of analyzed
    docs straight into encoded posting-block SEGMENTS.

    Input columns: doc_id, terms, tfs, positions (per-doc arrays),
    weight, doc_len. The worker flattens them with Arrow list offsets
    (no explode, no per-row Python) and makes one :func:`_encode_cells`
    call for the whole partition: one segment per (term, block) present
    in it. Downstream only these compressed segments shuffle
    (bytes-per-posting, not row-per-posting), which is what makes the
    build's one wide exchange cheap at 10^12-turn scale.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    # one Arrow compute thread per task: parallelism comes from Spark
    # tasks; N workers x arrow-threads-per-core oversubscribes the box
    # and ANTI-scales wide builds (measured: 8-core postings phase 153 s
    # vs 87 s at 2 cores on a 4M-turn corpus before this cap)
    pa.set_cpu_count(1)

    # whole-partition processing: one segment per (term, block) per task
    # (per-batch flushes would fragment blocks into ~25x more segments;
    # spark.sql.files.maxPartitionBytes bounds the materialized size)
    batches = list(batches)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches)
    terms_list = tbl.column("terms").combine_chunks()
    n_per_doc = pc.list_value_length(terms_list).to_numpy().astype(np.int64)
    dict_arr = terms_list.flatten().dictionary_encode()
    doc = np.repeat(tbl.column("doc_id").to_numpy(), n_per_doc)
    positions = tbl.column("positions").combine_chunks().flatten().flatten()
    yield from _encode_cells(
        dict_arr.indices.to_numpy().astype(np.int64),
        dict_arr.dictionary,
        doc // block_span,
        doc,
        tbl.column("tfs").combine_chunks().flatten().to_numpy().astype(np.int64),
        np.repeat(tbl.column("weight").to_numpy(), n_per_doc),
        np.repeat(tbl.column("doc_len").to_numpy().astype(np.int64), n_per_doc),
        positions.to_numpy(zero_copy_only=False).astype(np.int64),
    ).to_batches()


POSTINGS_BUCKETED_SCHEMA = POSTINGS_SCHEMA + ", bucket int"

# the merge worker's ``deleted`` for build and append: drop nothing
_NO_DELETES = np.empty(0, dtype=np.int64)


def _merge_cells(batches, deleted):
    """``mapInArrow`` worker for the postings exchange's reduce side:
    the SPIMI k-way merge (``diskindex.py:219-260``) and compaction's
    tombstone purge in one pass.

    The partition holds every segment of each of its (term, block_id)
    keys: the exchange hash-partitions on a bucket-major ``pid`` column
    (``pid = bucket * sub_slots + hash(term, block_id) % sub_slots``),
    so equal keys always co-locate. The partition is sorted by (bucket,
    term, block_id) — the output files must be term-ordered for
    row-group min/max pruning. ``deleted`` is the sorted array of doc
    ids to drop (empty for build and append). A key with one segment
    and no deleted id inside its [first_doc_id, last_doc_id] passes
    through undecoded; every other key is decoded, loses its deleted
    postings and is re-encoded by one :func:`_encode_cells` call — a
    cell left with no postings disappears.
    """
    import pyarrow as pa
    import pyarrow.compute as pc

    from search_engine_spark.functions import codec

    pa.set_cpu_count(1)  # see _encode_partial_blocks
    batches = list(batches)
    if not batches:
        return
    tbl = pa.Table.from_batches(batches).sort_by(
        [("bucket", "ascending"), ("term", "ascending"), ("block_id", "ascending")]
    )
    terms = tbl.column("term").combine_chunks()
    blocks = tbl.column("block_id").to_numpy()
    new = np.ones(tbl.num_rows, dtype=bool)
    new[1:] = (blocks[1:] != blocks[:-1]) | pc.not_equal(
        terms[1:], terms[:-1]
    ).to_numpy(zero_copy_only=False)
    key = np.cumsum(new) - 1
    starts = np.flatnonzero(new)
    n_segments = np.diff(np.append(starts, tbl.num_rows))
    hit = np.searchsorted(
        deleted, tbl.column("last_doc_id").to_numpy(), "right"
    ) > np.searchsorted(deleted, tbl.column("first_doc_id").to_numpy(), "left")
    redo = (n_segments[key] > 1) | hit
    if not redo.any():
        yield from tbl.to_batches(max_chunksize=4096)
        return

    docs, tfs, weights, doclens, positions = [], [], [], [], []
    for row in tbl.filter(pa.array(redo)).to_pylist():
        d, t = codec.decode_postings(row["postings_bin"])
        docs.append(d)
        tfs.append(t)
        weights.append(np.frombuffer(row["weights_bin"], dtype="<f8"))
        doclens.append(codec.vb_decode(row["doclens_bin"]))
        positions.append(codec.decode_positions_flat(row["positions_bin"], t))
    sizes = [d.size for d in docs]
    doc, tf = np.concatenate(docs), np.concatenate(tfs)
    live = ~np.isin(doc, deleted)
    code = np.repeat(key[redo], sizes)[live]
    merged = _encode_cells(
        code,
        terms.take(pa.array(starts)),
        np.repeat(blocks[redo], sizes)[live],
        doc[live],
        tf[live],
        np.concatenate(weights)[live],
        np.concatenate(doclens)[live],
        np.concatenate(positions)[np.repeat(live, tf)],
    )
    kept = np.unique(code)
    merged = merged.append_column(
        "bucket", tbl.column("bucket").take(pa.array(starts[kept]))
    ).cast(tbl.schema)
    out = pa.concat_tables([tbl.filter(pa.array(~redo)), merged])
    order = np.argsort(np.concatenate([key[~redo], kept]), kind="stable")
    yield from out.take(pa.array(order)).to_batches(max_chunksize=4096)


class IndexBuilder:
    """Builds the on-disk index: docs, doc_stats, postings, terms, kgrams."""

    def __init__(
        self,
        spark: SparkSession,
        index_dir: str,
        block_span: int = DEFAULT_BLOCK_SPAN,
        write_partitions: int | None = None,
        term_buckets: int = DEFAULT_TERM_BUCKETS,
    ):
        if not 1 <= block_span <= MAX_BLOCK_SPAN:
            raise ValueError(
                f"block_span must be in [1, {MAX_BLOCK_SPAN}] (phrase-key "
                f"packing invariant), got {block_span}"
            )
        if term_buckets < 1:
            raise ValueError(f"term_buckets must be >= 1, got {term_buckets}")
        self.spark = spark
        self.index_dir = index_dir
        self.block_span = block_span
        self.term_buckets = term_buckets
        self.tables: dict[str, str] = dict(DEFAULT_TABLES)
        self.write_partitions = write_partitions or int(
            spark.conf.get("spark.sql.shuffle.partitions")
        )

    # -- paths ---------------------------------------------------------------
    def _p(self, *parts: str) -> str:
        return fsio.join(self.index_dir, *parts)

    def _t(self, logical: str, *parts: str) -> str:
        """Path of a logical table's CURRENT physical directory."""
        return self._p(self.tables.get(logical, logical), *parts)

    def _ensure_readable(self, path: str, schema) -> None:
        """A zero-row write emits no parquet files, and a footerless
        directory cannot be read back (schema inference fails) — park
        one explicit-schema empty file so degenerate corpora (empty
        chunk, empty index) stay queryable."""
        if not fsio.has_file_with_suffix(self.spark, path, ".parquet"):
            self.spark.createDataFrame([], schema).write.mode("append").parquet(
                path
            )

    _SPLIT_CONF = "spark.sql.files.maxPartitionBytes"

    def _set_docs_split_conf(self) -> str | None:
        """Size docs-scan file splits for ~4 map tasks per build slot.

        The chunk build's heavy stages (analyzer UDF, posting encoder)
        are whole-partition Arrow workers over the docs scan; Spark's
        default split packing yields ~one split per core (``totalBytes /
        defaultParallelism``), so one straggler task serializes the
        stage tail — with no spare tasks to steal. Finer splits (floor
        8 MiB so a split still spans multiple posting blocks and the
        merge's segments-per-key stays ~1-2) give the scheduler slack
        without adding any shuffle.

        Granularity keys off ``write_partitions`` (the build's one
        parallelism knob — it defaults to shuffle partitions, which
        tracks cluster width in normal use), NOT ``defaultParallelism``:
        the scan granularity is then a property of the JOB CONFIG, so
        running the same configured build on more executors changes only
        how many tasks run concurrently — never the per-task working set.
        Cores-derived splits gave a 1-core run of a 6M-turn corpus
        ~64 MiB analyzer batches (memory churn, superlinear slowdown)
        while the 4-core run of the *same job* got ~16 MiB ones. Returns
        the previous conf value for :meth:`_restore_split_conf`."""
        size = fsio.tree_bytes(self.spark, self._t("docs"))
        slots = max(self.write_partitions, 1)
        target = max(8 << 20, min(128 << 20, size // (4 * slots)))
        old = self.spark.conf.get(self._SPLIT_CONF, None)
        self.spark.conf.set(self._SPLIT_CONF, str(int(target)))
        return old

    def _restore_split_conf(self, old: str | None) -> None:
        if old is None:
            self.spark.conf.unset(self._SPLIT_CONF)
        else:
            self.spark.conf.set(self._SPLIT_CONF, old)

    # -- public API ------------------------------------------------------------
    def build(
        self,
        transcripts: DataFrame,
        chunk_docs: int | None = None,
        resume: bool = False,
        ingest: dict | None = None,
    ) -> dict:
        """Full (optionally chunked + resumable) index build.

        ``chunk_docs``: docs per committed chunk (default: everything in
        one chunk). Chunks are doc-id ranges, so per-chunk postings blocks
        are disjoint across chunks and no cross-chunk merge is needed —
        the union of chunk outputs IS the index (what the reference's
        k-way block merge achieves, ``diskindex.py:219-260``).

        ``ingest``: streaming provenance recorded in the final meta
        write, so a replayed first micro-batch is fenced atomically
        with the build commit itself (:mod:`..streaming.ingest`).
        """
        t0 = time.time()
        phases: dict[str, float] = {}
        if not resume and fsio.exists(self.spark, self.index_dir):
            fsio.delete(self.spark, self.index_dir)
        if resume and fsio.exists(self.spark, self._p("_meta.json")):
            self._read_meta()  # pick up the live table map (post-compaction)
        else:
            self.tables = dict(DEFAULT_TABLES)
        fsio.mkdirs(self.spark, self._t("manifest"))

        num_docs = None
        if not resume or not fsio.exists(self.spark, self._t("docs", "_SUCCESS")):
            # the offset pass counts every partition anyway, so the
            # corpus size is free — no extra count() scan
            docs, num_docs, parted = with_doc_ids_counted(transcripts)
            docs.write.mode("overwrite").parquet(self._t("docs"))
            self._ensure_readable(self._t("docs"), docs.schema)
            if parted is not None:
                parted.unpersist()
        old_split = self._set_docs_split_conf()
        docs = self.spark.read.parquet(self._t("docs"))
        try:
            if num_docs is None:
                num_docs = docs.count()
            phases["doc_ids"] = time.time() - t0

            chunk_docs = chunk_docs or max(num_docs, 1)
            # Align chunk boundaries to whole posting blocks: chunks are
            # doc-id ranges and postings are keyed by (term, block_id), so a
            # boundary inside a block would make two chunks emit rows for
            # the SAME (term, block_id) — readers assume that key is unique
            # (set ops and WAND metadata would silently drop/double-count).
            chunk_docs = math.ceil(chunk_docs / self.block_span) * self.block_span
            n_chunks = math.ceil(num_docs / chunk_docs) if num_docs else 1
            if n_chunks > 1:
                # multi-chunk builds rescan the corpus per chunk; pin it.
                # (single-chunk builds read it exactly once — caching would
                # only add serialization cost)
                docs.persist(StorageLevel.MEMORY_AND_DISK)
            chunk_metrics = []
            for chunk in range(n_chunks):
                lo, hi = chunk * chunk_docs, (chunk + 1) * chunk_docs
                manifest_path = self._t("manifest", f"chunk_{chunk}.json")
                if resume and fsio.exists(self.spark, manifest_path):
                    chunk_metrics.append(fsio.read_json(self.spark, manifest_path))
                    continue
                metrics = self._build_chunk(
                    docs.where((F.col("doc_id") >= lo) & (F.col("doc_id") < hi)),
                    chunk,
                )
                metrics["base"] = lo
                fsio.write_json_atomic(self.spark, manifest_path, metrics)
                chunk_metrics.append(metrics)

            t_fin = time.time()
            self._finalize(num_docs, n_chunks=n_chunks, ingest=ingest)
            phases["finalize"] = time.time() - t_fin
        finally:
            if docs.is_cached:
                docs.unpersist()
            self._restore_split_conf(old_split)
        wall = time.time() - t0
        totals = {
            "phases": phases,
            "num_docs": num_docs,
            "n_chunks": n_chunks,
            "posting_rows": sum(m["posting_rows"] for m in chunk_metrics),
            "posting_bytes": sum(m["posting_bytes"] for m in chunk_metrics),
            "build_secs": wall,
            "docs_per_sec": num_docs / wall if wall else 0.0,
            "chunks": chunk_metrics,
        }
        fsio.write_json_atomic(self.spark, self._p("build_metrics.json"), totals)
        return totals

    def _read_meta(self) -> dict:
        meta = fsio.read_json_atomic(self.spark, self._p("_meta.json"))
        self.tables = dict(meta.get("tables", DEFAULT_TABLES))
        if meta.get("format_version") != FORMAT_VERSION:
            raise ValueError(
                f"cannot append to format_version {meta.get('format_version')} "
                f"index (this builder writes {FORMAT_VERSION})"
            )
        if meta["block_span"] != self.block_span:
            raise ValueError(
                f"index has block_span {meta['block_span']}, builder has "
                f"{self.block_span}"
            )
        if meta["term_buckets"] != self.term_buckets:
            raise ValueError(
                f"index has term_buckets {meta['term_buckets']}, builder has "
                f"{self.term_buckets}"
            )
        return meta

    def _manifest_chunks(self) -> list[int]:
        """Committed chunk ids, from the manifest directory listing."""
        out = []
        for name in fsio.listdir(self.spark, self._t("manifest")):
            if name.startswith("chunk_") and name.endswith(".json"):
                out.append(int(name[len("chunk_") : -len(".json")]))
        return sorted(out)

    def recover(self, meta: dict | None = None) -> dict:
        """Roll the dictionary/meta forward over any chunk whose manifest
        committed but whose finalize never ran (crash between the two).

        The chunk manifest is the COMMIT POINT of an append: it records
        (base, n_docs, ingest) so this replay needs nothing else. Chunks
        are applied in id order; each replayed finalize ends with an
        atomic ``_meta.json`` write, so recovery itself is resumable.
        Returns the up-to-date meta.
        """
        if meta is None:
            meta = self._read_meta()
        for chunk in self._manifest_chunks():
            if chunk < meta["n_chunks"]:
                continue
            m = fsio.read_json(self.spark, self._t("manifest", f"chunk_{chunk}.json"))
            if "n_docs" not in m:
                raise ValueError(
                    f"chunk {chunk} manifest has no append provenance; "
                    "re-run IndexBuilder.build(resume=True) to finalize"
                )
            meta = self._finalize_incremental(
                chunk,
                meta,
                base=m["base"],
                n_docs=m["n_docs"],
                ingest=m.get("ingest"),
            )["meta"]
        return meta

    def append(
        self,
        transcripts: DataFrame,
        ingest: dict | None = None,
    ) -> dict:
        """Incrementally index new transcripts into an EXISTING index —
        a capability the reference lacks (its Spimi rebuilds from zero,
        ``diskindex.py:130-135``) but a continuously-ingesting corpus
        needs: the new batch becomes one more committed chunk.

        New doc ids start at the next block boundary past every
        existing id, so the batch's (term, block_id) cells are disjoint
        from all prior chunks and no existing posting row is rewritten
        — append cost is O(new docs) for the postings and O(dictionary)
        for the finalize (:meth:`_finalize_incremental`), never
        O(index). The id sequence has a gap of up to ``block_span - 1``
        per append (queries never assume density; ``num_docs`` stays the
        true doc COUNT for scoring).

        Crash safety (the commit protocol):

        1. docs parquet append — uncommitted task files live under
           ``_temporary`` and are invisible; committed-but-unmanifested
           rows are ORPHANS, skipped forever by the next append's
           orphan probe (max doc_id >= base ⇒ bump base past them) and
           never reachable from postings;
        2. chunk build (per-chunk dirs, mode overwrite — a replay of a
           half-built chunk simply rewrites it);
        3. chunk manifest atomic write — THE commit point; it records
           (base, n_docs, ingest) so step 4 can be replayed;
        4. incremental finalize + atomic ``_meta.json`` — if a crash
           lands between 3 and 4, the next :meth:`recover`/append/open
           replays 4 from the manifest.

        ``ingest``: optional ``{"lineage": ..., "batch_id": ...}``
        provenance recorded in the manifest and meta — the streaming
        layer's exactly-once replay guard (:mod:`..streaming.ingest`).
        If the given (lineage, batch_id) is already committed, the
        append is skipped and ``{"skipped": True}`` is returned.
        """
        meta = self.recover()
        if ingest is not None:
            last = meta.get("ingest") or {}
            if (
                last.get("lineage") == ingest.get("lineage")
                and last.get("batch_id") is not None
                and ingest.get("batch_id") <= last["batch_id"]
            ):
                return {"skipped": True, "reason": "batch already committed"}
        t0 = time.time()
        next_id = meta.get("next_doc_id", meta["num_docs"])
        base = math.ceil(next_id / self.block_span) * self.block_span
        # orphan probe: docs rows at/after base mean a prior append
        # crashed before its manifest commit — skip past them (they have
        # no postings; dead weight until a compaction rewrites docs)
        max_doc = (
            self.spark.read.parquet(self._t("docs"))
            .where(F.col("doc_id") >= base)
            .agg(F.max("doc_id"))
            .first()[0]
        )
        if max_doc is not None:
            base = math.ceil((max_doc + 1) / self.block_span) * self.block_span
        new_docs, n_new, parted = with_doc_ids_counted(transcripts)
        new_docs = new_docs.withColumn("doc_id", F.col("doc_id") + F.lit(base))
        new_docs.write.mode("append").parquet(self._t("docs"))
        if parted is not None:
            parted.unpersist()
        chunk = meta["n_chunks"]
        old_split = self._set_docs_split_conf()
        try:
            docs = self.spark.read.parquet(self._t("docs")).where(
                F.col("doc_id") >= base
            )
            metrics = self._build_chunk(docs, chunk)
        finally:
            self._restore_split_conf(old_split)
        metrics.update({"base": base, "n_docs": n_new})
        if ingest is not None:
            metrics["ingest"] = ingest
        fsio.write_json_atomic(
            self.spark, self._t("manifest", f"chunk_{chunk}.json"), metrics
        )
        fin = self._finalize_incremental(
            chunk, meta, base=base, n_docs=n_new, ingest=ingest
        )
        return {
            "appended_docs": n_new,
            "first_doc_id": base,
            "num_docs": fin["meta"]["num_docs"],
            "chunk": chunk,
            "secs": round(time.time() - t0, 2),
            "finalize_scans": fin["scans"],
        }

    def compact(self) -> dict:
        """LSM-style maintenance: rewrite the index's data tables into
        one consolidated generation and flip the table map atomically.

        Why it exists: streaming ingestion commits one chunk per
        micro-batch, so a long-lived index accumulates thousands of
        small ``chunk=N`` directories (file-listing and footer overhead
        on every pruned scan), orphan docs rows from crashed appends
        (dead weight in the docs table), and possibly duplicated
        kgram/vocab rows from crash-replayed finalizes. Compaction is
        the O(index) repair op that amortizes all three away — run it
        occasionally, not per batch.

        What it does (doc ids are PRESERVED — postings bytes are
        rewritten into fewer, term-sorted files but never re-keyed):

        * docs: orphan rows vacuumed (joined against doc_stats),
          rewritten range-partitioned by doc_id;
        * postings: all chunks merged into one ``chunk=0`` generation
          via the same bucket-major fused shuffle as the build;
        * doc_stats / vocab_chunks: consolidated to one chunk;
        * kgrams / vocab: deduplicated;
        * manifest: reset to a single consolidated entry.

        When the index carries tombstones (:meth:`delete`), compaction
        additionally PURGES them — Lucene's merge-time reclaim: deleted
        rows drop out of docs/doc_stats, posting cells whose doc range
        holds a deleted id are decoded/filtered/re-encoded by the merge
        worker (every other cell passes through byte-identical; the
        sorted tombstone ids ship to it, O(deletes) — the same set every
        masked query broadcasts), a fresh terms snapshot recomputes df/cf
        from the surviving postings, and num_docs/total_tokens shrink to
        the live corpus — so the stats-staleness window of logical
        deletes closes here. ``next_doc_id`` is NOT reduced: doc ids
        are never reused, so old tombstones can never resurrect onto a
        future append. The unstemmed vocab/kgram tables keep a superset
        of the live corpus's words (re-deriving them would re-analyze
        every surviving doc); a wildcard expanding to a fully-purged
        word finds df=0 and contributes nothing, matching the
        reference's behavior for any vocab word with no postings.

        Commit discipline: every rewrite lands under fresh
        ``<table>_c<generation>`` directories; nothing is visible until
        the single atomic ``_meta.json`` write flips the map
        (``meta["tables"]``), after which the old generation is GC'd
        best-effort. A crash mid-compaction leaves the live index
        untouched plus some garbage directories a later compaction's GC
        sweeps up.
        """
        spark = self.spark
        meta = self.recover()
        t0 = time.time()
        gen = meta.get("compactions", 0) + 1
        new = {logical: f"{logical}_c{gen:04d}" for logical in DEFAULT_TABLES}
        old_tables = dict(self.tables)
        old_tomb_name = meta.get("tombstones_table")
        tomb = (
            spark.read.parquet(self._p(old_tomb_name))
            if old_tomb_name
            else None
        )

        # doc_stats -> one purged chunk; the write's own Observation
        # yields the live count and token total (no read-back scan)
        stats = spark.read.parquet(self._t("doc_stats")).drop("chunk")
        if tomb is not None:
            stats = stats.join(tomb.select("doc_id"), "doc_id", "left_anti")
        obs = Observation()
        (
            stats.repartitionByRange(self.write_partitions, "doc_id")
            .sortWithinPartitions("doc_id")
            .observe(
                obs,
                F.count(F.lit(1)).alias("n_live"),
                F.coalesce(F.sum("doc_len"), F.lit(0)).alias("tokens"),
            )
            .write.mode("overwrite")
            .parquet(self._p(new["doc_stats"], "chunk=0"))
        )
        self._ensure_readable(
            self._p(new["doc_stats"], "chunk=0"),
            "doc_id long, weight double, doc_len long, n_terms long",
        )
        num_docs = int(obs.get["n_live"])
        total_tokens = int(obs.get["tokens"])

        # docs: vacuum orphans AND tombstoned rows (the purged
        # doc_stats is the live-id set), preserve ids, range-layout.
        # Dead rows are dropped only after the observe, so the write
        # itself counts them (no read-back scan); an observe below the
        # range exchange would also count its sampling pass
        docs = spark.read.parquet(self._t("docs"))
        live_ids = spark.read.parquet(
            self._p(new["doc_stats"], "chunk=0")
        ).select("doc_id", F.lit(True).alias("live"))
        docs_obs = Observation()
        (
            docs.join(live_ids, "doc_id", "left")
            .repartitionByRange(self.write_partitions, "doc_id")
            .sortWithinPartitions("doc_id")
            .observe(docs_obs, F.count_if(F.col("live").isNull()).alias("dead"))
            .where("live")
            .select(*docs.columns)
            .write.mode("overwrite")
            .parquet(self._p(new["docs"]))
        )
        self._ensure_readable(self._p(new["docs"]), docs.schema)

        # postings -> one chunk through the build's writer; keys are
        # unique across chunks, so only purged cells are re-encoded
        postings = spark.read.parquet(self._t("postings")).drop("chunk")
        posting_files_before = len(postings.inputFiles())
        deleted = _NO_DELETES
        if tomb is not None:
            deleted = np.sort(
                tomb.select("doc_id").toPandas()["doc_id"].to_numpy(np.int64)
            )
        self._write_postings(
            postings, self._p(new["postings"], "chunk=0"), deleted
        )

        # vocab_chunks -> one deduplicated chunk; kgrams/vocab dedup
        vocab_words = (
            spark.read.parquet(self._t("vocab_chunks")).select("word").distinct()
        )
        vocab_words.write.mode("overwrite").parquet(
            self._p(new["vocab_chunks"], "chunk=0")
        )
        self._ensure_readable(self._p(new["vocab_chunks"], "chunk=0"), "word string")
        kg = spark.read.parquet(self._t("kgrams")).distinct()
        kg.repartition(self.write_partitions, "gram").sortWithinPartitions(
            "gram"
        ).write.mode("overwrite").parquet(self._p(new["kgrams"]))
        self._ensure_readable(
            self._p(new["kgrams"]), "gram string, word string, n_grams int"
        )
        vb = spark.read.parquet(self._t("vocab")).distinct()
        vb.write.mode("overwrite").parquet(self._p(new["vocab"]))
        self._ensure_readable(self._p(new["vocab"]), "word string, n_grams int")

        # purge closes the stats-staleness window: a fresh dictionary
        # snapshot recomputes df/cf from the SURVIVING postings (same
        # aggregation as a fresh build's finalize)
        terms_name = meta["terms_table"]
        terms_seq = meta.get("terms_seq", meta["n_chunks"])
        if tomb is not None:
            new_postings = spark.read.parquet(self._p(new["postings"]))
            terms = new_postings.groupBy("term").agg(
                F.sum("df_block").cast("long").alias("df"),
                F.sum("sum_tf").cast("long").alias("cf"),
            )
            terms_seq += 1
            terms_name = f"terms_v{terms_seq:06d}"
            self._write_terms(terms, terms_name, num_docs)

        # manifest: single consolidated entry (chunk 0, already final)
        fsio.mkdirs(self.spark, self._p(new["manifest"]))
        fsio.write_json_atomic(
            self.spark,
            self._p(new["manifest"], "chunk_0.json"),
            {
                "chunk": 0,
                "base": 0,
                "n_docs": num_docs,
                "compacted_from_chunks": meta["n_chunks"],
                "purged_docs": (meta["num_docs"] - num_docs) if tomb is not None else 0,
                "secs": round(time.time() - t0, 2),
            },
        )

        # atomic flip, then GC the old generation
        new_meta = dict(meta)
        new_meta.update(
            {
                "tables": new,
                "n_chunks": 1,
                "compactions": gen,
                "num_docs": num_docs,
                "total_tokens": total_tokens,
                "terms_table": terms_name,
                "terms_seq": terms_seq,
                "num_deleted": 0,
            }
        )
        new_meta.pop("tombstones_table", None)
        self.tables = new
        # grace: a reader that opened the index before this flip still
        # holds the pre-compaction terms/tombstone snapshots
        keep = (meta["terms_table"],) + (
            (old_tomb_name,) if old_tomb_name else ()
        )
        self._write_meta(new_meta, keep=keep)
        for logical, name in old_tables.items():
            if name != new[logical]:
                fsio.delete(self.spark, self._p(name))
        return {
            "generation": gen,
            "vacuumed_docs": int(docs_obs.get["dead"]),
            "purged_docs": (meta["num_docs"] - num_docs) if tomb is not None else 0,
            "num_docs": num_docs,
            "posting_files_before": posting_files_before,
            "posting_files_after": len(
                spark.read.parquet(self._p(new["postings"])).inputFiles()
            ),
            "secs": round(time.time() - t0, 2),
        }

    def delete(self, doc_ids) -> dict:
        """Tombstone-delete documents by doc_id — the LSM delete path
        (the takedown/right-to-erasure op a training-data corpus needs;
        the reference has no deletes, so the semantics follow Lucene's
        deleted-docs discipline rather than any reference behavior).

        Deletes are LOGICAL and O(deletes): the ids land in a new
        versioned snapshot ``tombstones_v<N>`` — the union of the
        previous snapshot and the new ids, written complete before the
        atomic ``_meta.json`` flip, with the same one-generation GC
        grace as the terms dictionary. Readers mask tombstoned docs out
        of every query (pre-top-k, see ``engine.py``) while the corpus
        statistics that feed scoring (num_docs, df, avgdl, the stored
        L_d weights) stay PRE-delete until :meth:`compact` physically
        purges the rows and recomputes them — exactly Lucene's
        live-docs bitset + merge-time reclaim. Doc ids are never reused
        (``next_doc_id`` is monotone across appends), so a tombstone
        can never resurrect onto a future document.

        ``doc_ids``: an iterable of ints or a DataFrame with a
        ``doc_id`` column (the distributed path — e.g. the losers of a
        dedup pass or a PII scan's hits feed in without ever touching
        the driver). Ids outside ``[0, next_doc_id)`` are rejected;
        already-deleted and already-purged ids are no-ops.
        """
        spark = self.spark
        meta = self.recover()
        if isinstance(doc_ids, DataFrame):
            new_ids = doc_ids.select(F.col("doc_id").cast("long").alias("doc_id"))
        else:
            new_ids = spark.createDataFrame(
                [(int(i),) for i in doc_ids], "doc_id long"
            )
        limit = meta.get("next_doc_id", meta["num_docs"])
        n_bad = new_ids.where(
            (F.col("doc_id") < 0) | (F.col("doc_id") >= limit)
        ).count()
        if n_bad:
            raise ValueError(
                f"{n_bad} doc_id(s) outside [0, {limit}) — refusing to "
                "tombstone ids that were never assigned"
            )
        old_name = meta.get("tombstones_table")
        if old_name:
            new_ids = new_ids.union(
                spark.read.parquet(self._p(old_name)).select("doc_id")
            )
        gen = meta.get("deletes", 0) + 1
        name = f"tombstones_v{gen:06d}"
        block_span = meta["block_span"]
        tomb = new_ids.distinct().select(
            "doc_id",
            F.expr(f"CAST(doc_id DIV {block_span} AS LONG)").alias("block_id"),
        )
        obs = Observation()
        (
            tomb.repartitionByRange(
                max(1, min(self.write_partitions, 8)), "doc_id"
            )
            .sortWithinPartitions("doc_id")
            .observe(obs, F.count(F.lit(1)).alias("n"))
            .write.mode("overwrite")
            .parquet(self._p(name))
        )
        self._ensure_readable(self._p(name), "doc_id long, block_id long")
        n = obs.get["n"]
        new_meta = dict(meta)
        new_meta.update(
            {"tombstones_table": name, "num_deleted": int(n), "deletes": gen}
        )
        self._write_meta(new_meta, keep=(old_name,) if old_name else ())
        return {
            "tombstones_table": name,
            "num_deleted": int(n),
            "newly_deleted": int(n) - meta.get("num_deleted", 0),
        }

    # -- internals -------------------------------------------------------------
    def _build_chunk(self, docs_chunk: DataFrame, chunk: int) -> dict:
        t0 = time.time()
        # Analyze ONCE, aggregated per doc inside the UDF: tf entries,
        # vocabulary words, and the doc weight all come out of a single
        # map-side Arrow pass — the only shuffle left in the chunk build
        # is the term-partitioning one (the actual SPIMI merge,
        # diskindex.py:219-260).
        analyzed = docs_chunk.select(
            "doc_id", analyze_doc_udf("text").alias("a")
        ).select(
            "doc_id", "a.terms", "a.tfs", "a.positions", "a.words",
            "a.weight", "a.doc_len",
        )
        analyzed.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            t1 = time.time()
            stats = analyzed.select(
                "doc_id",
                "weight",
                F.col("doc_len").cast("long").alias("doc_len"),
                F.size("terms").cast("long").alias("n_terms"),
            )
            stats_dir = self._t("doc_stats", f"chunk={chunk}")
            stats.write.mode("overwrite").parquet(stats_dir)
            self._ensure_readable(
                stats_dir, "doc_id long, weight double, doc_len long, n_terms long"
            )
            t2 = time.time()

            # unstemmed vocabulary for the k-gram index (reference adds
            # the specials-stripped word BEFORE stemming,
            # memoryindex.py:32-33). Runs right after the analyzer pass
            # populates the cache — the words column batches are still
            # hot (JVM block LRU + OS page cache) — rather than after the
            # postings job has streamed the whole cache through the
            # shuffle.
            vocab = analyzed.select(F.explode("words").alias("word")).distinct()
            vocab_dir = self._t("vocab_chunks", f"chunk={chunk}")
            vocab.write.mode("overwrite").parquet(vocab_dir)
            self._ensure_readable(vocab_dir, "word string")
            t3 = time.time()

            # transpose doc-major -> term-major, SPIMI style: each
            # doc-range partition flushes its own encoded (term, block)
            # segments map-side, so the one wide exchange moves
            # compressed posting bytes, not row-per-posting records
            encode = functools.partial(_encode_partial_blocks, block_span=self.block_span)
            partials = (
                analyzed.select(
                    "doc_id", "terms", "tfs", "positions", "weight", "doc_len"
                )
                .mapInArrow(encode, POSTINGS_SCHEMA)
                .withColumn("bucket", term_bucket_col(F.col("term"), self.term_buckets))
            )
            agg = self._write_postings(
                partials, self._t("postings", f"chunk={chunk}"), _NO_DELETES
            )
            t4 = time.time()
        finally:
            analyzed.unpersist()

        return {
            "chunk": chunk,
            "posting_rows": agg["rows"],
            "posting_bytes": int(agg["bytes"]),
            "tf_rows": int(agg["tf_rows"]),
            "secs": time.time() - t0,
            "phases": {
                "tf_and_stats": round(t2 - t1, 2),
                "vocab": round(t3 - t2, 2),
                "postings": round(t4 - t3, 2),
            },
        }

    def _write_postings(self, cells: DataFrame, path: str, deleted) -> dict:
        """The one postings writer of build, append and compaction:
        ``cells`` (``POSTINGS_BUCKETED_SCHEMA`` segments) go through one
        exchange to :func:`_merge_cells`, which merges each (term,
        block_id) key's segments and drops the ``deleted`` doc ids, and
        are written ``partitionBy("bucket")`` under ``path``.

        The exchange key is a STATIC bucket-major partition id: bucket
        picks a band of ~4*P/N sub-slots and hash(term, block_id) picks
        the slot, so equal keys co-locate, a hot term's bytes spread
        over its blocks' slots, each reduce task holds a handful of
        buckets (the write stays a few term-sorted files per task), and
        — because bucket is already a uniform hash of the term — no
        range-sampling pass is needed: the whole
        encode+shuffle+merge+write is ONE fused job.

        Returns the write's row/byte metrics, observed on the write job
        itself — re-scanning the just-written postings would read the
        binary columns back a second time for three numbers."""
        sub_slots = max(1, (4 * self.write_partitions) // self.term_buckets)
        obs = Observation()
        (
            cells.withColumn(
                "pid",
                F.col("bucket") * sub_slots
                + F.pmod(F.xxhash64("term", "block_id"), F.lit(sub_slots)),
            )
            .repartition(self.write_partitions, "pid")
            .drop("pid")
            .mapInArrow(
                functools.partial(_merge_cells, deleted=deleted),
                POSTINGS_BUCKETED_SCHEMA,
            )
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.coalesce(
                    F.sum(F.length("postings_bin") + F.length("positions_bin")),
                    F.lit(0),
                ).alias("bytes"),
                F.coalesce(F.sum("df_block"), F.lit(0)).alias("tf_rows"),
            )
            .write.mode("overwrite")
            .partitionBy("bucket")
            .parquet(path)
        )
        # filler goes under a bucket= dir so partition discovery keeps a
        # consistent directory depth next to non-empty chunks
        self._ensure_readable(fsio.join(path, "bucket=0"), POSTINGS_SCHEMA)
        return obs.get

    def _term_parts(self, num_docs: int) -> int:
        # hash-partitioned + term-sorted: lookups go through an
        # isin-pushed scan, never a sorted single file — a
        # repartition(1) funnel would OOM one task at 10^12-doc
        # vocabulary sizes. Width scales with corpus size so a small
        # index stays a handful of files.
        return max(1, min(self.write_partitions, num_docs // (1 << 16) + 1))

    def _write_terms(self, terms: DataFrame, name: str, num_docs: int) -> None:
        terms.repartition(self._term_parts(num_docs), "term").sortWithinPartitions(
            "term"
        ).write.mode("overwrite").parquet(self._p(name))
        self._ensure_readable(self._p(name), "term string, df long, cf long")

    def _write_meta(self, meta: dict, keep: tuple[str, ...] = ()) -> None:
        fsio.write_json_atomic(self.spark, self._p("_meta.json"), meta)
        # GC superseded terms/tombstone snapshots (best-effort,
        # post-commit) with ONE generation of grace: a reader that
        # opened the index before this flip still holds lazy plans over
        # the previous snapshot — deleting it would fail that reader
        # mid-query, so the newest superseded snapshot of each family
        # survives until the NEXT flip. ``keep`` lets a caller protect
        # specific names regardless of sort order (the purge-compaction
        # passes the pre-flip pointers).
        listing = fsio.listdir(self.spark, self.index_dir)
        for prefix, current in (
            ("terms_v", meta["terms_table"]),
            ("tombstones_v", meta.get("tombstones_table")),
        ):
            fam_keep = {k for k in keep if k and k.startswith(prefix)}
            stale = sorted(
                name
                for name in listing
                if name.startswith(prefix)
                and name != current
                and name not in fam_keep
            )
            # a caller that named this family's grace set explicitly
            # gets exactly that; otherwise fall back to keeping the
            # newest superseded snapshot by sort order
            doomed = stale if fam_keep else stale[:-1]
            for name in doomed:
                fsio.delete(self.spark, self._p(name))

    def _finalize(
        self, num_docs: int, n_chunks: int = 1, ingest: dict | None = None
    ) -> None:
        """Full-build finalize: aggregate the dictionary tables over ALL
        chunks (appends use :meth:`_finalize_incremental` instead)."""
        # corpus token count for BM25's avgdl — one tiny aggregate over
        # the (already-written) doc_stats table
        total_tokens = int(
            self.spark.read.parquet(self._t("doc_stats"))
            .agg(F.coalesce(F.sum("doc_len"), F.lit(0)))
            .first()[0]
        )
        postings = self.spark.read.parquet(self._t("postings"))
        terms = postings.groupBy("term").agg(
            F.sum("df_block").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("cf"),
        )
        # the dictionary is a versioned snapshot: writers create
        # terms_v<N> and atomically flip meta["terms_table"] — readers
        # always see a complete table, appends never rewrite in place
        terms_name = f"terms_v{n_chunks:06d}"
        terms_seq = n_chunks
        self._write_terms(terms, terms_name, num_docs)

        vocab = (
            self.spark.read.parquet(self._t("vocab_chunks"))
            .select("word")
            .distinct()
            .withColumn("grams", kgrams_udf("word"))
            .withColumn("n_grams", F.size("grams"))
        )
        vocab.select(
            F.explode("grams").alias("gram"), "word", "n_grams"
        ).repartition(self.write_partitions, "gram").sortWithinPartitions(
            "gram"
        ).write.mode("overwrite").parquet(self._t("kgrams"))
        self._ensure_readable(
            self._t("kgrams"), "gram string, word string, n_grams int"
        )
        vocab.select("word", "n_grams").write.mode("overwrite").parquet(
            self._t("vocab")
        )
        self._ensure_readable(self._t("vocab"), "word string, n_grams int")

        meta = {
            "num_docs": num_docs,
            "next_doc_id": num_docs,
            "total_tokens": total_tokens,
            "block_span": self.block_span,
            "term_buckets": self.term_buckets,
            "format_version": FORMAT_VERSION,
            "n_chunks": n_chunks,
            "terms_table": terms_name,
            "terms_seq": terms_seq,
            "tables": self.tables,
            "compactions": 0,
        }
        if ingest is not None:
            meta["ingest"] = ingest
        self._write_meta(meta)

    def _finalize_incremental(
        self,
        chunk: int,
        meta: dict,
        base: int,
        n_docs: int,
        ingest: dict | None = None,
    ) -> dict:
        """Finalize ONE appended chunk in O(new docs) + O(dictionary):

        * total_tokens += one aggregate over the chunk's doc_stats;
        * terms: the chunk's (term, df, cf) delta merged with the
          current dictionary into a NEW snapshot ``terms_v<n+1>``
          (O(vocabulary), never O(posting metadata across all chunks));
        * kgrams/vocab: the chunk's novel words (anti-join against the
          vocab table) appended — O(new words) only;
        * atomic meta flip (num_docs, next_doc_id, total_tokens,
          n_chunks, terms_table pointer, ingest provenance).

        Crash mid-way is safe: kgram/vocab appends can at worst run
        twice before the meta flip (duplicate (gram, word) rows — every
        reader of those tables dedups with ``count_distinct``/
        ``distinct``), and the terms snapshot only becomes visible via
        the atomic meta write; :meth:`recover` replays this method from
        the chunk manifest.

        Returns ``{"meta": new_meta, "scans": {table: [input files]}}``
        — the scans map is asserted by tests to touch ONLY the new
        chunk's directories (plus the dictionary tables themselves).
        """
        spark = self.spark
        delta_stats = spark.read.parquet(self._t("doc_stats", f"chunk={chunk}"))
        delta_tokens = int(
            delta_stats.agg(F.coalesce(F.sum("doc_len"), F.lit(0))).first()[0]
        )
        delta_postings = spark.read.parquet(self._t("postings", f"chunk={chunk}"))
        delta_terms = delta_postings.groupBy("term").agg(
            F.sum("df_block").cast("long").alias("df"),
            F.sum("sum_tf").cast("long").alias("cf"),
        )
        old_terms = spark.read.parquet(self._p(meta["terms_table"]))
        num_docs = meta["num_docs"] + n_docs
        merged = (
            old_terms.unionByName(delta_terms)
            .groupBy("term")
            .agg(
                F.sum("df").cast("long").alias("df"),
                F.sum("cf").cast("long").alias("cf"),
            )
        )
        # monotonic snapshot counter — compaction resets n_chunks, so
        # keying names off the chunk number alone could collide with a
        # grace-held older snapshot; terms_seq only ever grows
        terms_seq = meta.get("terms_seq", chunk) + 1
        terms_name = f"terms_v{terms_seq:06d}"
        self._write_terms(merged, terms_name, num_docs)

        new_vocab = (
            spark.read.parquet(self._t("vocab_chunks", f"chunk={chunk}"))
            .select("word")
            .distinct()
        )
        existing = spark.read.parquet(self._t("vocab")).select("word")
        novel = (
            new_vocab.join(existing, "word", "left_anti")
            .withColumn("grams", kgrams_udf("word"))
            .withColumn("n_grams", F.size("grams"))
        )
        novel.persist(StorageLevel.MEMORY_AND_DISK)
        try:
            novel.select(
                F.explode("grams").alias("gram"), "word", "n_grams"
            ).repartition(
                max(1, self._term_parts(num_docs) // 4), "gram"
            ).sortWithinPartitions("gram").write.mode("append").parquet(
                self._t("kgrams")
            )
            novel.select("word", "n_grams").write.mode("append").parquet(
                self._t("vocab")
            )
        finally:
            novel.unpersist()

        new_meta = dict(meta)
        new_meta.update(
            {
                "num_docs": num_docs,
                "next_doc_id": base + n_docs,
                "total_tokens": meta["total_tokens"] + delta_tokens,
                "n_chunks": chunk + 1,
                "terms_table": terms_name,
                "terms_seq": terms_seq,
            }
        )
        if ingest is not None:
            new_meta["ingest"] = ingest
        self._write_meta(new_meta)
        return {
            "meta": new_meta,
            "scans": {
                "doc_stats": sorted(delta_stats.inputFiles()),
                "postings": sorted(delta_postings.inputFiles()),
                "vocab_chunks": sorted(new_vocab.inputFiles()),
            },
        }
