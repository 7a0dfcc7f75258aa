"""Seeded Zipf/Heaps transcript corpus and query generator.

The corpus is a transcript table ``(conv_id, turn_idx, role, text, tool,
ts)`` whose words follow a Zipf law (s = 1.05) over pseudo-words, so the
vocabulary grows with corpus size the way Heaps' law predicts. Measured
distinct whitespace words (seeds 1 and 2): 87.3k-87.5k at 100k turns,
44.6k at 20k turns, 16.0k at 4,096 turns. A few percent of
tokens come from the 37-word edge-case pool the repository's fixtures
use (hyphens, punctuation, stem families, a symbol-only token), so those
analyzer paths run too.

Everything is a pure function of ``seed``: the same seed gives a
byte-identical table and query set. Generation is vectorized numpy; the
only Python loops are the per-turn string join and the per-distinct-word
spelling.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pandas as pd

ZIPF_S = 1.05
#: rank cap of the Zipf law, tuned so 100k turns hold ~87k distinct words
VOCAB_RANKS = 102_000
#: share of tokens drawn from the edge-case pool
POOL_SHARE = 0.03
TURNS_PER_CONV = 10
#: Parquet files per corpus; each holds several row groups
N_FILES = 8
ROLES = ["user", "assistant", "tool"]
EPOCH = dt.datetime(2026, 1, 1, tzinfo=dt.timezone.utc)

# The fixtures' edge-case pool and weights (search_engine_spark/fixtures.py),
# copied so the benchmark's inputs never change when the fixtures do.
POOL = [
    "test", "document", "here", "data", "spark", "index", "query", "the", "and",
    "search-engine", "state-of-the-art", "top-k",
    "don't", '"quoted"', "(parens)", "trailing!!!",
    "testing", "tested", "tests", "documents", "documented",
    "running", "runs", "ran", "conspicuous",
    "docu", "this", "third", "wort", "word", "ward",
    "shuffle", "partition", "cluster", "vector", "token", "--",
]
_POOL_WEIGHTS = np.array(
    [
        0.40, 0.06, 0.05, 0.05, 0.04, 0.03, 0.03, 0.05, 0.04,
        0.01, 0.01, 0.01,
        0.01, 0.01, 0.01, 0.01,
        0.02, 0.01, 0.01, 0.02, 0.01,
        0.01, 0.01, 0.01, 0.01,
        0.005, 0.01, 0.01, 0.005, 0.005, 0.005,
        0.02, 0.02, 0.02, 0.02, 0.015, 0.005,
    ]
)
_POOL_WEIGHTS = _POOL_WEIGHTS / _POOL_WEIGHTS.sum()

#: the 90 consonant-vowel syllables pseudo-words are spelled with. The
#: order is fixed, not seeded: each rank always has the same spelling, so
#: seeds vary the sample and not the table sizes that spelling sets (the
#: k-gram table compresses 20% worse under some syllable orders)
SYLLABLES = [c + v for c in "bcdfghjklmnprstvwz" for v in "aeiou"]


def spell(ranks: np.ndarray) -> list[str]:
    """Pseudo-word for each 0-based Zipf rank: frequent ranks get short
    words (1 syllable for the top 90, 2 for the next 8,100, ...). Fixed
    two-letter syllables make the spelling a bijection."""
    base = len(SYLLABLES)
    out = []
    for r in ranks.tolist():
        n, span = 1, base
        while r >= span:
            r -= span
            n += 1
            span *= base
        digits = []
        for _ in range(n):
            r, d = divmod(r, base)
            digits.append(SYLLABLES[d])
        out.append("".join(digits))
    return out


def _zipf_ranks(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` 0-based ranks from a Zipf(s) law truncated at VOCAB_RANKS."""
    out = rng.zipf(ZIPF_S, n)
    bad = out > VOCAB_RANKS
    while bad.any():
        out[bad] = rng.zipf(ZIPF_S, int(bad.sum()))
        bad = out > VOCAB_RANKS
    return out - 1


def make_corpus(seed: int, n_turns: int, first_turn: int = 0) -> pd.DataFrame:
    """``n_turns`` transcript turns; ``first_turn`` offsets conversation
    ids and timestamps so a later batch (an append) continues the corpus."""
    rng = np.random.default_rng([seed, first_turn])
    lengths = rng.integers(5, 31, n_turns)
    n_tok = int(lengths.sum())
    ranks = _zipf_ranks(rng, n_tok)
    uniq, inv = np.unique(ranks, return_inverse=True)
    words = np.array(spell(uniq), dtype=object)[inv]
    from_pool = rng.random(n_tok) < POOL_SHARE
    words[from_pool] = np.array(POOL, dtype=object)[
        rng.choice(len(POOL), int(from_pool.sum()), p=_POOL_WEIGHTS)
    ]
    bounds = np.cumsum(lengths)[:-1]
    texts = [" ".join(w) for w in np.split(words, bounds)]
    turn = np.arange(first_turn, first_turn + n_turns)
    turn_idx = (turn % TURNS_PER_CONV).astype("int32")
    return pd.DataFrame(
        {
            "conv_id": [f"conv{c:08d}" for c in turn // TURNS_PER_CONV],
            "turn_idx": turn_idx,
            "role": np.array(ROLES, dtype=object)[turn_idx % 3],
            "text": texts,
            "tool": np.where(turn_idx % 3 == 2, "bash", ""),
            "ts": pd.to_datetime(turn, unit="s", origin=EPOCH.replace(tzinfo=None))
            .tz_localize("UTC")
            .as_unit("us"),
        }
    )


def write_parquet(pdf: pd.DataFrame, path: str) -> None:
    """Write ``pdf`` as ``N_FILES`` Parquet files of several row groups
    each (one row group would make the build's scan a single task), with
    microsecond timestamps (Spark cannot read Parquet's nanosecond
    timestamps)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    per_file = -(-len(pdf) // N_FILES)
    for i in range(N_FILES):
        part = pdf.iloc[i * per_file : (i + 1) * per_file]
        if part.empty:
            continue
        table = pa.Table.from_pandas(part, preserve_index=False)
        pq.write_table(
            table,
            os.path.join(path, f"part-{i:05d}.parquet"),
            row_group_size=max(1, per_file // 4),
            coerce_timestamps="us",
        )


# ---------------------------------------------------------------- queries
#: 0-based Zipf rank bands the query words are drawn from. At 4,096 turns
#: a head word is in about 600-3,300 turns, a mid word in 20-75, a tail
#: word in 2-30. Narrow bands keep the work per query alike across seeds.
HEAD_BAND = (0, 10)
MID_BAND = (90, 150)
TAIL_BAND = (300, 600)
QUERIES_PER_CLASS = 4
#: query classes, in the order one round of the query mix runs them
CLASSES = (
    "ranked_head", "wand_head", "bm25_head", "ranked_tail",
    "boolean", "phrase", "wildcard", "filtered",
)


def make_queries(seed: int, texts: list[str]) -> dict[str, list[tuple]]:
    """``QUERIES_PER_CLASS`` queries per class, as ``(text, window)``.

    ``window`` is ``None`` except for ``filtered``, where it is the
    ``[lo, hi)`` turn range its ``ts`` filter admits. The head classes
    share their query texts, so WAND and BM25 run on exactly the ranked
    head queries. Phrases are adjacent word pairs taken from ``texts``,
    so each has at least one match."""
    rng = np.random.default_rng([seed, 1 << 20])

    def words(band: tuple[int, int], n: int) -> list[str]:
        return spell(rng.choice(np.arange(*band), n, replace=False))

    n = QUERIES_PER_CLASS
    head = [(" ".join(words(HEAD_BAND, 2)), None) for _ in range(n)]
    boolean = []
    for _ in range(n):
        (h,), (m1, m2) = words(HEAD_BAND, 1), words(MID_BAND, 2)
        boolean.append((f"{h} {m1} + {m2}", None))
    phrase = []
    while len(phrase) < n:
        toks = texts[int(rng.integers(len(texts)))].split()
        i = int(rng.integers(len(toks) - 1))
        a, b = toks[i], toks[i + 1]
        if a.isalpha() and b.isalpha() and a != b:
            phrase.append((f'"{a} {b}"', None))
    span = len(texts) // 4
    filtered = []
    for q, _ in head:
        lo = int(rng.integers(len(texts) - span))
        filtered.append((q, (lo, lo + span)))
    return {
        "ranked_head": head,
        "wand_head": head,
        "bm25_head": head,
        "ranked_tail": [(" ".join(words(TAIL_BAND, 2)), None) for _ in range(n)],
        "boolean": boolean,
        "phrase": phrase,
        "wildcard": [(w[:3] + "*", None) for w in words(MID_BAND, n)],
        "filtered": filtered,
    }


def ts_filter(window: tuple[int, int]) -> str:
    """SQL predicate admitting the turns in ``[lo, hi)`` by timestamp."""
    lo, hi = (
        (EPOCH + dt.timedelta(seconds=s)).strftime("%Y-%m-%d %H:%M:%S")
        for s in window
    )
    return f"ts >= TIMESTAMP '{lo}' AND ts < TIMESTAMP '{hi}'"
