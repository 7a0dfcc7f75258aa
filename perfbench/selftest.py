"""Self-tests of the benchmark's own inputs and answer key; no Spark.

    python3 perfbench/selftest.py      # from the root of a checkout

1. The same seed gives a byte-identical corpus (Parquet files) and query
   set; another seed gives a different one.
2. The answer key reproduces the golden 5-doc results of
   ``tests/test_queries_golden.py`` on ``fixtures.GOLDEN_TEXTS``.

Exits 0 when every check passes, 1 otherwise.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
sys.path[:0] = [ROOT, HERE]

import corpus  # noqa: E402
from answerkey import AnswerKey  # noqa: E402

FAILED: list[str] = []


def expect(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what)
    if not ok:
        FAILED.append(what)


def corpus_bytes(seed: int, path: str) -> dict[str, bytes]:
    shutil.rmtree(path, ignore_errors=True)
    corpus.write_parquet(corpus.make_corpus(seed, 2000), path)
    return {f: open(os.path.join(path, f), "rb").read() for f in sorted(os.listdir(path))}


def queries(seed: int) -> str:
    texts = corpus.make_corpus(seed, 2000)["text"].tolist()
    return json.dumps(corpus.make_queries(seed, texts))


def test_determinism() -> None:
    work = os.path.join(ROOT, ".perfbench_work", "selftest")
    a = corpus_bytes(7, os.path.join(work, "a"))
    b = corpus_bytes(7, os.path.join(work, "b"))
    c = corpus_bytes(8, os.path.join(work, "c"))
    shutil.rmtree(work)
    expect(len(a) == corpus.N_FILES and a == b, "same seed: byte-identical Parquet corpus")
    expect(a != c, "another seed: another corpus")
    expect(queries(7) == queries(7), "same seed: identical query set")
    expect(queries(7) != queries(8), "another seed: another query set")
    appended = corpus.make_corpus(7, 10, first_turn=2000)
    expect(
        appended["conv_id"].iloc[0] == "conv00000200" and appended["turn_idx"].iloc[0] == 0,
        "an append batch continues the conversation ids",
    )


def test_golden() -> None:
    from search_engine_spark.fixtures import GOLDEN_TEXTS

    key = AnswerKey(block_span=1024)
    key.add([text for _c, _t, text in GOLDEN_TEXTS])

    def boolean(q: str) -> list[int]:
        return key.boolean(q)

    def ranked(q: str) -> list[tuple[int, float]]:
        uniq, scores = key.ranked(q)
        return [(int(d), float(s)) for d, s in zip(uniq, scores)]

    # expectations of tests/test_queries_golden.py
    for q, want in [
        ("test", [0, 1, 3, 4]),
        ('"third one"', [2]),
        ('"test document is here"', [1]),
        ("is test", [0, 1]),
        ("test + document", [0, 1, 3, 4]),
        ('"test document"+this', [0, 1]),
        ("goes", [4]),
        ("SPELLDRONG", []),
        ("thi*", [0, 2]),
        ("*e", [1, 2, 4]),
        ("*cu*en*", [0, 1, 4]),
        ("docu* here", [1, 4]),
        ("teadjfkafadfadfcvbczz*", []),
    ]:
        expect(boolean(q) == want, f"golden boolean {q!r} == {want}")
    for q, want in [
        ("document", {0, 1, 4}),
        ("document test a", {0, 1, 2, 3, 4}),
        ("*cume*", {0, 1, 4}),
        ("docu* test a", {0, 1, 2, 3, 4}),
        ("*s", {0, 1, 4}),
        ("ooogabb*", set()),
    ]:
        expect({d for d, _ in ranked(q)} == want, f"golden ranked {q!r} == {sorted(want)}")

    wqt = math.log(1 + 5 / 4)
    wdt = 1 + math.log(5)
    len_doc = math.sqrt(wdt**2)
    top = max(ranked("test"), key=lambda x: (x[1], -x[0]))
    expect(
        top[0] == 3 and abs(top[1] - wqt * wdt / len_doc) <= 1e-9,
        "golden most relevant first: doc 3 with the hand-derived score",
    )
    a, b = ranked("here we one"), ranked("*e")
    expect(
        [d for d, _ in a] == [d for d, _ in b]
        and all(abs(x - y) <= 1e-12 for (_, x), (_, y) in zip(a, b)),
        "golden wildcard '*e' scores as 'here we one'",
    )


def main() -> int:
    test_determinism()
    test_golden()
    print(f"{len(FAILED)} failed")
    return 1 if FAILED else 0


if __name__ == "__main__":
    sys.exit(main())
