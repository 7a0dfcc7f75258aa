"""Reference index built in numpy from the corpus texts: the answer key.

It follows the engine's documented semantics, derived from the texts
with the pure-Python analyzer (``text.normalize.analyze``) and nothing
else from the engine:

* tf-idf: ``wqt = ln(1 + N/df)``, ``wdt = 1 + ln(tf)``, score divided by
  ``L_d = sqrt(sum (1 + ln tf)^2)``; BM25 with Lucene's non-negative idf
  and ``avgdl = total_tokens / N``; repeated query terms count once per
  occurrence; ties break on lower doc id;
* boolean grammar: ``+`` separates OR literals, whitespace separates AND
  conjuncts, ``"..."`` is a positional phrase, ``*`` a k-gram wildcard
  with no post-filter;
* writes: appended docs start at the next block boundary; deleted docs
  are masked from every result while N, df and avgdl stay pre-delete
  until ``compact`` recomputes them over the live docs.
"""

from __future__ import annotations

import shlex
from math import log, sqrt

import numpy as np

from search_engine_spark.text.kgrams import wildcard_grams
from search_engine_spark.text.normalize import analyze, query_normalize

REL_TOL = 1e-9
#: the engine's default BM25 parameters (``bm25_query``)
K1, B = 1.2, 0.75


def close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


class AnswerKey:
    def __init__(self, block_span: int):
        self.block_span = block_span
        self.texts: dict[int, str] = {}
        self.turn: dict[int, int] = {}
        self.weight: dict[int, float] = {}
        self.doc_len: dict[int, int] = {}
        self.postings: dict[str, dict[int, int]] = {}
        self.words: set[str] = set()
        self.deleted: set[int] = set()
        self.num_docs = 0
        self.next_doc_id = 0
        self.total_tokens = 0
        self.df: dict[str, int] = {}

    # ------------------------------------------------------------ writes
    def add(self, texts, first_turn: int = 0) -> int:
        """Index ``texts`` as the next batch (the build, or an append);
        returns the first doc id assigned."""
        span = self.block_span
        base = -(-self.next_doc_id // span) * span
        for i, text in enumerate(texts):
            doc = base + i
            toks = analyze(text)
            tfs: dict[str, int] = {}
            for term, _pos, raw in toks:
                tfs[term] = tfs.get(term, 0) + 1
                self.words.add(raw)
            w = 0.0
            for term, tf in tfs.items():
                x = 1.0 + log(tf)
                w += x * x
                self.postings.setdefault(term, {})[doc] = tf
                self.df[term] = self.df.get(term, 0) + 1
            self.texts[doc] = text
            self.turn[doc] = first_turn + i
            self.weight[doc] = sqrt(w)
            self.doc_len[doc] = len(toks)
            self.total_tokens += len(toks)
        self.num_docs += len(texts)
        self.next_doc_id = base + len(texts)
        return base

    def delete(self, doc_ids) -> None:
        self.deleted.update(int(d) for d in doc_ids)

    def compact(self) -> None:
        for doc in self.deleted:
            if doc not in self.texts:
                continue
            for term in {t for t, _p, _r in analyze(self.texts.pop(doc))}:
                plist = self.postings[term]
                del plist[doc]
                self.df[term] -= 1
                if not plist:
                    del self.postings[term], self.df[term]
            self.total_tokens -= self.doc_len.pop(doc)
            del self.weight[doc], self.turn[doc]
        self.num_docs = len(self.texts)
        self.deleted = set()

    def live_ids(self) -> list[int]:
        return sorted(d for d in self.texts if d not in self.deleted)

    # ------------------------------------------------------------ queries
    def wildcard_expand(self, pattern: str) -> list[str]:
        grams = wildcard_grams(pattern)
        if not grams:
            return []
        return sorted(
            w for w in self.words if all(g in f"${w}$" for g in grams)
        )

    def ranked_terms(self, query: str) -> list[str]:
        out: list[str] = []
        for word in query.split():
            if "*" in word:
                out.extend(query_normalize(w) for w in self.wildcard_expand(word.lower()))
            else:
                out.append(query_normalize(word))
        return out

    def _score(self, query: str, partial, where=None):
        """(doc ids, scores) of every live doc matching any query term,
        accumulated per term occurrence in query order."""
        docs, parts = [], []
        for term in self.ranked_terms(query):
            plist = self.postings.get(term)
            if not plist:
                continue
            d = np.fromiter(plist.keys(), dtype=np.int64, count=len(plist))
            tf = np.fromiter(plist.values(), dtype=np.float64, count=len(plist))
            docs.append(d)
            parts.append(partial(term, d, tf))
        if not docs:
            return np.empty(0, dtype=np.int64), np.empty(0)
        d = np.concatenate(docs)
        p = np.concatenate(parts)
        keep = np.array([x not in self.deleted and (where is None or where(x)) for x in d.tolist()], dtype=bool)
        d, p = d[keep], p[keep]
        uniq, inv = np.unique(d, return_inverse=True)
        acc = np.zeros(uniq.size)
        np.add.at(acc, inv, p)
        return uniq, acc

    def ranked(self, query: str, where=None):
        n = self.num_docs

        def partial(term, d, tf):
            return log(1 + n / self.df[term]) * (1.0 + np.log(tf))

        uniq, acc = self._score(query, partial, where)
        ld = np.array([self.weight[x] for x in uniq.tolist()])
        return uniq, acc / ld if uniq.size else acc

    def bm25(self, query: str):
        n = self.num_docs
        avgdl = self.total_tokens / n

        def partial(term, d, tf):
            df = self.df[term]
            idf = log(1 + (n - df + 0.5) / (df + 0.5))
            dl = np.array([self.doc_len[x] for x in d.tolist()], dtype=np.float64)
            return idf * (tf * (K1 + 1.0)) / (tf + K1 * (1.0 - B + B * dl / avgdl))

        return self._score(query, partial)

    def boolean(self, query: str) -> list[int]:
        hits: set[int] = set()
        for literal in (lit.strip() for lit in query.split("+")):
            got = self._literal(literal)
            if got is not None:
                hits |= got
        return sorted(hits - self.deleted)

    def _docs_with(self, term: str) -> set[int]:
        return set(self.postings.get(term, ()))

    def _literal(self, literal: str) -> set[int] | None:
        try:
            conjuncts = shlex.split(literal)
        except ValueError:
            conjuncts = [literal]
        parts: list[set[int]] = []
        singles: list[str] = []
        for conjunct in conjuncts:
            words = conjunct.split()
            wildcards = [w for w in words if "*" in w]
            if wildcards:
                for w in wildcards:
                    expansion = self.wildcard_expand(w.lower())
                    if expansion:
                        parts.append(
                            set().union(*(self._docs_with(query_normalize(x)) for x in expansion))
                        )
                continue
            terms = [query_normalize(w) for w in words]
            if len(terms) > 1:
                parts.append(self._phrase(terms))
            elif terms:
                singles.append(terms[0])
        if singles:
            parts.insert(0, set.intersection(*(self._docs_with(t) for t in set(singles))))
        if not parts:
            return None
        return set.intersection(*parts)

    def _phrase(self, terms: list[str]) -> set[int]:
        cand = set.intersection(*(self._docs_with(t) for t in terms))
        out = set()
        for doc in cand:
            pos: dict[str, set[int]] = {}
            for term, p, _raw in analyze(self.texts[doc]):
                pos.setdefault(term, set()).add(p)
            shifted = [{p - i for p in pos[t]} for i, t in enumerate(terms)]
            if set.intersection(*shifted):
                out.add(doc)
        return out


def topk(uniq: np.ndarray, scores: np.ndarray, k: int) -> list[tuple[int, float]]:
    idx = np.lexsort((uniq, -scores))[:k]
    return [(int(uniq[i]), float(scores[i])) for i in idx]


def topk_matches(got, uniq: np.ndarray, scores: np.ndarray, k: int) -> bool:
    """``got`` equals the key's top-k: same length, scores within
    REL_TOL position by position, and the same doc ids except where two
    docs' scores tie within REL_TOL (then either order matches)."""
    want = topk(uniq, scores, k)
    if len(got) != len(want) or len({d for d, _ in got}) != len(got):
        return False
    for (gd, gs), (wd, ws) in zip(got, want):
        if not close(gs, ws):
            return False
        if gd != wd:
            i = int(np.searchsorted(uniq, gd))
            if i >= uniq.size or uniq[i] != gd or not close(float(scores[i]), ws):
                return False
    return True
