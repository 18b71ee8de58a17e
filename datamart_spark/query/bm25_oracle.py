"""Pure-Python BM25 reference oracle (driver-side, small corpora only).

The engine never imports it: the rank-identity tests score one corpus
here and through ``query/`` and compare.  Rank-identity for the engine
is defined against THIS implementation (SURVEY.md §7 "we define
rank-identity against our own reference implementation of BM25, not
against live ES").  Parameters are the reference's effective ones:
ES 7.8.1 default similarity — k1=1.2, b=0.75 (reference:
docker-compose.yml:6; not overridden anywhere), idf = ln(1 + (N - df +
0.5)/(df + 0.5)), AND semantics over query terms (reference:
apiserver/apiserver/search/__init__.py:67, operator:'and').
Tie-break: (score desc, doc_id asc) — pinned total order per SURVEY.md
§7.
"""

from __future__ import annotations

import math
from collections import Counter

import pandas as pd

from ..analyzer import analyze_query, analyze_str, resolve_tokenizer
from ..porter2 import StemCache

K1 = 1.2
B = 0.75


class Bm25Oracle:
    def __init__(self, docs: pd.DataFrame, stemming: bool = True):
        """docs: DataFrame with doc_id, text (+ optional lang, warc_ts).
        The tokenizer follows ``stemming`` exactly as a fresh
        ``build_index`` does (resolve_tokenizer)."""
        self.stemming = stemming
        self.tokenizer = resolve_tokenizer(stemming)
        cache = StemCache() if stemming else None
        self.meta = docs.set_index("doc_id")
        self.tf: dict[int, Counter] = {}
        self.df: Counter = Counter()
        self.doclen: dict[int, int] = {}
        for doc_id, text in zip(docs["doc_id"], docs["text"]):
            toks = analyze_str(text, cache, tokenizer=self.tokenizer)
            c = Counter(toks)
            self.tf[int(doc_id)] = c
            self.doclen[int(doc_id)] = len(toks)
            for t in c:
                self.df[t] += 1
        self.n_docs = len(self.tf)
        total = sum(self.doclen.values())
        self.avgdl = total / self.n_docs if self.n_docs else 0.0

    def idf(self, term: str) -> float:
        df = self.df.get(term, 0)
        return math.log(1.0 + (self.n_docs - df + 0.5) / (df + 0.5))

    def score_doc(
        self, doc_id: int, terms: list[str], or_mode: bool = False
    ) -> float | None:
        """AND semantics by default: None if any term missing from the
        doc.  OR mode sums present terms; None only if none present."""
        c = self.tf[doc_id]
        dl = self.doclen[doc_id]
        s = 0.0
        any_present = False
        for t in terms:
            tf = c.get(t, 0)
            if tf == 0:
                if not or_mode:
                    return None
                continue
            any_present = True
            s += self.idf(t) * tf / (tf + K1 * (1.0 - B + B * dl / self.avgdl))
        return s if any_present else None

    def topk(
        self,
        query: str,
        k: int = 10,
        lang: str | None = None,
        ts_lo=None,
        ts_hi=None,
        or_mode: bool = False,
    ) -> list[tuple[int, float]]:
        terms = analyze_query(query, stemming=self.stemming, tokenizer=self.tokenizer)
        if or_mode:
            terms = [t for t in terms if self.df.get(t, 0) > 0]
        if not terms:
            return []
        hits = []
        for doc_id in self.tf:
            if lang is not None and self.meta.at[doc_id, "lang"] != lang:
                continue
            if ts_lo is not None and self.meta.at[doc_id, "warc_ts"] < ts_lo:
                continue
            if ts_hi is not None and self.meta.at[doc_id, "warc_ts"] > ts_hi:
                continue
            s = self.score_doc(doc_id, terms, or_mode=or_mode)
            if s is not None:
                hits.append((doc_id, s))
        hits.sort(key=lambda x: (-x[1], x[0]))
        return hits[:k]
