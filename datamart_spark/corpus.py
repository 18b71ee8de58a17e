"""Deterministic Common-Crawl-style synthetic corpus (FIXTURES.md §1-2).

Schema fixed by BASELINE.json input_hint:
    documents(url string, warc_ts timestamp, html binary,
              text string, lang string)

Every row is a pure function of its index ``i`` (seeded PCG64 streams
keyed on i), so generation distributes embarrassingly: the Spark path
is ``spark.range(n)`` → ``mapInPandas`` — the same code generates 1e3
docs in a test and 1e12 docs on a 1000-executor cluster with zero
driver-side state.

Edge rows (FIXTURES.md §1): empty body (g%101==0), duplicate body+title
under different urls (i%149==0 copies group i-149 → exact BM25 ties,
exercising the (score desc, doc_id asc) tie-break), non-ASCII tokens
and an HTML entity (g%211==0).

The ``text`` column is computed independently from the generator's raw
title/body parts — NOT by running the extractor — so the per-url
byte-identity pytest (tests/test_corpus_invariance.py) is a real check
of ``analyzer.extract_text``.
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

SEED = 42
VOCAB_SIZE = 5000
N_STOPWORD_TIER = 30
EPOCH_ISO = "2023-01-01T00:00:00"
YEAR_SECONDS = 31536000

LANGS = ["en", "de", "fr", "es", "pt"]
LANG_WEIGHTS = [0.80, 0.05, 0.05, 0.05, 0.05]

_STOPWORDS = [
    "the", "of", "and", "to", "in", "a", "is", "that", "for", "it",
    "as", "was", "with", "be", "by", "on", "not", "he", "this", "are",
    "or", "his", "from", "at", "which", "but", "have", "an", "had", "they",
]

_SYLLABLES = [
    "ba", "co", "di", "fu", "ga", "hi", "jo", "ku", "la", "me",
    "ni", "po", "qua", "ri", "so", "tu", "ve", "wi", "xo", "zu",
    "bra", "cle", "dri", "fro", "gli", "ple", "sta", "tre", "vol", "spr",
]


def build_vocab() -> list[str]:
    """Deterministic ~5000-term vocabulary; ranks 0..29 are real stopwords
    (the Zipf head → stopword-frequency skew for the salting tests)."""
    vocab = list(_STOPWORDS)
    seen = set(vocab)
    k = 0
    while len(vocab) < VOCAB_SIZE:
        # simple LCG over k picks 2-4 syllables
        x = (k * 1103515245 + 12345) & 0x7FFFFFFF
        n_syl = 2 + (x % 3)
        parts = []
        for j in range(n_syl):
            x = (x * 1103515245 + 12345) & 0x7FFFFFFF
            parts.append(_SYLLABLES[x % len(_SYLLABLES)])
        w = "".join(parts)
        if w in seen:
            w = w + str(k % 97)
        if w not in seen:
            seen.add(w)
            vocab.append(w)
        k += 1
    return vocab


def zipf_weights(n: int, s: float = 1.05) -> np.ndarray:
    r = np.arange(1, n + 1, dtype=np.float64)
    w = 1.0 / np.power(r, s)
    return w / w.sum()


_VOCAB = build_vocab()
_ZIPF = zipf_weights(VOCAB_SIZE)


def _group_of(i: int) -> int:
    """Duplicate-body group: every 149th doc reuses its predecessor's
    content (i-1 is never itself a multiple of 149, so pairs are exact:
    docs (148,149), (297,298), ... share title+body → BM25 ties)."""
    if i % 149 == 0 and i >= 149:
        return i - 1
    return i


def _title_body(g: int) -> tuple[str, str]:
    rng = np.random.Generator(np.random.PCG64(SEED * 1_000_003 + g))
    title_len = int(rng.integers(2, 6))
    title_idx = rng.choice(VOCAB_SIZE, size=title_len, p=_ZIPF)
    title = " ".join(_VOCAB[j] for j in title_idx)
    if g % 101 == 0:
        body = ""  # empty-body / title-only page
    else:
        body_len = int(rng.integers(20, 401))
        body_idx = rng.choice(VOCAB_SIZE, size=body_len, p=_ZIPF)
        words = [_VOCAB[j] for j in body_idx]
        if g % 211 == 0:
            words.extend(["café", "naïve", "über", "R&D"])
        body = " ".join(words)
    return title, body


def _escape(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


@dataclass
class DocRow:
    url: str
    warc_ts_offset: int
    html: bytes
    text: str
    lang: str


def make_doc(i: int) -> DocRow:
    g = _group_of(i)
    title, body = _title_body(g)
    html = (
        f"<html><head><title>{_escape(title)}</title></head><body>\n"
        f"<p>{_escape(body)}</p>\n<script>var x=1;</script>\n</body></html>"
    )
    # extraction oracle, computed from raw parts (not via the extractor)
    text = f"{title}\n{body}\n\n"
    lang_rng = np.random.Generator(np.random.PCG64(SEED * 7_000_003 + i))
    lang = lang_rng.choice(LANGS, p=LANG_WEIGHTS)
    return DocRow(
        url=f"https://site{i % 997}.example/path/{i}",
        warc_ts_offset=(i * 37) % YEAR_SECONDS,
        html=html.encode("utf-8"),
        text=text,
        lang=str(lang),
    )


DOCUMENTS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("lang", T.StringType(), False),
    ]
)


def _gen_batch(ids: np.ndarray) -> pd.DataFrame:
    epoch = pd.Timestamp(EPOCH_ISO)
    rows = [make_doc(int(i)) for i in ids]
    return pd.DataFrame(
        {
            "doc_id": ids.astype(np.int64),
            "url": [r.url for r in rows],
            "warc_ts": [epoch + pd.Timedelta(seconds=r.warc_ts_offset) for r in rows],
            "html": [r.html for r in rows],
            "text": [r.text for r in rows],
            "lang": [r.lang for r in rows],
        }
    )


def generate_documents(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed deterministic corpus: spark.range → mapInPandas.

    By default a task makes about 4000 docs at most: one task per core
    (100k docs each at 400k on local[4]) got the JVM OOM-killed."""
    if partitions is None:
        partitions = max(spark.sparkContext.defaultParallelism, 4, n // 4000)

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for b in batches:
            yield _gen_batch(b["id"].to_numpy())

    return (
        spark.range(0, n, 1, partitions)
        .mapInPandas(gen, schema=DOCUMENTS_SCHEMA)
    )


def generate_documents_pandas(n: int) -> pd.DataFrame:
    """Driver-side variant for tiny fixtures and the pure-Python oracle."""
    return _gen_batch(np.arange(n))


# --- reference query set (FIXTURES.md §2) -----------------------------------


def generate_queries(n_docs_hint: int = 10_000) -> pd.DataFrame:
    """50 deterministic queries: 20 single-term, 15 two-term, 10 three-term
    (5 containing one stopword-tier term), 5 with an absent term; 15 get a
    lang filter, 10 get a warc_ts sub-range."""
    rng = np.random.Generator(np.random.PCG64(SEED * 13_000_017))
    rows = []
    qid = 0

    def pick(k: int, force_stop: bool = False) -> list[str]:
        idx = rng.choice(np.arange(30, 2000), size=k, replace=False)
        terms = [_VOCAB[int(j)] for j in idx]
        if force_stop:
            terms[0] = _VOCAB[int(rng.integers(0, N_STOPWORD_TIER))]
        return terms

    for _ in range(20):
        rows.append(" ".join(pick(1)))
    for _ in range(15):
        rows.append(" ".join(pick(2)))
    for j in range(10):
        rows.append(" ".join(pick(3, force_stop=j < 5)))
    for j in range(5):
        t = pick(1)
        rows.append(f"{t[0]} zzzunseen{j}")

    epoch = pd.Timestamp(EPOCH_ISO)
    out = []
    for qid, q in enumerate(rows):
        lang = None
        ts_lo = ts_hi = None
        if 20 <= qid < 35:  # lang-filtered slice
            lang = LANGS[qid % len(LANGS)]
        if 35 <= qid < 45:  # ts-range slice
            lo = int(rng.integers(0, YEAR_SECONDS // 2))
            hi = lo + int(rng.integers(YEAR_SECONDS // 8, YEAR_SECONDS // 2))
            ts_lo = epoch + pd.Timedelta(seconds=lo)
            ts_hi = epoch + pd.Timedelta(seconds=min(hi, YEAR_SECONDS))
        out.append(
            {"query_id": qid, "query": q, "lang_filter": lang, "ts_lo": ts_lo, "ts_hi": ts_hi}
        )
    return pd.DataFrame(out)


def generate_query_set(n: int) -> pd.DataFrame:
    """Deterministic ``n``-query workload with the reference set's mix
    (per 10 queries: 4 single-term, 3 two-term, 2 three-term of which
    1 carries a stopword-tier term, 1 with an absent term; 30% get a
    lang filter, 20% a warc_ts sub-range) — the bulk-labeling shape
    for ``query.batch.bm25_topk_batch`` at arbitrary batch size.

    Same columns as ``generate_queries`` (which stays byte-stable as
    the 50-query reference set); each row is a pure function of
    ``(n, query_id)`` so any slice regenerates identically on any
    worker.  Terms draw from the same Zipf-band (ranks 30..2000) as
    the reference set, so large batches overlap heavily in terms —
    the cross-query decode-cache regime the batch kernel is built for."""
    epoch = pd.Timestamp(EPOCH_ISO)
    out = []
    for qid in range(n):
        rng = np.random.Generator(
            np.random.PCG64(SEED * 13_000_017 + 104_729 * (n + 1) + qid)
        )

        def pick(k: int, force_stop: bool = False) -> list[str]:
            idx = rng.choice(np.arange(30, 2000), size=k, replace=False)
            terms = [_VOCAB[int(j)] for j in idx]
            if force_stop:
                terms[0] = _VOCAB[int(rng.integers(0, N_STOPWORD_TIER))]
            return terms

        r = qid % 10
        if r < 4:
            q = " ".join(pick(1))
        elif r < 7:
            q = " ".join(pick(2))
        elif r < 8:
            q = " ".join(pick(3))
        elif r < 9:
            q = " ".join(pick(3, force_stop=True))
        else:
            q = f"{pick(1)[0]} zzzunseen{qid}"
        lang = None
        ts_lo = ts_hi = None
        if qid % 10 in (1, 4, 7):  # 30% lang-filtered
            lang = LANGS[qid % len(LANGS)]
        if qid % 10 in (2, 5):  # 20% ts-ranged
            lo = int(rng.integers(0, YEAR_SECONDS // 2))
            hi = lo + int(rng.integers(YEAR_SECONDS // 8, YEAR_SECONDS // 2))
            ts_lo = epoch + pd.Timedelta(seconds=lo)
            ts_hi = epoch + pd.Timedelta(seconds=min(hi, YEAR_SECONDS))
        out.append(
            {"query_id": qid, "query": q, "lang_filter": lang,
             "ts_lo": ts_lo, "ts_hi": ts_hi}
        )
    return pd.DataFrame(out)
