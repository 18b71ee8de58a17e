"""Seeded benchmark inputs: a corpus slice and a query mix.

The engine's corpus generator is a pure function of the document index
``i`` (``corpus.make_doc``) with a fixed internal seed, so the benchmark
varies its corpus by taking the disjoint slice ``[seed*M, (seed+1)*M)``
of that stream and renumbering it to doc_id ``0..M-1``.  The query mix is
drawn from the same Zipf band (vocabulary ranks 30..2000) as
``corpus.generate_query_set``; phrase queries are two-token windows taken
from documents of the slice, so every phrase has at least one match.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from datamart_spark.corpus import (
    DOCUMENTS_SCHEMA,
    EPOCH_ISO,
    LANGS,
    N_STOPWORD_TIER,
    YEAR_SECONDS,
    _VOCAB,
    _gen_batch,
    make_doc,
)

# Query kinds, in the order one block of ten queries cycles through them:
# any ten consecutive queries carry the same mix.
KINDS = (
    "plain", "plain", "plain", "lang", "ts", "phrase",
    "plain", "lang", "phrase", "absent",
)
KEYWORD_KINDS = ("plain", "lang", "ts")


def slice_base(seed: int, m: int) -> int:
    return seed * m


def write_corpus(spark, seed: int, m: int, path: str, files: int = 8) -> pa.Table:
    """Write docs ``[seed*m, (seed+1)*m)`` of the engine's corpus stream
    as ``files`` parquet files, renumbered to doc_id ``0..m-1``; returns
    their ``doc_id`` and ``text`` in doc_id order.

    The docs are made on the executors, as ``corpus.generate_documents``
    makes them, ``files`` contiguous id ranges in parallel."""
    base = slice_base(seed, m)

    def gen(batches):
        for b in batches:
            pdf = _gen_batch(b["id"].to_numpy())
            pdf["doc_id"] -= base
            yield pdf

    (spark.range(base, base + m, 1, files)
     .mapInPandas(gen, schema=DOCUMENTS_SCHEMA)
     .write.parquet(path))
    return pq.read_table(path, columns=["doc_id", "text"]).sort_by("doc_id")


def doc_text(seed: int, m: int, doc_id: int) -> str:
    return make_doc(slice_base(seed, m) + doc_id).text


def _rng(seed: int, stream: int, qid: int) -> np.random.Generator:
    return np.random.Generator(np.random.PCG64([seed, stream, qid]))


def _terms(rng: np.random.Generator, k: int, stop: bool = False) -> list[str]:
    idx = rng.choice(np.arange(30, 2000), size=k, replace=False)
    terms = [_VOCAB[int(j)] for j in idx]
    if stop:
        terms[0] = _VOCAB[int(rng.integers(0, N_STOPWORD_TIER))]
    return terms


def make_query(seed: int, m: int, n_indexed: int, qid: int, stream: int = 0) -> dict:
    """One query spec, a pure function of ``(seed, stream, qid)``.

    Keys follow ``query.batch.bm25_topk_batch`` (``query_id``, ``query``,
    ``lang``, ``ts_lo``, ``ts_hi``, ``phrase``) plus ``kind``."""
    rng = _rng(seed, stream, qid)
    kind = KINDS[qid % len(KINDS)]
    spec = {"query_id": f"s{stream}q{qid}", "kind": kind, "lang": None,
            "ts_lo": None, "ts_hi": None, "phrase": False}
    if kind == "plain":
        n = 1 + qid % 3
        spec["query"] = " ".join(_terms(rng, n, stop=(n == 3)))
    elif kind == "lang":
        spec["query"] = " ".join(_terms(rng, 1 + qid % 2))
        spec["lang"] = LANGS[int(rng.integers(0, len(LANGS)))]
    elif kind == "ts":
        spec["query"] = " ".join(_terms(rng, 1 + qid % 2))
        epoch = pd.Timestamp(EPOCH_ISO)
        lo = int(rng.integers(0, YEAR_SECONDS // 2))
        hi = lo + int(rng.integers(YEAR_SECONDS // 8, YEAR_SECONDS // 2))
        spec["ts_lo"] = epoch + pd.Timedelta(seconds=lo)
        spec["ts_hi"] = epoch + pd.Timedelta(seconds=min(hi, YEAR_SECONDS))
    elif kind == "phrase":
        spec["phrase"] = True
        spec["query"] = _phrase_window(seed, m, n_indexed, rng)
    else:  # absent: a term no document holds, unique per query and seed
        spec["query"] = f"{_terms(rng, 1)[0]} zzzabsent{seed}x{stream}x{qid}"
    return spec


def _phrase_window(seed: int, m: int, n_indexed: int, rng: np.random.Generator) -> str:
    while True:
        words = doc_text(seed, m, int(rng.integers(0, n_indexed))).split()
        if len(words) >= 4:
            p = int(rng.integers(0, len(words) - 1))
            return f"{words[p]} {words[p + 1]}"


def query_block(seed: int, m: int, n_indexed: int, start: int, n: int,
                stream: int = 0) -> list[dict]:
    return [make_query(seed, m, n_indexed, q, stream) for q in range(start, start + n)]


def batch_specs(queries: list[dict]) -> list[dict]:
    """Strip the benchmark-only keys for ``search_many``/``bm25_topk_batch``."""
    return [{k: v for k, v in q.items() if k != "kind"} for q in queries]
