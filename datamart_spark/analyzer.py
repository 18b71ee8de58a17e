"""ES-compatible text analysis chain, Spark-first.

Mirrors the reference's Elasticsearch analyzer (reference:
coordinator/coordinator/elasticsearch.yml:2-20): `html_strip` char
filter → `standard` tokenizer → `lowercase` → English stemmer, applied
identically at index and at query time.  The chain here is vendored and
pinned (BASELINE.json input_hint: byte-identical extracted text per
url; no library-version drift):

- ``extract_text``  — html_strip analog: drops <script>/<style>/
  comments, strips tags, decodes HTML entities.  Pure function of the
  bytes.
- ``tokenize``      — two profiles: ``uax29`` (Lucene `standard`
  fidelity, uax29.py, vector-pinned — the DEFAULT for the full
  stemming analyzer) and ``simple`` (unicode word regex ``\\w+`` —
  the DuckDB-mirrorable oracle profile; underscore joins, "3.14"
  splits).
- ``lowercase`` + ``porter2.stem``.

Two profiles:
- full (html_strip + uax29 + stem) — the engine's index analyzer;
  rank-identity (kernel vs DataFrame vs python oracle) is asserted
  under it in pytest.
- simple (lowercase + ``\\w+`` split, no stem) — shared with the
  DuckDB oracle, which cannot stem; used by the oracle-gated queries in
  ``__spark_entry__.py``.  Matches the reference's own only in-process
  term-frequency computation (lib_profiler core.py:54,445-451:
  ``split(lower(text), '\\W+')``).

``resolve_tokenizer(stemming)`` implements the pairing: a fresh build
and the python oracle both take it, and a resumed build keeps the
tokenizer its snapshot records.

All Spark entry points are Arrow-batched pandas UDFs / builtin
expressions — no per-row Python UDFs (north rule §2.10).
"""

from __future__ import annotations

import html as _html
import re

import pandas as pd

from .porter2 import StemCache

# --- html_strip ------------------------------------------------------------

_RE_SCRIPT = re.compile(r"(?is)<script\b.*?</script\s*>")
_RE_STYLE = re.compile(r"(?is)<style\b.*?</style\s*>")
_RE_COMMENT = re.compile(r"(?s)<!--.*?-->")
_RE_TAG = re.compile(r"(?s)<[^>]*>")

_TOKEN_RE = re.compile(r"\w+", re.UNICODE)

# ASCII \w class for the byte-level fast tokenizer (lowered text): the
# fast path only ever sees pure-ASCII rows, where python's unicode \w
# and this table agree exactly
import numpy as _np

_WORD_LUT = _np.zeros(256, dtype=bool)
for _c in b"abcdefghijklmnopqrstuvwxyz0123456789_":
    _WORD_LUT[_c] = True


def resolve_tokenizer(stemming: bool) -> str:
    """Default pairing: the full (stemming) analyzer tokenizes with
    Lucene-fidelity ``uax29``; the oracle-facing non-stemming profile
    stays ``simple`` (the DuckDB oracle mirrors ``\\w+``)."""
    return "uax29" if stemming else "simple"


def extract_text_str(html_text: str) -> str:
    """html_strip char-filter analog over a decoded string."""
    s = _RE_SCRIPT.sub("", html_text)
    s = _RE_STYLE.sub("", s)
    s = _RE_COMMENT.sub("", s)
    s = _RE_TAG.sub("", s)
    if "&" in s:
        s = _html.unescape(s)
    return s


def extract_text_series(html_bytes: pd.Series) -> pd.Series:
    """Vectorized html(binary) → text for a pandas UDF batch."""
    s = html_bytes.map(lambda b: b.decode("utf-8", errors="replace") if b is not None else None)
    return s.map(lambda t: extract_text_str(t) if t is not None else None)


# --- tokenize --------------------------------------------------------------


def analyze_str(
    text: str, stem_cache: StemCache | None = None, tokenizer: str = "simple"
) -> list[str]:
    """Full analysis chain for one string: tokenize → lowercase → stem.

    ``tokenizer``: "simple" = ``\\w+`` (default; DuckDB-mirrorable),
    "uax29" = Lucene `standard` fidelity (uax29.py, vector-pinned)."""
    if text is None:
        return []
    if tokenizer == "uax29":
        from .uax29 import tokenize_uax29

        toks = tokenize_uax29(text.lower())
    else:
        toks = _TOKEN_RE.findall(text.lower())
    if stem_cache is None:
        return toks
    return [stem_cache(t) for t in toks]


def tokenize_batch_flat(
    texts: pd.Series, tokenizer: str = "simple"
) -> tuple:
    """Whole-batch tokenization for the index build's Arrow kernel:
    returns ``(codes, vocab, lens, order)`` where ``vocab`` is the
    batch's unique surface tokens (object ndarray), ``codes`` the
    per-token vocab indices of the flattened token stream, ``lens`` the
    per-input-row token counts in ORIGINAL row order, and ``order`` the
    original row positions in the order their tokens appear in the
    stream (each row's tokens are contiguous and in document order).

    Fast path (guide §4.2 — hand whole batches to vectorized native
    code): rows that provably segment identically under ASCII ``\\w+``
    — no char ≥ U+0080 and, for uax29, no mid-token join character
    (``uax29._MAYBE_SLOW`` is a single RE2-compatible class) — are
    lowered in Arrow C++, tokenized byte-level in numpy over the
    contiguous string buffer (word-class lookup table + shifted
    comparisons ≡ ``\\w+`` findall on lowered ASCII), and factorized
    with ``pc.dictionary_encode``.  Remaining rows take the exact
    per-row python path (``analyze_str`` semantics); the two
    streams merge at the (tiny) vocabulary level."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = len(texts)
    empty_codes = np.zeros(0, dtype=np.int64)
    if n == 0:
        return (empty_codes, np.zeros(0, dtype=object),
                np.zeros(0, dtype=np.int64), empty_codes)
    if tokenizer == "uax29":
        from .uax29 import _MAYBE_SLOW, _NEEDS_SLOW, tokenize_uax29

        slow_pat = _MAYBE_SLOW.pattern
    else:
        slow_pat = r"[^\x00-\x7f]"

    arr = pa.Array.from_pandas(texts)
    try:
        low = pc.utf8_lower(arr)
        maybe = pc.match_substring_regex(low, slow_pat)
        maybe_np = maybe.to_numpy(zero_copy_only=False)
    except Exception:  # pragma: no cover — pyarrow regex unavailable
        maybe_np = np.ones(n, dtype=object)
    maybe_np = np.array(
        [bool(x) if x is not None and x == x else False for x in maybe_np]
        if maybe_np.dtype == object else maybe_np,
        dtype=bool,
    )
    null_np = np.asarray(pd.isna(texts))
    fast_pos = np.flatnonzero(~maybe_np & ~null_np)
    slow_pos = np.flatnonzero(maybe_np & ~null_np)

    lens = np.zeros(n, dtype=np.int64)
    vocab_index: dict[str, int] = {}
    vocab_list: list[str] = []
    codes_parts: list[np.ndarray] = []
    order_parts: list[np.ndarray] = []

    if fast_pos.size:
        sub = pc.take(low, pa.array(fast_pos, type=pa.int64()))
        if isinstance(sub, pa.ChunkedArray):
            sub = sub.combine_chunks()
        # byte-level tokenization over the contiguous Arrow string
        # buffer: the subset is pure ASCII (any char ≥ U+0080 would have
        # matched the slow gate), so token boundaries are a 256-entry
        # class lookup + two shifted comparisons — ~4× faster than an
        # RE2 split, and the token array is rebuilt with one fancy-index
        # gather (measured: split_pattern_regex alone cost more than
        # this whole path)
        off_dtype = (
            np.int64 if pa.types.is_large_string(sub.type) else np.int32
        )
        offs = np.frombuffer(sub.buffers()[1], dtype=off_dtype)[
            sub.offset: sub.offset + len(sub) + 1
        ].astype(np.int64)
        data = np.frombuffer(sub.buffers()[2], dtype=np.uint8)
        lo, hi = offs[0], offs[-1]
        buf = data[lo:hi]
        offs = offs - lo
        word = (
            _WORD_LUT[buf] if buf.size else np.zeros(0, dtype=bool)
        )
        prev = np.empty_like(word)
        nxt = np.empty_like(word)
        if word.size:
            prev[0] = False
            prev[1:] = word[:-1]
            nxt[-1] = False
            nxt[:-1] = word[1:]
        # force token breaks at row boundaries (rows are adjacent in
        # the buffer): a row start never continues the previous row's
        # token, a row end always terminates its own.  Boundaries at
        # position 0 or at the buffer end (leading/trailing EMPTY rows)
        # need no break — there is no byte on the other side — and
        # indexing them would go out of bounds.
        inner = offs[1:-1]
        inner = inner[(inner > 0) & (inner < word.size)]
        prev[inner] = False
        nxt[inner - 1] = False
        tok_starts = np.flatnonzero(word & ~prev)
        tok_ends = np.flatnonzero(word & ~nxt) + 1
        tok_lens = tok_ends - tok_starts
        lens[fast_pos] = np.diff(np.searchsorted(tok_starts, offs))
        # every word-class byte belongs to exactly one token, in order,
        # so the concatenated token values are just the masked buffer —
        # no per-token gather needed
        new_offs = np.zeros(tok_lens.size + 1, dtype=np.int32)
        np.cumsum(tok_lens, out=new_offs[1:])
        tok_arr = pa.StringArray.from_buffers(
            tok_lens.size,
            pa.py_buffer(new_offs),
            pa.py_buffer(np.ascontiguousarray(buf[word])),
        )
        dd = pc.dictionary_encode(tok_arr)
        if isinstance(dd, pa.ChunkedArray):
            dd = dd.combine_chunks()
        fast_codes = dd.indices.to_numpy(zero_copy_only=False).astype(np.int64)
        vocab_list = dd.dictionary.to_pylist()
        vocab_index = {t: i for i, t in enumerate(vocab_list)}
        codes_parts.append(fast_codes)
        order_parts.append(fast_pos)

    if slow_pos.size:
        slow_flat: list[str] = []
        for p in slow_pos:
            t = texts.iloc[int(p)].lower()
            if tokenizer == "uax29":
                toks = (
                    tokenize_uax29(t)
                    if _NEEDS_SLOW.search(t) is not None
                    else _TOKEN_RE.findall(t)
                )
            else:
                toks = _TOKEN_RE.findall(t)
            lens[p] = len(toks)
            slow_flat.extend(toks)
        remap = np.empty(len(slow_flat), dtype=np.int64)
        for i, t in enumerate(slow_flat):
            k = vocab_index.get(t)
            if k is None:
                k = len(vocab_list)
                vocab_index[t] = k
                vocab_list.append(t)
            remap[i] = k
        codes_parts.append(remap)
        order_parts.append(slow_pos)

    codes = np.concatenate(codes_parts) if codes_parts else empty_codes
    order = (
        np.concatenate(order_parts) if order_parts else empty_codes
    ).astype(np.int64)
    return codes, np.array(vocab_list, dtype=object), lens, order


def analyze_query(
    query: str, stemming: bool = True, tokenizer: str = "simple"
) -> list[str]:
    """Query-time analysis — identical chain to index time (unique terms,
    order preserved; reference uses AND-semantics over distinct terms,
    apiserver/apiserver/search/__init__.py:67)."""
    toks = analyze_str(query, StemCache() if stemming else None, tokenizer=tokenizer)
    seen: dict[str, None] = {}
    for t in toks:
        seen.setdefault(t, None)
    return list(seen)
