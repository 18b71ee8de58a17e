"""Property-based gates (hypothesis) for the pure kernels: the varbyte
codec, delta coding, the UAX#29 tokenizer and the Lazo estimator — the
deterministic cores everything distributed sits on."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from datamart_spark.index.varbyte import (
    delta_decode,
    delta_encode,
    vb_decode,
    vb_encode_with_sizes,
)
from datamart_spark.operators.discovery import lazo_containment_estimate
from datamart_spark.uax29 import tokenize_uax29


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=300))
def test_varbyte_roundtrip(values):
    v = np.asarray(values, dtype=np.uint64)
    buf, sizes = vb_encode_with_sizes(v)
    assert np.array_equal(vb_decode(buf), v)
    assert int(sizes.sum()) == len(buf)
    # per-value byte counts slice correctly: decode any prefix
    if len(values) > 1:
        cut = int(sizes[: len(values) // 2].sum())
        assert np.array_equal(vb_decode(buf[:cut]), v[: len(values) // 2])


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=2**40), min_size=1, max_size=200)
)
def test_delta_roundtrip_sorted(values):
    doc_ids = np.asarray(sorted(values), dtype=np.uint64)
    assert np.array_equal(delta_decode(delta_encode(doc_ids)), doc_ids)


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=200))
def test_uax29_tokens_are_substrings_and_cover_word_chars(text):
    toks = tokenize_uax29(text)
    for t in toks:
        assert t != ""
        assert t in text  # every token is a literal substring
    # no word character is lost: multiset of \w chars in tokens ⊇ ... ==
    import re

    in_words = sorted(re.findall(r"\w", text))
    out_words = sorted(ch for t in toks for ch in t if re.match(r"\w", ch))
    assert in_words == out_words


@settings(max_examples=200, deadline=None)
@given(
    st.lists(st.integers(min_value=0, max_value=50), min_size=1, max_size=32),
    st.integers(min_value=1, max_value=10**9),
    st.integers(min_value=1, max_value=10**9),
)
def test_lazo_estimate_bounds(slots, card_l, card_r):
    sl = [int(x) for x in slots]
    sr = [int(x) + (1 if i % 2 else 0) for i, x in enumerate(slots)]
    est = lazo_containment_estimate(sl, card_l, sr, card_r)
    assert 0.0 <= est <= 1.0
    # monotone in matches: identical sketches estimate >= mismatched ones
    est_same = lazo_containment_estimate(sl, card_l, sl, card_r)
    assert est_same >= est or np.isclose(est_same, est)
