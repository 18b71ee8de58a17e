"""Property-based gates (hypothesis) for the pure kernels: the varbyte
codec, delta coding, the UAX#29 tokenizer, K-Means ranges, and the Lazo
estimator — the deterministic cores everything distributed sits on."""

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
from datamart_spark.profiler.ranges import MIN_RANGE_SIZE, N_RANGES, kmeans_ranges
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


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.floats(min_value=-1e12, max_value=1e12, allow_nan=False),
        max_size=400,
    )
)
def test_kmeans_ranges_invariants(values):
    ranges = kmeans_ranges(values)
    vals = np.asarray(values, dtype=np.float64)
    assert len(ranges) <= N_RANGES
    prev_hi = -np.inf
    for gte, lte in ranges:
        assert gte <= lte
        assert gte >= prev_hi or np.isclose(gte, prev_hi)  # sorted, ~disjoint
        prev_hi = gte
        # endpoints are actual data values (5%/95% indices of a cluster)
        assert np.isclose(vals, gte).any() and np.isclose(vals, lte).any()
    if len(vals):
        # a cluster must hold >= 10% of values to produce a range
        assert len(ranges) <= max(1, int(1 / MIN_RANGE_SIZE))


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


@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-(10**6), max_value=10**6),
            st.floats(min_value=-1e6, max_value=1e6,
                      allow_nan=False, allow_infinity=False),
            st.text(
                alphabet=st.characters(min_codepoint=32, max_codepoint=126,
                                       blacklist_characters='",\r\n'),
                max_size=12,
            ),
        ),
        min_size=0, max_size=20,
    ),
)
@settings(max_examples=25, deadline=None)
def test_sav_roundtrip_property(rows):
    """Arbitrary (int, float, short-string) rows survive a .sav
    write/read roundtrip through the compressed bytecode path."""
    import csv
    import io
    import struct
    import tempfile

    from datamart_spark.sources.spss import sav_to_csv

    def pad(b, n, fill=b" "):
        return b + fill * (n - len(b))

    out = bytearray()
    out += b"$FL2" + pad(b"@(#) PROP", 60)
    out += struct.pack("<iiiii", 2, 3, 1, 0, len(rows))
    out += struct.pack("<d", 100.0)
    out += pad(b"01 Jan 26", 9) + pad(b"00:00:00", 8)
    out += pad(b"prop", 64) + b"\x00" * 3

    def var(vtype, fmt_type, name):
        fmt = (fmt_type << 16) | (8 << 8)
        return (struct.pack("<iiiii", 2, vtype, 0, 0, fmt)
                + struct.pack("<i", fmt) + pad(name.encode(), 8))

    out += var(0, 5, "A") + var(0, 5, "B") + var(8, 1, "C")
    out += struct.pack("<ii", 999, 0)
    lit, cmds = [], []
    for iv, fv, sv in rows:
        for v in (float(iv), fv):
            cmds.append(253)
            lit.append(struct.pack("<d", v))
        cmds.append(253)
        lit.append(pad(sv.encode()[:8], 8))
    cmds.append(252)
    i = li = 0
    while i < len(cmds):
        grp = cmds[i:i + 8]
        out += bytes(grp) + b"\x00" * (8 - len(grp))
        for c in grp:
            if c == 253:
                out += lit[li]
                li += 1
        i += 8
    with tempfile.NamedTemporaryFile(suffix=".sav", delete=False) as f:
        f.write(bytes(out))
        path = f.name
    dst = path + ".csv"
    sav_to_csv(path, dst)
    got = list(csv.reader(io.StringIO(open(dst).read())))
    assert got[0] == ["A", "B", "C"]
    assert len(got) == 1 + len(rows)
    for (iv, fv, sv), row in zip(rows, got[1:]):
        assert row[0] == "%g" % float(iv)
        assert row[1] == "%g" % fv
        assert row[2] == sv[:8].rstrip()
