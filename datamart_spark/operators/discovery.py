"""Join/union *discovery* scoring — which datasets can augment an input.

Ports the reference's discovery algebra (SURVEY.md §2.6):
- R6 union similarity: column pairs scored by Levenshtein similarity
  (1 − dist/max_len, or 1.0 on substring containment) on lowercased
  names (apiserver/apiserver/search/union.py:13-22);
- W3 greedy best-pair matching: pairs sorted by similarity desc,
  greedily kept if both endpoints unused — a maximal-matching
  approximation (union.py:164-181);
- dataset union score = (Σ pair sims / n_input_columns) × max ES score,
  datasets with ≤1 matched pair dropped (union.py:177-190);
- J8 containment: |A ∩ B| / |A| over column value sets — the Lazo
  sketch's exact form (reference delegates to the external Lazo server,
  search/join.py:334-425; at 100 TB swap the exact distinct-join for a
  MinHash signature comparison, same interface).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, functions as F

_DATISH = re.compile(r"^\s*\d{4}([-/ .]\d{1,2}([-/ .]\d{1,2})?)?\s*$")


def name_similarity(a: str, b: str) -> float:
    """union.py:13-22: 1.0 if one lowercased name contains the other,
    else 1 − levenshtein/max_len."""
    la, lb = a.lower(), b.lower()
    if la in lb or lb in la:
        return 1.0
    # iterative Levenshtein
    prev = list(range(len(lb) + 1))
    for i, ca in enumerate(la, 1):
        cur = [i]
        for j, cb in enumerate(lb, 1):
            cur.append(min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return 1.0 - prev[-1] / max(len(la), len(lb))


def greedy_pair_matching(
    pairs: list[tuple[str, str, float]], threshold: float = 0.0
) -> list[tuple[str, str, float]]:
    """W3: sort by similarity desc, keep pairs whose endpoints are both
    unseen (union.py:164-181).  Deterministic tie order (sim desc,
    left asc, right asc)."""
    used_l: set[str] = set()
    used_r: set[str] = set()
    out = []
    for l, r, s in sorted(pairs, key=lambda p: (-p[2], p[0], p[1])):
        if s <= threshold:
            continue
        if l in used_l or r in used_r:
            continue
        used_l.add(l)
        used_r.add(r)
        out.append((l, r, s))
    return out


def union_candidate_score(
    input_columns: list[str],
    candidate_columns: list[str],
    es_score: float = 1.0,
) -> tuple[float, list[tuple[str, str, float]]]:
    """Full R6/W3 pipeline for one candidate dataset: all-pairs name
    similarity → greedy matching → (Σ sims / n_input) × es_score;
    score 0.0 if ≤1 pair matched (union.py:177-190)."""
    pairs = [
        (a, b, name_similarity(a, b)) for a in input_columns for b in candidate_columns
    ]
    matched = greedy_pair_matching(pairs)
    if len(matched) <= 1:
        return 0.0, matched
    score = sum(s for _, _, s in matched) / len(input_columns) * es_score
    return score, matched


def containment_score(
    left: DataFrame, left_col: str, right: DataFrame, right_col: str
) -> float:
    """J8 exact containment |L ∩ R| / |L| over distinct values.
    Distributed: two distinct-aggregations + one broadcast-able
    semi-join — no driver-side value sets."""
    l = left.select(F.col(left_col).cast("string").alias("v")).where(
        F.col("v").isNotNull()
    ).distinct()
    r = right.select(F.col(right_col).cast("string").alias("v")).where(
        F.col("v").isNotNull()
    ).distinct()
    n_l = l.count()
    if n_l == 0:
        return 0.0
    inter = l.join(r, "v", "left_semi").count()
    return inter / n_l


def unpivot_wide_years(
    df: DataFrame, id_cols: list[str], value_cols: list[str],
    var_name: str = "date", value_name: str = "value",
) -> DataFrame:
    """S10: wide date-named columns → long rows (lib_materialize/
    pivot.py:10-38 melts when ≥80% of ≥3 column names parse as dates).
    Spark-native ``melt``/``unpivot``."""
    return df.unpivot(id_cols, value_cols, var_name, value_name)


def looks_pivoted(columns: list[str]) -> bool:
    """S10 trigger (lib_core/materialize.py:244-248, exact rule): a
    header of ≥3 columns where at most max(2, 20%·n) column names fail
    to parse as dates is a wide-pivoted table and should be melted
    (``unpivot_wide_years``)."""
    if len(columns) < 3:
        return False
    non_matches = sum(1 for c in columns if not _DATISH.match(c))
    return non_matches <= max(2.0, 0.20 * len(columns))


# --- MinHash-backed containment (J8/A11/R5 at scale) -------------------------
#
# The reference delegates joinable-column search to an external Lazo
# server holding per-column sketches (n_permutations, hash_values,
# cardinality) — lib_profiler core.py:502-557 builds them, apiserver
# search/join.py:334-425 queries them.  This is the Spark-native
# estimator: one aggregation computes the K-permutation MinHash slots +
# the exact distinct cardinality per column; containment is then pure
# sketch arithmetic (Lazo's JS→JC conversion), never a value-set join.
# At 100 TB the sketch table is O(#columns × K) rows — the exact
# ``containment_score`` above stays as the verification oracle.

N_PERMUTATIONS = 16


def _perm_hash(col, j: int):
    """Permutation j's hash: int64 from the md5 hex prefix of "j:value"
    — deterministic, identical in Spark and DuckDB (same scheme as the
    dedup suite, suite/textfns.py)."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(f"{j}:"), col)), 1, 15), 16, 10
    ).cast("long")


def column_minhash_sketch(
    df: DataFrame, col: str, n_hashes: int = N_PERMUTATIONS
) -> tuple[list[int], int]:
    """A11: Lazo-style column sketch ``(hash_values, cardinality)`` in
    ONE distributed aggregation over the column's distinct values."""
    v = (
        df.select(F.col(col).cast("string").alias("v"))
        .where(F.col("v").isNotNull())
        .distinct()
    )
    aggs = [F.min(_perm_hash(F.col("v"), j)).alias(f"mh{j}") for j in range(n_hashes)]
    aggs.append(F.count(F.lit(1)).alias("card"))
    row = v.agg(*aggs).collect()[0]
    return [row[f"mh{j}"] for j in range(n_hashes)], int(row["card"])


def lazo_containment_estimate(
    sketch_l: list[int], card_l: int, sketch_r: list[int], card_r: int
) -> float:
    """Lazo's sketch-only containment JC(L,R) = |L∩R|/|L|:

    JS_hat  = matching slots / K            (classic MinHash estimate)
    |L∩R|   = JS/(1+JS) · (|L|+|R|)         (from JS = ∩/∪, ∪ = |L|+|R|−∩)
    JC_hat  = clamp(|L∩R| / |L|, 0, 1)

    (reference behavior: search/join.py:334-425 consumes exactly this
    score from the Lazo server)."""
    if card_l == 0 or not sketch_l:
        return 0.0
    k = len(sketch_l)
    matches = sum(1 for a, b in zip(sketch_l, sketch_r) if a is not None and a == b)
    js = matches / k
    if js == 0.0:
        return 0.0
    inter = js / (1.0 + js) * (card_l + card_r)
    return min(1.0, inter / card_l)


def minhash_containment(
    left: DataFrame, left_col: str, right: DataFrame, right_col: str,
    n_hashes: int = N_PERMUTATIONS,
) -> float:
    """J8 at scale: sketch-estimated containment |L∩R|/|L| — two
    O(distinct) aggregations, zero cross-table joins.  Verify against
    ``containment_score`` (exact) on small data."""
    sl, cl = column_minhash_sketch(left, left_col, n_hashes)
    sr, cr = column_minhash_sketch(right, right_col, n_hashes)
    return lazo_containment_estimate(sl, cl, sr, cr)


# --- W2 interleave + R4 keyword multiplier (augmentation search) -------------


def interleave_results(join_results: list, union_results: list, k: int = 50) -> list:
    """W2: alternate join/union results pairwise, then leftovers, then
    cut to top-k — the reference's final ranking of augmentation search
    (apiserver/apiserver/search/__init__.py:410-425, TOP_K_SIZE=50)."""
    min_size = min(len(join_results), len(union_results))
    out = [x for pair in zip(join_results[:min_size], union_results[:min_size])
           for x in pair]
    out += join_results[min_size:]
    out += union_results[min_size:]
    return out[:k]


def keyword_multiplier_expr(score_col: str = "score",
                            match_col: str = "keyword_match"):
    """R4: when a keyword query accompanies a join search, datasets
    matching the keywords get their range/containment score ×10
    (function_score weight=10, boost_mode:'multiply' —
    search/__init__.py:118-140 applied at search/join.py:205-219)."""
    return F.col(score_col) * F.when(F.col(match_col), F.lit(10.0)).otherwise(
        F.lit(1.0)
    )


# --- R2 coverage-range overlap -----------------------------------------------


def range_overlap_score(query_ranges, cand_ranges) -> float:
    """R2: Σ over range pairs of (min(lte) − max(gte) + 1) / Σ query
    coverage — the painless script the reference runs per candidate
    (search/join.py:159-199; score_mode 'sum', replaces BM25)."""
    total = sum(lte - gte + 1 for gte, lte in query_ranges)
    if total <= 0:
        return 0.0
    s = 0.0
    for qg, ql in query_ranges:
        for cg, cl in cand_ranges:
            inter = min(ql, cl) - max(qg, cg) + 1
            if inter > 0:
                s += inter / total
    return s
