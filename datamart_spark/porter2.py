"""Porter2 (Snowball English) stemmer — pure Python, deterministic.

The reference's Elasticsearch analyzer ends in an English stemmer
(reference: coordinator/coordinator/elasticsearch.yml:18-20, `stemmer:
language: english`); Lucene's `english` stemmer is Porter2.  This is a
from-scratch implementation of the published Snowball English algorithm
(https://snowballstem.org/algorithms/english/stemmer.html) so the
analyzer is fully deterministic and vendored — no library-version drift
(per-row invariance requirement, BASELINE.json input_hint).

Used from Arrow-batched pandas UDFs with a per-batch memo cache — the
effective vocabulary is small relative to token volume, so the cache
hit-rate is ~100% and per-token cost amortizes away.
"""

from __future__ import annotations

VOWELS = frozenset("aeiouy")
DOUBLES = ("bb", "dd", "ff", "gg", "mm", "nn", "pp", "rr", "tt")
LI_ENDINGS = frozenset("cdeghkmnrt")

_EXCEPTIONS1 = {
    "skis": "ski",
    "skies": "sky",
    "dying": "die",
    "lying": "lie",
    "tying": "tie",
    "idly": "idl",
    "gently": "gentl",
    "ugly": "ugli",
    "early": "earli",
    "only": "onli",
    "singly": "singl",
    # invariant forms
    "sky": "sky",
    "news": "news",
    "howe": "howe",
    "atlas": "atlas",
    "cosmos": "cosmos",
    "bias": "bias",
    "andes": "andes",
}

_EXCEPTIONS2 = frozenset(
    ["inning", "outing", "canning", "herring", "earring", "proceed", "exceed", "succeed"]
)


def _cons(word: str, i: int) -> bool:
    # 'Y' (marked consonant y) is a consonant; lowercase 'y' counts as vowel here
    c = word[i]
    return c not in VOWELS  # 'Y' is uppercase so not in VOWELS


def _find_r1(word: str) -> int:
    """R1 = region after the first non-vowel following a vowel."""
    for prefix in ("gener", "commun", "arsen"):
        if word.startswith(prefix):
            return len(prefix)
    for i in range(1, len(word)):
        if _cons(word, i) and not _cons(word, i - 1):
            return i + 1
    return len(word)


def _find_r2(word: str, r1: int) -> int:
    for i in range(r1 + 1, len(word)):
        if _cons(word, i) and not _cons(word, i - 1):
            return i + 1
    return len(word)


def _ends_short_syllable(word: str) -> bool:
    """Short syllable: (c)vc where final c is not w/x/Y, or vc at word start."""
    n = len(word)
    if n == 2:
        return not _cons(word, 0) and _cons(word, 1)
    if n >= 3:
        if (
            _cons(word, n - 3)
            and not _cons(word, n - 2)
            and _cons(word, n - 1)
            and word[n - 1] not in "wxY"
        ):
            return True
    return False


def _is_short(word: str, r1: int) -> bool:
    return r1 >= len(word) and _ends_short_syllable(word)


def _has_vowel(word: str, end: int) -> bool:
    """Any vowel in word[:end]?"""
    for i in range(end):
        if not _cons(word, i):
            return True
    return False


def stem(token: str) -> str:
    """Stem one lowercase token.  Input must already be lowercased."""
    word = token
    if len(word) <= 2:
        return word
    if word[0] == "'":
        word = word[1:]
        if len(word) <= 2:
            return word

    if word in _EXCEPTIONS1:
        return _EXCEPTIONS1[word]

    # mark consonant-y: initial y, or y after a vowel
    chars = list(word)
    if chars[0] == "y":
        chars[0] = "Y"
    for i in range(1, len(chars)):
        if chars[i] == "y" and chars[i - 1] in VOWELS:
            chars[i] = "Y"
    word = "".join(chars)

    r1 = _find_r1(word)
    r2 = _find_r2(word, r1)

    # Step 0: strip 's / s' / '
    for suf in ("'s'", "'s", "'"):
        if word.endswith(suf):
            word = word[: -len(suf)]
            break

    # Step 1a
    if word.endswith("sses"):
        word = word[:-2]
    elif word.endswith("ied") or word.endswith("ies"):
        word = word[:-2] if len(word) > 4 else word[:-1]
    elif word.endswith("ss") or word.endswith("us"):
        pass
    elif word.endswith("s"):
        if _has_vowel(word, len(word) - 2):
            word = word[:-1]

    if word in _EXCEPTIONS2:
        return word

    # Step 1b
    for suf in ("eedly", "eed"):
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                word = word[: -len(suf)] + "ee"
            break
    else:
        for suf in ("ingly", "edly", "ing", "ed"):
            if word.endswith(suf):
                stem_part = word[: -len(suf)]
                if _has_vowel(stem_part, len(stem_part)):
                    word = stem_part
                    if word.endswith(("at", "bl", "iz")):
                        word += "e"
                    elif word.endswith(DOUBLES):
                        word = word[:-1]
                    elif _is_short(word, r1):
                        word += "e"
                break

    # Step 1c: y/Y → i if preceded by a non-vowel which is not word-initial
    if len(word) > 2 and word[-1] in "yY" and _cons(word, len(word) - 2):
        word = word[:-1] + "i"

    # Step 2 (suffix must lie in R1); longest match first
    step2 = [
        ("ization", "ize"),
        ("ational", "ate"),
        ("fulness", "ful"),
        ("ousness", "ous"),
        ("iveness", "ive"),
        ("tional", "tion"),
        ("biliti", "ble"),
        ("lessli", "less"),
        ("entli", "ent"),
        ("ation", "ate"),
        ("alism", "al"),
        ("aliti", "al"),
        ("ousli", "ous"),
        ("iviti", "ive"),
        ("fulli", "ful"),
        ("enci", "ence"),
        ("anci", "ance"),
        ("abli", "able"),
        ("izer", "ize"),
        ("ator", "ate"),
        ("alli", "al"),
        ("bli", "ble"),
    ]
    for suf, rep in step2:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                word = word[: -len(suf)] + rep
            break
    else:
        if word.endswith("ogi"):
            if len(word) - 3 >= r1 and len(word) >= 4 and word[-4] == "l":
                word = word[:-3] + "og"
        elif word.endswith("li"):
            if len(word) - 2 >= r1 and len(word) >= 3 and word[-3] in LI_ENDINGS:
                word = word[:-2]

    # Step 3 (suffix in R1; 'ative' needs R2)
    step3 = [
        ("ational", "ate"),
        ("tional", "tion"),
        ("alize", "al"),
        ("icate", "ic"),
        ("iciti", "ic"),
        ("ical", "ic"),
        ("ness", ""),
        ("ful", ""),
    ]
    for suf, rep in step3:
        if word.endswith(suf):
            if len(word) - len(suf) >= r1:
                word = word[: -len(suf)] + rep
            break
    else:
        if word.endswith("ative"):
            if len(word) - 5 >= r2:
                word = word[:-5]

    # Step 4 (suffix in R2)
    step4 = [
        "ement",
        "ance",
        "ence",
        "able",
        "ible",
        "ment",
        "ant",
        "ent",
        "ism",
        "ate",
        "iti",
        "ous",
        "ive",
        "ize",
        "al",
        "er",
        "ic",
    ]
    for suf in step4:
        if word.endswith(suf):
            if len(word) - len(suf) >= r2:
                word = word[: -len(suf)]
            break
    else:
        if word.endswith("ion"):
            if len(word) - 3 >= r2 and len(word) >= 4 and word[-4] in "st":
                word = word[:-3]

    # Step 5
    if word.endswith("e"):
        if len(word) - 1 >= r2:
            word = word[:-1]
        elif len(word) - 1 >= r1 and not _ends_short_syllable(word[:-1]):
            word = word[:-1]
    elif word.endswith("l"):
        if len(word) - 1 >= r2 and len(word) >= 2 and word[-2] == "l":
            word = word[:-1]

    return word.replace("Y", "y")


class StemCache:
    """Memoizing wrapper for batch stemming (pandas UDF hot path)."""

    __slots__ = ("_cache",)

    def __init__(self) -> None:
        self._cache: dict[str, str] = {}

    def __call__(self, token: str) -> str:
        s = self._cache.get(token)
        if s is None:
            s = stem(token)
            self._cache[token] = s
        return s
