"""UAX#29 word segmentation — Lucene `standard` tokenizer fidelity.

The reference's analyzer chain is `html_strip → standard → lowercase →
english stemmer` (coordinator/coordinator/elasticsearch.yml:2-20); the
`standard` tokenizer is Lucene's UAX#29 word-boundary implementation.
THIS module is the `standard`-fidelity tokenizer — the default for the
engine's full (stemming) analyzer; the `\\w+` "simple" profile remains
the oracle-facing analyzer (the DuckDB oracle must mirror it).  Pinned
against Lucene-behavior vectors in tests/test_uax29.py.

Rules implemented (UAX#29 word-boundary, as Lucene StandardTokenizer
applies them):
- letter/digit runs form tokens; letters×digits join (WB9/WB10);
- underscore (ExtendNumLet) joins (WB13a/b);
- MidLetter {: ·} / MidNumLet {. '} / Single_Quote join LETTER pairs
  (WB6/WB7)  → "can't", "o'neil", "example.com", "a:b" are one token;
- MidNum {, ; .} / MidNumLet / Single_Quote join DIGIT pairs
  (WB11/WB12) → "3.14", "1,000,000" are one token;
- a separator between a letter and a digit never joins ("a.1" splits);
- Han and Hiragana are emitted as SINGLE-character tokens; Katakana as
  runs — exactly Lucene's StandardTokenizer grammar;
- WB4 Extend/Format: combining marks (Mn/Mc/Me) and format chars (Cf —
  ZWJ, ZWNJ, soft hyphen, ...) are transparent for boundary decisions
  and stay inside the token text ("cafe" + combining acute is ONE
  token; a ZWNJ inside a Persian word does not split it; a lone
  Extend/Format run with no word char emits nothing).
- WB7a: a single quote AFTER a Hebrew letter stays attached even
  word-finally (geresh abbreviations: ``א'`` is one token);
- WB7b/WB7c: a double quote between two Hebrew letters joins
  (gershayim acronyms: ``צה"ל`` is one token; ``a"b`` still splits);
  U+05F4 HEBREW PUNCTUATION GERSHAYIM is MidLetter per the property
  data and joins any letter pair;
- WB15/WB16: regional-indicator sequences pair up from the left — each
  flag (two RIs) is ONE token, a trailing odd RI stands alone
  (Lucene emits them as <EMOJI> tokens since LUCENE-8125);
- Extended_Pictographic emoji are emitted as tokens (Lucene <EMOJI>):
  one token per pictograph with its Extend run (skin-tone modifiers,
  VS16) attached, and WB3c ZWJ-joined sequences (e.g. the
  woman-technologist sequence) kept whole; two adjacent emoji without
  a ZWJ are two tokens;
- everything else is a boundary.

Performance: a document whose text has no CJK, no Extend/Format char
and no mid-joiner BETWEEN two word chars segments identically under
plain ``\\w+`` — one C-speed lookaround scan detects that and takes the
findall fast path, so ASCII-ish web text pays ~no premium over the
simple profile (the full grammar runs only on documents that need it).

Remaining divergence from Lucene (listed so the gap is explicit):
keycap sequences (digit + U+20E3) ride the word-char path rather than
an <EMOJI> type — the token TEXT is identical, only Lucene's type
attribute differs, and the index keys on text.
"""

from __future__ import annotations

import re
import unicodedata

_HAN = "㐀-䶿一-鿿豈-﫿\U00020000-\U0003134a"  # incl. CJK ext B..G unigrams
_HIRA = "ぁ-ゟ"
_KATA = "゠-ヿㇰ-ㇿ"
#: Hebrew_Letter word-break class (block letters + presentation forms;
#: U+05F3 GERESH is ALetter and U+05F4 GERSHAYIM is MidLetter, per
#: WordBreakProperty.txt -- they are NOT in this class)
_HEB = "א-תׯ-ײיִײַ-ﬨשׁ-פֿ"
#: regional indicators (emoji flags) -- WB15/WB16 pair them up
_RI = "🇦-🇿"

#: Extended_Pictographic (UCD emoji-data.txt, public), transcribed as
#: regex ranges.  Skin-tone modifiers U+1F3FB-FF are deliberately NOT
#: here (they are Word_Break=Extend and live in the _EXT class so they
#: attach to their base emoji); regional indicators are handled by the
#: WB15/16 branch.  Includes the UCD's reserved ranges so unassigned
#: future emoji segment the same way Lucene's grammar does.
_EP = (
    "©®‼⁉™ℹ"
    "↔-↙↩-↪⌚-⌛⌨⎈⏏"
    "⏩-⏳⏸-⏺Ⓜ▪-▫▶◀"
    "◻-◾☀-★☇-☒☔-⚅"
    "⚐-✅✈-✒✔✖✝✡✨"
    "✳-✴❄❇❌❎❓-❕❗"
    "❣-❧➕-➗➡➰➿⤴-⤵"
    "⬅-⬇⬛-⬜⭐⭕〰〽㊗㊙"
    "\U0001f000-\U0001f0ff\U0001f10d-\U0001f10f\U0001f12f"
    "\U0001f16c-\U0001f171\U0001f17e-\U0001f17f\U0001f18e"
    "\U0001f191-\U0001f19a\U0001f1ad-\U0001f1e5\U0001f201-\U0001f20f"
    "\U0001f21a\U0001f22f\U0001f232-\U0001f23a\U0001f23c-\U0001f23f"
    "\U0001f249-\U0001f3fa\U0001f400-\U0001f53d\U0001f546-\U0001f64f"
    "\U0001f680-\U0001f6ff\U0001f774-\U0001f77f\U0001f7d5-\U0001f7ff"
    "\U0001f80c-\U0001f80f\U0001f848-\U0001f84f\U0001f85a-\U0001f85f"
    "\U0001f888-\U0001f88f\U0001f8ae-\U0001f8ff\U0001f90c-\U0001f93a"
    "\U0001f93c-\U0001f945\U0001f947-\U0001faff\U0001fc00-\U0001fffd"
)


def _ext_class() -> str:
    """Regex character class of WB4-transparent chars: Extend (Mn/Mc/Me)
    ∪ Format (Cf, which includes ZWJ U+200D and ZWNJ U+200C) ∪ emoji
    skin-tone modifiers (U+1F3FB..FF, Word_Break=Extend since Unicode
    11).  Built from a one-time scan of the BMP plus the supplementary
    ranges where non-ideographic Mn/Mc/Cf actually live: plane 1 (SMP
    combining marks, musical/maths marks, emoji modifiers) and plane 14
    (tag characters, variation selectors supplement) — ~50 ms at
    import.  Planes 2-13/15-16 hold only ideographs and private use."""
    parts: list[str] = []
    start = None
    prev = None
    ranges = [(0, 0x10000), (0x10000, 0x20000), (0xE0000, 0xE01F0)]

    def flush(last_cp: int) -> None:
        nonlocal start
        if start is not None:
            parts.append(
                re.escape(chr(start)) if start == last_cp
                else re.escape(chr(start)) + "-" + re.escape(chr(last_cp))
            )
            start = None

    for lo, hi in ranges:
        for cp in range(lo, hi):
            is_ext = (
                unicodedata.category(chr(cp)) in ("Mn", "Mc", "Me", "Cf")
                or 0x1F3FB <= cp <= 0x1F3FF  # emoji modifiers (Sk, WB=Extend)
            )
            if is_ext:
                if start is None:
                    start = cp
            else:
                flush(cp - 1)
            prev = cp
        flush(prev)
    return "".join(parts)


_EXT = _ext_class()

# word char = \w minus CJK classes handled apart, minus Extend/Format
# (underscore stays: ExtendNumLet joins, WB13), plus U+05F3 HEBREW
# PUNCTUATION GERESH — ALetter per WordBreakProperty.txt though Po, so
# not matched by \w ("\u05d2\u05f3\u05d9\u05e0\u05e1" is ONE token)
_WC = rf"(?:(?![{_HAN}{_HIRA}{_KATA}{_EXT}])[\w\u05f3])"
_MIDS = ".,:;'’·\"״"
_WCE = rf"{_WC}(?:{_WC}|[{_EXT}])*"  # word-char run absorbing Extend/Format
_COARSE = re.compile(
    rf"[{_KATA}](?:[{_KATA}]|[{_EXT}])*"      # katakana run
    rf"|[{_HAN}][{_EXT}]*"                    # han unigram
    rf"|[{_HIRA}][{_EXT}]*"                   # hiragana unigram
    rf"|[{_RI}]{{1,2}}"                       # flag = RI pair (WB15/16)
    # emoji sequence: ExtPict, its Extend run (skin tones, VS16), then
    # ZWJ-joined continuations (WB3c: ZWJ × ExtPict — the ZWJ must
    # IMMEDIATELY precede the next ExtPict; two adjacent emoji without
    # one are two tokens).  The ZWJ is itself Cf ∈ _EXT, so the greedy
    # Extend run releases it by backtracking when a joined ExtPict
    # follows.
    rf"|[{_EP}](?:[{_EXT}]*\u200d[{_EP}])*[{_EXT}]*"
    # word with candidate mid-joiners; an optional TRAILING single quote
    # (WB7a geresh candidate) — _split_invalid_mids validates it by
    # walking back over any Extend/Format run to the base letter, so no
    # Hebrew lookbehind here: a WB4-transparent combining point between
    # the Hebrew letter and the quote would defeat a literal
    # ``(?<=[HEB])'`` (ADVICE r4); an invalid trailing quote is split
    # off (dropped) by the same validation, matching the old behavior
    rf"|{_WCE}(?:[{_MIDS}][{_EXT}]*{_WCE})*'?"
)

# a document needs the full grammar only if it has CJK, Extend/Format,
# a regional indicator, a trailing-geresh candidate, or a mid-joiner
# candidate BETWEEN two word chars — C-speed test
_NEEDS_SLOW = re.compile(
    rf"[{_HAN}{_HIRA}{_KATA}{_EXT}{_RI}{_EP}\u05f3]"
    rf"|(?<=\w)[{_MIDS}](?=\w)"
    rf"|(?<=[{_HEB}])'"
)
# cheap over-approximation of _NEEDS_SLOW: a single character class
# (any mid char, any non-ASCII) scans ~8× faster than the lookaround
# pattern — rows failing it are PROVABLY fast-path; only survivors pay
# the precise scan (tokenize_batch_flat runs this two-stage)
_MAYBE_SLOW = re.compile("[" + _MIDS + "\u0080-\U0010FFFF]")
_SIMPLE_RE = re.compile(r"\w+", re.UNICODE)

_LETTER_MIDS = set(":·.'’״")  # MidLetter ∪ MidNumLet ∪ Single_Quote
_DIGIT_MIDS = set(",;.'’")        # MidNum ∪ MidNumLet ∪ Single_Quote
_MID_SET = set(_MIDS)
_EXT_RE = re.compile(rf"[{_EXT}]")
_HEB_RE = re.compile(rf"[{_HEB}]")


def _is_ext(ch: str) -> bool:
    return _EXT_RE.match(ch) is not None


def _split_invalid_mids(token: str) -> list[str]:
    """Validate every mid-joiner: keep it only between two letters (with
    a letter-mid) or two digits (with a digit-mid) — looking THROUGH
    Extend/Format chars on both sides (WB4) — split otherwise."""
    out: list[str] = []
    cur: list[str] = []
    i = 0
    n = len(token)
    while i < n:
        ch = token[i]
        if ch in _MID_SET:
            j = i - 1
            while j > 0 and _is_ext(token[j]):
                j -= 1
            prev = token[j]
            j = i + 1
            while j < n and _is_ext(token[j]):
                j += 1
            nxt = token[j] if j < n else ""  # "" only for a WB7a candidate
            if ch == '"':
                # WB7b/WB7c: double quote joins ONLY a Hebrew letter pair
                ok = bool(
                    nxt and _HEB_RE.match(prev) and _HEB_RE.match(nxt)
                )
            elif not nxt:
                # WB7a: word-final single quote after a Hebrew letter
                ok = ch == "'" and _HEB_RE.match(prev) is not None
            else:
                ok = (
                    (prev.isalpha() and nxt.isalpha() and ch in _LETTER_MIDS)
                    or (prev.isdigit() and nxt.isdigit() and ch in _DIGIT_MIDS)
                )
            if ok:
                cur.append(ch)
            else:
                out.append("".join(cur))
                cur = []
        else:
            cur.append(ch)
        i += 1
    if cur:
        out.append("".join(cur))
    return out


def tokenize_uax29(text: str) -> list[str]:
    """UAX#29 word segmentation of one string (no case folding)."""
    if not text:
        return []
    if _NEEDS_SLOW.search(text) is None:
        return _SIMPLE_RE.findall(text)  # provably identical segmentation
    toks: list[str] = []
    for m in _COARSE.findall(text):
        if any(c in _MID_SET for c in m):
            toks.extend(_split_invalid_mids(m))
        else:
            toks.append(m)
    return toks
