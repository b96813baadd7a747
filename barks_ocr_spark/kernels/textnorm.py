"""Vectorized text-normalization kernels (SURVEY.md §2.7).

Every function here reproduces a specific reference behavior, cited per
function as `file:line` into /root/reference. All functions operate on
``pandas.Series`` of strings (vectorized `.str` ops where possible; a
`.map` over a pure Python function where the semantics are a stateful
per-string character scan — still Arrow-batched at the Spark layer, never
row-at-a-time Spark UDFs).
"""

from __future__ import annotations

import re

import pandas as pd

# ── Spell filter / auto-correct (F2-F4) ─────────────────────────────────
# src/barks_ocr/pipeline/batch_ocr.py:31-35
REJECTED_WORDS = frozenset(["F", "H", "M", "W", "OO", "VV", "|", "L", "\\", "IY"])
AUTO_CORRECTIONS = {"G0": "GO"}
# Trailing punctuation tolerated by dictionary lookups
# (src/barks_ocr/pipeline/batch_ocr.py:148-149, 166-167).
TRAILING_PUNCT = ").!;?,"

# ── Sentence-end detection (T8) ─────────────────────────────────────────
# src/barks_ocr/utils/group_checks.py:23-57: word-dot abbreviations that
# do NOT end a sentence.
SENTENCE_END_ABBREVIATIONS = frozenset(
    {
        "MR", "MRS", "MS", "DR", "PROF", "ST", "JR", "SR", "SGT", "LT",
        "CAPT", "COL", "GEN", "MAJ", "REV", "GOV", "M.D", "PRES", "SEN",
        "REP", "HON", "INC", "LTD", "CO", "U.S", "VS", "ETC",
    }
)
_SENTENCE_END_RE = re.compile(r"((?:\w+\.)*\w*)(?<!\.)\.(?=\s*$|\s+[A-Z])", re.MULTILINE)

# Dash checks (T9) — src/barks_ocr/utils/group_checks.py:56-57.
_DASH_WRONG_SPACE_RE = re.compile("\u2014\\s+[!?]|[!?]\\s+\u2014")
_DASH_NO_SPACES_RE = re.compile("[^\\W\\d_]\u2014[^\\W\\d_]")

# ── Boilerplate shapes (F10/T16) — books/src/book_pages.py:22-48 ────────
_ROMAN_RE = re.compile(r"^[ivxlcdm]+$", re.IGNORECASE)
MAX_PAGE_NUMBER_LEN = 8
_PAGE_NUM_TOKEN = r"(?:[ivxlcdmIVXLCDM]{1,8}|\d{1,3})"
_HEADING_WITH_PAGE_NUM_RE = re.compile(
    rf"^(?:{_PAGE_NUM_TOKEN}\s+\S.*|\S.*\s+{_PAGE_NUM_TOKEN})$"
)
_LEADING_PAGE_NUM_RE = re.compile(rf"^{_PAGE_NUM_TOKEN}\s+")
_TRAILING_PAGE_NUM_RE = re.compile(rf"\s+{_PAGE_NUM_TOKEN}$")
MAX_RUNNING_HEADER_LEN = 80
RUNNING_HEADER_REPEAT_THRESHOLD = 3

# ── Reprinted-caption filter (F11) — books/src/loader.py:69-120 ─────────
REPRINTED_PREFIX = "Reprinted: "
_REPRINTED_CLAUSE_RE = re.compile(r"\s*[*_]*Reprinted[*_]*\s*:.*$")

# ── Paragraph-open / soft-word-break (W5/T5) ────────────────────────────
# books/src/llama-parse-build-epub.py:1224 (_SENTENCE_END_RE) and
# :1291-1315 (merge + soft break).
_PARA_SENTENCE_END_RE = re.compile("[.!?\u2026][\")'\\]\u2019\u201d]*\\s*$")
_TRAILING_PARENTHETICAL_RE = re.compile(r"\s*\([^()]*\)\s*$")

# ── Index tokenization (T13/O8) ─────────────────────────────────────────
# experiments/make-word-index-from-gemini-ai-groups.py:16-171, 251-265.
STOP_WORDS = frozenset(
    "a about above after again against all am an and any are as at be because been before "
    "being below between both but by can did do does doing don down during each few for "
    "from further had has have having he her here hers herself him himself his how i if in "
    "into is it its itself just me more most my myself no nor not now of off on once only "
    "or other our ours ourselves out over own s same she should so some such t than that "
    "the their theirs them themselves then there these they this those through to too "
    "under until up very was we were what when where which while who whom why will with "
    "you your yours yourself yourselves".split()
)
UNIMPORTANT_WORDS = frozenset(
    {
        "even", "get", "go", "goes", "got", "haven't", "he'll", "he's", "here's",
        "i'd", "i'll", "i'm", "i've", "isn't", "it's", "let", "wasn't", "we'll",
        "we're", "what'll", "what's", "won't", "you'll",
    }
)
ALL_WORDS_TO_IGNORE = STOP_WORDS | UNIMPORTANT_WORDS

# ── Curly quotes (T14) — books/src/curly_quotes.py:31-114 ───────────────
_LEFT_DOUBLE, _RIGHT_DOUBLE = "\u201c", "\u201d"
_LEFT_SINGLE, _RIGHT_SINGLE = "\u2018", "\u2019"
_DOUBLE_QUOTE_CHARS = frozenset(('"', _LEFT_DOUBLE, _RIGHT_DOUBLE))
_SINGLE_QUOTE_CHARS = frozenset(("'", _LEFT_SINGLE, _RIGHT_SINGLE))
_EMPHASIS_CHARS = frozenset("*_")
_OPEN_CONTEXT = frozenset(" \t\n\r\f\v([{<-\u2014\u2013\u2026\u201c\u2018")
_ELISION_RE = re.compile(r"\d|(?:em|til|till|tis|cause|course)\b", re.IGNORECASE)


# ════════════════════════════════════════════════════════════════════════
# Line-break / hyphenation repair (T5)
# ════════════════════════════════════════════════════════════════════════
def repair_linebreaks(s: pd.Series) -> pd.Series:
    """Soft-hyphen and line-break repair, then whitespace canonicalization.

    Semantics of `src/barks_ocr/pipeline/whoosh_index.py:92-94` (the
    match-normalization chain: ``"­\\n"`` removed, ``"-\\n"`` → ``"-"``,
    ``"\\n"`` → ``" "``) plus T6 whitespace collapse
    (`src/barks_ocr/tools/get_title_pages.py:110-113`).
    """
    s = s.fillna("")
    # Rows already in canonical form (no soft hyphen, no non-space
    # whitespace, no double/edge spaces) pass through untouched: one
    # gate scan replaces six full passes for the typical clean majority.
    # [^\S ] = any whitespace except a plain space (covers tab/newline
    # AND unicode spaces, exactly what \s+ collapse could change)
    m = s.str.contains(r"\u00ad|[^\S ]| {2,}|^ | $", regex=True).to_numpy()
    if not m.any():
        return s
    t = s[m]
    t = t.str.replace("\u00ad\n", "", regex=False)
    t = t.str.replace("\u00ad", "", regex=False)
    t = t.str.replace("-\n", "-", regex=False)
    t = t.str.replace("\n", " ", regex=False)
    t = t.str.replace(r"\s+", " ", regex=True).str.strip()
    out = s.to_numpy(copy=True)
    out[m] = t.to_numpy()
    return pd.Series(out, index=s.index)


# ════════════════════════════════════════════════════════════════════════
# Spell filter / auto-correct (F2-F4, T2)
# ════════════════════════════════════════════════════════════════════════
def _correct_token(tok: str) -> str:
    if tok in AUTO_CORRECTIONS:
        return AUTO_CORRECTIONS[tok]
    if len(tok) > 1 and tok[-1] in TRAILING_PUNCT and tok[:-1] in AUTO_CORRECTIONS:
        return AUTO_CORRECTIONS[tok[:-1]] + tok[-1]
    return tok


def auto_correct(s: pd.Series) -> pd.Series:
    """Exact-string OCR auto-corrections, trailing-punctuation tolerant.

    `src/barks_ocr/pipeline/batch_ocr.py:144-151` (`can_auto_correct`):
    the whole string or each word maps through AUTO_CORRECTIONS, keeping
    one trailing char of ``).!;?,``.
    """
    # Fast path: skip strings that can't contain a correctable token.
    keys = list(AUTO_CORRECTIONS)
    pat = "|".join(re.escape(k) for k in keys)
    mask = s.fillna("").str.contains(pat, regex=True)
    out = s.fillna("").copy()
    if mask.any():
        out[mask] = out[mask].map(
            lambda t: " ".join(_correct_token(w) for w in t.split(" "))
        )
    return out


# Vectorized form of the rejected-token test: a space-delimited token
# whose non-space edge whitespace strips away to a rejected word. The
# token boundary is a literal space (the reference splits on " "), the
# inner [\t\n\r\f\v]* mirrors str.strip() on the token, IGNORECASE
# mirrors .upper(). Parity with the per-token Python form is pinned by
# test_property_kernels.py::test_rejected_token_regex_parity.
_REJECTED_TOKEN_RE = re.compile(
    r"(?:^| )[\t\n\r\f\v]*(?:"
    + "|".join(re.escape(w) for w in sorted(REJECTED_WORDS))
    + r")[\t\n\r\f\v]*(?= |$)",
    re.IGNORECASE,
)


def has_rejected_token(s: pd.Series) -> pd.Series:
    """True when any whitespace token is in REJECTED_WORDS.

    Mirrors `src/barks_ocr/pipeline/batch_ocr.py:154-161` (`word_is_ok`):
    a box is rejected wholesale when any word (uppercased, stripped) is in
    the rejected list. One C-level regex scan, no per-row Python.
    """
    return s.fillna("").str.contains(_REJECTED_TOKEN_RE.pattern, regex=True, case=False)


def has_rejected_token_py(s: pd.Series) -> pd.Series:
    """Reference-literal per-token implementation (parity oracle for the
    vectorized regex; not used in the hot path)."""
    rejected = REJECTED_WORDS

    def _any_rejected(t: str) -> bool:
        return any(w.upper().strip() in rejected for w in t.split(" ") if w)

    return s.fillna("").map(_any_rejected)


def spell_suggest(s: pd.Series, dictionary: frozenset[str]) -> pd.Series:
    """F4: unknown word → first close dictionary suggestion, else keep.

    Mirrors `src/barks_ocr/pipeline/batch_ocr.py:163-179` (`word_is_ok`):
    a word passes if it is in the dictionary (directly or with one
    trailing char of ``).!;?,``); otherwise the first suggestion is
    taken; with no suggestions the word is kept. The reference's enchant
    suggester is replaced by stdlib ``difflib.get_close_matches`` over
    the broadcast dictionary — deterministic and dependency-free.
    """
    from difflib import get_close_matches

    words_sorted = sorted(dictionary)

    def _fix_word(w: str) -> str:
        if not w:
            return w
        core, tail = w, ""
        if w[-1] in TRAILING_PUNCT and len(w) > 1:
            core, tail = w[:-1], w[-1]
        if w in dictionary or core in dictionary:
            return w
        close = get_close_matches(w, words_sorted, n=1, cutoff=0.75)
        return close[0] + tail if close else w

    def _fix(t: str) -> str:
        return " ".join(_fix_word(w) for w in t.split(" "))

    return s.fillna("").map(_fix)


# ════════════════════════════════════════════════════════════════════════
# Curly quotes (T14)
# ════════════════════════════════════════════════════════════════════════
def _curlify_one(text: str) -> str:
    """Stateful char scan reproducing `books/src/curly_quotes.py:59-114`.

    (No HTML-tag transparency here: span text in our model is plain text,
    not markup; the reference's tag handling is a no-op on tag-free input.)
    """
    out: list[str] = []
    prev = ""
    for idx, ch in enumerate(text):
        if ch in _DOUBLE_QUOTE_CHARS:
            opening = prev == "" or prev in _OPEN_CONTEXT
            rep = _LEFT_DOUBLE if opening else _RIGHT_DOUBLE
            out.append(rep)
            prev = rep
        elif ch in _SINGLE_QUOTE_CHARS:
            opening = prev == "" or prev in _OPEN_CONTEXT
            if opening and _ELISION_RE.match(text, idx + 1):
                opening = False
            rep = _LEFT_SINGLE if opening else _RIGHT_SINGLE
            out.append(rep)
            prev = rep
        elif ch in _EMPHASIS_CHARS:
            out.append(ch)
        else:
            out.append(ch)
            prev = ch
    return "".join(out)


def curlify(s: pd.Series) -> pd.Series:
    """Resolve straight quotes to typographic curly forms (vector wrapper)."""
    mask = s.fillna("").str.contains(r"['\"\u2018\u2019\u201c\u201d]", regex=True)
    out = s.fillna("").copy()
    if mask.any():
        out[mask] = out[mask].map(_curlify_one)
    return out


# ════════════════════════════════════════════════════════════════════════
# Barks casing (T1)
# ════════════════════════════════════════════════════════════════════════
def barks_upper(s: pd.Series) -> pd.Series:
    """Uppercase accepted text (`src/barks_ocr/pipeline/batch_ocr.py:155`,
    `src/barks_ocr/pipeline/gemini_grouper.py:331`)."""
    return s.fillna("").str.upper()


# ════════════════════════════════════════════════════════════════════════
# Boilerplate predicates (F10, T16)
# ════════════════════════════════════════════════════════════════════════
def is_standalone_page_number(s: pd.Series) -> pd.Series:
    """Digits-only or roman-numeral-only text of length ≤8.

    `books/src/book_pages.py:189-196` (after the trim at :186-188).
    """
    t = s.fillna("").str.strip()
    short = (t.str.len() > 0) & (t.str.len() <= MAX_PAGE_NUMBER_LEN)
    out = pd.Series(False, index=t.index)
    if short.any():  # fullmatches only on the ≤8-char subset
        sub = t[short]
        out[sub.index] = sub.str.fullmatch(r"\d+") | sub.str.fullmatch(
            _ROMAN_RE.pattern, case=False
        )
    return out


def is_running_header_shape(s: pd.Series) -> pd.Series:
    """Short heading with a page-number token at start or end.

    `books/src/book_pages.py:39-48` (_HEADING_WITH_PAGE_NUM_RE) with the
    ≤80-char cap at :46.
    """
    t = s.fillna("").str.strip()
    return (
        (t.str.len() > 0)
        & (t.str.len() <= MAX_RUNNING_HEADER_LEN)
        & t.str.fullmatch(_HEADING_WITH_PAGE_NUM_RE.pattern)
    )


def heading_without_page_num(s: pd.Series) -> pd.Series:
    """Strip one leading or trailing page-number token from a heading."""
    t = s.fillna("").str.strip()
    t = t.str.replace(_LEADING_PAGE_NUM_RE, "", regex=True)
    t = t.str.replace(_TRAILING_PAGE_NUM_RE, "", regex=True)
    return t.str.strip()


def is_all_caps_heading(s: pd.Series) -> pd.Series:
    """Has a letter, has no lowercase letter, short enough to be a header.

    `books/src/book_pages.py:176-183` (all-caps repeat-header variant).
    """
    t = s.fillna("").str.strip()
    has_letter = t.str.contains(r"[A-Za-z]", regex=True)
    has_lower = t.str.contains(r"[a-z]", regex=True)
    return (t.str.len() <= MAX_RUNNING_HEADER_LEN) & has_letter & ~has_lower


# ════════════════════════════════════════════════════════════════════════
# Reprinted-caption filter (F11)
# ════════════════════════════════════════════════════════════════════════
def is_reprinted_standalone(s: pd.Series) -> pd.Series:
    """Standalone ``"Reprinted: ..."`` caption (books/src/loader.py:80-93)."""
    return s.fillna("").str.startswith(REPRINTED_PREFIX)


def strip_reprinted_clauses(s: pd.Series) -> pd.Series:
    """Truncate each line at a ``Reprinted:`` clause; drop clause-only lines.

    `books/src/loader.py:96-120` (_strip_reprinted_lines).
    """
    def _strip_one(text: str) -> str:
        out = []
        for line in text.split("\n"):
            stripped = _REPRINTED_CLAUSE_RE.sub("", line)
            if stripped == line:
                out.append(line)
            elif stripped.strip():
                out.append(stripped.rstrip())
        return "\n".join(out)

    mask = s.fillna("").str.contains("Reprinted", regex=False)
    out = s.fillna("").copy()
    if mask.any():
        out[mask] = out[mask].map(_strip_one)
    return out


# ════════════════════════════════════════════════════════════════════════
# Paragraph-open detection + merge joins (W5/T5)
# ════════════════════════════════════════════════════════════════════════
def paragraph_is_open(s: pd.Series) -> pd.Series:
    """True when text ends mid-sentence (no closing punctuation).

    `books/src/llama-parse-build-epub.py:1239-1261` (_paragraph_is_open),
    on plain text: closed iff it ends with ``[.!?…]`` + optional closing
    quotes/brackets, including the peel-one-trailing-parenthetical rule.
    """
    t = s.fillna("").str.rstrip()
    empty = t.str.len() == 0
    closed = t.str.contains(_PARA_SENTENCE_END_RE.pattern, regex=True)
    # the parenthetical peel can only change rows containing '(' —
    # gate three passes (replace + rstrip + contains) on one literal scan
    peel_hit = pd.Series(False, index=t.index)
    has_paren = t.str.contains("(", regex=False)
    if has_paren.any():
        sub = t[has_paren]
        peeled = sub.str.replace(
            _TRAILING_PARENTHETICAL_RE.pattern, "", regex=True
        ).str.rstrip()
        peel_changed = peeled != sub
        peeled_closed = peeled.str.contains(_PARA_SENTENCE_END_RE.pattern, regex=True)
        peel_hit[sub.index] = peel_changed & peeled_closed
    return ~empty & ~closed & ~peel_hit


def ends_with_soft_word_break(s: pd.Series) -> pd.Series:
    """Trailing hyphen immediately preceded by a letter/digit.

    `books/src/llama-parse-build-epub.py:1310-1315`.
    """
    t = s.fillna("").str.rstrip()
    out = pd.Series(False, index=t.index)
    has_dash = t.str.contains("-", regex=False)  # cheap literal gate
    if has_dash.any():
        sub = t[has_dash]
        out[sub.index] = (sub.str.len() >= 2) & sub.str.contains(
            r"[0-9A-Za-z]-$", regex=True
        )
    return out


def merge_join(prev: pd.Series, nxt: pd.Series) -> pd.Series:
    """Join two paragraph fragments: seamless after a soft word break,
    single-space otherwise (`books/src/llama-parse-build-epub.py:1291-1307`)."""
    prev_tail = prev.fillna("").str.rstrip()
    next_head = nxt.fillna("").str.lstrip()
    seamless = ends_with_soft_word_break(prev_tail) & next_head.str.contains(
        r"^[0-9A-Za-z]", regex=True
    )
    spaced = prev.fillna("") + " " + next_head
    return spaced.mask(seamless, prev_tail + next_head)


# ════════════════════════════════════════════════════════════════════════
# Issue predicates (T8-T10) — src/barks_ocr/utils/group_checks.py
# ════════════════════════════════════════════════════════════════════════
def has_dot_at_end_of_sentence(s: pd.Series) -> pd.Series:
    """Abbreviation-aware sentence-final-dot detector (group_checks.py:75-81)."""
    def _check(text: str) -> bool:
        for m in _SENTENCE_END_RE.finditer(text):
            if m.group(1).upper() not in SENTENCE_END_ABBREVIATIONS:
                return True
        return False

    mask = s.fillna("").str.contains(".", regex=False)
    out = pd.Series(False, index=s.index, dtype=object)
    if mask.any():
        out[mask] = s[mask].map(_check)
    return out.astype(bool)


def has_dash_wrong_space(s: pd.Series) -> pd.Series:
    """`—\\s+[!?]` or `[!?]\\s+—` (group_checks.py:56, 84-86)."""
    return s.fillna("").str.contains(_DASH_WRONG_SPACE_RE.pattern, regex=True)


def has_dash_no_spaces(s: pd.Series) -> pd.Series:
    """Letter—letter with no spaces (group_checks.py:57, 89-91)."""
    return s.fillna("").str.contains(_DASH_NO_SPACES_RE.pattern, regex=True)


# ════════════════════════════════════════════════════════════════════════
# Comparison keys (T6/T7) — normalization used only for matching,
# never applied to stored text (tools/florence_check.py:306-316).
# ════════════════════════════════════════════════════════════════════════
def comparison_key(s: pd.Series) -> pd.Series:
    """Fold dash runs to '-', strip all whitespace, lowercase."""
    t = s.fillna("").str.replace(r"[\u2014\u2013\u2212-]+", "-", regex=True)
    t = t.str.replace(r"\s+", "", regex=True)
    return t.str.lower()


# ════════════════════════════════════════════════════════════════════════
# Index tokenization (T13)
# ════════════════════════════════════════════════════════════════════════
def tokenize_for_index(s: pd.Series) -> pd.Series:
    """Lowercase → fold `—`/`...` to space → strip punct set → split →
    drop stop/unimportant words. Returns a Series of lists.

    `experiments/make-word-index-from-gemini-ai-groups.py:251-265`
    (normalize_string).
    """
    t = s.fillna("").str.lower()
    t = t.str.replace(r"\u2014|\.\.\.", " ", regex=True)
    t = t.str.replace(r"[\"!=?,:;.<>/()*&%$#]", "", regex=True)
    toks = t.str.strip().str.split()
    ignore = ALL_WORDS_TO_IGNORE
    return toks.map(lambda ws: [w for w in ws if w not in ignore] if ws else [])
