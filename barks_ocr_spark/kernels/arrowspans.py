"""Arrow-native span-extraction kernel (the flagship's fast path).

Same contract as kernels/spans.py (the golden pandas kernel, which cites
the reference behavior per step) but implemented directly on
``pyarrow.RecordBatch`` for ``DataFrame.mapInArrow``:

 - no Python-object materialization of the nested span structs — the
   pandas path pays dict-per-span at BOTH ends (Arrow→dict on flatten,
   dict→Arrow on nest), which is the dominant memory traffic of the job;
 - all string passes are RE2 / utf8 kernels on contiguous Arrow buffers
   (`pyarrow.compute`), not object-dtype pandas Series;
 - grouping / merge logic is numpy over zero-copy int/bool views;
 - the only per-string Python remaining is the three stateful scans the
   pandas kernel also runs per-string (curly quotes, reprinted-clause
   line truncation, token auto-correct), each gated to the rows whose
   text can possibly change.

Byte-identical parity with kernels/spans.py is pinned by
tests/test_arrow_kernel.py (datagen corpus + adversarial edge docs +
hypothesis-generated documents).

Regex dialect note: pandas uses Python ``re`` (``\\s`` = 29 unicode
whitespace chars incl. \\x1c-\\x1f), Arrow uses RE2 (``\\s`` = ASCII
only, no lookaround). Every translated pattern therefore spells the
whitespace class out explicitly (``_WS`` below — verified equal to
Python's ``\\s`` set over the BMP) and rewrites lookarounds; parity is
test-pinned, not assumed.
"""

from __future__ import annotations

import re
import unicodedata
from collections.abc import Callable, Sequence

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from barks_ocr_spark.kernels import textnorm as tn

# Python-`\s` whitespace, spelled out for RE2 (see module docstring).
_WS = (
    r"[\t\n\x0b\f\r\x1c-\x1f \x{0085}\x{00a0}\x{1680}"
    r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"
)
# Same class minus the plain space (the repair_linebreaks gate shape).
_WS_NO_SPACE = (
    r"[\t\n\x0b\f\r\x1c-\x1f\x{0085}\x{00a0}\x{1680}"
    r"\x{2000}-\x{200a}\x{2028}\x{2029}\x{202f}\x{205f}\x{3000}]"
)
_TRIM_RE = rf"^{_WS}+|{_WS}+$"
_RTRIM_RE = rf"{_WS}+$"

# \p{Nd}, not \d: RE2's \d is ASCII-only while Python re's \d is
# exactly Unicode category Nd — the golden kernel's dialect.
_PAGE_NUM_TOKEN = r"(?:[ivxlcdmIVXLCDM]{1,8}|\p{Nd}{1,3})"
_HEADER_SHAPE_RE = rf"^(?:{_PAGE_NUM_TOKEN}{_WS}+\S.*|\S.*{_WS}+{_PAGE_NUM_TOKEN})$"
_LEADING_PAGE_NUM_RE = rf"^{_PAGE_NUM_TOKEN}{_WS}+"
_TRAILING_PAGE_NUM_RE = rf"{_WS}+{_PAGE_NUM_TOKEN}$"

# has_rejected_token without the Python lookahead `(?= |$)`: for a
# boolean *contains* test, consuming the trailing boundary is
# equivalent — if any token matches, the leftmost match still fires.
_REJECTED_RE = (
    r"(?:^| )[\t\n\r\f\v]*(?:"
    + "|".join(re.escape(w) for w in sorted(tn.REJECTED_WORDS))
    + r")[\t\n\r\f\v]*(?: |$)"
)

# paragraph_is_open pieces (tn._PARA_SENTENCE_END_RE / peel rule).
_PARA_END_RE = r"[.!?\x{2026}][\")'\]\x{2019}\x{201d}]*" + _WS + r"*$"
_TRAILING_PAREN_RE = rf"{_WS}*\([^()]*\){_WS}*$"

_AUTO_CORRECT_GATE = "|".join(re.escape(k) for k in tn.AUTO_CORRECTIONS)
_QUOTE_GATE = r"['\"\x{2018}\x{2019}\x{201c}\x{201d}]"

SPAN_ARROW_TYPE = pa.struct(
    [
        ("kind", pa.string()),
        ("text", pa.string()),
        ("media_ref", pa.string()),
        ("offset", pa.int32()),
    ]
)
BATCH_ARROW_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("spans", pa.list_(SPAN_ARROW_TYPE))]
)


def _np_bool(arr: pa.Array) -> np.ndarray:
    """Arrow boolean (possibly null) → dense numpy bool (null=False)."""
    return pc.fill_null(arr, False).to_numpy(zero_copy_only=False)


def _as_array(arr: pa.Array | pa.ChunkedArray) -> pa.Array:
    return arr.combine_chunks() if isinstance(arr, pa.ChunkedArray) else arr


def _trim(arr: pa.Array) -> pa.Array:
    """Python ``str.strip()`` semantics (all unicode whitespace)."""
    return pc.replace_substring_regex(arr, _TRIM_RE, "")


def _rstrip(arr: pa.Array) -> pa.Array:
    return pc.replace_substring_regex(arr, _RTRIM_RE, "")


def _contains(arr: pa.Array, pattern: str, ignore_case: bool = False) -> np.ndarray:
    return _np_bool(pc.match_substring_regex(arr, pattern, ignore_case=ignore_case))


def _replace_where(
    arr: pa.Array, mask: np.ndarray, fn: Callable[[str], str]
) -> pa.Array:
    """Apply a per-string Python function to masked rows only; untouched
    rows never round-trip through Python objects."""
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return arr
    gated = pc.take(arr, pa.array(idx, type=pa.int64())).to_pylist()
    return pc.replace_with_mask(
        arr, pa.array(mask), pa.array([fn(v) for v in gated], type=pa.string())
    )


def _vec_where(
    arr: pa.Array, mask: np.ndarray, vecfn: Callable[[pa.Array], pa.Array]
) -> pa.Array:
    """Apply an Arrow-vectorized transform to masked rows only."""
    idx = np.flatnonzero(mask)
    if idx.size == 0:
        return arr
    gated = pc.take(arr, pa.array(idx, type=pa.int64()))
    return pc.replace_with_mask(arr, pa.array(mask), vecfn(gated))


# ── Vectorized curly-quote resolution (T14) ─────────────────────────────
# Codepoint-level translation of tn._curlify_one: the per-string scan
# becomes one numpy pass over the concatenated codepoints of all gated
# rows. Sequential state ("prev effective char", which may itself be a
# replaced quote) is resolved by a bounded propagation loop over
# consecutive-quote chains (chains are a few chars long in practice).
_CP_DQ = np.array([ord('"'), 0x201C, 0x201D], dtype=np.uint32)
_CP_SQ = np.array([ord("'"), 0x2018, 0x2019], dtype=np.uint32)
_CP_EMPH = np.array([ord("*"), ord("_")], dtype=np.uint32)
_CP_OPEN_CTX = np.array(
    [ord(c) for c in tn._OPEN_CONTEXT], dtype=np.uint32
)
_ELISION_WORDS = [
    np.array([ord(c) for c in w], dtype=np.uint32)
    for w in ("em", "til", "till", "tis", "cause", "course")
]
_MAX_ELISION = max(len(w) for w in _ELISION_WORDS) + 1


_NONASCII_CLASS_CACHE: dict[int, tuple[bool, bool]] = {}
_CASEFOLD_CACHE: dict[int, int] = {}


def _nonascii_word_masks(cp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(is_digit, is_wordchar) for codepoints >127, matching Python re's
    Unicode dialect: ``\\d`` = category Nd exactly; ``\\w`` =
    ``ch.isalnum() or ch == '_'`` (CPython sre's unicode word test).
    ASCII stays in the caller's branchless masks; this probes only the
    batch's unique non-ASCII codepoints, cached process-wide."""
    dig = np.zeros(cp.shape, dtype=bool)
    word = np.zeros(cp.shape, dtype=bool)
    hi = cp > 127
    if not hi.any():
        return dig, word
    digs: list[int] = []
    words: list[int] = []
    for u in np.unique(cp[hi]).tolist():
        t = _NONASCII_CLASS_CACHE.get(u)
        if t is None:
            ch = chr(u)
            t = (unicodedata.category(ch) == "Nd", ch.isalnum())
            _NONASCII_CLASS_CACHE[u] = t
        if t[0]:
            digs.append(u)
        if t[1]:
            words.append(u)
    if digs:
        dig = np.isin(cp, np.array(digs, dtype=np.uint32))
    if words:
        word = np.isin(cp, np.array(words, dtype=np.uint32))
    return dig, word


def _utf8_lengths(cp: np.ndarray) -> np.ndarray:
    """Per-codepoint UTF-8 byte length."""
    return (
        1
        + (cp >= 0x80).astype(np.int64)
        + (cp >= 0x800).astype(np.int64)
        + (cp >= 0x10000).astype(np.int64)
    )


def _curlify_vec(gated: pa.Array) -> pa.Array:
    """Resolve straight quotes to curly forms on every row of ``gated``."""
    n_rows = len(gated)
    lengths = pc.utf8_length(gated).to_numpy(zero_copy_only=False).astype(np.int64)
    ends = np.cumsum(lengths)
    starts = ends - lengths
    total = int(ends[-1]) if n_rows else 0
    big = pc.binary_join(
        pa.ListArray.from_arrays(pa.array([0, n_rows], type=pa.int32()), gated), ""
    )[0].as_py()
    cp = np.frombuffer(big.encode("utf-32-le"), dtype="<u4").astype(np.uint32)
    # pad so bounded lookaheads never index past the end
    cp = np.concatenate([cp, np.zeros(_MAX_ELISION + 1, dtype=np.uint32)])

    row_start = np.repeat(starts, lengths)
    row_end = np.repeat(ends, lengths)
    body = cp[:total]
    is_dq = np.isin(body, _CP_DQ)
    is_sq = np.isin(body, _CP_SQ)
    is_quote = is_dq | is_sq
    if not is_quote.any():
        return gated
    is_emph = np.isin(body, _CP_EMPH)
    open_ctx = np.isin(body, _CP_OPEN_CTX)

    # index of the last non-emphasis char at or before each position
    idx = np.arange(total, dtype=np.int64)
    last_nonemph = np.maximum.accumulate(np.where(~is_emph, idx, -1))
    prev_idx = np.full(total, -1, dtype=np.int64)
    prev_idx[1:] = last_nonemph[:-1]
    no_prev = prev_idx < row_start  # start of row (or only emphasis before)

    q = np.flatnonzero(is_quote)
    qprev = prev_idx[q]
    q_no_prev = no_prev[q]
    qprev_safe = np.where(q_no_prev, 0, qprev)
    prev_is_quote = ~q_no_prev & is_quote[qprev_safe]

    # "opening" before the single-quote elision override
    opening = np.zeros(q.size, dtype=bool)
    base = q_no_prev | (~prev_is_quote & open_ctx[qprev_safe])
    opening[~prev_is_quote] = base[~prev_is_quote]

    # elision check for single quotes: following text matches
    # \d|(?:em|til|till|tis|cause|course)\b  (IGNORECASE), within the row
    low = np.where((cp >= 65) & (cp <= 90), cp + 32, cp)
    hi_idx = np.flatnonzero(cp > 127)
    if hi_idx.size:
        # Python-re IGNORECASE literal matching folds the INPUT char
        # with one-char .lower() plus the re._casefix extra cases
        # (ſ→s, ı→i — chars whose lower() is NOT the ascii letter the
        # pattern holds). Without this, "'cauſe" elides in the golden
        # kernel but not here.
        for u in np.unique(cp[hi_idx]).tolist():
            f = _CASEFOLD_CACHE.get(u)
            if f is None:
                if u == 0x17F:  # LATIN SMALL LETTER LONG S
                    f = ord("s")
                elif u == 0x131:  # LATIN SMALL LETTER DOTLESS I
                    f = ord("i")
                else:
                    lo = chr(u).lower()
                    f = ord(lo) if len(lo) == 1 else u
                _CASEFOLD_CACHE[u] = f
            if f != u:
                low[cp == u] = f
    uni_digit, uni_word = _nonascii_word_masks(cp)
    is_wordchar = (
        ((low >= ord("a")) & (low <= ord("z")))
        | ((cp >= ord("0")) & (cp <= ord("9")))
        | (cp == ord("_"))
        | uni_word
    )
    is_digit_ch = ((cp >= ord("0")) & (cp <= ord("9"))) | uni_digit

    def _elides(pos: np.ndarray) -> np.ndarray:
        nxt = pos + 1
        in_row = nxt < row_end[pos]
        out = in_row & is_digit_ch[nxt]
        for w in _ELISION_WORDS:
            L = len(w)
            m = pos + 1 + L <= row_end[pos]
            for k in range(L):
                m = m & (low[nxt + k] == w[k])
            after = nxt + L
            m = m & ((after >= row_end[pos]) | ~is_wordchar[after])
            out |= m
        return out

    # resolve quote-after-quote chains: a left curly form is open context,
    # a right form is not — propagate until every quote is decided
    is_left = np.zeros(total, dtype=bool)  # valid only at quote positions
    resolved = np.zeros(q.size, dtype=bool)
    resolved[~prev_is_quote] = True
    sq_mask = is_sq[q]
    el = np.zeros(q.size, dtype=bool)
    need_el = ~prev_is_quote & sq_mask & opening
    if need_el.any():
        el[need_el] = _elides(q[need_el])
    opening &= ~el
    is_left[q[resolved]] = opening[resolved]
    while not resolved.all():
        ready = ~resolved & resolved_at(qprev_safe, q, resolved)
        if not ready.any():  # pragma: no cover - cycles impossible
            break
        op = is_left[qprev_safe[ready]]
        sq_ready = ready & sq_mask
        if sq_ready.any():
            sel = sq_ready[ready]
            elr = np.zeros(int(ready.sum()), dtype=bool)
            cand = op & sel
            if cand.any():
                elr[cand] = _elides(q[ready][cand])
            op = op & ~elr
        is_left[q[ready]] = op
        opening[ready] = op
        resolved[ready] = True

    out_cp = body.copy()
    ql = q[is_left[q]]
    qr = q[~is_left[q]]
    dq_l = ql[is_dq[ql]]
    dq_r = qr[is_dq[qr]]
    sq_l = ql[is_sq[ql]]
    sq_r = qr[is_sq[qr]]
    out_cp[dq_l] = 0x201C
    out_cp[dq_r] = 0x201D
    out_cp[sq_l] = 0x2018
    out_cp[sq_r] = 0x2019

    # rebuild the Arrow string array straight from UTF-8 buffers
    data = out_cp.tobytes().decode("utf-32-le").encode("utf-8")
    blens = _utf8_lengths(out_cp)
    byte_offsets = np.zeros(n_rows + 1, dtype=np.int32)
    if total:
        cum = np.cumsum(blens)
        byte_offsets[1:] = cum[ends - 1]
        byte_offsets[1:][lengths == 0] = 0
        np.maximum.accumulate(byte_offsets, out=byte_offsets)
    return pa.StringArray.from_buffers(
        n_rows,
        pa.py_buffer(byte_offsets.tobytes()),
        pa.py_buffer(data),
    )


def resolved_at(qprev_safe: np.ndarray, q: np.ndarray, resolved: np.ndarray) -> np.ndarray:
    """For each quote, is its previous-quote dependency resolved?

    ``qprev_safe`` holds absolute positions; map them back to quote ranks
    via searchsorted (q is sorted)."""
    ranks = np.searchsorted(q, qprev_safe)
    ranks = np.clip(ranks, 0, resolved.size - 1)
    return resolved[ranks]


class _Flat:
    """Flat span columns for one batch, sorted by (parent doc, offset).

    ``parent`` indexes the ORIGINAL batch row — doc identity for all
    grouping. (Assumes doc_id rows are unique within a batch, same as
    the pandas kernel's nest-by-doc_id.)
    """

    __slots__ = ("parent", "kind_is_text", "text", "media_ref", "offset")

    def __init__(
        self,
        parent: np.ndarray,
        kind_is_text: np.ndarray,
        text: pa.Array,
        media_ref: pa.Array,
        offset: np.ndarray,
    ) -> None:
        self.parent = parent
        self.kind_is_text = kind_is_text
        self.text = text
        self.media_ref = media_ref
        self.offset = offset

    def __len__(self) -> int:
        return len(self.parent)

    def filter(self, keep: np.ndarray) -> "_Flat":
        if keep.all():
            return self
        k = pa.array(keep)
        return _Flat(
            self.parent[keep],
            self.kind_is_text[keep],
            pc.filter(self.text, k),
            pc.filter(self.media_ref, k),
            self.offset[keep],
        )


def _flatten(batch: pa.RecordBatch) -> _Flat:
    spans = batch.column("spans")
    if isinstance(spans, pa.ChunkedArray):  # pragma: no cover - defensive
        spans = spans.combine_chunks()
    parent = pc.list_parent_indices(spans).to_numpy(zero_copy_only=False)
    flat = spans.flatten()
    valid = _np_bool(pc.is_valid(flat))
    kind = pc.fill_null(flat.field("kind"), "")
    text = pc.fill_null(flat.field("text"), "")
    media = pc.fill_null(flat.field("media_ref"), "")
    offset = (
        pc.fill_null(flat.field("offset"), 0)
        .cast(pa.int64())
        .to_numpy(zero_copy_only=False)
    )
    is_text = _np_bool(pc.equal(kind, "text"))
    out = _Flat(parent, is_text, text, media, offset)
    if not valid.all():
        out = out.filter(valid)
    # stable (parent, offset) order — same reading order the pandas
    # kernel establishes with its stable sort_values (lexsort is stable,
    # so duplicate (parent, offset) pairs keep input order, like pandas)
    order = np.lexsort((out.offset, out.parent))
    if len(order) and not np.array_equal(order, np.arange(len(order))):
        o = pa.array(order, type=pa.int64())
        out = _Flat(
            out.parent[order],
            out.kind_is_text[order],
            pc.take(out.text, o),
            pc.take(out.media_ref, o),
            out.offset[order],
        )
    return out


def _filter_media(flat: _Flat) -> _Flat:
    """Step 1 (F12): drop empty media_ref; de-dup (doc, media_ref) keep first."""
    is_media = ~flat.kind_is_text
    ref_len = pc.binary_length(flat.media_ref).to_numpy(zero_copy_only=False)
    drop = is_media & (ref_len == 0)
    media_idx = np.flatnonzero(is_media & ~drop)
    if media_idx.size > 1:
        enc = pc.dictionary_encode(flat.media_ref).indices.to_numpy(
            zero_copy_only=False
        )
        key = flat.parent[media_idx].astype(np.int64) * (enc.max() + 1) + enc[
            media_idx
        ].astype(np.int64)
        _, first = np.unique(key, return_index=True)
        dup = np.ones(media_idx.size, dtype=bool)
        dup[first] = False
        drop[media_idx[dup]] = True
    return flat.filter(~drop)


def _filter_boilerplate(flat: _Flat, repeating: frozenset[str]) -> _Flat:
    """Steps 2-4: boilerplate headers, reprint captions, rejected tokens."""
    txt = _trim(flat.text)
    is_text = flat.kind_is_text

    # character length, not bytes: the golden pandas kernel caps on
    # str.len() (code points), and a curly-quote/em-dash header can be
    # ≤80 chars but >80 bytes — binary_length diverges there.
    tlen = pc.utf8_length(txt).to_numpy(zero_copy_only=False)
    nonempty = tlen > 0
    # standalone page number (≤8 chars, digits or roman)
    page_num = (
        (tlen <= tn.MAX_PAGE_NUMBER_LEN)
        & nonempty
        & (
            _contains(txt, r"^\p{Nd}+$")
            | _contains(txt, r"^[ivxlcdm]+$", ignore_case=True)
        )
    )
    drop = is_text & page_num
    if repeating:
        rep_list = pa.array(sorted(repeating), type=pa.string())
        in_rep_raw = _np_bool(pc.is_in(txt, value_set=rep_list))
        stripped = _trim(
            pc.replace_substring_regex(
                pc.replace_substring_regex(txt, _LEADING_PAGE_NUM_RE, ""),
                _TRAILING_PAGE_NUM_RE,
                "",
            )
        )
        in_rep_stripped = _np_bool(pc.is_in(stripped, value_set=rep_list))
        cap = tlen <= tn.MAX_RUNNING_HEADER_LEN
        shape = cap & nonempty & _contains(txt, _HEADER_SHAPE_RE)
        allcaps = (
            cap & _contains(txt, "[A-Za-z]") & ~_contains(txt, "[a-z]")
        )
        drop |= is_text & (
            (shape & (in_rep_raw | in_rep_stripped)) | (allcaps & in_rep_raw)
        )
    drop |= is_text & _np_bool(pc.starts_with(txt, tn.REPRINTED_PREFIX))
    drop |= is_text & _contains(txt, _REJECTED_RE, ignore_case=True)
    out = flat.filter(~drop)

    # inline "Reprinted: ..." clause truncation on surviving text spans
    gate = out.kind_is_text & _contains(out.text, "Reprinted")
    if gate.any():
        strip_one = _strip_reprinted_one
        out = _Flat(
            out.parent,
            out.kind_is_text,
            _replace_where(out.text, gate, strip_one),
            out.media_ref,
            out.offset,
        )
    return out


def _strip_reprinted_one(text: str) -> str:
    out = []
    for line in text.split("\n"):
        stripped = tn._REPRINTED_CLAUSE_RE.sub("", line)
        if stripped == line:
            out.append(line)
        elif stripped.strip():
            out.append(stripped.rstrip())
    return "\n".join(out)


def _auto_correct_one(text: str) -> str:
    return " ".join(tn._correct_token(w) for w in text.split(" "))


def _normalize_text(flat: _Flat) -> _Flat:
    """Steps 5-9: linebreak repair, auto-correct, curlify, upper, drop empty.

    Every vectorized pass runs full-array: on already-clean rows each
    replace is the identity, so the pandas kernel's gating (a pure perf
    trick there) is unnecessary — RE2 single-scan passes are cheap.
    The two stateful Python scans stay gated to rows that can change.
    """
    t = flat.text
    # repair_linebreaks (T5/T6): soft hyphens, hyphen-linebreak join,
    # newline→space, whitespace collapse, strip
    t = pc.replace_substring_regex(t, r"\x{00ad}\n?", "")
    t = pc.replace_substring(t, "-\n", "-")
    t = pc.replace_substring(t, "\n", " ")
    t = pc.replace_substring_regex(t, _WS + "+", " ")
    t = _trim(t)
    # auto-correct (F3/T2), gated on a correctable token appearing at all
    gate = _contains(t, _AUTO_CORRECT_GATE) & flat.kind_is_text
    t = _replace_where(t, gate, _auto_correct_one)
    # curly quotes (T14), gated on any quote char; one numpy codepoint
    # pass over the gated rows (parity with tn._curlify_one is pinned by
    # test_arrow_kernel.py, incl. hypothesis quote/elision documents)
    gate = _contains(t, _QUOTE_GATE) & flat.kind_is_text
    t = _vec_where(t, gate, _curlify_vec)
    # Barks casing (T1)
    t = pc.utf8_upper(t)
    empty = flat.kind_is_text & (
        pc.binary_length(t).to_numpy(zero_copy_only=False) == 0
    )
    out = _Flat(flat.parent, flat.kind_is_text, t, flat.media_ref, flat.offset)
    return out.filter(~empty)


def _merge_paragraphs(flat: _Flat) -> _Flat:
    """Step 10 (W5/T5): cross-span paragraph merge, media transparent."""
    n = len(flat)
    if n == 0:
        return flat
    is_text = flat.kind_is_text
    tidx = np.flatnonzero(is_text)
    if tidx.size == 0:
        return flat
    take = pa.array(tidx, type=pa.int64())
    t = pc.take(flat.text, take)
    t_parent = flat.parent[tidx]
    t_offset = flat.offset[tidx]

    rt = _rstrip(t)
    empty = pc.binary_length(rt).to_numpy(zero_copy_only=False) == 0
    closed = _contains(rt, _PARA_END_RE)
    peeled = _rstrip(pc.replace_substring_regex(rt, _TRAILING_PAREN_RE, ""))
    peel_hit = _np_bool(pc.not_equal(peeled, rt)) & _contains(peeled, _PARA_END_RE)
    open_flag = ~empty & ~closed & ~peel_hit
    soft = _contains(rt, r"[0-9A-Za-z]-$")
    starts_alnum = _contains(t, r"^[0-9A-Za-z]")

    same_doc = np.empty(tidx.size, dtype=bool)
    same_doc[0] = False
    np.equal(t_parent[1:], t_parent[:-1], out=same_doc[1:])
    prev_open = np.empty_like(same_doc)
    prev_open[0] = False
    prev_open[1:] = open_flag[:-1]
    prev_soft = np.empty_like(same_doc)
    prev_soft[0] = False
    prev_soft[1:] = soft[:-1]
    merges = prev_open & same_doc
    seamless = merges & prev_soft & same_doc & starts_alnum

    group = np.cumsum(~merges)  # 1-based group labels over text rows
    counts = np.bincount(group)
    multi = counts[group] > 1

    if not multi.any():
        return flat

    # singleton text rows and media rows pass through untouched
    s_keep = np.ones(n, dtype=bool)
    s_keep[tidx[multi]] = False

    # merged chains: join precomputed (joiner + text) pieces per group
    joiner = np.full(tidx.size, " ", dtype=object)
    joiner[seamless] = ""
    joiner[~merges] = ""
    m = multi
    pieces = pc.binary_join_element_wise(
        pa.array(joiner[m], type=pa.string()), pc.filter(t, pa.array(m)), ""
    )
    mlabels = group[m]
    starts = np.flatnonzero(np.diff(mlabels, prepend=-1))
    list_offsets = np.append(starts, mlabels.size).astype(np.int32)
    merged_text = pc.binary_join(
        pa.ListArray.from_arrays(pa.array(list_offsets), pieces), ""
    )
    m_parent = t_parent[m][starts]
    m_offset = t_offset[m][starts]  # first member's position (offsets asc)

    # reassemble: surviving rows + merged rows, back in (parent, offset) order
    keep = pa.array(s_keep)
    parent = np.concatenate([flat.parent[s_keep], m_parent])
    offset = np.concatenate([flat.offset[s_keep], m_offset])
    kind_is_text = np.concatenate(
        [flat.kind_is_text[s_keep], np.ones(len(m_parent), dtype=bool)]
    )
    text = pa.concat_arrays(
        [_as_array(pc.filter(flat.text, keep)), _as_array(merged_text)]
    )
    empties = pc.fill_null(pa.nulls(len(m_parent), pa.string()), "")
    media_ref = pa.concat_arrays(
        [_as_array(pc.filter(flat.media_ref, keep)), _as_array(empties)]
    )
    order = np.lexsort((offset, parent))
    o = pa.array(order, type=pa.int64())
    return _Flat(
        parent[order],
        kind_is_text[order],
        pc.take(text, o),
        pc.take(media_ref, o),
        offset[order],
    )


def _nest(flat: _Flat, batch: pa.RecordBatch) -> pa.RecordBatch:
    """Step 11 + re-nest: renumber offsets 0..n-1, build list<struct>."""
    n_docs = batch.num_rows
    parent = flat.parent
    counts = np.bincount(parent, minlength=n_docs) if len(flat) else np.zeros(
        n_docs, dtype=np.int64
    )
    # renumber: position within doc (parent-sorted ⇒ arange minus run start)
    if len(flat):
        idx = np.arange(len(flat), dtype=np.int64)
        run_start = np.repeat(np.cumsum(counts) - counts, counts)
        new_offset = idx - run_start
    else:
        new_offset = np.empty(0, dtype=np.int64)
    is_text_pa = pa.array(flat.kind_is_text)
    kind = pc.if_else(is_text_pa, pa.scalar("text"), pa.scalar("media"))
    text = pc.if_else(is_text_pa, flat.text, pa.scalar(""))
    media_ref = pc.if_else(is_text_pa, pa.scalar(""), flat.media_ref)
    struct = pa.StructArray.from_arrays(
        [
            _as_array(kind),
            _as_array(text),
            _as_array(media_ref),
            pa.array(new_offset.astype(np.int32)),
        ],
        fields=list(SPAN_ARROW_TYPE),
    )
    offsets = pa.array(
        np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    )
    spans = pa.ListArray.from_arrays(offsets, struct)
    return pa.RecordBatch.from_arrays(
        [batch.column("doc_id"), spans], schema=BATCH_ARROW_SCHEMA
    )


CANDIDATE_ARROW_SCHEMA = pa.schema(
    [("doc_id", pa.string()), ("variant", pa.string())]
)


def heading_candidates_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Pass-1 candidate pairs (doc_id, variant) for one Arrow batch.

    Same contract as the pandas kernel's heading_variant_candidates (A7,
    `books/src/book_pages.py:295-321`): for every text span that is
    running-header shaped or ALL-CAPS (and not a Reprinted caption), emit
    the trimmed text and its page-number-stripped form, de-duplicated per
    document. The global distinct-doc count ``>= 3`` aggregate stays
    JVM-side (operators/extraction.py: a plain count(*), since the rows
    are distinct per doc) — this kernel only shrinks the full corpus to
    the tiny candidate set with RE2 passes.

    The batch carries (doc_id, texts:list<string>) — the operator
    projects the span structs down to their text strings JVM-side so the
    Arrow transfer ships only the bytes this pass reads.
    """
    empty = pa.RecordBatch.from_arrays(
        [pa.array([], type=pa.string()), pa.array([], type=pa.string())],
        schema=CANDIDATE_ARROW_SCHEMA,
    )
    if batch.num_rows == 0:
        return empty
    texts = batch.column("texts")
    parent_all = pc.list_parent_indices(texts).to_numpy(zero_copy_only=False)
    flat_txt = pc.fill_null(texts.flatten(), "")
    if len(flat_txt) == 0:
        return empty
    txt = _trim(flat_txt)
    parent = parent_all
    # utf8_length (chars) to match the golden kernel's str.len() cap
    tlen = pc.utf8_length(txt).to_numpy(zero_copy_only=False)
    cap = (tlen > 0) & (tlen <= tn.MAX_RUNNING_HEADER_LEN)
    shape = cap & _contains(txt, _HEADER_SHAPE_RE)
    allcaps = cap & _contains(txt, "[A-Za-z]") & ~_contains(txt, "[a-z]")
    cand = (
        (shape | allcaps)
        & ~_np_bool(pc.starts_with(txt, tn.REPRINTED_PREFIX))
        & _contains(txt, "[A-Za-z]")
    )
    if not cand.any():
        return empty
    keep = pa.array(cand)
    txt = pc.filter(txt, keep)
    parent = parent[cand]
    stripped = _trim(
        pc.replace_substring_regex(
            pc.replace_substring_regex(txt, _LEADING_PAGE_NUM_RE, ""),
            _TRAILING_PAGE_NUM_RE,
            "",
        )
    )
    variants = pa.concat_arrays([_as_array(txt), _as_array(stripped)])
    parents = np.concatenate([parent, parent])
    nz = pc.binary_length(variants).to_numpy(zero_copy_only=False) > 0
    if not nz.all():
        variants = pc.filter(variants, pa.array(nz))
        parents = parents[nz]
    if len(variants) == 0:
        return empty
    # batch-local (doc, variant) dedup — a CORRECTNESS invariant, not
    # just volume: repeating_headings_counted aggregates with count(*)
    # over these rows (operators/extraction.py), so each (doc, variant)
    # must appear at most once per input row or n_docs inflates (pinned
    # by test_pass1_intra_doc_repeats_count_once)
    enc = pc.dictionary_encode(variants).indices.to_numpy(zero_copy_only=False)
    key = parents.astype(np.int64) * (int(enc.max()) + 1) + enc.astype(np.int64)
    _, first = np.unique(key, return_index=True)
    sel = pa.array(np.sort(first))
    doc_ids = pc.take(batch.column("doc_id"), pa.array(parents[np.sort(first)]))
    return pa.RecordBatch.from_arrays(
        [_as_array(doc_ids), _as_array(pc.take(variants, sel))],
        schema=CANDIDATE_ARROW_SCHEMA,
    )


def extract_batch(
    batch: pa.RecordBatch, repeating: frozenset[str]
) -> pa.RecordBatch:
    """Full per-document pipeline on one Arrow batch (nested in/out)."""
    if batch.num_rows == 0:
        return pa.RecordBatch.from_arrays(
            [
                pa.array([], type=pa.string()),
                pa.array([], type=pa.list_(SPAN_ARROW_TYPE)),
            ],
            schema=BATCH_ARROW_SCHEMA,
        )
    flat = _flatten(batch)
    flat = _filter_media(flat)
    flat = _filter_boilerplate(flat, repeating)
    flat = _normalize_text(flat)
    flat = _merge_paragraphs(flat)
    return _nest(flat, batch)
