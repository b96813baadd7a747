"""The per-document span-extraction kernel (the engine's flagship).

Pipeline contract (each step cites the reference behavior it reproduces;
see kernels/textnorm.py for the per-step citations):

 1. media spans: drop when ``media_ref`` is null/empty; de-dup repeated
    ``media_ref`` within a document keeping the first occurrence (F12 —
    fetch only referenced media, once: `books/src/llama-parse-pdf.py:108-139`).
 2. text spans: drop boilerplate — standalone page numbers; running-header
    shaped headings whose raw or page-num-stripped variant repeats on
    ≥3 distinct documents; repeated ALL-CAPS headings (F10/A7,
    `books/src/book_pages.py:130-196, 295-321`).
 3. drop standalone ``Reprinted: ...`` captions; truncate inline
    ``Reprinted:`` clauses (F11, `books/src/loader.py:69-120`).
 4. drop spans containing a rejected OCR fragment token (F2,
    `src/barks_ocr/pipeline/batch_ocr.py:154-161`).
 5. repair line breaks / soft hyphens, collapse whitespace (T5/T6).
 6. OCR auto-corrections, trailing-punct tolerant (F3/T2).
 7. curly-quote resolution (T14).
 8. Barks casing: uppercase (T1).
 9. drop text spans that normalized to empty.
10. cross-span paragraph merge: a text span that ends mid-sentence merges
    with the next text span, media spans transparent; seamless join after
    a soft word-break hyphen, single-space join otherwise (W5/T5,
    `books/src/llama-parse-build-epub.py:1238-1380`).
11. reading-order re-emit: sort by original position (merged text takes
    its first member's position), offsets renumbered 0..n-1 (W1).

Everything is vectorized pandas over a *flat span frame* covering the
whole Arrow batch — there is no per-document Python loop anywhere.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from barks_ocr_spark.kernels import textnorm as tn

FLAT_COLUMNS = ["doc_id", "kind", "text", "media_ref", "offset"]


def flatten(batch: pd.DataFrame) -> pd.DataFrame:
    """Explode a nested (doc_id, spans) batch into the flat span frame."""
    ex = batch[["doc_id", "spans"]].explode("spans", ignore_index=True)
    ex = ex[ex["spans"].notna()]
    if len(ex) == 0:
        return pd.DataFrame(columns=FLAT_COLUMNS)
    sp = pd.DataFrame(ex["spans"].tolist(), index=ex.index)
    flat = pd.DataFrame(
        {
            "doc_id": ex["doc_id"].astype(str),
            "kind": sp["kind"].astype(str),
            "text": sp["text"].fillna(""),
            "media_ref": sp["media_ref"].fillna(""),
            "offset": sp["offset"].astype("int64"),
        }
    )
    return flat.sort_values(["doc_id", "offset"], kind="stable", ignore_index=True)


def heading_variant_candidates(flat: pd.DataFrame) -> pd.DataFrame:
    """(doc_id, variant) pairs feeding the repeated-heading aggregate (A7).

    A text span is a heading candidate when it is running-header shaped
    (page-number token at either end) or ALL-CAPS. Both the raw trimmed
    text and its page-num-stripped form are emitted as variants, matching
    `books/src/book_pages.py:295-321` (_find_repeating_headings).
    """
    t = flat[flat["kind"] == "text"]
    txt = t["text"].str.strip()
    cand = (
        (tn.is_running_header_shape(txt) | tn.is_all_caps_heading(txt))
        & ~tn.is_reprinted_standalone(txt)
        & txt.str.contains(r"[A-Za-z]", regex=True)
    )
    t = t[cand]
    txt = txt[cand]
    stripped = tn.heading_without_page_num(txt)
    pairs = pd.concat(
        [
            pd.DataFrame({"doc_id": t["doc_id"], "variant": txt}),
            pd.DataFrame({"doc_id": t["doc_id"], "variant": stripped}),
        ],
        ignore_index=True,
    )
    pairs = pairs[pairs["variant"].str.len() > 0]
    return pairs.drop_duplicates()


def repeating_headings_from_flat(flat: pd.DataFrame) -> frozenset[str]:
    """Pandas-side repeated-heading set (golden path / small corpora).

    On Spark this same aggregation runs as ``groupBy(variant).count() >= 3``
    over candidates the Arrow kernel already makes distinct per doc, and
    the result is broadcast (see operators/extraction.py).
    """
    pairs = heading_variant_candidates(flat)
    if len(pairs) == 0:
        return frozenset()
    counts = pairs.groupby("variant")["doc_id"].nunique()
    return frozenset(counts[counts >= tn.RUNNING_HEADER_REPEAT_THRESHOLD].index)


def _filter_media(flat: pd.DataFrame) -> pd.DataFrame:
    """Step 1: referenced-media filter + within-doc de-dup (F12)."""
    media = flat["kind"] == "media"
    drop_empty = media & (flat["media_ref"].str.len() == 0)
    dup = media & flat.duplicated(subset=["doc_id", "kind", "media_ref"], keep="first")
    return flat[~(drop_empty | dup)]


def _filter_boilerplate(flat: pd.DataFrame, repeating: frozenset[str]) -> pd.DataFrame:
    """Steps 2-4: boilerplate, reprint captions, rejected fragments."""
    is_text = flat["kind"] == "text"
    txt = flat["text"].str.strip()

    # Boilerplate shapes only exist under the 80-char cap — run the
    # regex predicates on that subset and scatter back (body spans skip
    # four regex passes each).
    short = txt.str.len() <= tn.MAX_RUNNING_HEADER_LEN
    sub = txt[short & is_text]
    drop_short = pd.Series(False, index=flat.index)
    if len(sub) > 0:
        page_num = tn.is_standalone_page_number(sub)
        drop_short.loc[sub.index] = page_num
        if repeating:
            # A span can only be dropped as a repeated header when its
            # raw or page-num-stripped form is IN the repeating set —
            # and the stripped form is a substring of the raw text, so
            # one alternation scan over the small template set prunes
            # the expensive shape/strip/all-caps passes to the handful
            # of spans that could match. (The repeating set is the
            # boilerplate TEMPLATE set — small by construction; with a
            # pathological thousands-strong set, swap the alternation
            # for an Aho-Corasick pass.)
            import re as _re

            rep_alt = "|".join(_re.escape(v) for v in sorted(repeating))
            maybe = sub.str.contains(rep_alt, regex=True)
            hdr = sub[maybe]
            if len(hdr) > 0:
                shape = tn.is_running_header_shape(hdr)
                stripped_variant = tn.heading_without_page_num(hdr)
                in_repeating = hdr.isin(repeating) | stripped_variant.isin(repeating)
                running_header = shape & in_repeating
                allcaps_repeat = tn.is_all_caps_heading(hdr) & hdr.isin(repeating)
                drop_short.loc[hdr.index] = (
                    drop_short.loc[hdr.index] | running_header | allcaps_repeat
                )
    reprinted = tn.is_reprinted_standalone(txt)
    rejected = tn.has_rejected_token(txt)

    drop = is_text & (drop_short | reprinted | rejected)
    out = flat[~drop].copy()

    # Inline "Reprinted: ..." clause truncation on surviving text spans.
    is_text = out["kind"] == "text"
    out.loc[is_text, "text"] = tn.strip_reprinted_clauses(out.loc[is_text, "text"])
    return out


def _normalize_text(flat: pd.DataFrame) -> pd.DataFrame:
    """Steps 5-9: linebreak repair, auto-correct, curlify, upper, drop empty."""
    out = flat.copy()
    is_text = out["kind"] == "text"
    t = out.loc[is_text, "text"]
    t = tn.repair_linebreaks(t)
    t = tn.auto_correct(t)
    t = tn.curlify(t)
    t = tn.barks_upper(t)
    out.loc[is_text, "text"] = t
    empty_text = is_text & (out["text"].str.len() == 0)
    return out[~empty_text]


def _merge_paragraphs(flat: pd.DataFrame) -> pd.DataFrame:
    """Step 10: vectorized cross-span paragraph merge (media transparent).

    Text spans within a doc chain into merge groups via a cumulative sum
    over "starts a new paragraph" flags; the chain concatenation is a
    groupby-join of precomputed pieces, so pairwise sequential semantics
    hold without any per-group Python.
    """
    if len(flat) == 0:
        return flat
    flat = flat.sort_values(["doc_id", "offset"], kind="stable", ignore_index=True)
    is_text = flat["kind"] == "text"
    text_rows = flat[is_text].copy()
    media_rows = flat[~is_text].copy()

    if len(text_rows) > 0:
        t = text_rows["text"]
        open_flag = tn.paragraph_is_open(t)
        soft_break = tn.ends_with_soft_word_break(t)
        same_doc = text_rows["doc_id"].eq(text_rows["doc_id"].shift(1))
        prev_open = open_flag.shift(1, fill_value=False) & same_doc
        prev_soft = soft_break.shift(1, fill_value=False) & same_doc
        starts_alnum = t.str.contains(r"^[0-9A-Za-z]", regex=True)

        merges_into_prev = prev_open
        seamless = merges_into_prev & prev_soft & starts_alnum

        group = (~merges_into_prev).cumsum()
        labels = group.to_numpy()
        counts = np.bincount(labels)
        is_multi = counts[labels] > 1

        # singleton groups (the vast majority) pass through untouched;
        # the pure-Python "".join aggregation only runs on actual chains
        # (cuts the merge stage ~3× on typical corpora).
        singles = text_rows[~is_multi]
        single_out = pd.DataFrame(
            {
                "doc_id": singles["doc_id"],
                "kind": "text",
                "text": t[~is_multi],
                "media_ref": "",
                "offset": singles["offset"],
            }
        )
        if is_multi.any():
            joiner = pd.Series(" ", index=text_rows.index).mask(seamless, "").mask(
                ~merges_into_prev, ""
            )
            piece = (joiner + t)[is_multi]
            mlabels = labels[is_multi]
            multi_rows = text_rows[is_multi]
            merged_text = piece.groupby(mlabels).agg("".join)
            first_pos = multi_rows["offset"].groupby(mlabels).min()
            first_doc = multi_rows["doc_id"].groupby(mlabels).first()
            multi_out = pd.DataFrame(
                {
                    "doc_id": first_doc,
                    "kind": "text",
                    "text": merged_text,
                    "media_ref": "",
                    "offset": first_pos,
                }
            )
            text_out = pd.concat([single_out, multi_out], ignore_index=True)
        else:
            text_out = single_out
    else:
        text_out = text_rows

    out = pd.concat([text_out, media_rows], ignore_index=True)
    return out.sort_values(["doc_id", "offset"], kind="stable", ignore_index=True)


def _renumber(flat: pd.DataFrame) -> pd.DataFrame:
    """Step 11: reassign offset = 0..n-1 per document in reading order."""
    out = flat.sort_values(["doc_id", "offset"], kind="stable", ignore_index=True)
    out["offset"] = out.groupby("doc_id").cumcount().astype("int64")
    return out


def extract_flat(flat: pd.DataFrame, repeating: frozenset[str]) -> pd.DataFrame:
    """Run the full per-document pipeline on a flat span frame."""
    if len(flat) == 0:
        return pd.DataFrame(columns=FLAT_COLUMNS)
    flat = _filter_media(flat)
    flat = _filter_boilerplate(flat, repeating)
    flat = _normalize_text(flat)
    flat = _merge_paragraphs(flat)
    # _merge_paragraphs returns (doc_id, offset)-sorted output — renumber
    # in place instead of paying _renumber's defensive re-sort
    flat["offset"] = flat.groupby("doc_id").cumcount().astype("int64")
    return flat


def nest(flat: pd.DataFrame, doc_ids: pd.Series) -> pd.DataFrame:
    """Re-nest a flat span frame into (doc_id, spans); empty docs kept."""
    if len(flat) > 0:
        span_dicts = [
            {"kind": k, "text": t if k == "text" else "", "media_ref": m if k == "media" else "", "offset": int(o)}
            for k, t, m, o in zip(
                flat["kind"].tolist(),
                flat["text"].tolist(),
                flat["media_ref"].tolist(),
                flat["offset"].tolist(),
            )
        ]
        nested = pd.Series(span_dicts, index=flat.index).groupby(flat["doc_id"]).agg(list)
    else:
        nested = pd.Series(dtype=object)
    uniq = pd.Series(doc_ids.astype(str).unique(), name="doc_id")
    out = pd.DataFrame({"doc_id": uniq})
    out["spans"] = out["doc_id"].map(nested)
    out["spans"] = out["spans"].map(lambda v: v if isinstance(v, list) else [])
    return out


def extract_documents(batch: pd.DataFrame, repeating: frozenset[str]) -> pd.DataFrame:
    """Nested-in, nested-out convenience wrapper (one Arrow batch)."""
    flat = flatten(batch)
    result = extract_flat(flat, repeating)
    return nest(result, batch["doc_id"])
