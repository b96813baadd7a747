"""Byte-identical parity: kernels/arrowspans.py vs the golden pandas
kernel (kernels/spans.py) — datagen corpus, adversarial edge docs, and
hypothesis-generated documents.

The arrow kernel is the production fast path of the flagship job; the
pandas kernel is the spec. Any divergence on (kind, text, media_ref,
order) is a bug in the arrow translation (usually a Python-`re` vs RE2
dialect mismatch — see the arrowspans module docstring).
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from barks_ocr_spark.kernels import arrowspans as ak
from barks_ocr_spark.kernels import spans as pk


def _spans_key(spans: list[dict]) -> list[tuple]:
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def _run_both(pdf: pd.DataFrame, repeating: frozenset[str]) -> None:
    golden = pk.extract_documents(pdf, repeating)
    batch = pa.RecordBatch.from_pandas(
        pdf[["doc_id", "spans"]], schema=ak.BATCH_ARROW_SCHEMA, preserve_index=False
    )
    out = ak.extract_batch(batch, repeating).to_pandas()
    g = {r.doc_id: _spans_key(r.spans) for r in golden.itertuples()}
    a = {r.doc_id: _spans_key(list(r.spans)) for r in out.itertuples()}
    assert set(g) == set(a)
    for k in g:
        assert g[k] == a[k], f"doc {k}: {g[k]} != {a[k]}"


def _doc(doc_id: str, spans: list[tuple[str, str, str]]) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [
            {"kind": k, "text": t, "media_ref": m, "offset": i}
            for i, (k, t, m) in enumerate(spans)
        ],
    }


def test_datagen_corpus_parity():
    from barks_ocr_spark.datagen import docs as dg

    pdf = dg.gen_documents(1500, seed=11)
    rep = pk.repeating_headings_from_flat(pk.flatten(pdf))
    assert rep, "datagen must exercise the repeating-heading path"
    _run_both(pdf, rep)


def test_edge_docs_parity():
    docs = [
        _doc("empty", []),
        _doc("only_media", [("media", "", "img1"), ("media", "", "img1")]),
        _doc("media_empty_ref", [("media", "", ""), ("text", "Hello.", "")]),
        _doc(
            "merge_chain",
            [
                ("text", "The quick brown", ""),
                ("media", "", "mid"),
                ("text", "fox jumps over", ""),
                ("text", "the lazy dog.", ""),
            ],
        ),
        _doc(
            "soft_hyphen_chain",
            [("text", "extraor-", ""), ("text", "dinary tale ends.", "")],
        ),
        _doc(
            "boilerplate",
            [
                ("text", "12", ""),
                ("text", "xiv", ""),
                ("text", "THE HEADER 3", ""),
                ("text", "Reprinted: from WDC 31", ""),
                ("text", "Body line one stays. Reprinted: gone\nNext line.", ""),
                ("text", "a F b", ""),
                ("text", "keep G0 west!", ""),
            ],
        ),
        _doc(
            "quotes",
            [
                ("text", '"Quoted start" and \'single\' and don\'t stop.', ""),
                ("text", "'Tis the '90s, 'em all.", ""),
            ],
        ),
        _doc(
            "whitespace_zoo",
            [
                ("text", "  padded  nb thin\ttab\nline  ", ""),
                ("text", "soft­\nhyphen and bare­shy.", ""),
                ("text", "\x1c\x1dfile seps\x1e\x1f", ""),
            ],
        ),
        _doc(
            "open_paren_peel",
            [
                ("text", "He said it was fine (mostly)", ""),
                ("text", "but it was not", ""),
                ("text", "so there.", ""),
            ],
        ),
        _doc("all_dropped", [("text", "42", ""), ("text", "W", "")]),
        _doc(
            "trailing_dollar_dialect",
            [("text", "ends with dash a-", ""), ("text", "joined tail.", "")],
        ),
    ]
    # a repeated header across ≥3 docs to exercise the repeating set
    for i in range(3):
        docs.append(
            _doc(
                f"hdr{i}",
                [("text", f"MY BOOK {i + 1}", ""), ("text", "Body text here.", "")],
            )
        )
    pdf = pd.DataFrame(docs)
    flat = pk.flatten(pdf)
    rep = pk.repeating_headings_from_flat(flat)
    _run_both(pdf, rep)


def test_multibyte_header_near_char_cap_parity():
    """A repeated ALL-CAPS header that is ≤80 *characters* but >80 *bytes*
    (curly quotes + em-dashes are 3-byte UTF-8) must be dropped by both
    kernels: the golden kernel caps on str.len() (code points), so the
    arrow kernel must use utf8_length, not binary_length."""
    hdr = "“THE — MOST — WONDROUS — ADVENTUROUS — TALES — OF — THE — NORTH — WILDS!”"
    assert len(hdr) <= 80 < len(hdr.encode("utf-8"))
    docs = [
        _doc(f"mb{i}", [("text", hdr, ""), ("text", f"Body line {i} stays.", "")])
        for i in range(4)
    ]
    pdf = pd.DataFrame(docs)
    flat = pk.flatten(pdf)
    rep = pk.repeating_headings_from_flat(flat)
    assert hdr in rep, "golden pass-1 must treat the multibyte header as a candidate"
    _run_both(pdf, rep)
    # arrow pass-1 candidate parity on the same corpus
    texts = pdf["spans"].map(
        lambda spans: [s["text"] for s in spans if s["kind"] == "text"]
    )
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(pdf["doc_id"], type=pa.string()),
            pa.array(texts, type=pa.list_(pa.string())),
        ],
        names=["doc_id", "texts"],
    )
    got = ak.heading_candidates_batch(batch).to_pandas()
    want = pk.heading_variant_candidates(flat)
    assert set(zip(got["doc_id"], got["variant"])) == set(
        zip(want["doc_id"], want["variant"])
    )


_TEXT_ALPHABET = st.sampled_from(
    list("aA zZ.!?-\n\t\"'()[]") + ["­", "—", "“", "’", " ", "F", "G0", "12", "Reprinted: "]
)
_text = st.lists(_TEXT_ALPHABET, max_size=12).map("".join)


@st.composite
def _docs_frame(draw):
    n = draw(st.integers(1, 8))
    docs = []
    for i in range(n):
        spans = []
        m = draw(st.integers(0, 6))
        for j in range(m):
            kind = draw(st.sampled_from(["text", "media"]))
            if kind == "text":
                spans.append(("text", draw(_text), ""))
            else:
                spans.append(("media", "", draw(st.sampled_from(["", "a", "b"]))))
        docs.append(_doc(f"d{i}", spans))
    return pd.DataFrame(docs)


@settings(max_examples=60, deadline=None)
@given(pdf=_docs_frame(), use_rep=st.booleans())
def test_hypothesis_parity(pdf, use_rep):
    rep = (
        pk.repeating_headings_from_flat(pk.flatten(pdf))
        if use_rep
        else frozenset()
    )
    _run_both(pdf, rep)


def test_heading_candidates_parity():
    from barks_ocr_spark.datagen import docs as dg

    pdf = dg.gen_documents(800, seed=13)
    texts = pdf["spans"].map(
        lambda spans: [s["text"] for s in spans if s["kind"] == "text"]
    )
    batch = pa.RecordBatch.from_arrays(
        [
            pa.array(pdf["doc_id"], type=pa.string()),
            pa.array(texts, type=pa.list_(pa.string())),
        ],
        names=["doc_id", "texts"],
    )
    got = ak.heading_candidates_batch(batch).to_pandas()
    want = pk.heading_variant_candidates(pk.flatten(pdf))
    assert set(zip(got["doc_id"], got["variant"])) == set(
        zip(want["doc_id"], want["variant"])
    )


def test_curlify_vec_matches_reference_scan():
    import random

    import pyarrow as pa

    from barks_ocr_spark.kernels import arrowspans as ak
    from barks_ocr_spark.kernels import textnorm as tn

    cases = [
        '"Quoted start" and \'single\' and don\'t stop.',
        "'Tis the '90s, 'em all.", "''", '""', '"', "'", "", "no quotes",
        '*"emph then quote"*', "_'underscore'_", 'a"b', ' "b', '("b)',
        "'til dawn", "'till dawn", "'tis so", "'cause why", "'course!",
        "'causeway", "'em.", "'emu", "x'9", "don't 'do' \"it\"",
        '—"dash quote"', "…'ellipsis'", '““already”curly”', "’’",
        "quote at end'", 'mix "a\'b" c\'d"e', "***'''***", '__"__',
        # Unicode dialect: \d = Nd ('٣' yes, '²' no), \b word chars
        # include unicode alnum ('é', '①') — must match Python re.
        "'٣ starts with arabic-indic digit", "'² superscript not Nd",
        "'emé unicode letter breaks the boundary", "'em① circled digit is \\w",
        "'tisé no elision", "'causeٮ arabic letter", "('٤٢')", "'é plain",
        # re._casefix extra cases + generic one-char lower() folds:
        # IGNORECASE matches 'cauſe'/'tıl'/Kelvin-K against the ascii
        # elision words
        "'cauſe why", "'tiſ so", "'tıl dawn", "'ſ", "'K9 unit", "'CAUſE",
    ]
    rng = random.Random(0)
    alphabet = "aZ '\"*_([—…til causeem0-’“é٣②ſıK"
    cases += [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 20)))
        for _ in range(800)
    ]
    got = ak._curlify_vec(pa.array(cases, type=pa.string())).to_pylist()
    want = [tn._curlify_one(c) for c in cases]
    assert got == want


def _extract_pandas(docs, repeating: frozenset[str]):
    """The pass-2 oracle: the golden pandas kernel run per batch via
    mapInPandas, on the same partitions the Arrow path uses."""
    from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA

    def _gen(batches):
        for batch in batches:
            yield pk.extract_documents(batch, repeating)

    return docs.select("doc_id", "spans").mapInPandas(_gen, DOCUMENTS_SPANS_SCHEMA)


def test_spark_arrow_path_matches_pandas_path(spark):
    from barks_ocr_spark.datagen import docs as dg
    from barks_ocr_spark.operators import extraction
    from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA

    pdf = dg.gen_documents(400, seed=21)
    docs = spark.createDataFrame(pdf, schema=DOCUMENTS_SPANS_SCHEMA).repartition(8)
    a = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in extraction.extract(docs).collect()
    }
    # golden pass 1 in local pandas, golden pass 2 per Spark batch
    repeating = pk.repeating_headings_from_flat(pk.flatten(pdf))
    assert repeating == extraction.repeating_heading_set(docs)
    p = {
        r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
        for r in _extract_pandas(docs, repeating).collect()
    }
    assert a == p
