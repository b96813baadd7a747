"""End-to-end Spark extraction vs (a) hand-written expected spans and
(b) the pure-pandas golden pipeline, under span-sequence equality
(kind, text, media_ref, order)."""

from __future__ import annotations

import pandas as pd
import pytest

from barks_ocr_spark.datagen import docs as dg
from barks_ocr_spark.kernels import spans as sk
from barks_ocr_spark.operators import extraction
from barks_ocr_spark.schemas import DOCUMENTS_SPANS_SCHEMA


def _span(kind, text="", media_ref="", offset=0):
    return {"kind": kind, "text": text, "media_ref": media_ref, "offset": offset}


# Hand-written fixture: one doc exercising header strip, page numbers,
# reprint captions, hyphen repair, auto-correct, curly quotes, casing,
# soft-break merge, open-paragraph merge across media, media dedup.
HAND_DOC = {
    "doc_id": "fixture0",
    "spans": [
        _span("text", "xvi INTRODUCTION", offset=0),       # header (repeats)
        _span("text", "23", offset=1),                      # page number
        _span("text", 'he said "don\'t stop now."', offset=2),
        _span("text", "Reprinted: Four Color No. 9", offset=3),
        _span("text", "G0 west, they figured every-", offset=4),
        _span("media", media_ref="fixture0_fig.png", offset=5),
        _span("text", "thing would work out fine.", offset=6),
        _span("media", media_ref="fixture0_fig.png", offset=7),   # dup → drop
        _span("media", media_ref="", offset=8),                   # unreferenced
        _span("text", "ele­\nphant walked off!", offset=9),
        _span("text", "OO VV", offset=10),                        # rejected
    ],
}

# Two sibling docs so the header repeats on ≥3 distinct docs.
SIBLING_DOCS = [
    {
        "doc_id": f"fixture{i}",
        "spans": [
            _span("text", "xvi INTRODUCTION", offset=0),
            _span("text", "plain body text here.", offset=1),
        ],
    }
    for i in (1, 2)
]

EXPECTED_FIXTURE0 = [
    ("text", "HE SAID “DON’T STOP NOW.”", "", 0),
    ("text", "GO WEST, THEY FIGURED EVERY-THING WOULD WORK OUT FINE.", "", 1),
    ("media", "", "fixture0_fig.png", 2),
    ("text", "ELEPHANT WALKED OFF!", "", 3),
]


def _key(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans]


def test_hand_fixture_pandas():
    docs = pd.DataFrame([HAND_DOC, *SIBLING_DOCS])
    flat = sk.flatten(docs)
    rep = sk.repeating_headings_from_flat(flat)
    assert "xvi INTRODUCTION" in rep and "INTRODUCTION" in rep
    out = sk.nest(sk.extract_flat(flat, rep), docs["doc_id"])
    got = _key(out[out.doc_id == "fixture0"].spans.iloc[0])
    assert got == EXPECTED_FIXTURE0


def test_hand_fixture_spark(spark):
    docs = spark.createDataFrame(
        pd.DataFrame([HAND_DOC, *SIBLING_DOCS]), schema=DOCUMENTS_SPANS_SCHEMA
    )
    result = extraction.extract(docs)
    rows = {r["doc_id"]: r["spans"] for r in result.collect()}
    got = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in rows["fixture0"]]
    assert got == EXPECTED_FIXTURE0


@pytest.mark.parametrize("n_docs,seed", [(300, 7), (150, 99)])
def test_spark_matches_golden(spark, n_docs, seed):
    """Spark pipeline output == pure-pandas golden, span-sequence equality."""
    docs_pdf = dg.gen_documents(n_docs, seed=seed)
    flat = sk.flatten(docs_pdf)
    rep = sk.repeating_headings_from_flat(flat)
    golden = sk.nest(sk.extract_flat(flat, rep), docs_pdf["doc_id"])

    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SPANS_SCHEMA).repartition(8)
    result = extraction.extract(docs)
    got = {r["doc_id"]: r["spans"] for r in result.collect()}

    assert len(got) == n_docs
    for _, row in golden.iterrows():
        g = [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in got[row.doc_id]]
        e = _key(row.spans)
        assert g == e, f"span mismatch for {row.doc_id}"


def test_page_scan_injection(spark):
    docs_pdf = dg.gen_documents(50, seed=3)
    scans_pdf = dg.gen_page_scans(docs_pdf)
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SPANS_SCHEMA)
    scans = spark.createDataFrame(scans_pdf)
    result = extraction.extract(docs, page_scans=scans)
    rows = {r["doc_id"]: r["spans"] for r in result.collect()}
    for doc_id in scans_pdf["doc_id"]:
        spans = rows[doc_id]
        assert spans[0]["kind"] == "media"
        assert spans[0]["media_ref"] == f"{doc_id}_fullpage.png"
        assert spans[0]["offset"] == 0


def test_extraction_metrics(spark):
    docs_pdf = dg.gen_documents(100, seed=5)
    docs = spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SPANS_SCHEMA)
    result = extraction.extract(docs)
    m = extraction.extraction_metrics(result).collect()
    assert sum(r["pages_processed"] for r in m) == 100
    assert all(0.0 <= r["ocr_empty_rate"] <= 1.0 for r in m)


def test_adversarial_heading_set_is_bounded_and_deterministic(spark):
    """Corpus where every doc shares thousands of heading-shaped spans:
    the driver collect must stay bounded (max_variants), keep the
    deterministic top by (repeat count desc, variant asc), and the
    extraction must still run with the truncated set."""
    n_docs, n_headers = 12, 2000
    rows = []
    for d in range(n_docs):
        spans = [
            _span("text", f"SHARED HEADER {h:05d}", offset=h)
            for h in range(n_headers)
        ]
        spans.append(_span("text", f"Body of doc {d} survives.", offset=n_headers))
        rows.append({"doc_id": f"adv{d:03d}", "spans": spans})
    docs = spark.createDataFrame(
        pd.DataFrame(rows), schema=DOCUMENTS_SPANS_SCHEMA
    ).repartition(8)

    capped = extraction.repeating_heading_set(docs, max_variants=500)
    assert len(capped) == 500
    # every header repeats on all 12 docs, so ties break on variant asc:
    # the kept 500 are exactly the lexicographically smallest
    assert capped == frozenset(f"SHARED HEADER {h:05d}" for h in range(500))
    # a different partitioning collects the identical set
    assert capped == extraction.repeating_heading_set(
        docs.repartition(3), max_variants=500
    )

    out = {
        r.doc_id: [(s.kind, s.text) for s in r.spans]
        for r in extraction.extract(docs, repeating=capped).collect()
    }
    assert len(out) == n_docs
    for spans in out.values():
        texts = [t for _, t in spans]
        # capped headers were stripped; uncapped ones survive
        assert "SHARED HEADER 00000" not in " ".join(texts)
        assert any("SHARED HEADER 01999" in t for t in texts)


def test_extract_identical_across_partition_counts(spark):
    """North-rule invariant: the same corpus at different parallelism
    levels yields byte-identical per-doc span sequences — including a
    task cap below the input's partition count, which merges partitions
    before the kernel."""
    pdf = dg.gen_documents(300, seed=33)
    docs = spark.createDataFrame(pdf, schema=DOCUMENTS_SPANS_SCHEMA)

    def run(n_in, cap):
        return {
            r.doc_id: [(s.kind, s.text, s.media_ref, s.offset) for s in r.spans]
            for r in extraction.extract(
                docs.repartition(n_in), num_partitions=cap
            ).collect()
        }

    ref = run(2, 2)
    assert len(ref) == 300
    assert run(13, 13) == ref
    assert run(13, 2) == ref


def test_load_documents_spreads_only_few_split_tables(spark, tmp_path, monkeypatch):
    """``spread=True`` hash-partitions a table that scans as fewer splits
    than the session's parallelism, once it holds SPREAD_MIN_BYTES; a
    table below the size gate, or with enough splits, is read as it is."""
    docs = spark.createDataFrame(
        dg.gen_documents(200, seed=5), schema=DOCUMENTS_SPANS_SCHEMA
    )
    one, many = str(tmp_path / "one"), str(tmp_path / "many")
    docs.coalesce(1).write.parquet(one)
    par = spark.sparkContext.defaultParallelism
    # small files pack into about `par` scan splits, whatever their number
    docs.repartition(4 * par).write.parquet(many)

    def parts(path, spread):
        df = extraction.load_documents(spark, path, spread=spread)
        return df.rdd.getNumPartitions()

    # the 200-doc table is below the size gate
    assert parts(one, True) == parts(one, False) == 1
    monkeypatch.setattr(extraction, "SPREAD_MIN_BYTES", 0)
    assert parts(one, True) == par
    assert parts(many, True) == parts(many, False) >= par


def test_pass1_intra_doc_repeats_count_once(spark):
    """The round-6 pass-1 aggregate is count(*) (not countDistinct) on
    the strength of the arrow kernel's per-doc dedup invariant — pin it:
    a doc repeating a heading 5 times contributes ONE vote, so 2 such
    docs stay under the ≥3-docs threshold while 3 single-occurrence docs
    cross it, and the counted value is the DOC count."""
    rows = []
    for i in range(2):
        spans = [_span("text", "REPEATY HEADER", offset=j) for j in range(5)]
        spans.append(
            _span("text", "body text that is long enough to stay.", offset=5)
        )
        rows.append({"doc_id": f"dup{i}", "spans": spans})
    for i in range(3):
        rows.append(
            {
                "doc_id": f"one{i}",
                "spans": [
                    _span("text", "TRUE RUNNING HEADER"),
                    _span(
                        "text",
                        "body text that is long enough to stay.",
                        offset=1,
                    ),
                ],
            }
        )
    docs = spark.createDataFrame(
        pd.DataFrame(rows), schema=DOCUMENTS_SPANS_SCHEMA
    )
    counted = {
        r["variant"]: r["n_docs"]
        for r in extraction.repeating_headings_counted(docs).collect()
    }
    assert counted.get("TRUE RUNNING HEADER") == 3
    assert "REPEATY HEADER" not in counted
