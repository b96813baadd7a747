"""Seeded, cached benchmark inputs and their reference outputs.

Each workload's inputs are a pure function of ``(workload, seed)``: the
generators use a private ``numpy`` RNG and no clock, so the same seed
writes byte-identical parquet files and a different seed different ones.
Generation (``gen_documents`` is a Python loop at ~1 ms/doc) and the
reference outputs are computed once per seed and cached on disk, so
neither is part of any timed phase.

Every generator asserts the input properties its workload depends on
and raises :class:`InputPropertyError` when they do not hold.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when a generator or a reference changes: old caches are ignored.
CACHE_VERSION = 2

EXTRACT_DOCS = 6_000
RESUME_BASE_DOCS = 3_000
RESUME_INCREMENTS = 2
RESUME_INCREMENT_DOCS = 250
HYGIENE_DOCS = 800
# Input tables are several files, like a real table: Spark runs a scan
# of one small file as a single task.
TABLE_FILES = 8

# Production operating point of the hygiene pipeline; the DuckDB oracle
# in plans.queries hard-codes the same gate thresholds.
HYGIENE_NGRAM = 8
HYGIENE_MIN_WORDS = 30
HYGIENE_MIN_MEAN_WORD_LEN = 4.0
HYGIENE_EVAL_MOD = 97
HYGIENE_PLANT_MOD = 29
HYGIENE_BUDGET_TOKENS = 12_000
HYGIENE_JACCARD = 0.8
HYGIENE_MAX_HAMMING = 3
_PLANT = "the quick shared benchmark sentence used across evaluation suites everywhere"
_SOURCES = ("web", "books", "news", "forums", "code")
_SOURCE_P = (0.4, 0.2, 0.2, 0.15, 0.05)


class InputPropertyError(RuntimeError):
    """A generated input lacks a property its workload relies on."""


def _arrow_spans_schema() -> pa.Schema:
    span = pa.struct(
        [
            pa.field("kind", pa.string(), nullable=False),
            pa.field("text", pa.string()),
            pa.field("media_ref", pa.string()),
            pa.field("offset", pa.int32(), nullable=False),
        ]
    )
    return pa.schema(
        [
            pa.field("doc_id", pa.string(), nullable=False),
            pa.field("spans", pa.list_(span), nullable=False),
        ]
    )


def write_table(table: pa.Table, path: Path, files: int = 1) -> None:
    """One parquet file, or a directory of ``files`` files over
    consecutive row ranges."""
    if files == 1:
        pq.write_table(table, path)
        return
    path.mkdir()
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step), path / f"part-{i:02d}.parquet")


def write_spans(pdf: pd.DataFrame, path: Path, files: int = 1) -> None:
    write_table(pa.Table.from_pandas(pdf, schema=_arrow_spans_schema(), preserve_index=False), path, files)


# ── span corpora (extract, resume) ──────────────────────────────────────


_CHUNK_DOCS = 2000


def _span_chunk(seed: int, k: int, n: int) -> pd.DataFrame:
    """Chunk ``k`` of a span corpus: ``gen_documents`` under a seed
    derived from (seed, k), renumbered to the chunk's global doc range
    so doc ids, media refs and the unique SECTION headings stay unique
    across chunks."""
    from barks_ocr_spark.datagen import docs as dg

    sub_seed = int(np.random.SeedSequence([seed, k]).generate_state(1)[0])
    pdf = dg.gen_documents(n, seed=sub_seed)
    first = k * _CHUNK_DOCS
    ids, docs = [], []
    for i, (old, spans) in enumerate(zip(pdf["doc_id"], pdf["spans"])):
        new = f"doc{first + i:07d}"
        section = (f"SECTION {i * 7919} OVERVIEW", f"SECTION {(first + i) * 7919} OVERVIEW")
        for sp in spans:
            if sp["media_ref"].startswith(old):
                sp["media_ref"] = new + sp["media_ref"][len(old) :]
            if sp["text"] == section[0]:
                sp["text"] = section[1]
        ids.append(new)
        docs.append(spans)
    return pd.DataFrame({"doc_id": ids, "spans": docs})


def _span_corpus(n_docs: int, seed: int, workers: int = 4) -> pd.DataFrame:
    """The ``gen_documents`` corpus, generated in 2,000-doc chunks by a
    few child processes (its Python loop costs ~1 ms per doc)."""
    import subprocess
    import sys
    import tempfile

    chunks = [(k, min(_CHUNK_DOCS, n_docs - k * _CHUNK_DOCS)) for k in range(-(-n_docs // _CHUNK_DOCS))]
    with tempfile.TemporaryDirectory() as tmp:
        outs = [Path(tmp) / f"{k}.parquet" for k, _ in chunks]
        for lo in range(0, len(chunks), workers):
            procs = [
                subprocess.Popen(
                    [sys.executable, __file__, str(seed), str(k), str(n), str(outs[k])],
                    env={**os.environ, "PYTHONPATH": os.pathsep.join(sys.path)},
                )
                for k, n in chunks[lo : lo + workers]
            ]
            codes = [p.wait() for p in procs]
            if any(codes):
                raise RuntimeError(f"span corpus chunk generation failed: {codes}")
        parts = [pq.read_table(o).to_pandas() for o in outs]
    out = pd.concat(parts, ignore_index=True)
    # parquet round trip gives numpy arrays of dicts; keep plain lists
    out["spans"] = out["spans"].map(list)
    return out


def _repeating_set(pdf: pd.DataFrame) -> frozenset[str]:
    from barks_ocr_spark.kernels import spans as sk

    return sk.repeating_headings_from_flat(sk.flatten(pdf))


def _golden(pdf: pd.DataFrame, repeating: frozenset[str]) -> pd.DataFrame:
    """The golden pandas kernel's output, in input doc order."""
    from barks_ocr_spark.kernels import spans as sk

    out = sk.extract_documents(pdf, repeating)
    return out.reset_index(drop=True)


def check_span_corpus(pdf: pd.DataFrame, repeating: frozenset[str]) -> None:
    """``extract`` needs skewed giant docs and running headers that
    repeat on at least three docs."""
    n_spans = pdf["spans"].map(len)
    if int((n_spans >= 100).sum()) == 0:
        raise InputPropertyError("no skewed giant document (>=100 spans)")
    if not repeating:
        raise InputPropertyError("no running header repeats on >=3 docs")


def check_increments(base_ids: set[str], increments: list[set[str]]) -> None:
    """``resume`` needs increments disjoint from the base and each other."""
    seen = set(base_ids)
    for i, inc in enumerate(increments):
        if not inc:
            raise InputPropertyError(f"increment {i} is empty")
        if seen & inc:
            raise InputPropertyError(f"increment {i} overlaps earlier docs")
        seen |= inc


# ── hygiene corpus ──────────────────────────────────────────────────────

_SYLLABLES = (
    "ba be bi bo bu da de di do du fa fe fi fo ga ge go ka ke ki ko la le li "
    "lo lu ma me mi mo na ne ni no pa pe pi po ra re ri ro sa se si so ta te "
    "ti to va ve vi vo za ze zo tra tre pro pla ste sku gri bla"
).split()


def _vocabulary(rng: np.random.RandomState, size: int, stop: frozenset[str]) -> list[str]:
    words: list[str] = []
    seen = set(stop)
    while len(words) < size:
        n_syl = rng.randint(2, 5)
        w = "".join(_SYLLABLES[j] for j in rng.randint(len(_SYLLABLES), size=n_syl))
        if 4 <= len(w) <= 10 and w not in seen:
            seen.add(w)
            words.append(w)
    return words


def _zipf_p(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


def hygiene_corpus(n_docs: int, seed: int) -> pd.DataFrame:
    """Flat-text corpus in the sf ``documents`` schema.

    Words follow a Zipf law over a 5,000-word vocabulary mixed with the
    engine's stop-word list. Planted: short and stop-word-only docs (the
    quality gate drops them), e-mail/phone/IP strings (the PII scrub),
    exact duplicates that differ only in case and punctuation,
    one-word-substituted near duplicates of long docs (trigram Jaccard
    >= 0.9), and a shared sentence on every doc with
    ``doc_id % 29 == 0`` or ``doc_id % 97 == 0`` (the eval set), so
    decontamination at n=8 has real collisions.
    """
    from barks_ocr_spark.kernels import textnorm as tn

    rng = np.random.RandomState(seed)
    stop = sorted(tn.STOP_WORDS)
    content = np.array(_vocabulary(rng, 5000, tn.STOP_WORDS))
    stop_arr = np.array(stop)
    p_content = _zipf_p(len(content), 1.05)
    p_stop = _zipf_p(len(stop_arr), 1.0)

    texts: list[str] = []
    for i in range(n_docs):
        kind = rng.rand()
        if kind < 0.02 and len(texts) > 10:
            # exact duplicate modulo case and punctuation
            src = texts[rng.randint(len(texts))]
            texts.append(src.upper().replace(".", "!"))
            continue
        if kind < 0.04 and len(texts) > 10:
            src = texts[rng.randint(len(texts))].split(" ")
            if len(src) >= 60:
                j = rng.randint(1, len(src) - 1)
                src[j] = str(content[rng.randint(len(content))])
                texts.append(" ".join(src))
                continue
        if kind < 0.06:
            n_words = rng.randint(10, 30)
        else:
            n_words = rng.randint(30, 160)
        if kind > 0.97:
            words = stop_arr[rng.choice(len(stop_arr), size=n_words, p=p_stop)]
        else:
            is_stop = rng.rand(n_words) < 0.2
            words = np.where(
                is_stop,
                stop_arr[rng.choice(len(stop_arr), size=n_words, p=p_stop)],
                content[rng.choice(len(content), size=n_words, p=p_content)],
            )
        words = words.astype(object)
        for k in range(11, n_words, 12):
            words[k] = words[k] + "."
        pii = rng.rand()
        if pii < 0.05:
            words[rng.randint(n_words)] = f"{content[rng.randint(100)]}@example.org"
        elif pii < 0.08:
            words[rng.randint(n_words)] = f"555-{rng.randint(100, 999)}-{rng.randint(1000, 9999)}"
        elif pii < 0.09:
            words[rng.randint(n_words)] = f"10.{rng.randint(256)}.{rng.randint(256)}.7"
        texts.append(" ".join(words))

    doc_id = np.arange(n_docs, dtype=np.int64)
    planted = (doc_id % HYGIENE_PLANT_MOD == 0) | (doc_id % HYGIENE_EVAL_MOD == 0)
    texts = [t + " " + _PLANT if p else t for t, p in zip(texts, planted)]
    df = pd.DataFrame(
        {
            "doc_id": doc_id,
            "text": texts,
            "lang": "en",
            "source": np.array(_SOURCES)[rng.choice(len(_SOURCES), size=n_docs, p=_SOURCE_P)],
        }
    )
    df["n_chars"] = df["text"].str.len().astype("int64")
    return df


# ── DuckDB references for the hygiene operators ─────────────────────────


def _hygiene_sql() -> dict[str, str]:
    """Oracle SQL over a ``documents`` view, reusing the registry's
    oracle builders so the benchmark checks against the same semantics
    the oracle sweep does."""
    from barks_ocr_spark.operators import dedup
    from barks_ocr_spark.plans import queries as q

    clean = q._clean_corpus_oracle_sql(n=HYGIENE_NGRAM, budget=HYGIENE_BUDGET_TOKENS)
    marker = "SELECT doc_id, source, CAST(n_tokens AS BIGINT)"
    if marker not in clean:
        raise RuntimeError("clean-corpus oracle SQL changed shape")
    head = clean[: clean.rindex(marker)]
    lineage = head + f"""
SELECT stage, docs_in, docs_out FROM (VALUES
  ('gopher_gate', (SELECT count(*) FROM corpus0), (SELECT count(*) FROM gated)),
  ('pii_scrub', (SELECT count(*) FROM gated), (SELECT count(*) FROM scrubbed)),
  ('decontaminate', (SELECT count(*) FROM scrubbed), (SELECT count(*) FROM cleaned)),
  ('budget_sample', (SELECT count(*) FROM cleaned),
   (SELECT count(*) FROM cum WHERE c - n_tokens < {HYGIENE_BUDGET_TOKENS}))
) t(stage, docs_in, docs_out)
"""
    single = "WITH doubled AS (SELECT doc_id, text FROM documents)\n"
    if q._SQL_DOUBLED_CTE not in q._SQL_SHINGLES_CTE:
        raise RuntimeError("dedup oracle SQL changed shape")
    shingles = q._SQL_SHINGLES_CTE.replace(q._SQL_DOUBLED_CTE, single)
    if dedup.DEFAULT_MAX_SHINGLE_FREQ is None:
        raise RuntimeError("jaccard oracle expects a shingle-frequency cap")
    return {
        "manifest": clean,
        "lineage": lineage,
        "exact": single
        + f"""
SELECT fp, n_docs, doc_ids FROM (
  SELECT md5({q._CANON_SQL}) AS fp, COUNT(*) AS n_docs,
         list_sort(list(doc_id)) AS doc_ids
  FROM doubled GROUP BY 1)
WHERE n_docs > 1
""",
        "jaccard": shingles + q._SQL_JACCARD_BODY_CAPPED,
        "minhash": shingles + q._SQL_JACCARD_BODY,
        "fingerprints": f"SELECT doc_id, md5({q._CANON_SQL}) AS f FROM documents",
    }


def hygiene_references(docs_path: Path) -> dict[str, dict]:
    """Canonical reference rows, one entry per checked hygiene output."""
    import duckdb

    from barks_ocr_spark.oracle import canon

    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")  # keeps stdout for the result
        con.sql(f"CREATE VIEW documents AS SELECT * FROM '{docs_path}/*.parquet'")
        out = {}
        for name, sql in _hygiene_sql().items():
            rel = con.sql(sql)
            cols = [c.lower() for c in rel.columns]
            rows = [list(r) for r in canon(rel.fetchall(), cols)]
            out[name] = {"cols": sorted(cols), "rows": rows}
    finally:
        con.close()
    return out


def check_hygiene(refs: dict[str, dict]) -> None:
    """``hygiene`` needs every lineage stage to keep docs and the
    decontamination stage to remove at least one, plus planted exact
    and near duplicates for the dedup operators to find."""
    lineage = {r[2]: (r[0], r[1]) for r in refs["lineage"]["rows"]}
    for stage, (docs_in, docs_out) in lineage.items():
        if docs_out <= 0:
            raise InputPropertyError(f"lineage stage {stage} keeps no docs")
    d_in, d_out = lineage["decontaminate"]
    if d_out >= d_in:
        raise InputPropertyError("decontamination removes no doc")
    if not refs["exact"]["rows"]:
        raise InputPropertyError("no exact duplicates planted")
    jac_cols = refs["jaccard"]["cols"]
    j = jac_cols.index("jaccard")
    if not any(r[j] < 1.0 for r in refs["jaccard"]["rows"]):
        raise InputPropertyError("no near (non-identical) duplicate pair")


# ── cache ───────────────────────────────────────────────────────────────


@dataclass(frozen=True)
class Inputs:
    """Paths of one workload's cached inputs plus its reference data."""

    root: Path
    meta: dict

    def path(self, name: str) -> Path:
        return self.root / name


def _build_extract(d: Path, seed: int) -> dict:
    pdf = _span_corpus(EXTRACT_DOCS, seed)
    rep = _repeating_set(pdf)
    check_span_corpus(pdf, rep)
    write_spans(pdf, d / "docs.parquet", TABLE_FILES)
    write_spans(_golden(pdf, rep), d / "golden.parquet")
    return {"docs": len(pdf), "repeating": sorted(rep)}


def _build_resume(d: Path, seed: int) -> dict:
    n_inc = RESUME_INCREMENTS * RESUME_INCREMENT_DOCS
    pdf = _span_corpus(RESUME_BASE_DOCS + n_inc, seed)
    base = pdf.iloc[:RESUME_BASE_DOCS]
    incs = [
        pdf.iloc[RESUME_BASE_DOCS + i * RESUME_INCREMENT_DOCS :][:RESUME_INCREMENT_DOCS]
        for i in range(RESUME_INCREMENTS)
    ]
    check_increments(set(base["doc_id"]), [set(x["doc_id"]) for x in incs])
    rep = _repeating_set(pdf)
    # a resumed run recomputes the heading set over the table it sees;
    # one uninterrupted extract is only a valid reference if the set is
    # already final on the base table
    if _repeating_set(base) != rep:
        raise InputPropertyError("heading set changes after the base commit")
    check_span_corpus(pdf, rep)
    write_spans(base, d / "base.parquet", TABLE_FILES)
    for i, inc in enumerate(incs):
        write_spans(inc, d / f"inc{i:02d}.parquet")
    write_spans(_golden(pdf, rep), d / "golden.parquet")
    return {
        "docs": len(pdf),
        "base_docs": len(base),
        "increments": len(incs),
        "repeating": sorted(rep),
    }


def _build_hygiene(d: Path, seed: int) -> dict:
    df = hygiene_corpus(HYGIENE_DOCS, seed)
    write_table(pa.Table.from_pandas(df, preserve_index=False), d / "documents.parquet", TABLE_FILES)
    refs = hygiene_references(d / "documents.parquet")
    check_hygiene(refs)
    (d / "references.json").write_text(json.dumps(refs))
    return {"docs": len(df)}


BUILDERS = {"extract": _build_extract, "resume": _build_resume, "hygiene": _build_hygiene}


def load(cache_root: Path, workload: str, seed: int) -> Inputs:
    """Return the cached inputs for (workload, seed), building them first
    if absent. The directory appears atomically, so a killed build never
    leaves a half-written cache behind."""
    d = cache_root / f"{workload}-s{seed}-v{CACHE_VERSION}"
    meta_path = d / "meta.json"
    if not meta_path.exists():
        tmp = cache_root / f".tmp-{d.name}-{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir(parents=True)
        meta = BUILDERS[workload](tmp, seed)
        (tmp / "meta.json").write_text(json.dumps(meta))
        shutil.rmtree(d, ignore_errors=True)
        os.replace(tmp, d)
    return Inputs(d, json.loads(meta_path.read_text()))


if __name__ == "__main__":
    # child-process entry of _span_corpus: seed, chunk index, docs, output
    import sys

    seed, k, n, out = sys.argv[1:5]
    write_spans(_span_chunk(int(seed), int(k), int(n)), Path(out))
