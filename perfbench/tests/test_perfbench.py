"""Tests of the benchmark's own machinery (no Spark session needed).

Run from the repository root:  python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
BENCH = HERE.parent
ROOT = BENCH.parent
for p in (str(ROOT), str(BENCH)):
    if p not in sys.path:
        sys.path.insert(0, p)

import inputs as inp  # noqa: E402
import run  # noqa: E402
from tracing import Span, inclusive, self_times  # noqa: E402

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


# ── names and the spec file ─────────────────────────────────────────────


def test_names_are_valid_and_unique(spec):
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert all(NAME_RE.match(n) for n in names), [n for n in names if not NAME_RE.match(n)]
    assert len(names) == len(set(names))
    assert all(UNIT_RE.match(m["unit"]) for m in spec["end_to_end"] + spec["per_layer"])


def test_spec_matches_the_runner(spec):
    from workloads import WORKLOADS, Unit

    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    setup = next(m for m in spec["end_to_end"] if m["name"] == "setup_s")
    assert setup["unit"] == "s" and setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in spec["end_to_end"]) <= 0.25

    meter = run.Meter()
    meter.tally(3, 4)
    samples = [
        {"unit": Unit(1000, 1, 1, [0.5, 0.7, 0.9]), "wall": 2.0, "cpu": 3.0},
        {"unit": Unit(1000, 1, 1, []), "wall": 4.0, "cpu": 5.0},
        {"unit": Unit(1000, 1, 1, []), "wall": 8.0, "cpu": 7.0},
    ]
    e2e = run.end_to_end(samples, 1.5, 2**20, meter)
    assert set(e2e) == set(run.load_spec()["end_to_end"])
    assert e2e == {
        "docs_per_s": 250.0,
        "cpu_s_per_kdoc": 5.0,
        "commit_s": 0.7,
        "setup_s": 1.5,
        "peak_rss_mb": 1.0,
        "ok_frac": 0.75,
    }


def test_missing_package_exits_nonzero_without_result(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "ROOT", tmp_path)
    rc = run.main(["--workload", "extract", "--seed", "1", "--seconds", "1"])
    assert rc != 0
    assert capsys.readouterr().out == ""


# ── generators ──────────────────────────────────────────────────────────


def test_hygiene_corpus_is_seed_deterministic(tmp_path):
    a = inp.hygiene_corpus(300, seed=5)
    b = inp.hygiene_corpus(300, seed=5)
    c = inp.hygiene_corpus(300, seed=6)
    assert a.equals(b)
    assert not a["text"].equals(c["text"])
    import pyarrow as pa
    import pyarrow.parquet as pq

    paths = []
    for i, df in enumerate((a, b)):
        paths.append(tmp_path / f"{i}.parquet")
        pq.write_table(pa.Table.from_pandas(df, preserve_index=False), paths[-1])
    assert paths[0].read_bytes() == paths[1].read_bytes()


def test_hygiene_corpus_plants_what_the_workload_needs():
    df = inp.hygiene_corpus(600, seed=3)
    assert df["doc_id"].is_unique
    canon = df["text"].str.lower().str.replace(r"[^a-z0-9\s]", "", regex=True)
    assert canon.duplicated().any()  # exact duplicates modulo case/punctuation
    planted = df["doc_id"] % inp.HYGIENE_PLANT_MOD == 0
    assert df.loc[planted, "text"].str.endswith(inp._PLANT).all()
    assert df["text"].str.contains("@example.org").any()


def test_span_corpus_is_seed_deterministic(tmp_path):
    a = inp._span_corpus(1500, seed=9)
    b = inp._span_corpus(1500, seed=9)
    c = inp._span_corpus(1500, seed=10)
    assert a.equals(b)
    assert not a["spans"].equals(c["spans"])
    assert a["doc_id"].is_unique and len(a) == 1500
    inp.write_spans(a, tmp_path / "a.parquet")
    inp.write_spans(b, tmp_path / "b.parquet")
    assert (tmp_path / "a.parquet").read_bytes() == (tmp_path / "b.parquet").read_bytes()
    # chunk renumbering keeps media refs tied to their doc
    for doc_id, spans in zip(a["doc_id"], a["spans"]):
        assert all(s["media_ref"] == "" or s["media_ref"].startswith(doc_id) for s in spans)


def test_property_checks_reject_bad_inputs():
    with pytest.raises(inp.InputPropertyError):
        inp.check_increments({"a", "b"}, [{"c"}, {"b"}])
    with pytest.raises(inp.InputPropertyError):
        inp.check_increments({"a"}, [{"c"}, {"c", "d"}])
    inp.check_increments({"a"}, [{"b"}, {"c"}])

    import pandas as pd

    flat = pd.DataFrame({"doc_id": ["d"], "spans": [[{"kind": "text"}] * 5]})
    with pytest.raises(inp.InputPropertyError, match="skewed"):
        inp.check_span_corpus(flat, frozenset({"H"}))
    big = pd.DataFrame({"doc_id": ["d"], "spans": [[{"kind": "text"}] * 150]})
    with pytest.raises(inp.InputPropertyError, match="running header"):
        inp.check_span_corpus(big, frozenset())


def test_hygiene_checks_need_decontamination_to_remove():
    lineage = {"cols": ["docs_in", "docs_out", "stage"]}
    refs = {
        "lineage": dict(lineage, rows=[[10, 8, "gopher_gate"], [8, 8, "decontaminate"]]),
        "exact": {"rows": [[(1, 2), "f", 2]]},
        "jaccard": {"cols": ["doc_a", "doc_b", "jaccard"], "rows": [[1, 3, 0.9]]},
    }
    with pytest.raises(inp.InputPropertyError, match="decontamination"):
        inp.check_hygiene(refs)
    refs["lineage"]["rows"][1] = [8, 7, "decontaminate"]
    inp.check_hygiene(refs)
    refs["lineage"]["rows"][0] = [10, 0, "gopher_gate"]
    with pytest.raises(inp.InputPropertyError, match="keeps no docs"):
        inp.check_hygiene(refs)


# ── span arithmetic ─────────────────────────────────────────────────────


def _tree() -> list[Span]:
    #   0 unit [0, 10]
    #   ├── 1 a [1, 4]      └── 3 a.x [2, 3]
    #   └── 2 b [3.5, 6]    (overlaps a: covered union is [1, 6])
    spans = [
        Span(0, "unit", None, 0.0, 10.0, own={"jobs": 1}),
        Span(1, "a", 0, 1.0, 4.0, own={"jobs": 2, "tasks": 8}),
        Span(2, "b", 0, 3.5, 6.0, own={"jobs": 1}),
        Span(3, "a.x", 1, 2.0, 3.0, own={"jobs": 4, "shuffle_write_bytes": 100}),
    ]
    return spans


def test_self_time_subtracts_the_union_of_children():
    st = self_times(_tree())
    assert st[0] == pytest.approx(10.0 - 5.0)
    assert st[1] == pytest.approx(3.0 - 1.0)
    assert st[2] == pytest.approx(2.5)
    assert st[3] == pytest.approx(1.0)
    assert sum(st.values()) == pytest.approx(10.0 + 0.5)  # the 0.5 overlap counted twice


def test_self_time_clips_children_to_the_parent():
    spans = [Span(0, "p", None, 0.0, 2.0), Span(1, "c", 0, 1.5, 3.0)]
    assert self_times(spans)[0] == pytest.approx(1.5)


def test_inclusive_counters_roll_up_to_ancestors():
    inc = inclusive(_tree())
    assert inc[3]["jobs"] == 4
    assert inc[1]["jobs"] == 6 and inc[1]["tasks"] == 8
    assert inc[0]["jobs"] == 8 and inc[0]["shuffle_write_bytes"] == 100
