"""Driver-contract helpers in bench.py that don't need a SparkSession."""

from __future__ import annotations

import bench


def test_corrected_vs_prev_uses_host_norm_ratio(tmp_path, monkeypatch):
    prev = tmp_path / "BENCH_r09.json"
    prev.write_text(
        '{"parsed": {"queries": {"a": 2.0, "b": 1.0},'
        ' "host_norm": {"kernel_docs_per_sec": 100000}}}'
    )
    monkeypatch.setattr(bench, "REPO", tmp_path)
    out = bench._corrected_vs_prev(
        {"a": 1.0, "c": 5.0}, {"kernel_docs_per_sec": 200000}
    )
    assert out["prev"] == "BENCH_r09.json"
    assert out["norm_ratio"] == 2.0
    # a: (1.0/2.0) * 2.0 = 1.0 — pure host drift reads as 1.0
    assert out["queries"] == {"a": 1.0}
    assert out["common_total_corrected_ratio"] == 1.0


def test_corrected_vs_prev_degrades_gracefully(tmp_path, monkeypatch):
    monkeypatch.setattr(bench, "REPO", tmp_path)
    assert "status" in bench._corrected_vs_prev(
        {"a": 1.0}, {"kernel_docs_per_sec": 1}
    )
    assert "status" in bench._corrected_vs_prev({"a": 1.0}, {"error": "x"})
    bad = tmp_path / "BENCH_r01.json"
    bad.write_text('{"parsed": {"queries": {}}}')
    out = bench._corrected_vs_prev({"a": 1.0}, {"kernel_docs_per_sec": 1})
    assert out["status"].startswith("prior-unreadable")


def test_plan_normalization_drops_session_ids():
    import bench_extra

    a = (
        "Project [vec_id#12L, round(pythonUDF0#40, 6) AS score#41]\n"
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=87]"
    )
    b = (
        "Project [vec_id#7L, round(pythonUDF3#99, 6) AS score#100]\n"
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=12]"
    )
    assert bench_extra.normalize_plan(a) == bench_extra.normalize_plan(b)
    assert bench_extra.normalize_plan(a) == (
        "Project [vec_id, round(pythonUDF, 6) AS score]\n"
        "Exchange SinglePartition, ENSURE_REQUIREMENTS, [plan_id=]"
    )
