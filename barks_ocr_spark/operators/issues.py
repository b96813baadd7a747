"""Heuristic issue detection (SURVEY.md A4/A10).

The reference's `ocr_check` raises per-group dismissable issues
(`src/barks_ocr/utils/group_checks.py:102-115`) and writes a deduped,
sorted queue file for the human editor (`tools/compare.py:230-242`).
Here: a DataFrame of (doc_id, issue_type) built from column predicates
(all RE2-safe so the DuckDB oracle matches).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# RE2-compatible forms of the group_checks regexes (no lookbehind), for
# Spark/DuckDB parity. The abbreviation-aware lookbehind variant lives in
# kernels/textnorm.has_dot_at_end_of_sentence for the kernel path.
DASH_WRONG_SPACE = "—\\s+[!?]|[!?]\\s+—"
DASH_NO_SPACES = "[a-zA-Z]—[a-zA-Z]"


def detect_issues(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, issue_type) rows for every fired predicate."""
    text = F.col(text_col)
    t = F.trim(text)
    checks = {
        # group_checks.py:60-63 (1-char text that isn't ? or !)
        "short_text": (F.length(t) == 1) & ~F.lower(t).isin(["?", "!"]),
        # group_checks.py:56, 84-86
        "dash_wrong_space": t.rlike(DASH_WRONG_SPACE),
        # group_checks.py:57, 89-91 (letter—letter)
        "dash_no_spaces": t.rlike(DASH_NO_SPACES),
        # ocr_check.py:361-376 (empty-extraction metric)
        "empty_text": F.length(t) == 0,
        # long-doc sanity bound (quality gate analogue)
        "very_long": F.length(t) > 100_000,
    }
    parts = [
        docs.select("doc_id", F.lit(name).alias("issue_type")).filter(pred)
        for name, pred in checks.items()
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionAll(p)
    return out


def issue_histogram(issues: DataFrame) -> DataFrame:
    """A4: Counter(issue_type) (`tools/ocr_check.py:540-547`)."""
    return issues.groupBy("issue_type").agg(F.count("*").alias("n")).orderBy(
        F.desc("n"), "issue_type"
    )


def dodgy_group_predicate(
    panel_col: str = "panel_num",
    text_col: str = "ai_text",
    notes_col: str = "notes",
) -> Column:
    """F7: a group is dodgy iff it landed in no panel (panel_num == -1)
    AND it is a page-number note, empty/1-char text, or the 'W'/' '
    OCR-garbage shapes (`src/barks_ocr/tools/string_replacer.py:91-113`).
    Length is on the RAW text, emptiness on the trimmed text — mirrors
    the reference exactly."""
    text = F.col(text_col)
    notes = F.coalesce(F.col(notes_col), F.lit(""))
    return (F.col(panel_col) == -1) & (
        F.lower(notes).contains("page number")
        | (F.trim(text) == "")
        | (F.length(text) == 1)
        | F.upper(text).isin("W", " ")
    )


def remove_dodgy_groups(groups: DataFrame) -> DataFrame:
    """F7: drop dodgy groups (pure column predicate — pushes to the scan)."""
    return groups.filter(~dodgy_group_predicate())
