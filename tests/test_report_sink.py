"""K7 eval-report sink."""

from __future__ import annotations

import json
import os
import tempfile

from data_ingestion_din_spark.sinks.report import eval_summary, write_eval_report

SCHEMA = (
    "level string, question string, ground_truth string, answer string, "
    "score_correctness int"
)
ROWS = [
    ("Easy", "q1", "gt1", "a1", 5),
    ("Easy", "q2", "gt2", "a2", 4),
    ("Medium", "q3", "gt3", "a3", 3),
    ("Hard", "q4", "gt4", "a4", 1),
]


def test_eval_summary_grades(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    out = {r.level: r for r in eval_summary(df).collect()}
    assert out["Easy"].n == 2 and abs(out["Easy"].avg_score - 4.5) < 1e-9
    # overall: 13/4/5 = 65% -> Fair (reference thresholds 80/70/50)
    assert abs(out["__all__"].percentage - 65.0) < 1e-9
    assert out["__all__"].grade == "Fair"
    assert out["Easy"].grade == "Excellent"  # 90%
    assert out["Hard"].grade == "Poor"  # 20%


def test_write_eval_report_files(spark):
    df = spark.createDataFrame(ROWS, SCHEMA)
    d = tempfile.mkdtemp(prefix="evalrep_")
    summary = write_eval_report(df, d)
    assert summary["total"]["grade"] == "Fair"
    with open(os.path.join(d, "summary.json")) as f:
        loaded = json.load(f)
    assert loaded["levels"]["Easy"]["n"] == 2
    html = open(os.path.join(d, "report.html")).read()
    assert "65.00% (Fair)" in html and "q4" in html


def test_write_eval_report_empty_input(spark):
    """Empty eval set: one __all__ row (n=0, 0.0%, Poor) and a report
    that renders instead of raising on a None percentage."""
    df = spark.createDataFrame([], SCHEMA)
    rows = eval_summary(df).collect()
    assert [r.level for r in rows] == ["__all__"]
    assert rows[0].n == 0
    assert rows[0].avg_score == 0.0 and rows[0].percentage == 0.0
    assert rows[0].grade == "Poor"
    d = tempfile.mkdtemp(prefix="evalrep_empty_")
    summary = write_eval_report(df, d)
    assert summary["total"]["percentage"] == 0.0
    html = open(os.path.join(d, "report.html")).read()
    assert "0.00% (Poor)" in html
