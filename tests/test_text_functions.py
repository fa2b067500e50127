"""Unit tests for the text normalization expression library — golden
input/output pairs mirroring the reference semantics (SURVEY.md §2.9),
including Thai text."""

from __future__ import annotations

from pyspark.sql import functions as F

from data_ingestion_din_spark.functions.text import (
    clean_text,
    normalize_section_title,
    parse_money,
    sanitize_doc_id,
    sanitize_html,
)


def _apply(spark, col_fn, values):
    df = spark.createDataFrame([(v,) for v in values], ["x"])
    return [r[0] for r in df.select(col_fn(F.col("x"))).collect()]


def test_clean_text_whitespace(spark):
    out = _apply(
        spark,
        clean_text,
        [
            "a   b\t\tc",
            "line1\n\n\n\n\nline2",
            "​zero width﻿",
            "  padded  ",
            "ctrl\x00char\x07here",
        ],
    )
    assert out[0] == "a b c"
    assert out[1] == "line1\n\nline2"
    assert out[2] == "zero width"
    assert out[3] == "padded"
    assert out[4] == "ctrl char here"


def test_clean_text_thai(spark):
    # Thai line-break joining (ingestion/table_extractor.py:72-83): a
    # newline between Thai chars is removed; dot leaders collapse.
    out = _apply(spark, clean_text, ["กอง\nทุน", "a\nb", "x......y"])
    assert out[0] == "กองทุน"
    assert out[1] == "a\nb"
    assert out[2] == "x...y"


def test_sanitize_doc_id(spark):
    # Reference: backend/main.py:48-68 — lowercase, ws→_, strip others.
    out = _apply(
        spark,
        sanitize_doc_id,
        ["My Doc 2024.pdf", "  UPPER  case ", "thai_ไทย_doc", "a@b#c"],
    )
    assert out[0] == "my_doc_2024pdf"
    assert out[1] == "upper_case"
    assert out[2] == "thai_ไทย_doc"
    assert out[3] == "abc"


def test_normalize_section_title(spark):
    # ingestion/pdf_parser.py:87-92.
    out = _apply(
        spark,
        normalize_section_title,
        ["1.2.3) Budget   Overview", "A. Annex", "plain title", "x" * 200],
    )
    assert out[0] == "Budget Overview"
    assert out[1] == "Annex"
    assert out[2] == "plain title"
    assert len(out[3]) == 150


def test_sanitize_html(spark):
    # backend/services/chunking.py:60-62,176-187.
    out = _apply(
        spark,
        sanitize_html,
        [
            "<b>ok</b><script>alert(1)</script>done",
            '<img onerror=alert(1) src="x">',
            '<a href="javascript:evil()">x</a>',
        ],
    )
    assert out[0] == "<b>ok</b>done"
    assert "onerror" not in out[1]
    assert "javascript:" not in out[2]


def test_parse_money(spark):
    # ingestion/semantic_enricher.py:504-518: commas, ฿/บาท, (x) → -x.
    out = _apply(
        spark,
        parse_money,
        ["1,234.56", "฿999", "12 345.00 บาท", "(250.75)", "garbage"],
    )
    assert [float(v) if v is not None else None for v in out] == [
        1234.56,
        999.0,
        12345.0,
        -250.75,
        None,
    ]


# --------------------------------------------------------------------------
# String similarity: SequenceMatcher parity (backend/services/rag.py:432-433)
# --------------------------------------------------------------------------

# Golden pairs spanning the regimes the Q&A matcher sees: identical,
# one-token edit, prefix edit with shared Thai suffix, disjoint.
_SIM_PAIRS = [
    ("table หรือไม่", "table หรือไม่"),
    ("table หรือไม่", "tables หรือไม่"),
    ("table หรือไม่", "stream หรือไม่"),
    ("table scan join", "table scan joins"),
    ("group by key", "order by key"),
    ("abc", "xyz"),
    ("", "anything"),
]


def test_seq_ratio_matches_difflib(spark):
    """seq_ratio is the bit-exact difflib twin."""
    from difflib import SequenceMatcher

    from data_ingestion_din_spark.functions.text import seq_ratio

    df = spark.createDataFrame(_SIM_PAIRS, ["a", "b"])
    got = [
        r[0]
        for r in df.select(seq_ratio(F.col("a"), F.col("b"))).collect()
    ]
    want = [SequenceMatcher(None, a, b).ratio() for a, b in _SIM_PAIRS]
    assert got == want


def test_lev_ratio_vs_difflib_divergence(spark):
    """Characterizes exactly where the JVM-native lev_ratio agrees with
    and diverges from the reference's SequenceMatcher.ratio
    (backend/services/rag.py:432-433) on a J6-style candidate set (one
    query vs many questions):

    - AGREE on the argmax (an exact match dominates both measures) and
      on the extremes (1.0 identical, low for disjoint strings);
    - DIVERGE in the mid-range: SequenceMatcher's 2M/(len_a+len_b)
      rewards short candidates ('a หรือไม่' → 0.82 vs lev 0.69) and its
      gate decision can flip ('key หรือไม่' → exactly 0.75, passing the
      reference's high-confidence gate, while lev_ratio scores 0.62).

    The divergence is material at the 0.75 gate → ``seq_ratio`` exists
    as the bit-exact pandas-UDF twin for replaying reference decisions.
    """
    from difflib import SequenceMatcher

    from data_ingestion_din_spark.functions.text import lev_ratio

    query = "table หรือไม่"
    candidates = [
        f"{t} หรือไม่"
        for t in ["table", "tables", "stream", "batch", "a", "filter", "key"]
    ]
    df = spark.createDataFrame([(query, c) for c in candidates], ["a", "b"])
    lev = [
        r[0]
        for r in df.select(lev_ratio(F.col("a"), F.col("b"))).collect()
    ]
    ref = [SequenceMatcher(None, query, c).ratio() for c in candidates]

    # argmax agreement: both pick the exact match, with a clear margin
    assert max(range(len(lev)), key=lambda i: lev[i]) == 0
    assert max(range(len(ref)), key=lambda i: ref[i]) == 0
    assert lev[0] == ref[0] == 1.0

    # documented divergences (golden values, both engines deterministic)
    a_idx, key_idx = candidates.index("a หรือไม่"), candidates.index(
        "key หรือไม่"
    )
    assert abs(ref[a_idx] - 0.8182) < 1e-3 and abs(lev[a_idx] - 0.6923) < 1e-3
    assert ref[key_idx] >= 0.75 > lev[key_idx]  # the gate flip


def test_from_json_truncated_record_yields_null_id(spark):
    """ingest_quarantine's Spark/oracle equivalence (all-NULL from_json
    struct vs DuckDB json_valid) silently depends on from_json NOT
    salvaging fields from a top-level-truncated record — i.e.
    spark.sql.json.enablePartialResults must not recover "id" from a
    string whose closing brace was cut (ADVICE r5 asked to pin this so
    a Spark upgrade changing partial-results behavior fails loudly).
    The strings here are exactly the quarantine feed's shape: a valid
    object with the last character removed.
    """
    from pyspark.sql import functions as F

    feed = [
        '{"id": 7, "lang": "en", "n": 42',      # truncated closing brace
        '{"id": 7, "lang": "en", "n": 4',        # truncated digit
        '{"id": 7, "lang": "en", "n": 42}',      # intact control
    ]
    df = spark.createDataFrame([(s,) for s in feed], "s string").select(
        F.from_json("s", "id bigint, lang string, n bigint").alias("p")
    )
    got = [r.p.id for r in df.collect()]
    assert got == [None, None, 7], got


def test_canonical_url_goldens(spark):
    from data_ingestion_din_spark.functions.urls import canonical_url
    from pyspark.sql import functions as F

    cases = {
        # fragment + utm + default port + WWW + authority case
        "HTTPS://WWW.Ex.COM:443/A/b/?utm_source=f&ref=1&utm_campaign=x#s":
            "https://ex.com/A/b/?ref=1",
        # http default port; path case preserved
        "http://Ex.com:80/Docs/9?ref=9": "http://ex.com/Docs/9?ref=9",
        # trailing slash stripped only at string end
        "https://Ex.com/shared/7/": "https://ex.com/shared/7",
        # all params were utm -> the dangling '?' goes too
        "https://ex.com/p?utm_a=1&utm_b=2": "https://ex.com/p",
        # non-default port preserved
        "https://ex.com:8443/x": "https://ex.com:8443/x",
        # www stripped ONLY at the scheme — an embedded URL in the
        # query string is content, not authority
        "https://www.ex.com/r?u=https://www.b.com":
            "https://ex.com/r?u=https://www.b.com",
    }
    df = spark.createDataFrame(
        [(u,) for u in cases], "u string"
    ).select("u", canonical_url(F.col("u")).alias("c"))
    got = {r.u: r.c for r in df.collect()}
    assert got == cases
