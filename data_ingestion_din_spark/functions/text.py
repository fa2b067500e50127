"""Text normalization expression library.

The reference implements whitespace/control normalization four times with
near-identical code (ingestion/pdf_parser.py:73-79,
ingestion/ocr_extractor.py:51-57, ingestion/cleaner.py:25-59,
backend/services/chunking.py:60-65,192-203) — unified here as ONE chain of
``regexp_replace`` column expressions (SURVEY.md §2.9), JVM-side and
codegen-friendly. Regex syntax is kept to the portable subset (character
classes, quantifiers, alternation) so the DuckDB oracle can run the same
patterns; each helper exposes a ``*_SQL_STEPS`` twin for oracle SQL.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# (pattern, replacement) chain — applied in order. Mirrors:
#   1. zero-width/BOM/NBSP removal (ingestion/cleaner.py:27-28)
#   2. control chars except \n → space (ingestion/pdf_parser.py:75)
#   3. collapse runs of spaces/tabs (ingestion/cleaner.py:40)
#   4. collapse 3+ newlines to 2 (ingestion/cleaner.py:44)
#   5. trim spaces around newlines
CLEAN_STEPS: tuple[tuple[str, str], ...] = (
    ("[​‌‍﻿ ]", " "),
    ("[\\x00-\\x09\\x0b-\\x1f\\x7f]", " "),
    ("[ \\t]+", " "),
    ("\\n{3,}", "\n\n"),
    (" *\\n *", "\n"),
)

# Thai-specific cleanup (ingestion/table_extractor.py:72-83): join lines
# broken mid-Thai-word, collapse dot leaders.
THAI_STEPS: tuple[tuple[str, str], ...] = (
    ("(?<=[฀-๿])\\n(?=[฀-๿])", ""),
    ("\\.{3,}", "..."),
)


def clean_text(col: Column, thai: bool = True) -> Column:
    """Canonical text cleaner (the unified F1/F3 normalization chain)."""
    steps = CLEAN_STEPS + (THAI_STEPS if thai else ())
    for pat, rep in steps:
        col = F.regexp_replace(col, pat, rep)
    return F.trim(col)


def clean_text_sql(expr: str) -> str:
    """DuckDB oracle twin of :func:`clean_text` with ``thai=False``
    (regexp_replace needs the explicit 'g' flag in DuckDB; Spark replaces
    all matches by default). The THAI_STEPS use lookaround, which DuckDB's
    RE2 engine lacks — Thai-aware cleaning is Spark-side only and its
    oracle checks run on non-Thai fixtures."""
    for pat, rep in CLEAN_STEPS:
        pat_sql = pat.replace("'", "''")
        rep_sql = rep.replace("'", "''")
        expr = f"regexp_replace({expr}, '{pat_sql}', '{rep_sql}', 'g')"
    return f"trim({expr})"


def sanitize_doc_id(col: Column) -> Column:
    """Doc-id sanitizer — reference implements this three times identically
    (backend/main.py:48-68, backend/services/vector_store.py:45-60,
    backend/services/rag.py:101-116): lowercase, whitespace→_, keep only
    [a-z0-9_-] plus Thai."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, "\\s+", "_")
    return F.regexp_replace(c, "[^a-z0-9_\\-฀-๿]", "")


def normalize_section_title(col: Column) -> Column:
    """Strip leading numbering / single-letter markers, squeeze spaces,
    truncate at 150 chars (ingestion/pdf_parser.py:87-92)."""
    c = F.regexp_replace(col, "^\\s*(\\d+(\\.\\d+)*|[A-Z])[\\.\\)]\\s*", "")
    c = F.trim(F.regexp_replace(c, "\\s+", " "))
    return F.substring(c, 1, 150)


def sanitize_html(col: Column) -> Column:
    """Neutralize scripts / event handlers / javascript: URLs — duplicated
    in the reference at backend/services/chunking.py:60-62,176-187 and
    backend/services/rag.py:122-127."""
    c = F.regexp_replace(col, "(?is)<script[^>]*>.*?</script>", "")
    c = F.regexp_replace(c, "(?i)\\son\\w+\\s*=", " data-blocked=")
    return F.regexp_replace(c, "(?i)javascript:", "")


def parse_money(col: Column) -> Column:
    """Safe money parse (ingestion/semantic_enricher.py:504-518): strip
    commas/currency/spaces, map parenthesized negatives, cast to
    DECIMAL(18,2) — a deliberate upgrade over the reference's float
    (SURVEY.md §1.2)."""
    c = F.regexp_replace(col, "[,฿\\s]|บาท|baht", "")
    c = F.regexp_replace(c, "^\\((.*)\\)$", "-$1")
    return F.try_to_number(c, F.lit("MI99999999999999D99"))


def lev_ratio(a: Column, b: Column) -> Column:
    """String similarity in [0, 1] as a normalized Levenshtein ratio
    ``1 - lev(a,b)/max(len(a),len(b),1)`` — the engine's JVM-native
    analogue of the reference's ``difflib.SequenceMatcher.ratio``
    (backend/services/rag.py:432-433). Same orientation (1 = identical,
    0 = disjoint); exact values differ (see ``seq_ratio`` for the
    bit-parity twin and tests/test_text_functions.py for the golden-pair
    ordering comparison). Stays inside whole-stage codegen — use this in
    the hot path."""
    return F.lit(1.0) - F.levenshtein(a, b).cast("double") / F.greatest(
        F.length(a), F.length(b), F.lit(1)
    )


def seq_ratio(a: Column, b: Column) -> Column:
    """Bit-exact ``difflib.SequenceMatcher(None, a, b).ratio()`` as an
    Arrow-batched pandas UDF — reference parity for
    backend/services/rag.py:432-433 when exact score reproduction
    matters (e.g. replaying the reference's 0.75 Q&A gate decisions).
    Python-boundary cost: use ``lev_ratio`` unless parity is required."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _ratio(s1, s2):
        from difflib import SequenceMatcher

        import pandas as pd

        return pd.Series(
            [
                SequenceMatcher(None, x or "", y or "").ratio()
                for x, y in zip(s1, s2)
            ]
        )

    return _ratio(a, b)
