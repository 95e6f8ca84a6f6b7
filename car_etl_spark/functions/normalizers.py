"""Field-value normalizers as pure Spark Column expressions.

Re-expresses the semantics of the reference's normalizer library
(reference ``src/extraction/normalizers.py:16-356``, SURVEY.md §2.8
F1-F9) and entity canonicalization (``src/entities/canonicalize.py:11-18``,
``src/entities/matching.py:45-57``, F10-F12) as built-in
``pyspark.sql.functions`` compositions.  Everything here stays inside
Catalyst whole-stage codegen — no Python UDFs — so normalization of a
100 TB extraction-fields table is a narrow, shuffle-free map stage.

All functions are null-safe and follow the reference's "null words"
convention: blank / ``null`` / ``none`` / ``n/a`` (case-insensitive)
normalize to NULL rather than erroring (ANSI-safe via try_cast).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

NULL_WORDS = ("null", "none", "n/a", "")

# Truthy/falsy vocabularies — reference src/extraction/normalizers.py:292-294.
TRUE_WORDS = ("true", "yes", "y", "1", "on", "enabled", "required")
FALSE_WORDS = ("false", "no", "n", "0", "off", "disabled", "not required")

# Corporate suffixes dropped by canonicalize — reference
# src/entities/canonicalize.py:6.
CORP_SUFFIXES = ("llc", "inc", "corp", "ltd", "lp")


def _null_words_to_null(c: Column) -> Column:
    """Trim, then map the null-word vocabulary to NULL."""
    trimmed = F.trim(c)
    return F.when(F.lower(trimmed).isin(*NULL_WORDS), F.lit(None)).otherwise(trimmed)


def normalize_date(c: Column) -> Column:
    """Multi-format date string -> DateType (F1).

    Accepted formats (reference ``normalizers.py:39-46``):
    ``YYYY-MM-DD`` (full-string), then prefix-anchored ``MM/DD/YYYY`` /
    ``M/D/YYYY``, ``MM-DD-YYYY``, ``YYYY/MM/DD``.  Unparseable or
    null-word input -> NULL.
    """
    v = _null_words_to_null(c)

    def _build(pat: str, fmt: str) -> Column:
        # r12: ONE prefix-anchored group-0 extract + a direct try_to_date
        # of the matched prefix in its own format, instead of three
        # per-group extracts + concat + ISO re-parse.  Acceptance is the
        # SAME regex, and the datetime parser enforces the identical
        # field validity (month 13 / day 30-in-Feb still -> NULL), so
        # the result is value-identical at a third of the regex work —
        # this chain runs once per row on every extraction-normalization
        # path (the profiled hot spot of normalize_roundtrips/eav).
        m0 = F.regexp_extract(v, pat, 0)
        return F.try_to_date(F.when(m0 != "", m0), fmt)

    iso = F.try_to_date(
        F.when(v.rlike(r"^\d{4}-\d{2}-\d{2}$"), v), "yyyy-MM-dd"
    )
    mdy_slash = _build(r"^(\d{1,2})/(\d{1,2})/(\d{4})", "M/d/y")
    mdy_dash = _build(r"^(\d{2})-(\d{2})-(\d{4})", "M-d-y")
    ymd_slash = _build(r"^(\d{4})/(\d{2})/(\d{2})", "y/M/d")
    return F.coalesce(iso, mdy_dash, mdy_slash, ymd_slash)


def normalize_date_str(c: Column) -> Column:
    """F1 with the reference's string return shape (``YYYY-MM-DD``)."""
    return F.date_format(normalize_date(c), "yyyy-MM-dd")


def normalize_currency(c: Column) -> Column:
    """Currency string -> DoubleType (F2).

    Strips ``$ , space``; accounting negatives ``(1,200)`` -> -1200.0;
    anything unparseable -> NULL (reference ``normalizers.py:79-118``).
    """
    v = _null_words_to_null(c)
    # r12: translate() strips the same char set ($ , and Java \s ==
    # [ \t\n\x0B\f\r]) via a per-char map instead of the regex engine
    cleaned = F.translate(v, "$, \t\n\u000b\f\r", "")
    signed = F.when(
        cleaned.startswith("(") & cleaned.endswith(")"),
        F.concat(F.lit("-"), cleaned.substr(F.lit(2), F.length(cleaned) - 2)),
    ).otherwise(cleaned)
    return signed.try_cast("double")


def normalize_integer(c: Column) -> Column:
    """Numeric string -> LongType (F3).

    Strips commas/spaces, parses as float, truncates toward zero —
    matching the reference's ``int(float(cleaned))``
    (``normalizers.py:120-159``).
    """
    v = _null_words_to_null(c)
    # r12: translate() == regexp_replace(v, "[,\\s]", "") (see F2 note)
    cleaned = F.translate(v, ", \t\n\u000b\f\r", "")
    return cleaned.try_cast("double").try_cast("long")


def normalize_percent(c: Column) -> Column:
    """Percent-ish value -> fraction in [0, 1] (F4).

    ``"7%"`` -> 0.07; numbers > 1 are treated as whole percents and
    divided by 100; results outside [0, 5] -> NULL
    (reference ``normalizers.py:174-209``).
    """
    v = _null_words_to_null(c)
    # r12: translate() == regexp_replace(v, "[,%]", "") without regex
    cleaned = F.translate(v, ",%", "")
    num = F.trim(cleaned).try_cast("double")
    scaled = F.when(num > 1.0, num / 100.0).otherwise(num)
    return F.when((scaled >= 0.0) & (scaled <= 5.0), scaled)


def normalize_list_of_strings(c: Column) -> Column:
    """Newline/semicolon-separated text -> array<string> (F5).

    Splits on ``\\n`` and ``;``, strips bullets/dashes/whitespace, drops
    empties (reference ``normalizers.py:212-226``).
    """
    items = F.split(c, r"[\n;]")
    stripped = F.transform(
        items, lambda x: F.regexp_replace(x, r"^[-•\s]+|[-•\s]+$", "")
    )
    return F.when(c.isNotNull(), F.filter(stripped, lambda x: x != ""))


def normalize_enum(c: Column, allowed_values: Sequence[str]) -> Column:
    """Case-insensitive exact then substring match against allowed values
    (F6, reference ``normalizers.py:229-267``).  Returns the canonical
    allowed spelling, or NULL."""
    v = F.lower(F.trim(c))
    result: Column = F.lit(None).cast("string")
    # Substring passes, later patterns take precedence per reference loop
    # order (first match wins -> build WHEN chain in order, exact first).
    expr = None
    for allowed in allowed_values:
        low = allowed.lower()
        cond = v == low
        expr = F.when(cond, F.lit(allowed)) if expr is None else expr.when(cond, F.lit(allowed))
    for allowed in allowed_values:
        low = allowed.lower()
        cond = v.contains(low) | F.lit(low).contains(v)
        expr = expr.when(cond, F.lit(allowed))
    result = expr.otherwise(F.lit(None))
    return F.when(v.isNotNull() & (v != ""), result)


def normalize_boolean(c: Column) -> Column:
    """Truthy/falsy word lists -> BooleanType (F7,
    reference ``normalizers.py:270-309``)."""
    v = F.lower(F.trim(c))
    return (
        F.when(v.isin(*TRUE_WORDS), F.lit(True))
        .when(v.isin(*FALSE_WORDS), F.lit(False))
        .otherwise(F.lit(None).cast("boolean"))
    )


def extract_numeric(c: Column) -> Column:
    """Keep digits + dots, parse, default 0.0 (F9).

    The effective-rent service's lenient parser (reference
    ``src/services/effective_rent.py:49-67``): note ``"(1,200)"`` -> 1200.0
    (positive) here, unlike :func:`normalize_currency`.
    """
    cleaned = F.regexp_replace(c.cast("string"), r"[^0-9.]", "")
    return F.coalesce(cleaned.try_cast("double"), F.lit(0.0))


def canonicalize(c: Column) -> Column:
    """Entity canonical name (F10, reference
    ``src/entities/canonicalize.py:11-18``): lowercase, strip non-alnum
    (keeping spaces), collapse whitespace, drop corporate suffixes as
    whole words, collapse again."""
    low = F.lower(c)
    alnum = F.regexp_replace(low, r"[^a-z0-9\s]", "")
    collapsed = F.trim(F.regexp_replace(alnum, r"\s+", " "))
    no_suffix = F.regexp_replace(collapsed, r"\b(" + "|".join(CORP_SUFFIXES) + r")\b", "")
    return F.trim(F.regexp_replace(no_suffix, r"\s+", " "))


def normalize_text(c: Column) -> Column:
    """Fuzzy-match prep (F11, reference ``src/entities/matching.py:45-48``):
    lowercase, non-alnum runs -> single space, trim."""
    return F.trim(F.regexp_replace(F.lower(c), r"[^a-z0-9]+", " "))


def match_decision(score: Column) -> Column:
    """Threshold decisions (F13, reference ``matching.py:104-110``):
    >=0.95 auto_merge, >=0.80 suggest_merge, else different."""
    return (
        F.when(score >= 0.95, F.lit("auto_merge"))
        .when(score >= 0.80, F.lit("suggest_merge"))
        .otherwise(F.lit("different"))
    )
