"""Text-analysis Column expressions for the documents pipeline.

Covers the reference's search-prep functions (SURVEY.md §2.8 F14-F21:
tokenization, stop words, hashing) plus the LLM-training-data operators
the new engine adds as first-class capabilities: token stats, quality
scoring, language-ID heuristics, document fingerprinting, and shingling
for MinHash dedup.  All pure built-in expressions — at 100 TB these run
as map-only stages inside whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stop-word list — reference src/search/highlighter.py:69-90 (25-word list,
# tokens of length >= 2 kept after removal).
STOPWORDS = (
    "the", "a", "an", "and", "or", "but", "in", "on", "at", "to", "for",
    "of", "with", "by", "from", "is", "are", "was", "were", "be", "been",
    "being", "have", "has", "had",
)


def tokenize(c: Column) -> Column:
    """Whitespace tokenization -> array<string>, empties dropped (F18)."""
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def token_count(c: Column) -> Column:
    """Whitespace token count (the cheap tiktoken stand-in, F24)."""
    return F.size(tokenize(c))


#: BPE-ish pretokenizer (the other half of F24): contraction suffixes,
#: space-prefixed letter runs, 1-3-digit groups (cl100k-style number
#: splitting), punctuation runs.  Deliberately restricted to the
#: regex subset where Java (Spark) and RE2 (DuckDB) agree — no
#: lookarounds, no unicode property classes — so the SAME pattern is
#: the oracle twin.  Counts land within a few percent of a real BPE
#: tokenizer on English text, which is what token-budget accounting
#: needs; exact tiktoken parity stays a declared non-goal (the vocab
#: merge table is model data, not engine logic).
BPE_PRETOKEN_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]{1,3}| ?[^a-z0-9\s]+"


def bpe_token_count(c: Column) -> Column:
    """BPE-ish token count over the lowercased text (F24)."""
    return F.regexp_count(F.lower(c), F.lit(BPE_PRETOKEN_PATTERN))


def bpe_token_count_sql(expr: str) -> str:
    """DuckDB twin of :func:`bpe_token_count` (same pattern, RE2)."""
    sql_pattern = BPE_PRETOKEN_PATTERN.replace("'", "''")
    return f"len(regexp_extract_all(LOWER({expr}), '{sql_pattern}'))"


def distinct_token_count(c: Column) -> Column:
    return F.size(F.array_distinct(tokenize(c)))


def stopword_ratio(c: Column) -> Column:
    """Fraction of tokens that are stop words — a standard quality signal."""
    toks = tokenize(c)
    stop = F.array(*[F.lit(w) for w in STOPWORDS])
    n = F.size(toks)
    ns = F.size(F.filter(toks, lambda x: F.array_contains(stop, F.lower(x))))
    return F.when(n > 0, ns / n).otherwise(F.lit(0.0))


def quality_score(c: Column) -> Column:
    """Composite document-quality score in [0, 1].

    Mirrors the shape of heuristic quality filters used in large-scale
    corpus curation: reward mid-length documents and a moderate stop-word
    ratio, penalize very short docs and extreme type-token ratios.
    Deterministic and SQL-expressible so it is oracle-checkable.
    """
    n = token_count(c)
    length_component = F.least(n / F.lit(50.0), F.lit(1.0))
    ttr = F.when(n > 0, distinct_token_count(c) / n).otherwise(F.lit(0.0))
    diversity_component = F.least(ttr * 2.0, F.lit(1.0))
    stop_component = 1.0 - stopword_ratio(c)
    return F.round(
        0.4 * length_component + 0.3 * diversity_component + 0.3 * stop_component, 6
    )


def fingerprint(c: Column) -> Column:
    """Order-insensitive document fingerprint (bag-of-words identity).

    sha256 over the sorted distinct token set — the exact-dedup key that
    survives token reordering.  Equivalent at 100 TB to a map-side hash +
    one groupBy shuffle on a 64-char key.
    """
    canon = F.array_join(F.array_sort(F.array_distinct(tokenize(F.lower(c)))), " ")
    return F.sha2(canon, 256)


def shingles_from_tokens(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles from an ALREADY-STAGED token column.

    ``toks`` must be a plain projected column, not an inline tokenize
    expression: Catalyst does not CSE an expression referenced from
    every slice of the transform, so inlining re-tokenizes the document
    once per shingle (measured 7x slower on the sf0.1 corpus — the
    module-docstring staging rule).

    Documents shorter than ``n`` tokens yield a single whole-doc shingle
    so they still participate in dedup.
    """
    k = F.size(toks)
    grams = F.transform(
        F.sequence(F.lit(0), F.greatest(k - n, F.lit(0))),
        lambda i: F.array_join(F.slice(toks, i + 1, n), " "),
    )
    return F.when(k > 0, F.array_distinct(grams)).otherwise(F.array().cast("array<string>"))


def shingles(c: Column, n: int = 3) -> Column:
    """Word n-gram shingles -> array<string> (MinHash input).

    Convenience single-expression form; prefer staging ``tokenize``
    into its own projection and calling :func:`shingles_from_tokens`
    (see that function's CSE note).
    """
    return shingles_from_tokens(tokenize(F.lower(c)), n)


# NOTE: MinHash signatures are intentionally NOT offered as a per-row
# array expression: N x array_min(transform(...)) higher-order functions
# evaluate interpreted (never codegen) — measured ~50x slower than the
# explode + min(xxhash64) aggregation in
# car_etl_spark.operators.similarity.with_minhash.


def simhash64_agg(exploded, id_cols: list[str], shingle_col: str = "shingle"):
    """64-bit SimHash via exploded bit-vote aggregation.

    Input: one row per (doc, shingle).  Classic construction: per bit
    position, sum +1/-1 votes of each shingle-hash bit, take the sign.
    Shaped as explode -> groupBy(id) with 64 scalar aggregates — one
    shuffle, codegen-friendly (a 64-way nested array expression instead
    compiles pathologically).

    Returns a DataFrame with id_cols + ``simhash`` (long).
    """
    h = F.xxhash64(F.col(shingle_col))
    votes = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(64)
    ]
    voted = exploded.groupBy(*id_cols).agg(*votes)
    sim = None
    for b in range(64):
        bit = F.when(
            F.col(f"v{b}") > 0, F.shiftleft(F.lit(1).cast("long"), b)
        ).otherwise(F.lit(0).cast("long"))
        sim = bit if sim is None else sim.bitwiseOR(bit)
    return voted.select(*id_cols, sim.alias("simhash"))


def lang_id(c: Column) -> Column:
    """Heuristic language ID from character statistics.

    n-gram-profile language ID needs trained profiles; this deterministic
    heuristic (CJK codepoint ratio, then diacritic profile, default en)
    demonstrates the classification shape and is unit-tested; corpus-level
    language analytics are oracle-checked separately.
    """
    cjk = F.size(F.filter(F.split(c, ""), lambda ch: ch.rlike(r"[一-鿿]")))
    total = F.length(c)
    has_diacritic = c.rlike(r"[áéíóúñ]")
    has_umlaut = c.rlike(r"[äöüß]")
    has_cedilla = c.rlike(r"[àâçèêëîïôùûœ]")
    return (
        F.when(total == 0, F.lit(None).cast("string"))
        .when(cjk / F.greatest(total, F.lit(1)) > 0.3, F.lit("zh"))
        .when(has_umlaut, F.lit("de"))
        .when(has_cedilla, F.lit("fr"))
        .when(has_diacritic, F.lit("es"))
        .otherwise(F.lit("en"))
    )


# Minimal suffix-strip stemmer (F20 english-stemming approximation,
# reference 044_keyword_search.sql:22-34), three ordered rules modeled
# on Porter step 1a.  Engine-portable by construction: Java regex
# (Spark) and RE2 (DuckDB) agree — RE2 has no lookbehind, so the
# stem-length guards are lazy captures, never assertions.  The bare-s
# rule requires a non-s before the suffix so 'class' is NOT stripped to
# 'clas' ('classes' -> 'class' via the sses-rule -> consistent).  No
# double-consonant recoding: 'running' -> 'runn' (self-consistent; the
# ing-form recall against the bare form stays partial, as declared).
STEM_RULES = (
    (r"^(\w{3,}?)(ing|ies|ied|ed)$", 1),   # hopes'd'/carried/carrying
    (r"^(\w{2,}?ss)(es)$", 1),             # classes -> class
    (r"^(\w{2,}?[^s])(s)$", 1),            # runs -> run; class stays
)


def stem(c: Column) -> Column:
    """Suffix-strip stem of a lowercase token: runs -> run,
    classes -> class, carried -> carr.  Apply the SAME rule to query
    terms (:func:`stem_py`) — matching is stem-to-stem."""
    out = c
    for pattern, _group in STEM_RULES:
        out = F.regexp_replace(out, pattern, "$1")
    return out


def stem_py(token: str) -> str:
    """The same rules for driver-side query terms."""
    import re

    for pattern, _group in STEM_RULES:
        token = re.sub(pattern, r"\1", token)
    return token


def stem_sql(expr: str) -> str:
    """The same rules as a DuckDB SQL expression over ``expr``."""
    out = expr
    for pattern, _group in STEM_RULES:
        out = f"regexp_replace({out}, '{pattern}', '\\1')"
    return out


def snippet(c: Column, max_len: int = 150) -> Column:
    """F17: truncate at a word boundary with ellipsis (reference
    ``src/rag/citations.py:108-118``): take max_len chars, cut back to
    the last space, append '...' — short strings pass through."""
    head = F.substring(c, 1, max_len)
    cut = F.regexp_replace(head, r"\s+\S*$", "")
    truncated = F.concat(F.when(F.length(cut) > 0, cut).otherwise(head), F.lit("..."))
    return F.when(F.length(c) <= max_len, c).otherwise(truncated)


def highlight(c: Column, terms: list[str]) -> Column:
    """Wrap case-insensitive word-boundary matches in ``<mark>`` (F19,
    reference ``highlighter.py:92-118,208-244``).  Terms are
    regex-escaped so 'c++' or 'a.b' match literally instead of breaking
    (or silently widening) the alternation.

    Boundaries are per-term and CONDITIONAL: ``\\b`` needs a word-char
    transition, so a bare ``\\b`` around a term that starts/ends with a
    non-word character ('c++', '.net') can never match — such edges get
    a lookaround boundary (not preceded/followed by a word char)
    instead."""
    import re

    def bounded(t: str) -> str:
        esc = re.escape(t)
        lead = r"\b" if re.match(r"\w", t) else r"(?<!\w)"
        tail = r"\b" if re.search(r"\w$", t) else r"(?!\w)"
        return lead + esc + tail

    alts = [bounded(t) for t in terms if t]
    if not alts:
        return c
    pattern = r"(?i)(" + "|".join(alts) + r")"
    return F.regexp_replace(c, pattern, "<mark>$1</mark>")
