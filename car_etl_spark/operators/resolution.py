"""Entity resolution completion: exact similarity, newer-wins merge,
rerank composition (SURVEY.md F12/F31/O6).

``calculate_similarity_exact`` is the difflib-parity UDF the reference
actually uses (``src/entities/matching.py:51-57``); the SQL-expressible
levenshtein form lives in ``queries.entity.scored_pairs`` and is what
the oracle checks.  Both are exposed so callers choose parity vs pushdown.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType


@F.pandas_udf(DoubleType())
def sequence_matcher_ratio(batches: Iterator[pd.DataFrame]) -> Iterator[pd.Series]:
    """F12 exact parity: difflib ``SequenceMatcher.ratio()`` over string
    pairs (struct of two strings), Arrow-batched."""
    from difflib import SequenceMatcher

    def ratio(a: str, b: str) -> float:
        if not a and not b:
            return 1.0
        if not a or not b:
            return 0.0
        return SequenceMatcher(None, a, b).ratio()

    for pdf in batches:
        yield pd.Series(
            [ratio(a, b) for a, b in zip(pdf.iloc[:, 0], pdf.iloc[:, 1])]
        )


def newer_wins_merge(
    canonical: DataFrame,
    duplicate: DataFrame,
    key: str = "entity_id",
    attrs_col: str = "attributes",
    updated_col: str = "updated_at",
) -> DataFrame:
    """F31: per-key attribute conflict resolution by recency (reference
    ``src/entities/resolution.py:107-137,260-268``).

    Both inputs carry ``(key, attributes map, updated_at)``.  Output: the
    canonical row with attributes = union of keys, conflicts resolved in
    favor of the *newer* record's value.  ``map_zip_with`` keeps the
    whole merge a single JVM expression.
    """
    dup = duplicate.select(
        F.col(key),
        F.col(attrs_col).alias("__dup_attrs"),
        F.col(updated_col).alias("__dup_updated"),
    )
    joined = canonical.join(dup, key, "left")
    canon_newer = F.col(updated_col) >= F.coalesce(
        F.col("__dup_updated"), F.lit("1970-01-01").cast("timestamp")
    )
    merged = F.map_zip_with(
        F.coalesce(F.col(attrs_col), F.expr("map()")),
        F.coalesce(F.col("__dup_attrs"), F.expr("map()")),
        lambda _, canon_v, dup_v: F.when(canon_v.isNull(), dup_v)
        .when(dup_v.isNull(), canon_v)
        .when(canon_newer, canon_v)
        .otherwise(dup_v),
    )
    return joined.withColumn(attrs_col, merged).drop("__dup_attrs", "__dup_updated")


def rerank_top_slice(
    results: DataFrame,
    score_fn,
    text_col: str = "text",
    base_score_col: str = "score",
    top_k: int = 20,
    id_col: str = "doc_id",
    pure_expr: bool = False,
) -> DataFrame:
    """O6: rerank the top-k slice with a model score, pass the tail
    through unchanged (reference ``src/search/reranker.py:99-131``).

    Two physical shapes with identical results:

    - default (UDF-safe): window-rank once, apply the (expensive)
      scorer only to the filtered slice, union the untouched tail — at
      scale the model UDF provably runs on k rows, not the corpus.
      Cost: the head/tail branches each re-evaluate the input subtree
      past its last reusable exchange (``TakeOrderedAndProject`` is not
      an ``Exchange``, so it is never reuse-deduped across a union).
    - ``pure_expr=True`` (fused): the scorer is a pure Column
      expression, so it rides a ``WHEN __rank <= k`` guard in ONE
      projection — no filters, no union, no duplicated subtree; the
      whole rerank is two windows in a single partition-local stage.
      Only safe for expression scorers: Spark does not guarantee
      short-circuit evaluation of Python UDFs under ``when``, so a
      model-UDF scorer must use the default path.
    """
    w = Window.orderBy(F.desc(base_score_col), F.asc(id_col))
    final_w = Window.orderBy(
        F.when(F.col("rerank_score").isNotNull(), 0).otherwise(1),
        F.desc_nulls_last("rerank_score"),
        F.asc("__rank"),
    )
    ranked = results.withColumn("__rank", F.row_number().over(w))
    if pure_expr:
        scored = ranked.withColumn(
            "rerank_score",
            F.when(F.col("__rank") <= top_k, score_fn(F.col(text_col)))
            .otherwise(F.lit(None))
            .cast("double"),
        )
        return scored.withColumn(
            "final_rank", F.row_number().over(final_w)
        ).drop("__rank")
    # cast matches the fused path's unconditional double: both physical
    # shapes must share ONE output schema for any scorer type (a float-
    # or int-valued scorer would otherwise type the column differently
    # between the two paths)
    head = ranked.filter(F.col("__rank") <= top_k).withColumn(
        "rerank_score", score_fn(F.col(text_col)).cast("double")
    )
    tail = ranked.filter(F.col("__rank") > top_k).withColumn(
        "rerank_score", F.lit(None).cast("double")
    )
    return (
        head.unionByName(tail)
        .withColumn("final_rank", F.row_number().over(final_w))
        .drop("__rank")
    )
