"""Non-equi (theta) joins: containment tagging and range bucketing.

Reference behavior: for every Country x Output pair, create a `refers_to`
edge iff the output's abstract/title CONTAINS the country name and the edge
does not already exist (reference src/research_index_backend/
create_graph.py:244-258 and create_graph_from_doi.py:294-329 — executed as
one Cypher statement per country over a Bolt round trip).

Spark-first design: the small side (countries / keyword dim) is broadcast,
so Catalyst plans a BroadcastNestedLoopJoin — the non-equi `contains`
predicate is evaluated inside whole-stage codegen, no shuffle of the big
side at all. The not-already-linked guard is a `left_anti` join.

Scale: the big side streams through executors partition-by-partition; cost
is O(|big| * |small|) compares but zero shuffle. For 100 TB of text vs a
~100-1000 row dim this is the right plan. If the dim grew to 1e6+ terms,
rewrite as tokenize-explode + broadcast equi-join on the token (noted in
SURVEY.md §4.3 as the stretch rewrite).
"""

from __future__ import annotations

from functools import reduce
from operator import or_

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def contains_tag(big: DataFrame, dim: DataFrame,
                 text_col: str | tuple[str, ...], term_col: str,
                 existing: DataFrame | None = None,
                 case_insensitive: bool = True) -> DataFrame:
    """Tag rows of `big` with every `dim` term contained in `big[text_col]`.

    text_col may be a tuple of columns: a term then tags a row when ANY of
    them contains it (the OR of the per-column predicates), in one
    nested-loop join — the same pairs as one pass per column, unioned and
    deduplicated, without the second join.

    Returns big's columns + the matching term rows. If `existing` is given
    (same join columns), already-present pairs are anti-joined away —
    Cypher's `AND NOT exists((o)-[:refers_to]->(c))` guard.
    """
    cols = (text_col,) if isinstance(text_col, str) else tuple(text_col)
    if case_insensitive:
        # Hoist the lower() into per-row projections on BOTH sides. Inside a
        # BroadcastNestedLoopJoin the condition is evaluated once per
        # (big, dim) PAIR; lower() copies the whole text, so leaving it in
        # the predicate re-lowers every document once per dim term —
        # measured 106x at a 100x/50x-dim probe vs linear after hoisting.
        # Catalyst keeps the Project below the join (CollapseProject never
        # inlines into join conditions), so each side lowers exactly once.
        #
        # The explicit isNotNull filter + lower(coalesce(col, '')) pair
        # (r14) kills the residual double-lower the r13 form carried: the
        # join's inferred not-null constraint used to push down as
        # isnotnull(lower(text)) — a second linear lower of every document
        # under the filter. coalesce with a literal makes the projected
        # column non-nullable, so the inferred IsNotNull constant-folds
        # away, and the explicit filter pushes to the parquet scan as
        # IsNotNull(text). Value-identical: inner-join contains() never
        # matches a NULL side, and with the filter in place the coalesce
        # arm is dead — it exists only to carry the non-nullable type.
        #
        # With several columns the filter keeps rows where any of them is
        # set; a NULL one lowers to '', which contains only the empty term —
        # and that term is contained by the row's non-NULL column too. The
        # first column keeps the one-column name, so that plan is unchanged.
        lc = [f"__contains_text_lc{i or ''}" for i in range(len(cols))]
        big = (big.filter(reduce(or_, [F.col(c).isNotNull() for c in cols]))
               .withColumns({n: F.lower(F.coalesce(F.col(c), F.lit("")))
                             for n, c in zip(lc, cols)}))
        dim = (dim.filter(F.col(term_col).isNotNull())
               .withColumn("__contains_term_lc",
                           F.lower(F.coalesce(F.col(term_col), F.lit("")))))
        pred = reduce(or_, [F.contains(F.col(n), F.col("__contains_term_lc"))
                            for n in lc])
    else:
        pred = reduce(or_, [F.contains(F.col(c), F.col(term_col))
                            for c in cols])
    tagged = big.join(F.broadcast(dim), on=pred, how="inner")
    if case_insensitive:
        tagged = tagged.drop(*lc, "__contains_term_lc")
    if existing is not None:
        tagged = tagged.join(existing, on=list(existing.columns), how="left_anti")
    return tagged


def range_bucket_join(facts: DataFrame, ranges: DataFrame,
                      value_col: str, lo_col: str = "lo", hi_col: str = "hi",
                      how: str = "inner") -> DataFrame:
    """Join facts to a small ranges dim on lo <= value < hi.

    Broadcast nested-loop on the non-equi predicate; the ranges side must be
    dim-sized. For large ranges tables use a bucketized equi-join instead
    (derive bucket = floor(value/width) on both sides).
    """
    pred: Column = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return facts.join(F.broadcast(ranges), on=pred, how=how)
