"""Catalog extension 39 (round 9, second session, wave 14). Corpus
saturation:

  novelty_curve_report   new-shingle mass contributed by each
                         successive tranche of the corpus — the
                         saturation curve that tells a crawl owner
                         whether the NEXT batch of data still buys
                         novel content (chao_distinct_estimate
                         predicts the asymptote; this measures the
                         approach to it)

Reference parity: none in the reference; curation extension family.

Cross-engine determinism (SURVEY 4.4): all-integer — first-seen
tranche per shingle is a min() aggregate; shares are floored integer
divisions of exact counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT39: dict = {}
ORACLE_EXT39: dict = {}

_NC_TRANCHES = 10
_NC_SHINGLE = 3


def q_novelty_curve_report(spark: SparkSession,
                           sf_dir: str) -> DataFrame:
    """Split the corpus into {_NC_TRANCHES} tranches by doc_id (the
    ingestion order proxy) and report, per tranche: docs, total
    {_NC_SHINGLE}-shingle occurrences, shingles FIRST SEEN in that
    tranche (novel mass), and the cumulative novel share of all
    distinct shingles — the saturation curve. A flattening tail says
    new crawling re-reads old content; chao_distinct_estimate says
    how much is left in total, this says how fast we are getting
    there.

    Scale shape: tranche ids derive from a 1-row max-doc_id
    broadcast (snapshot_asof shape); first-seen tranche per shingle
    is ONE combinable min() aggregate over the exploded shingles —
    the ONLY pass that builds shingle strings, with the token array
    STAGED to a named column before the shingle transform references
    it (the textrank_keywords CollapseProject lesson, but worse: fused
    into one projection, the regex split re-evaluated once per shingle
    POSITION through the HOF slice references — measured 7.3s -> 0.6s
    for this branch at sf0.1). The docs/occurrence tranche totals
    never touch arrays: |shingles(doc)| is just
    greatest(0, n_tokens - {_NC_SHINGLE - 1}) and n_tokens is
    regexp_count(text, '\\S+') (non-empty \\s+-split tokens ==
    non-whitespace runs), so that branch is a pure scalar scan (the
    first cut built the full shingle-string arrays TWICE, once per
    consumer, just to size() them in this branch). The curve is a
    prefix sum over the {_NC_TRANCHES}-row tranche table (fixed size
    — no allowlist concern: the window partitions over a constant
    frame... listed anyway for the lint)."""
    d = _t(spark, sf_dir, "documents")
    anchor = d.agg(F.max("doc_id").alias("mx"))
    tranche = F.expr(f"least(doc_id * {_NC_TRANCHES}"
                     f" div (mx + 1), {_NC_TRANCHES - 1})")
    toks = whitespace_tokens(F.lower("text"))
    sh = F.when(F.size("tk") < _NC_SHINGLE,
                F.array().cast("array<string>")) \
        .otherwise(F.transform(
            F.sequence(F.lit(1), F.size("tk") - _NC_SHINGLE + 1),
            lambda i: F.concat_ws(
                " ", F.slice("tk", i, F.lit(_NC_SHINGLE)))))
    docs = (d.join(F.broadcast(anchor))
            .select(tranche.alias("tranche"),
                    F.greatest(
                        F.lit(0),
                        F.regexp_count("text", F.lit(r"\S+"))
                        - (_NC_SHINGLE - 1)).alias("n_sh"))
            .groupBy("tranche").agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.sum("n_sh").alias("n_occurrences")))
    first_seen = (d.join(F.broadcast(anchor))
                  .select(tranche.alias("tranche"), toks.alias("tk"))
                  .select("tranche", F.explode(sh).alias("s"))
                  .groupBy("s").agg(F.min("tranche").alias("tranche"))
                  .groupBy("tranche")
                  .agg(F.count(F.lit(1)).alias("novel")))
    w = Window.orderBy("tranche").rowsBetween(
        Window.unboundedPreceding, 0)
    wall = Window.orderBy("tranche").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    j = (docs.join(first_seen, "tranche", "left")
         .select("tranche", "n_docs", "n_occurrences",
                 F.coalesce("novel", F.lit(0)).alias("novel")))
    pre = j.select(
        "tranche", "n_docs", "n_occurrences", "novel",
        F.sum("novel").over(w).alias("cum_novel"),
        F.sum("novel").over(wall).alias("tot_novel"))
    return (pre.select(
        F.col("tranche").cast("bigint").alias("tranche"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
        F.col("novel").cast("bigint").alias("novel_shingles"),
        F.expr("(1000000 * CAST(novel AS DECIMAL(38,0)))"
               " div greatest(n_occurrences, 1)").cast("bigint")
        .alias("novelty_rate_e6"),
        F.expr("(1000000 * CAST(cum_novel AS DECIMAL(38,0)))"
               " div tot_novel").cast("bigint")
        .alias("cum_novel_share_e6"))
        .orderBy("tranche"))


ORACLE_NOVELTY = rf"""
WITH anchor AS (SELECT max(doc_id) AS mx FROM documents),
base AS (
  SELECT least(doc_id * {_NC_TRANCHES} // (anchor.mx + 1),
               {_NC_TRANCHES - 1}) AS tranche,
         doc_id,
         CASE WHEN len(list_filter(string_split_regex(lower(text),
                '\s+'), x -> x <> '')) < {_NC_SHINGLE} THEN []
         ELSE [array_to_string(
                 list_filter(string_split_regex(lower(text), '\s+'),
                             x -> x <> '')[i : i + {_NC_SHINGLE} - 1],
                 ' ')
               for i in range(1,
                 len(list_filter(string_split_regex(lower(text),
                     '\s+'), x -> x <> '')) - {_NC_SHINGLE} + 2)]
         END AS shs
  FROM documents, anchor
), docs AS (
  SELECT tranche, count(*) AS n_docs,
         sum(len(shs)) AS n_occurrences
  FROM base GROUP BY 1
), first_seen AS (
  SELECT tranche, count(*) AS novel FROM (
    SELECT s, min(tranche) AS tranche
    FROM (SELECT tranche, unnest(shs) AS s FROM base)
    GROUP BY s)
  GROUP BY tranche
), j AS (
  SELECT d.tranche, d.n_docs, d.n_occurrences,
         coalesce(f.novel, 0) AS novel
  FROM docs d LEFT JOIN first_seen f ON d.tranche = f.tranche
)
SELECT CAST(tranche AS BIGINT) AS tranche,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST(n_occurrences AS BIGINT) AS n_occurrences,
       CAST(novel AS BIGINT) AS novel_shingles,
       CAST((1000000 * CAST(novel AS HUGEINT))
            // greatest(n_occurrences, 1) AS BIGINT)
         AS novelty_rate_e6,
       CAST((CAST(1000000 AS HUGEINT) * sum(novel) OVER (
              ORDER BY tranche
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            // sum(novel) OVER () AS BIGINT) AS cum_novel_share_e6
FROM j
ORDER BY tranche
"""


QUERIES_EXT39.update({
    "novelty_curve_report": q_novelty_curve_report,
})
ORACLE_EXT39.update({
    "novelty_curve_report": ORACLE_NOVELTY,
})
