"""Catalog extension 24 (round 9, wave 6). Pipeline-tuning reports:

  dedup_best_survivor      quality-aware near-dup survivorship: per
                           LSH/CC cluster keep the LONGEST member (the
                           CCNet/RefinedWeb keep-rule) instead of
                           dedup_survivors' min-id canonical — the
                           variant real corpus pipelines ship
  correlated_predicates    optimizer-stats profiling: the (brand,
                           type) predicate pairs whose actual
                           co-selectivity deviates most from the
                           independence estimate (q-error) — the
                           correlation detector that tells a planner
                           its single-column stats are lying
  packing_efficiency_sweep sequence-packing knob sweep: for each
                           context length in the ladder, truncation
                           counts, capped token mass, the bin lower
                           bound and utilization — the report that
                           picks max_len before a packing job runs

Reference parity: none in the reference; LLM-pipeline curation /
warehouse-tuning extension families.

Cross-engine determinism (SURVEY 4.4): survivorship argmax is the
(n_chars desc, doc_id) total order over the oracle-shared component
labels; q-error is the cross-multiplied directional ratio on
decimal(38,0)/HUGEINT (never a float division); packing numbers are
pure integer ceil-div arithmetic on the exploded ladder.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT24: dict = {}
ORACLE_EXT24: dict = {}


# ---------------------------------------------------------------------------
# dedup_best_survivor — keep the longest member of each near-dup cluster
# ---------------------------------------------------------------------------

def q_dedup_best_survivor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup survivorship with a QUALITY keep-rule: reuse the
    MinHash-LSH -> star-contraction component labels (the
    dedup_survivors machinery, queries_ext2.py:978) but keep the
    member with the most content (n_chars desc, doc_id asc) — the
    keep-longest rule CCNet-style corpus pipelines apply, because the
    longest near-dup usually subsumes the fragments. Output: one row
    per cluster with the kept doc, member count, kept length, and how
    many members were evicted.

    Scale shape: everything corpus-sized is inherited from the
    components pipeline (banded LSH, O(log n) star rounds); this adds
    one broadcast-friendly join to the documents table and one argmax
    window partitioned by component label.
    """
    from .queries_ext import q_graph_components
    comp = q_graph_components(spark, sf_dir)
    d = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = comp.join(d, "doc_id")
    w = Window.partitionBy("component").orderBy(
        F.col("n_chars").desc(), "doc_id")
    return (j.withColumn("rk", F.row_number().over(w))
            .groupBy("component")
            .agg(F.min(F.when(F.col("rk") == 1, F.col("doc_id")))
                 .alias("kept_doc_id"),
                 F.min(F.when(F.col("rk") == 1, F.col("n_chars")))
                 .alias("kept_n_chars"),
                 F.count(F.lit(1)).alias("n_members"))
            .select("component", "kept_doc_id",
                    F.col("kept_n_chars").cast("bigint")
                    .alias("kept_n_chars"),
                    F.col("n_members").cast("bigint").alias("n_members"),
                    (F.col("n_members") - 1).cast("bigint")
                    .alias("n_evicted"))
            .orderBy("component"))


def _oracle_best_survivor() -> str:
    from .queries_ext import ORACLE_COMPONENTS
    return f"""
WITH comp AS ({ORACLE_COMPONENTS}),
j AS (
  SELECT c.doc_id, c.component, d.n_chars
  FROM comp c JOIN documents d ON c.doc_id = d.doc_id
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY component
                               ORDER BY n_chars DESC, doc_id) AS rk
  FROM j
)
SELECT component,
       min(CASE WHEN rk = 1 THEN doc_id END) AS kept_doc_id,
       CAST(min(CASE WHEN rk = 1 THEN n_chars END) AS BIGINT)
         AS kept_n_chars,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_evicted
FROM ranked
GROUP BY component
ORDER BY component
"""


# ---------------------------------------------------------------------------
# correlated_predicates — q-error of the independence assumption
# ---------------------------------------------------------------------------

_CP_TOPK = 15


def q_correlated_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which predicate pairs break the optimizer's independence
    assumption: for every observed (p_brand, p_type) combination,
    the directional q-error between the actual co-selectivity and the
    independence estimate nb*nc/N — q_e4 = (1e4 * max(act*N, nb*nc))
    div min(act*N, nb*nc), exact cross-multiplied (the estimate never
    materializes as a float). Top-{_CP_TOPK} by (q_e4 desc, brand,
    type) — the pairs where single-column stats mislead join
    ordering worst. join_cardinality_est scores one join's estimate;
    this profiles the predicate space.

    Scale shape: three combinable aggregates over the part table
    (pair counts, brand counts, container counts — the two dims
    broadcast back), arithmetic on the |brands| x |types| lattice
    only. act >= 1 by construction keeps both ratio operands positive.
    """
    p = _t(spark, sf_dir, "part").select("p_brand", "p_type")
    pair = p.groupBy("p_brand", "p_type").agg(
        F.count(F.lit(1)).alias("act"))
    nb = p.groupBy("p_brand").agg(F.count(F.lit(1)).alias("nb"))
    nc = p.groupBy("p_type").agg(F.count(F.lit(1)).alias("nc"))
    n = p.agg(F.count(F.lit(1)).alias("n"))
    x = (pair.join(F.broadcast(nb), "p_brand")
         .join(F.broadcast(nc), "p_type")
         .crossJoin(F.broadcast(n))
         .withColumn("lhs", F.expr("CAST(act AS DECIMAL(38,0)) * n"))
         .withColumn("rhs", F.expr("CAST(nb AS DECIMAL(38,0)) * nc")))
    return (x.select(
        "p_brand", "p_type",
        F.col("act").cast("bigint").alias("act"),
        F.expr("(10000 * CAST(nb AS DECIMAL(38,0)) * nc) div n")
        .cast("bigint").alias("est_e4"),
        F.expr("CASE WHEN lhs >= rhs THEN (10000 * lhs) div rhs"
               " ELSE (10000 * rhs) div lhs END")
        .cast("bigint").alias("q_e4"))
        .orderBy(F.desc("q_e4"), "p_brand", "p_type")
        .limit(_CP_TOPK))


ORACLE_CORRELATED = f"""
WITH p AS (SELECT p_brand, p_type FROM part),
pair AS (
  SELECT p_brand, p_type, CAST(count(*) AS HUGEINT) AS act
  FROM p GROUP BY 1, 2
),
nb AS (SELECT p_brand, CAST(count(*) AS HUGEINT) AS nb
       FROM p GROUP BY 1),
nc AS (SELECT p_type, CAST(count(*) AS HUGEINT) AS nc
       FROM p GROUP BY 1),
n AS (SELECT CAST(count(*) AS HUGEINT) AS n FROM p),
x AS (
  SELECT pair.p_brand, pair.p_type, act,
         act * n AS lhs, nb * nc AS rhs, nb, nc, n
  FROM pair JOIN nb USING (p_brand) JOIN nc USING (p_type), n
)
SELECT p_brand, p_type,
       CAST(act AS BIGINT) AS act,
       CAST((10000 * nb * nc) // n AS BIGINT) AS est_e4,
       CAST(CASE WHEN lhs >= rhs THEN (10000 * lhs) // rhs
                 ELSE (10000 * rhs) // lhs END AS BIGINT) AS q_e4
FROM x
ORDER BY q_e4 DESC, p_brand, p_type
LIMIT {_CP_TOPK}
"""


# ---------------------------------------------------------------------------
# packing_efficiency_sweep — context-length knob report
# ---------------------------------------------------------------------------

_PK_LADDER = (256, 512, 1024, 2048)


def q_packing_efficiency_sweep(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Pick max_len BEFORE the packing job runs: for each context
    length L in {_PK_LADDER}, how many documents truncate, the capped
    token mass sum(min(tok, L)), the bin-count lower bound
    ceil(mass/L) (tight for offline full-shuffle packing), and the
    utilization that bound implies — pure integer arithmetic
    (ceil = (mass + L - 1) div L, util_e4 = (1e4*mass) div (bins*L)).
    sequence_pack executes one packing; this sweeps the knob.

    Scale shape: one tokenize projection, the {len(_PK_LADDER)}-value
    ladder rides an in-row explode (corpus scanned once), then one
    combinable aggregate per L.
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.size(whitespace_tokens(F.lower("text")))
    ladder = F.array(*[F.lit(k) for k in _PK_LADDER])
    x = (d.select(toks.alias("tok"))
         .select("tok", F.explode(ladder).alias("max_len")))
    agg = x.groupBy("max_len").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN tok > max_len THEN 1 ELSE 0 END"))
        .alias("n_truncated"),
        F.sum(F.expr("CAST(least(tok, max_len) AS DECIMAL(38,0))"))
        .alias("mass"))
    return (agg.select(
        F.col("max_len").cast("bigint").alias("max_len"),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_truncated").cast("bigint").alias("n_truncated"),
        F.col("mass").cast("bigint").alias("capped_tokens"),
        F.expr("(mass + max_len - 1) div max_len").cast("bigint")
        .alias("min_bins"),
        F.expr("(10000 * mass) div (((mass + max_len - 1)"
               " div max_len) * max_len)").cast("bigint")
        .alias("util_e4"))
        .orderBy("max_len"))


_PK_LADDER_SQL = ", ".join(str(k) for k in _PK_LADDER)

ORACLE_PACKING_SWEEP = r"""
WITH x AS (
  SELECT len(list_filter(string_split_regex(lower(text), '\s+'),
                         t -> t <> '')) AS tok,
         unnest([__LADDER__]) AS max_len
  FROM documents
),
agg AS (
  SELECT max_len,
         CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(CASE WHEN tok > max_len THEN 1 ELSE 0 END) AS BIGINT)
           AS n_truncated,
         CAST(sum(least(tok, max_len)) AS HUGEINT) AS mass
  FROM x GROUP BY 1
)
SELECT CAST(max_len AS BIGINT) AS max_len, n_docs, n_truncated,
       CAST(mass AS BIGINT) AS capped_tokens,
       CAST((mass + max_len - 1) // max_len AS BIGINT) AS min_bins,
       CAST((10000 * mass) // (((mass + max_len - 1) // max_len)
            * max_len) AS BIGINT) AS util_e4
FROM agg
ORDER BY max_len
""".replace("__LADDER__", _PK_LADDER_SQL)


QUERIES_EXT24.update({
    "dedup_best_survivor": q_dedup_best_survivor,
    "correlated_predicates": q_correlated_predicates,
    "packing_efficiency_sweep": q_packing_efficiency_sweep,
})
ORACLE_EXT24.update({
    "dedup_best_survivor": _oracle_best_survivor(),
    "correlated_predicates": ORACLE_CORRELATED,
    "packing_efficiency_sweep": ORACLE_PACKING_SWEEP,
})
