"""Catalog extension 16 (round 8, late wave 5). Context-sensitive LM
scoring, embedding QC, SLO percentiles, and trend-set churn:

  bigram_lm_score     per-document bigram language-model score (exact
                      integer conditional-probability lattice) — the
                      context-sensitive upgrade of unigram_surprisal:
                      flags docs whose word ORDER is improbable even
                      when their vocabulary is ordinary
  embedding_outliers  distance of each vector to its label centroid on
                      the quantized-coordinate lattice — the
                      mislabeled-example / corrupted-vector detector
                      an embedding pipeline runs before training
  latency_slo_report  exact p50/p95/p99 per (event type, day) via
                      cumulative counts over the bounded value domain
                      — the SLO table, with zero approximation and
                      zero corpus-length sorts
  topk_churn_report   month-over-month churn of the top-10 part set
                      (by shipped quantity): how stable the trending
                      set is — the monitoring twin of
                      decayed_popularity's ranking

Reference parity: none exist in the reference; they extend the brief's
LLM-pipeline (LM quality), ANN/embedding QC, and monitoring families.

Cross-engine determinism (SURVEY 4.4): conditional probabilities are
1e6 * C(w1 w2) div C(w1-prefix) integer divs; centroid coordinates are
e3-quantized per element BEFORE averaging (the embedding_integrity
idiom) so distances are integer folds; percentile selection goes
through integer cumulative counts (the winsorize_report machinery);
ranks break ties on the part key. No float enters any comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT16: dict = {}
ORACLE_EXT16: dict = {}


# ---------------------------------------------------------------------------
# bigram_lm_score — context-sensitive doc scoring on the bigram lattice
# ---------------------------------------------------------------------------

_BL_BOTTOMK = 25


def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM document scoring: every bigram instance scores the
    corpus conditional probability p(w2|w1) = C(w1 w2) / C(w1 ·) as an
    e6 integer (prefix counts come from the same bigram table, so the
    estimate is the exact MLE over observed transitions); a document's
    score is its mean instance probability, and the report returns the
    {_BL_BOTTOMK} LOWEST-scoring docs — the ones whose word ORDER the
    corpus finds most surprising (unigram_surprisal can't see these:
    a shuffled doc keeps its unigram profile but destroys its bigram
    score). This is the integer-exact shape of a perplexity filter.

    Scale shape: bigrams explode inside codegen; the stats table
    aggregates map-side to |bigram vocab| rows and joins back keyed on
    the bigram (dictionary-sized vs the corpus — Catalyst broadcasts
    when small); prefix totals are a second aggregate of the SAME
    stats table (vocab-sized, never re-scans the corpus). One
    combinable groupBy per doc + TakeOrdered bottom-K.
    """
    d = _t(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.lower("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - 1),
        lambda i: F.array_join(F.slice("toks", i, 2), " "))
    inst = (d.select("doc_id", toks.alias("toks"))
            .filter(F.size("toks") >= 2)
            .select("doc_id", F.explode(grams).alias("g")))
    c2 = inst.groupBy("g").agg(F.count(F.lit(1)).alias("c2"))
    c1 = (c2.select(F.expr("split_part(g, ' ', 1)").alias("w1"), "c2")
          .groupBy("w1").agg(F.sum("c2").alias("c1")))
    stats = (c2.withColumn("w1", F.expr("split_part(g, ' ', 1)"))
             .join(c1, "w1")
             .select("g", F.expr("CAST(1000000 * CAST(c2 AS"
                                 " DECIMAL(38,0)) div c1 AS BIGINT)")
                     .alias("p_e6")))
    return (inst.join(stats, "g")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_bigrams"),
                 F.expr("sum(p_e6) div count(*)").alias("lm_score_e6"))
            .orderBy("lm_score_e6", "doc_id")
            .limit(_BL_BOTTOMK))


ORACLE_BIGRAM_LM = rf"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents
), inst AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(toks) - 1),
                i -> array_to_string(toks[i:i+1], ' '))) AS g
  FROM tok WHERE len(toks) >= 2
), c2 AS (
  SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM inst GROUP BY g
), c1 AS (
  SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
  FROM c2 GROUP BY 1
), stats AS (
  SELECT g, (1000000 * c2) // c1 AS p_e6
  FROM c2 JOIN c1 ON split_part(c2.g, ' ', 1) = c1.w1
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       CAST(sum(p_e6) // count(*) AS BIGINT) AS lm_score_e6
FROM inst JOIN stats USING (g)
GROUP BY doc_id ORDER BY lm_score_e6, doc_id LIMIT {_BL_BOTTOMK}
"""


# ---------------------------------------------------------------------------
# embedding_outliers — centroid-distance QC on the quantized lattice
# ---------------------------------------------------------------------------

_EO_TOPK = 25


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding outlier detection: distance of every vector to its
    LABEL's centroid, on the e3-quantized coordinate lattice — the
    top-{_EO_TOPK} list is where mislabeled or corrupted examples
    live (a vector far from its own class centroid is either noise or
    a labeling error; kmeans_embed clusters unsupervised, THIS audits
    the given labels). Coordinates quantize per element FIRST
    (embedding_integrity's idiom), centroid components are integer
    means (sum div n), and the distance is the integer fold
    sum((q - mu)^2) — engine-exact end to end.

    Scale shape: vectors posexplode to (label, dim, q) — a linear
    map-side expansion; centroids aggregate to |labels| x dim rows and
    BROADCAST back onto the exploded stream (tiny by construction);
    per-vector distances are one combinable groupBy; TakeOrdered
    top-K. The corpus never self-joins and never sorts globally.
    """
    e = _t(spark, sf_dir, "embeddings")
    dims = (e.select("vec_id", "label",
                     F.posexplode(F.expr(
                         "transform(embedding, x ->"
                         " CAST(round(CAST(x AS DOUBLE) * 1000)"
                         " AS BIGINT))")).alias("dim", "q")))
    cent = (dims.groupBy("label", "dim")
            .agg(F.expr("sum(q) div count(*)").alias("mu"),
                 F.count(F.lit(1)).alias("n")))
    return (dims.join(F.broadcast(cent), ["label", "dim"])
            .groupBy("vec_id", "label")
            .agg(F.expr("sum((q - mu) * (q - mu))").alias("dist_sq"),
                 F.max("n").alias("class_size"))
            .orderBy(F.desc("dist_sq"), "vec_id")
            .limit(_EO_TOPK))


ORACLE_EMBEDDING_OUTLIERS = f"""
WITH dims AS (
  SELECT vec_id, label, pos - 1 AS dim,
         CAST(round(CAST(embedding[pos] AS DOUBLE) * 1000) AS BIGINT) AS q
  FROM (SELECT vec_id, label, embedding,
               unnest(generate_series(1, len(embedding))) AS pos
        FROM embeddings)
), cent AS (
  SELECT label, dim, CAST(sum(q) // count(*) AS BIGINT) AS mu,
         CAST(count(*) AS BIGINT) AS n
  FROM dims GROUP BY 1, 2
)
SELECT vec_id, dims.label,
       CAST(sum((q - mu) * (q - mu)) AS BIGINT) AS dist_sq,
       CAST(max(n) AS BIGINT) AS class_size
FROM dims JOIN cent ON dims.label = cent.label AND dims.dim = cent.dim
GROUP BY vec_id, dims.label
ORDER BY dist_sq DESC, vec_id LIMIT {_EO_TOPK}
"""


# ---------------------------------------------------------------------------
# latency_slo_report — exact p50/p95/p99 per (event type, day)
# ---------------------------------------------------------------------------

_DAY_NS = 86400000000000


def q_latency_slo_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLO percentile table: exact p50 / p95 / p99 of the value
    distribution per (event type, day) — the daily latency dashboard,
    with EXACT order statistics (k = max(1, floor(q*n)) selection via
    integer cumulative counts; approx_percentile drifts run-to-run and
    between engines, so it can't be the contract). winsorize_report
    proved the machinery per type; this is the (type, day) grain every
    on-call dashboard actually wants.

    Scale shape: the corpus reduces map-side to (type, day, v_e2)
    counts — per-partition distinct values are bounded by the VALUE
    DOMAIN (fixed sensor/price range), so the cumulative window is
    partitioned by (type, day) over domain-sized input, never
    corpus-sized. Threshold selection is one aggregate; no joins back
    to raw rows at all (unlike winsorize, the report needs only the
    thresholds).
    """
    e = (_t(spark, sf_dir, "events")
         .select("event_type",
                 F.expr(f"ts_ns div {_DAY_NS}").alias("day"),
                 F.expr("CAST(round(value * 100) AS BIGINT)")
                 .alias("v_e2")))
    counts = (e.groupBy("event_type", "day", "v_e2")
              .agg(F.count(F.lit(1)).alias("c")))
    w = (Window.partitionBy("event_type", "day").orderBy("v_e2")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    wn = Window.partitionBy("event_type", "day")
    cum = (counts.withColumn("cum", F.sum("c").over(w))
           .withColumn("n", F.sum("c").over(wn)))
    return (cum.groupBy("event_type", "day")
            .agg(F.max("n").alias("n_events"),
                 F.min(F.when(
                     F.expr("cum >= greatest(1, (50 * n) div 100)"),
                     F.col("v_e2"))).alias("p50_e2"),
                 F.min(F.when(
                     F.expr("cum >= greatest(1, (95 * n) div 100)"),
                     F.col("v_e2"))).alias("p95_e2"),
                 F.min(F.when(
                     F.expr("cum >= greatest(1, (99 * n) div 100)"),
                     F.col("v_e2"))).alias("p99_e2"))
            .orderBy("event_type", "day"))


ORACLE_LATENCY_SLO = f"""
WITH e AS (
  SELECT event_type, epoch_ns(ts) // {_DAY_NS} AS day,
         CAST(round(value * 100) AS BIGINT) AS v_e2
  FROM events
), counts AS (
  SELECT event_type, day, v_e2, CAST(count(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2, 3
), cum AS (
  SELECT event_type, day, v_e2,
         sum(c) OVER (PARTITION BY event_type, day ORDER BY v_e2
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(c) OVER (PARTITION BY event_type, day) AS n
  FROM counts
)
SELECT event_type, day, CAST(max(n) AS BIGINT) AS n_events,
       CAST(min(CASE WHEN cum >= greatest(1, (50 * n) // 100)
                     THEN v_e2 END) AS BIGINT) AS p50_e2,
       CAST(min(CASE WHEN cum >= greatest(1, (95 * n) // 100)
                     THEN v_e2 END) AS BIGINT) AS p95_e2,
       CAST(min(CASE WHEN cum >= greatest(1, (99 * n) // 100)
                     THEN v_e2 END) AS BIGINT) AS p99_e2
FROM cum GROUP BY event_type, day ORDER BY event_type, day
"""


# ---------------------------------------------------------------------------
# topk_churn_report — month-over-month trending-set stability
# ---------------------------------------------------------------------------

_TC_K = 10


def q_topk_churn_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K churn: the month-over-month turnover of the top-{_TC_K}
    parts by shipped quantity — for each consecutive month pair, how
    many of the trending set survived and the e3 churn rate. A stable
    catalog shows low churn; a spike says the demand mix shifted (the
    set-level signal decayed_popularity's per-item scores don't
    surface).

    Determinism: quantities sum on the e2 integer lattice; the top-K
    rank breaks ties on the part key; months pair via the integer
    index year*12+month (no date arithmetic ambiguity).

    Scale shape: lineitem reduces map-side to (month, part) sums; the
    top-K rank window is partitioned BY MONTH over the per-month part
    dim (the group_top1 class); consecutive months join on midx —
    |months| x {_TC_K} rows. Nothing after the first aggregate scales
    with the corpus. The |months| x K top-K table is checkpointed
    ONCE (tiny): its four consumers each re-ran the corpus aggregate
    + rank window in the first cut — 4 fact scans per run.
    """
    li = (_t(spark, sf_dir, "lineitem")
          .select((F.year("l_shipdate") * 12 + F.month("l_shipdate"))
                  .alias("midx"), "l_partkey",
                  F.expr("CAST(round(l_quantity * 100) AS BIGINT)")
                  .alias("q_e2")))
    monthly = (li.groupBy("midx", "l_partkey")
               .agg(F.sum("q_e2").alias("qty_e2")))
    wr = Window.partitionBy("midx").orderBy(F.desc("qty_e2"), "l_partkey")
    topk = (monthly.withColumn("rn", F.row_number().over(wr))
            .filter(F.col("rn") <= _TC_K)
            .select("midx", "l_partkey")
            .localCheckpoint())
    nxt = topk.select((F.col("midx") - 1).alias("midx"),
                      F.col("l_partkey").alias("next_part"))
    sizes = topk.groupBy("midx").agg(F.count(F.lit(1)).alias("k_cur"))
    nsizes = nxt.groupBy("midx").agg(F.count(F.lit(1)).alias("k_next"))
    common = (topk.join(nxt, (topk.midx == nxt.midx)
                        & (topk.l_partkey == nxt.next_part))
              .groupBy(topk.midx.alias("midx"))
              .agg(F.count(F.lit(1)).alias("n_common")))
    return (sizes.join(nsizes, "midx")
            .join(common, "midx", "left")
            .select("midx", "k_cur", "k_next",
                    F.coalesce("n_common", F.lit(0)).alias("n_common"))
            .withColumn("churn_e3", F.expr(
                "(1000 * (least(k_cur, k_next) - n_common))"
                " div least(k_cur, k_next)"))
            .orderBy("midx"))


ORACLE_TOPK_CHURN = f"""
WITH li AS (
  SELECT year(l_shipdate) * 12 + month(l_shipdate) AS midx, l_partkey,
         CAST(round(l_quantity * 100) AS BIGINT) AS q_e2
  FROM lineitem
), monthly AS (
  SELECT midx, l_partkey, CAST(sum(q_e2) AS BIGINT) AS qty_e2
  FROM li GROUP BY 1, 2
), topk AS (
  SELECT midx, l_partkey FROM monthly
  QUALIFY row_number() OVER (PARTITION BY midx
                             ORDER BY qty_e2 DESC, l_partkey) <= {_TC_K}
), nxt AS (
  SELECT midx - 1 AS midx, l_partkey AS next_part FROM topk
), sizes AS (
  SELECT midx, CAST(count(*) AS BIGINT) AS k_cur FROM topk GROUP BY 1
), nsizes AS (
  SELECT midx, CAST(count(*) AS BIGINT) AS k_next FROM nxt GROUP BY 1
), com AS (
  SELECT t.midx, CAST(count(*) AS BIGINT) AS n_common
  FROM topk t JOIN nxt n ON t.midx = n.midx AND t.l_partkey = n.next_part
  GROUP BY 1
)
SELECT s.midx AS midx, k_cur, k_next,
       CAST(coalesce(n_common, 0) AS BIGINT) AS n_common,
       (1000 * (least(k_cur, k_next) - coalesce(n_common, 0)))
         // least(k_cur, k_next) AS churn_e3
FROM sizes s JOIN nsizes USING (midx) LEFT JOIN com USING (midx)
ORDER BY midx
"""


QUERIES_EXT16.update({
    "bigram_lm_score": q_bigram_lm_score,
    "embedding_outliers": q_embedding_outliers,
    "latency_slo_report": q_latency_slo_report,
    "topk_churn_report": q_topk_churn_report,
})
ORACLE_EXT16.update({
    "bigram_lm_score": ORACLE_BIGRAM_LM,
    "embedding_outliers": ORACLE_EMBEDDING_OUTLIERS,
    "latency_slo_report": ORACLE_LATENCY_SLO,
    "topk_churn_report": ORACLE_TOPK_CHURN,
})
