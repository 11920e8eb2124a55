"""Catalog extension 30 (round 9, second session, wave 5).
Forecasting, physical-design advice, and diversity re-ranking:

  holt_forecast      Holt double-exponential smoothing (level +
                     trend) per event type with a 7-step-ahead
                     forecast — the capacity-planning step EWMA
                     (ewma_report) can't take because it has no trend
                     state
  partition_advisor  physical-design advisor: score candidate
                     partition columns by cardinality / skew /
                     rows-per-partition and emit a verdict — the
                     "what do we partition by" question every
                     warehouse onboarding answers by hand
  mmr_diversify      Maximal Marginal Relevance re-ranking: greedy
                     top-10 selection balancing query relevance
                     against redundancy with already-picked docs —
                     the diversity stage after retrieval
                     (rerank_topk re-scores; MMR DE-DUPLICATES the
                     result list)

Reference parity: none in the reference; analytics/retrieval
extension families.

Cross-engine determinism (SURVEY 4.4): every recurrence is an
integer-lattice fold (Spark in-row aggregate() == DuckDB recursive
CTE — the kaplan_meier discipline; both engines truncate integer
division toward zero, probed on negatives); MMR is ALL-integer
(rank-based relevance + exact Jaccard), so the greedy argmax cannot
wobble.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT30: dict = {}
ORACLE_EXT30: dict = {}


# ---------------------------------------------------------------------------
# holt_forecast — level+trend smoothing with h-step forecast
# ---------------------------------------------------------------------------

_HF_DAY_NS = 86_400_000_000_000
_HF_ALPHA_E3 = 300   # level smoothing (0.3)
_HF_BETA_E3 = 200    # trend smoothing (0.2)
_HF_H = 7            # forecast horizon (days)


def q_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear smoothing over the DAILY value sum per event type,
    then a {_HF_H}-day-ahead forecast f_h = level + h * trend — the
    trend-aware successor to ewma_report (EWMA flattens a ramp; Holt
    follows it). h = 0 rows carry the final smoothed level.

    Recurrence on the e3-cents lattice, floored each step (exactly
    reproducible — the kaplan_meier fold discipline):
      l_t = ({_HF_ALPHA_E3} * y_t * 1000
             + {1000 - _HF_ALPHA_E3} * (l + b)) div 1000
      b_t = ({_HF_BETA_E3} * (l_t - l)
             + {1000 - _HF_BETA_E3} * b) div 1000
    zero-trend seed (l_0 = y_0 * 1000, b_0 = 0; the EWMA zero-seed
    convention, bias documented). Both engines truncate integer div
    toward zero (probed on negatives — trends go negative).

    Scale shape: the corpus reduces via ONE combinable (type, day)
    aggregate; the fold runs over the CALENDAR-BOUNDED day array in a
    single in-plan aggregate() per type; forecasts explode from the
    final 1-row-per-type state. No windows, no driver loop.
    """
    e = _t(spark, sf_dir, "events")
    days = (e.select("event_type",
                     F.expr(f"ts_ns div {_HF_DAY_NS}").alias("day"),
                     F.expr("CAST(round(value * 100) AS BIGINT)")
                     .alias("v_c"))
            .groupBy("event_type", "day")
            .agg(F.sum("v_c").alias("y")))
    a1 = 1000 - _HF_ALPHA_E3
    b1 = 1000 - _HF_BETA_E3
    folded = (days.groupBy("event_type").agg(
        F.array_sort(F.collect_list(F.struct("day", "y"))).alias("arr"))
        .select("event_type", F.expr(f"""
            aggregate(
              arr,
              named_struct('i', CAST(0 AS BIGINT),
                           'l', CAST(0 AS BIGINT),
                           'b', CAST(0 AS BIGINT)),
              (acc, x) -> IF(acc.i = 0,
                named_struct('i', CAST(1 AS BIGINT),
                             'l', x.y * 1000, 'b', CAST(0 AS BIGINT)),
                named_struct('i', acc.i + 1,
                  'l', ({_HF_ALPHA_E3} * x.y * 1000
                        + {a1} * (acc.l + acc.b)) div 1000,
                  'b', ({_HF_BETA_E3}
                        * (({_HF_ALPHA_E3} * x.y * 1000
                            + {a1} * (acc.l + acc.b)) div 1000 - acc.l)
                        + {b1} * acc.b) div 1000)))
            """).alias("st")))
    return (folded.select(
        "event_type",
        F.explode(F.expr(f"sequence(0, {_HF_H})")).alias("h"),
        F.col("st.l").alias("l"), F.col("st.b").alias("b"))
        .select("event_type", F.col("h").cast("bigint").alias("h"),
                F.expr("(l + h * b) div 1000").cast("bigint")
                .alias("forecast_c"))
        .orderBy("event_type", "h"))


ORACLE_HOLT = f"""
WITH e AS (
  SELECT event_type, epoch_ns(ts) // {_HF_DAY_NS} AS day,
         CAST(round(value * 100) AS BIGINT) AS v_c
  FROM events
), days AS (
  SELECT event_type, day, CAST(sum(v_c) AS BIGINT) AS y,
         row_number() OVER (PARTITION BY event_type ORDER BY day)
           AS rn
  FROM e GROUP BY 1, 2
), rec AS (
  WITH RECURSIVE r(event_type, rn, l, b) AS (
    SELECT event_type, rn, y * 1000, CAST(0 AS BIGINT)
    FROM days WHERE rn = 1
    UNION ALL
    SELECT d.event_type, d.rn,
           ({_HF_ALPHA_E3} * d.y * 1000
            + {1000 - _HF_ALPHA_E3} * (r.l + r.b)) // 1000,
           ({_HF_BETA_E3} * (({_HF_ALPHA_E3} * d.y * 1000
              + {1000 - _HF_ALPHA_E3} * (r.l + r.b)) // 1000 - r.l)
            + {1000 - _HF_BETA_E3} * r.b) // 1000
    FROM r JOIN days d
      ON d.event_type = r.event_type AND d.rn = r.rn + 1
  )
  SELECT * FROM r
), fin AS (
  SELECT event_type, l, b,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY rn DESC) AS rk
  FROM rec
)
SELECT f.event_type, CAST(h.h AS BIGINT) AS h,
       CAST((f.l + h.h * f.b) // 1000 AS BIGINT) AS forecast_c
FROM fin f, unnest(range(0, {_HF_H} + 1)) AS h(h)
WHERE f.rk = 1
ORDER BY f.event_type, h
"""


# ---------------------------------------------------------------------------
# partition_advisor — physical-design candidate scoring
# ---------------------------------------------------------------------------

_PA_MIN_NDV = 4
_PA_MAX_NDV = 10000
_PA_SKEW_MAX_E6 = 500000


def q_partition_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Score candidate partition columns for the orders table
    (priority, status, order month): distinct partition count,
    rows-per-partition, and max-partition skew — then a verdict:
    'ok' needs ndv in [{_PA_MIN_NDV}, {_PA_MAX_NDV}] (too few
    partitions can't parallelize or prune; too many makes small
    files) and top-partition share <= {_PA_SKEW_MAX_E6} ppm (a
    skewed partition recreates the straggler it was meant to kill).
    The question every warehouse onboarding answers by hand, as a
    query.

    Scale shape: the three candidates stack through ONE in-row
    explode (the gini_gain single-scan shape — no union of three base
    scans), then one combinable (candidate, value) count; per-
    candidate stats reduce from that grid. All-integer verdicts.
    """
    o = _t(spark, sf_dir, "orders")
    stacked = o.select(F.explode(F.array(
        F.struct(F.lit("o_orderpriority").alias("cand"),
                 F.col("o_orderpriority").alias("val")),
        F.struct(F.lit("o_orderstatus").alias("cand"),
                 F.col("o_orderstatus").alias("val")),
        F.struct(F.lit("order_month").alias("cand"),
                 F.date_format("o_orderdate", "yyyy-MM")
                 .alias("val")))).alias("s")) \
        .select("s.cand", "s.val")
    grid = stacked.groupBy("cand", "val").agg(
        F.count(F.lit(1)).alias("c"))
    stats = grid.groupBy("cand").agg(
        F.count(F.lit(1)).alias("ndv"),
        F.sum("c").alias("n"),
        F.max("c").alias("max_c"))
    return (stats.select(
        "cand",
        F.col("ndv").cast("bigint").alias("ndv"),
        F.col("n").cast("bigint").alias("n_rows"),
        F.expr("n div ndv").cast("bigint").alias("rows_per_part"),
        F.expr("(1000000 * CAST(max_c AS DECIMAL(38,0))) div n")
        .cast("bigint").alias("top_share_e6"),
        F.when((F.col("ndv") >= _PA_MIN_NDV)
               & (F.col("ndv") <= _PA_MAX_NDV)
               & (F.expr("(1000000 * CAST(max_c AS DECIMAL(38,0)))"
                         " div n") <= _PA_SKEW_MAX_E6), "ok")
        .when(F.col("ndv") < _PA_MIN_NDV, "too_few_partitions")
        .when(F.col("ndv") > _PA_MAX_NDV, "too_many_partitions")
        .otherwise("skewed").alias("verdict"))
        .orderBy("cand"))


ORACLE_PARTITION_ADVISOR = f"""
WITH stacked AS (
  SELECT 'o_orderpriority' AS cand, o_orderpriority AS val FROM orders
  UNION ALL
  SELECT 'o_orderstatus', o_orderstatus FROM orders
  UNION ALL
  SELECT 'order_month', strftime(o_orderdate, '%Y-%m') FROM orders
), grid AS (
  SELECT cand, val, count(*) AS c FROM stacked GROUP BY 1, 2
), stats AS (
  SELECT cand, count(*) AS ndv, sum(c) AS n, max(c) AS max_c
  FROM grid GROUP BY 1
)
SELECT cand,
       CAST(ndv AS BIGINT) AS ndv,
       CAST(n AS BIGINT) AS n_rows,
       CAST(n // ndv AS BIGINT) AS rows_per_part,
       CAST((1000000 * CAST(max_c AS HUGEINT)) // n AS BIGINT)
         AS top_share_e6,
       CASE
         WHEN ndv >= {_PA_MIN_NDV} AND ndv <= {_PA_MAX_NDV}
          AND (1000000 * CAST(max_c AS HUGEINT)) // n
                <= {_PA_SKEW_MAX_E6} THEN 'ok'
         WHEN ndv < {_PA_MIN_NDV} THEN 'too_few_partitions'
         WHEN ndv > {_PA_MAX_NDV} THEN 'too_many_partitions'
         ELSE 'skewed'
       END AS verdict
FROM stats
ORDER BY cand
"""


# ---------------------------------------------------------------------------
# mmr_diversify — greedy diversity re-ranking of a retrieval pool
# ---------------------------------------------------------------------------

_MMR_TERMS = ("spark", "join", "stream")
_MMR_POOL = 30
_MMR_K = 10
_MMR_LAMBDA_E6 = 700000


def q_mmr_diversify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance: from a {_MMR_POOL}-doc candidate
    pool for the fixed query {_MMR_TERMS}, greedily select
    {_MMR_K} docs maximizing
      mmr = lambda * rel - (1 - lambda) * max_sim_to_selected
    (lambda = {_MMR_LAMBDA_E6} ppm) — the de-duplicating stage after
    retrieval: rerank_topk improves precision, MMR removes the
    near-identical results that waste the user's top slots.

    ALL-integer lattice (the greedy argmax cannot wobble): relevance
    is rank-based, rel_e6 = lambda * (POOL - rank + 1) * 1e6 div
    POOL; redundancy is exact token Jaccard between candidate
    distinct-token sets, sim_e6 = 1e6 * |A inter B| div |A union B|;
    ties break to the pool index (= best retrieval rank). The argmax
    packs (mmr + 1e6) * 64 + (63 - idx) into one BIGINT so both
    engines compare identically.

    Scale shape (two-stage retrieval contract): the corpus appears
    ONLY in the candidate stage (query-term tf via pruned explode ->
    TakeOrdered top-{_MMR_POOL}) and the pool token semi-join; the
    greedy loop folds over the {_MMR_POOL}-row pool in ONE in-row
    aggregate() (Spark) / a recursive CTE (oracle) — selection cost
    is POOL^2 * K, corpus-independent.
    """
    d = _t(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.lower("text"))
    tf = (d.select("doc_id", F.explode(toks).alias("term"))
          .filter(F.col("term").isin(*_MMR_TERMS))
          .groupBy("doc_id")
          .agg(F.count(F.lit(1)).alias("rel_tf")))
    pool = (tf.orderBy(F.desc("rel_tf"), "doc_id").limit(_MMR_POOL)
            .localCheckpoint())
    w = Window.orderBy(F.desc("rel_tf"), "doc_id")
    ranked = pool.select("doc_id",
                         F.row_number().over(w).alias("rank"))
    ptoks = (d.join(F.broadcast(ranked), "doc_id")
             .select("doc_id", "rank",
                     F.array_distinct(toks).alias("ts")))
    a = ptoks.alias("a")
    b = ptoks.alias("b")
    sims = (a.join(b, F.col("a.rank") < F.col("b.rank"))
            .select(F.col("a.rank").alias("ra"),
                    F.col("b.rank").alias("rb"),
                    F.expr("(1000000 * size(array_intersect(a.ts, b.ts)))"
                           " div size(array_union(a.ts, b.ts))")
                    .alias("sim_e6")))
    one = (ranked.groupBy().agg(
        F.array_sort(F.collect_list(F.struct("rank", "doc_id")))
        .alias("pool"))
        .join(sims.groupBy().agg(
            F.collect_list(F.struct("ra", "rb", "sim_e6"))
            .alias("sims"))))
    lam = _MMR_LAMBDA_E6
    lam1 = 1000000 - _MMR_LAMBDA_E6
    off = 2_000_000_000_000   # > max |mmr| (e12 lattice): packed >= 0
    # fold state = array of PACKED winners; each step computes the
    # argmax ONCE: packed = (mmr_e12 + off) * 64 + (63 - rank), so
    # bigger mmr wins and, on ties, the smaller pool rank (= better
    # retrieval rank); selected ranks recover as 63 - packed % 64.
    folded = one.select(F.posexplode(F.expr(f"""
        aggregate(
          sequence(1, {_MMR_K}),
          CAST(array() AS ARRAY<BIGINT>),
          (acc, step) -> array_append(acc, array_max(transform(
            filter(pool, p -> NOT array_contains(
              transform(acc, s -> 63 - s % 64), p.rank)),
            p -> ((CAST({lam} AS BIGINT) * ({_MMR_POOL} - p.rank + 1) * 1000000
                   div {_MMR_POOL})
                  - CAST({lam1} AS BIGINT) * coalesce(array_max(transform(
                      filter(sims, s ->
                        (s.ra = p.rank AND array_contains(
                           transform(acc, x -> 63 - x % 64), s.rb))
                        OR (s.rb = p.rank AND array_contains(
                           transform(acc, x -> 63 - x % 64), s.ra))),
                      s -> s.sim_e6)), CAST(0 AS BIGINT))
                  + {off}) * 64 + (63 - p.rank)))))""")
        ).alias("pos", "packed"))
    # decode by JOINING the rank back to the 30-row pool frame — an
    # in-plan pool[idx] subscript intermittently evaluated against a
    # phantom empty-array row under the noop-write codegen path
    # (observed at sf0.1: INVALID_ARRAY_INDEX on a 0-element pool);
    # the broadcast equi-join cannot be speculatively mis-evaluated
    decoded = folded.select(
        (F.col("pos") + 1).cast("bigint").alias("step"),
        F.expr("63 - packed % 64").alias("rank"),
        F.expr(f"((packed div 64 - {off}) div 1000000)")
        .cast("bigint").alias("mmr_e6"))
    return (decoded.join(F.broadcast(ranked), "rank")
            .select("step", F.col("doc_id").cast("bigint").alias("doc_id"),
                    "mmr_e6")
            .orderBy("step"))


def _oracle_mmr() -> str:
    lam = _MMR_LAMBDA_E6
    lam1 = 1000000 - _MMR_LAMBDA_E6
    terms = ", ".join(repr(t) for t in _MMR_TERMS)
    return rf"""
WITH tf AS MATERIALIZED (
  SELECT doc_id, count(*) AS rel_tf
  FROM (SELECT doc_id, unnest(list_filter(
          string_split_regex(lower(text), '\s+'), x -> x <> ''))
          AS term FROM documents)
  WHERE term IN ({terms})
  GROUP BY doc_id
), ranked AS MATERIALIZED (
  SELECT doc_id, row_number() OVER (ORDER BY rel_tf DESC, doc_id)
           AS rank
  FROM tf ORDER BY rel_tf DESC, doc_id LIMIT {_MMR_POOL}
), ptoks AS MATERIALIZED (
  SELECT r.doc_id, r.rank,
         list_distinct(list_filter(
           string_split_regex(lower(d.text), '\s+'), x -> x <> ''))
           AS ts
  FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
), sims AS MATERIALIZED (
  SELECT a.rank AS ra, b.rank AS rb,
         (1000000 * len(list_intersect(a.ts, b.ts)))
           // len(list_distinct(list_concat(a.ts, b.ts))) AS sim_e6
  FROM ptoks a JOIN ptoks b ON a.rank < b.rank
), simlist AS MATERIALIZED (
  -- one list row: correlated scalar subqueries inside a DuckDB
  -- recursive CTE evaluated nondeterministically empty (observed:
  -- same query, different step-2/3 scores run to run); a pure
  -- list_filter/list_max expression over this list is stable and
  -- mirrors the Spark fold exactly
  SELECT list(struct_pack(ra := ra, rb := rb, s := sim_e6)) AS sl
  FROM sims
), greedy AS (
  WITH RECURSIVE g(step, sel, doc_id, mmr_e6) AS (
    SELECT 1, [CAST(p.rank AS INT)], p.doc_id, p.mmr_e6
    FROM (
      SELECT r.rank, r.doc_id,
             ({lam} * ({_MMR_POOL} - r.rank + 1) * 1000000)
               // {_MMR_POOL} AS mmr_e6
      FROM ranked r
      ORDER BY mmr_e6 DESC, r.rank LIMIT 1) p
    UNION ALL
    SELECT g.step + 1, list_append(g.sel, CAST(c.rank AS INT)),
           c.doc_id, c.mmr_e6
    FROM g, simlist, LATERAL (
      SELECT r.rank, r.doc_id,
             ({lam} * ({_MMR_POOL} - r.rank + 1) * 1000000)
               // {_MMR_POOL}
             - {lam1} * coalesce(list_max(list_transform(list_filter(
                 simlist.sl,
                 x -> (x.ra = r.rank
                       AND list_contains(g.sel, CAST(x.rb AS INT)))
                   OR (x.rb = r.rank
                       AND list_contains(g.sel, CAST(x.ra AS INT)))),
                 x -> x.s)), 0) AS mmr_e6
      FROM ranked r
      WHERE NOT list_contains(g.sel, CAST(r.rank AS INT))
      ORDER BY mmr_e6 DESC, r.rank LIMIT 1) c
    WHERE g.step < {_MMR_K}
  )
  SELECT * FROM g
)
SELECT CAST(step AS BIGINT) AS step,
       CAST(doc_id AS BIGINT) AS doc_id,
       CAST(mmr_e6 // 1000000 AS BIGINT) AS mmr_e6
FROM greedy
ORDER BY step
"""


ORACLE_MMR = _oracle_mmr()


QUERIES_EXT30.update({
    "holt_forecast": q_holt_forecast,
    "partition_advisor": q_partition_advisor,
    "mmr_diversify": q_mmr_diversify,
})
ORACLE_EXT30.update({
    "holt_forecast": ORACLE_HOLT,
    "partition_advisor": ORACLE_PARTITION_ADVISOR,
    "mmr_diversify": ORACLE_MMR,
})
