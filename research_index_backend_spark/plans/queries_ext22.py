"""Catalog extension 22 (round 9, wave 3). Training-data curation and
behavioral analytics:

  coreset_kcenter       greedy k-center coreset over the embedding
                        table (farthest-point traversal): the classic
                        diverse-subset selector for training-data
                        curation / active learning, with the coverage
                        radius reported after every pick — iterative
                        ML kept oracle-checkable on the kmeans_embed
                        integer milli-lattice
  rfm_segments          recency/frequency/monetary quintile
                        segmentation of users with exact equi-depth
                        quintile cuts per dimension — the marketing /
                        cohort workhorse
  conversion_lag_report exact p50/p90/p99 of the signup-to-first-
                        purchase lag via banded two-level cumulative
                        counts — funnel latency, the time dimension
                        event_funnel's counts omit
  loo_source_impact     leave-one-source-out data valuation: how the
                        corpus mean tokens-per-doc moves when each
                        source is excluded — the cheapest Shapley-
                        flavored "which crawl is dragging the mix"
                        report

Reference parity: none in the reference; the brief's LLM-pipeline
curation / sampling / analytics extension families.

Cross-engine determinism (SURVEY 4.4): coreset distances are int64
squared L2 on the milli-quantized lattice (the kmeans_embed rule) with
(mind desc, vec_id) argmax total order; quintile/percentile cuts are
k-th order statistics selected through integer cumulative counts (the
winsorize machinery); every reported mean divides once through the
shared positive-operand floor on decimal(38,0)/HUGEINT intermediates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT22: dict = {}
ORACLE_EXT22: dict = {}


# ---------------------------------------------------------------------------
# coreset_kcenter — greedy farthest-point coreset with radius curve
# ---------------------------------------------------------------------------

_KC_K = 6   # centers selected (deterministic seed + 5 greedy picks)


def _d2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)


def q_coreset_kcenter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center (farthest-point) coreset of the embedding
    table: seed = the smallest vec_id, then {_KC_K - 1} rounds of
    "pick the point farthest from the selected set" — the 2-approx
    k-center selector used for diverse training-subset curation and
    coverage auditing. After each pick the COVERAGE RADIUS (max over
    points of min squared distance to the set) is reported — the
    decreasing radius curve is the quality certificate a coreset
    ships with.

    Oracle-checkable iterative ML (the kmeans_embed rule,
    queries_ext5.py:2351): vectors quantize to int64 milli-units, so
    every distance is exact integer arithmetic; the argmax order
    (mind desc, vec_id) is total; the DuckDB twin replays the
    identical trajectory through an unrolled CTE chain.

    Scale shape: the selected set is K 1-row broadcasts — each round
    is one map-side least(mind, d2-to-new-center) over the point
    partitions plus one TakeOrdered(1) and one 1-row max aggregate;
    the carried state localCheckpoints per round so round i never
    re-runs round i-1's scan. No shuffle of the corpus anywhere.
    """
    from .queries_ext5 import _km_quantize
    pts = _km_quantize(_t(spark, sf_dir, "embeddings")).localCheckpoint()
    seed = (pts.orderBy("vec_id").limit(1)
            .select(F.col("vec_id").alias("c_id"), F.col("v").alias("cv")))
    cur = (pts.crossJoin(F.broadcast(seed))
           .select("vec_id", "v",
                   _d2(F.col("v"), F.col("cv")).alias("mind"))
           .localCheckpoint())
    rows = [seed.select("c_id")
            .crossJoin(cur.agg(F.max("mind").alias("radius_d2")))
            .withColumn("pick", F.lit(1))]
    for r in range(2, _KC_K + 1):
        nxt = (cur.orderBy(F.desc("mind"), "vec_id").limit(1)
               .select(F.col("vec_id").alias("c_id"),
                       F.col("v").alias("cv")))
        cur = (cur.crossJoin(F.broadcast(nxt.select("cv")))
               .select("vec_id", "v",
                       F.least(F.col("mind"),
                               _d2(F.col("v"), F.col("cv")))
                       .alias("mind"))
               .localCheckpoint())
        rows.append(nxt.select("c_id")
                    .crossJoin(cur.agg(F.max("mind").alias("radius_d2")))
                    .withColumn("pick", F.lit(r)))
    out = rows[0]
    for fr in rows[1:]:
        out = out.unionByName(fr)
    return out.select(F.col("pick").cast("bigint").alias("pick"),
                      F.col("c_id").alias("vec_id"),
                      F.col("radius_d2").cast("bigint").alias("radius_d2")
                      ).orderBy("pick")


def _kc_d2_sql(a: str, b: str) -> str:
    return (f"list_reduce(list_transform(generate_series(1, length({a})),"
            f" i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])),"
            f" (x, y) -> x + y)")


def _kc_oracle() -> str:
    parts = ["""WITH q AS (
  SELECT vec_id,
         list_transform(embedding,
                        x -> CAST(round(CAST(x AS DOUBLE) * 1000)
                                  AS BIGINT)) AS v
  FROM embeddings
),
c1 AS (SELECT vec_id AS c_id, v AS cv FROM q ORDER BY vec_id LIMIT 1),
m1 AS (SELECT q.vec_id, q.v, """ + _kc_d2_sql("q.v", "c1.cv")
             + """ AS mind FROM q, c1),
r1 AS (SELECT CAST(1 AS BIGINT) AS pick, c1.c_id AS vec_id,
              CAST((SELECT max(mind) FROM m1) AS BIGINT) AS radius_d2
       FROM c1)"""]
    for r in range(2, _KC_K + 1):
        p, c = r - 1, r
        parts.append(f""",
c{c} AS (SELECT vec_id AS c_id, v AS cv FROM m{p}
        ORDER BY mind DESC, vec_id LIMIT 1),
m{c} AS (SELECT m{p}.vec_id, m{p}.v,
               least(m{p}.mind, {_kc_d2_sql(f'm{p}.v', f'c{c}.cv')}) AS mind
        FROM m{p}, c{c}),
r{c} AS (SELECT CAST({c} AS BIGINT) AS pick, c{c}.c_id AS vec_id,
               CAST((SELECT max(mind) FROM m{c}) AS BIGINT) AS radius_d2
        FROM c{c})""")
    union = "\nUNION ALL\n".join(
        f"SELECT * FROM r{r}" for r in range(1, _KC_K + 1))
    parts.append(f"\n{union}\nORDER BY pick")
    return "".join(parts)


ORACLE_KCENTER = _kc_oracle()


# ---------------------------------------------------------------------------
# rfm_segments — recency/frequency/monetary quintile segmentation
# ---------------------------------------------------------------------------

_RFM_DAY_NS = 86400000000000


def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per user, recency (days since last event,
    relative to the corpus max timestamp), frequency (event count) and
    monetary (value sum in whole dollars), each scored into exact
    equi-depth quintiles; output is the segment lattice (r_q, f_q,
    m_q) with user counts and mean monetary. Quintile cut k = the
    smallest v with cum >= max(1, k*n div 5) — the winsorize/equidepth
    order-statistic rule, identical in both engines. r_q = 1 means
    MOST RECENT (quintile of the days-since value).

    Scale shape: the corpus reduces to per-user aggregates (one
    shuffle); the three dimensions stack via an in-row explode and
    reduce to (dim, value) counts whose domains are bounded by USER
    BEHAVIOR, not corpus size (days since last visit, events per
    user, spend per user — adding users widens no domain), so the
    cumulative windows are partitioned by dim over behavior-bounded
    rows; cuts are a 3-row broadcast back; the segment lattice is at
    most 125 rows.
    """
    e = _t(spark, sf_dir, "events").select(
        "user_id", "ts_ns",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"))
    per_user = e.groupBy("user_id").agg(
        F.max("ts_ns").alias("last_ts"),
        F.count(F.lit(1)).alias("freq"),
        F.sum("cents").alias("mon_c"))
    gmax = per_user.agg(F.max("last_ts").alias("gmax"))
    pu = (per_user.crossJoin(F.broadcast(gmax))
          .select("user_id",
                  F.expr(f"(gmax - last_ts) div {_RFM_DAY_NS}")
                  .alias("recency"),
                  "freq",
                  F.expr("mon_c div 100").alias("mon_d"))
          .localCheckpoint())  # scored twice (stack + carry) — scan once
    stacked = pu.select(
        "user_id", F.explode(F.array(
            F.struct(F.lit("r").alias("dim"), F.col("recency").alias("val")),
            F.struct(F.lit("f").alias("dim"), F.col("freq").alias("val")),
            F.struct(F.lit("m").alias("dim"), F.col("mon_d").alias("val")),
        )).alias("x")).select("user_id", "x.dim", "x.val")
    counts = stacked.groupBy("dim", "val").agg(F.count(F.lit(1)).alias("c"))
    n = counts.groupBy("dim").agg(F.sum("c").alias("n"))
    wcum = (Window.partitionBy("dim").orderBy("val")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = counts.withColumn("cum", F.sum("c").over(wcum))
    cuts = (cum.join(F.broadcast(n), "dim")
            .groupBy("dim")
            .agg(*[F.min(F.when(
                F.expr(f"cum >= greatest(1, ({k} * n) div 5)"),
                F.col("val"))).alias(f"b{k}") for k in (1, 2, 3, 4)]))
    scored = (stacked.join(F.broadcast(cuts), "dim")
              .withColumn("q", F.lit(1)
                          + (F.col("val") > F.col("b1")).cast("int")
                          + (F.col("val") > F.col("b2")).cast("int")
                          + (F.col("val") > F.col("b3")).cast("int")
                          + (F.col("val") > F.col("b4")).cast("int")))
    user_q = scored.groupBy("user_id").agg(
        F.max(F.when(F.col("dim") == "r", F.col("q"))).alias("r_q"),
        F.max(F.when(F.col("dim") == "f", F.col("q"))).alias("f_q"),
        F.max(F.when(F.col("dim") == "m", F.col("q"))).alias("m_q"),
        F.max(F.when(F.col("dim") == "m", F.col("val"))).alias("mon_d"))
    return (user_q.groupBy("r_q", "f_q", "m_q")
            .agg(F.count(F.lit(1)).alias("n_users"),
                 F.sum(F.col("mon_d").cast("decimal(38,0)")).alias("sm"))
            .select(F.col("r_q").cast("bigint").alias("r_q"),
                    F.col("f_q").cast("bigint").alias("f_q"),
                    F.col("m_q").cast("bigint").alias("m_q"),
                    F.col("n_users").cast("bigint").alias("n_users"),
                    F.expr("sm div n_users").cast("bigint")
                    .alias("avg_monetary_d"))
            .orderBy("r_q", "f_q", "m_q"))


ORACLE_RFM = f"""
WITH e AS (
  SELECT user_id, epoch_ns(ts) AS ts_ns,
         CAST(round(value * 100) AS BIGINT) AS cents
  FROM events
),
per_user AS (
  SELECT user_id, max(ts_ns) AS last_ts,
         CAST(count(*) AS BIGINT) AS freq,
         CAST(sum(cents) AS BIGINT) AS mon_c
  FROM e GROUP BY 1
),
gmax AS (SELECT max(last_ts) AS gmax FROM per_user),
pu AS (
  SELECT user_id, (gmax - last_ts) // {_RFM_DAY_NS} AS recency,
         freq, mon_c // 100 AS mon_d
  FROM per_user, gmax
),
stacked AS (
  SELECT user_id, 'r' AS dim, recency AS val FROM pu
  UNION ALL SELECT user_id, 'f', freq FROM pu
  UNION ALL SELECT user_id, 'm', mon_d FROM pu
),
counts AS (
  SELECT dim, val, CAST(count(*) AS BIGINT) AS c
  FROM stacked GROUP BY 1, 2
),
n AS (SELECT dim, sum(c) AS n FROM counts GROUP BY 1),
cum AS (
  SELECT dim, val, c,
         sum(c) OVER (PARTITION BY dim ORDER BY val
                      ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts
),
cuts AS (
  SELECT cum.dim,
         min(CASE WHEN cum >= greatest(1, (1 * n.n) // 5)
                  THEN val END) AS b1,
         min(CASE WHEN cum >= greatest(1, (2 * n.n) // 5)
                  THEN val END) AS b2,
         min(CASE WHEN cum >= greatest(1, (3 * n.n) // 5)
                  THEN val END) AS b3,
         min(CASE WHEN cum >= greatest(1, (4 * n.n) // 5)
                  THEN val END) AS b4
  FROM cum JOIN n ON cum.dim = n.dim
  GROUP BY 1
),
scored AS (
  SELECT s.user_id, s.dim, s.val,
         1 + CAST(s.val > c.b1 AS INT) + CAST(s.val > c.b2 AS INT)
           + CAST(s.val > c.b3 AS INT) + CAST(s.val > c.b4 AS INT) AS q
  FROM stacked s JOIN cuts c ON s.dim = c.dim
),
user_q AS (
  SELECT user_id,
         max(CASE WHEN dim = 'r' THEN q END) AS r_q,
         max(CASE WHEN dim = 'f' THEN q END) AS f_q,
         max(CASE WHEN dim = 'm' THEN q END) AS m_q,
         max(CASE WHEN dim = 'm' THEN val END) AS mon_d
  FROM scored GROUP BY 1
)
SELECT CAST(r_q AS BIGINT) AS r_q, CAST(f_q AS BIGINT) AS f_q,
       CAST(m_q AS BIGINT) AS m_q,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(CAST(sum(mon_d) AS HUGEINT) // count(*) AS BIGINT)
         AS avg_monetary_d
FROM user_q
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# conversion_lag_report — exact funnel-latency percentiles
# ---------------------------------------------------------------------------

_CL_BAND = 512   # lag-minute band width for the two-level prefix


def q_conversion_lag_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact p50/p90/p99 (and mean) of the signup-to-first-purchase
    lag in minutes, over users whose first purchase follows their
    first signup — the latency dimension of event_funnel. Percentile
    k = the smallest lag with cum >= max(1, k*n div 100), selected
    through integer cumulative counts.

    Scale shape: first-signup / first-purchase are per-user min
    aggregates (one shuffle each); the lag table reduces to counts
    over the lag-minute domain, which is bounded by the TIMELINE (a
    year of minutes ~ 526k rows), not the corpus; the cumulative sum
    decomposes two-level exactly like gini_coefficient — a local
    window partitioned by {_CL_BAND}-minute band plus a prefix sum
    over the ~|domain|/{_CL_BAND}-row band table (the only global
    window, GLOBAL_WINDOW_ALLOWED). Output is one row.

    The lag-minute count table is checkpointed ONCE (bounded by the
    timeline domain) and the n/mean totals derive from it
    (sum(c), sum(lag_min*c)): the first cut re-ran the per-user min
    aggregates once per consumer — 6 events scans per run.
    """
    e = _t(spark, sf_dir, "events").select("user_id", "event_type", "ts_ns")
    s = (e.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts_ns").alias("s_ts")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select("user_id", "ts_ns")
         .join(s, "user_id")
         .filter(F.col("ts_ns") >= F.col("s_ts"))
         .groupBy("user_id").agg(F.min("ts_ns").alias("p_ts"),
                                 F.first("s_ts").alias("s_ts")))
    lag = p.select(F.expr("(p_ts - s_ts) div 60000000000").alias("lag_min"))
    counts = (lag.groupBy("lag_min").agg(F.count(F.lit(1)).alias("c"))
              .withColumn("band", F.expr(f"lag_min div {_CL_BAND}"))
              .localCheckpoint())
    w_local = (Window.partitionBy("band").orderBy("lag_min")
               .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    local = counts.withColumn("lcum", F.sum("c").over(w_local))
    bc = counts.groupBy("band").agg(F.sum("c").alias("bn"))
    w_band = (Window.orderBy("band")
              .rowsBetween(Window.unboundedPreceding, -1))
    prefix = bc.select(
        "band",
        F.coalesce(F.sum("bn").over(w_band), F.lit(0)).alias("before"))
    cum = (local.join(F.broadcast(prefix), "band")
           .select("lag_min", "c",
                   (F.col("before") + F.col("lcum")).alias("cum")))
    n = counts.agg(
        F.sum("c").alias("n"),
        F.sum(F.col("lag_min").cast("decimal(38,0)") * F.col("c"))
        .alias("s"))
    return (cum.crossJoin(F.broadcast(n))
            .agg(F.max("n").cast("bigint").alias("n_pairs"),
                 F.expr("CAST(max(s) div max(n) AS BIGINT)")
                 .alias("mean_lag_min"),
                 *[F.min(F.when(
                     F.expr(f"cum >= greatest(1, ({k} * n) div 100)"),
                     F.col("lag_min"))).cast("bigint").alias(f"p{k}_min")
                   for k in (50, 90, 99)]))


ORACLE_CONVERSION_LAG = """
WITH e AS (
  SELECT user_id, event_type, epoch_ns(ts) AS ts_ns FROM events
),
s AS (
  SELECT user_id, min(ts_ns) AS s_ts FROM e
  WHERE event_type = 'signup' GROUP BY 1
),
p AS (
  SELECT e.user_id, min(e.ts_ns) AS p_ts, min(s.s_ts) AS s_ts
  FROM e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'purchase' AND e.ts_ns >= s.s_ts
  GROUP BY 1
),
lag AS (SELECT (p_ts - s_ts) // 60000000000 AS lag_min FROM p),
counts AS (
  SELECT lag_min, CAST(count(*) AS BIGINT) AS c FROM lag GROUP BY 1
),
cum AS (
  SELECT lag_min,
         sum(c) OVER (ORDER BY lag_min ROWS UNBOUNDED PRECEDING) AS cum
  FROM counts
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(lag_min) AS HUGEINT) AS s
      FROM lag)
SELECT max(n.n) AS n_pairs,
       CAST(max(n.s) // max(n.n) AS BIGINT) AS mean_lag_min,
       CAST(min(CASE WHEN cum >= greatest(1, (50 * n.n) // 100)
                     THEN lag_min END) AS BIGINT) AS p50_min,
       CAST(min(CASE WHEN cum >= greatest(1, (90 * n.n) // 100)
                     THEN lag_min END) AS BIGINT) AS p90_min,
       CAST(min(CASE WHEN cum >= greatest(1, (99 * n.n) // 100)
                     THEN lag_min END) AS BIGINT) AS p99_min
FROM cum, n
"""


# ---------------------------------------------------------------------------
# loo_source_impact — leave-one-source-out corpus-mean delta
# ---------------------------------------------------------------------------

def q_loo_source_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data valuation, cheapest useful form: for each source, how the
    corpus mean tokens-per-doc moves when that source is excluded —
    mean_without_e4 = (1e4 * (T - T_k)) div (N - n_k) vs
    mean_with_e4 = (1e4 * T) div N, delta = the post-floor difference.
    A positive delta says removing the source RAISES mean length —
    the source is dragging the mix down. The Shapley-flavored report
    a corpus-mix owner reads before re-weighting (mix_plan decides
    the weights; this says why).

    Scale shape: one map-side tokens-per-doc projection, one
    combinable per-source aggregate, a 1-row corpus-totals fold
    broadcast back (BNLJ-allowlisted). decimal(38,0) holds 1e4 * T at
    any scale. Sources covering the whole corpus (N = n_k) are
    filtered — division guard, documented.
    """
    d = _t(spark, sf_dir, "documents")
    toks = F.size(whitespace_tokens(F.lower("text")))
    per = (d.select("source", toks.alias("tok"))
           .groupBy("source")
           .agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("nk"),
                F.sum(F.col("tok").cast("decimal(38,0)")).alias("tk")))
    g = per.agg(F.sum("nk").alias("n"), F.sum("tk").alias("t"))
    return (per.crossJoin(F.broadcast(g))
            .filter(F.expr("n > nk"))
            .select("source",
                    F.col("nk").cast("bigint").alias("n_docs"),
                    F.expr("(10000 * t) div n").cast("bigint")
                    .alias("mean_with_e4"),
                    F.expr("(10000 * (t - tk)) div (n - nk)").cast("bigint")
                    .alias("mean_without_e4"))
            .withColumn("delta_e4",
                        (F.col("mean_without_e4") - F.col("mean_with_e4"))
                        .cast("bigint"))
            .orderBy(F.desc("delta_e4"), "source"))


ORACLE_LOO = r"""
WITH per AS (
  SELECT source, CAST(count(*) AS HUGEINT) AS nk,
         CAST(sum(len(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> ''))) AS HUGEINT) AS tk
  FROM documents GROUP BY 1
),
g AS (SELECT sum(nk) AS n, sum(tk) AS t FROM per),
base AS (
  SELECT source, CAST(nk AS BIGINT) AS n_docs,
         CAST((10000 * t) // n AS BIGINT) AS mean_with_e4,
         CAST((10000 * (t - tk)) // (n - nk) AS BIGINT)
           AS mean_without_e4
  FROM per, g
  WHERE n > nk
)
SELECT source, n_docs, mean_with_e4, mean_without_e4,
       CAST(mean_without_e4 - mean_with_e4 AS BIGINT) AS delta_e4
FROM base
ORDER BY delta_e4 DESC, source
"""


QUERIES_EXT22.update({
    "coreset_kcenter": q_coreset_kcenter,
    "rfm_segments": q_rfm_segments,
    "conversion_lag_report": q_conversion_lag_report,
    "loo_source_impact": q_loo_source_impact,
})
ORACLE_EXT22.update({
    "coreset_kcenter": ORACLE_KCENTER,
    "rfm_segments": ORACLE_RFM,
    "conversion_lag_report": ORACLE_CONVERSION_LAG,
    "loo_source_impact": ORACLE_LOO,
})
