"""Catalog extension 13 (round 8, late wave 2). Robust statistics and
training-pipeline planning ops:

  winsorize_report        per-group winsorized (p05/p95-clamped) means
                          via exact order statistics on the value
                          lattice — the outlier-robust mean zscore/MAD
                          flag rows for
  theil_sen_trend         Theil-Sen robust slope per event type: the
                          exact lower-median of all pairwise
                          daily-mean slopes (OLS twin:
                          trend_regression; this one shrugs at the
                          outliers OLS chases)
  bootstrap_ci            deterministic Poisson-bootstrap confidence
                          bands for per-type means: B hash-derived
                          resample replicates, no RNG state anywhere
  length_bucket_batching  pow-2 length-bucketed batch plan with exact
                          padding-waste accounting — the dynamic-
                          batching cousin of sequence_pack's first-fit
  compaction_plan         small-file compaction sizing per month
                          partition over key-striped "files" — which
                          partitions need rewrite, how many outputs
  domain_affinity_score   DSIR-style domain scoring: rank docs by how
                          much their token mix matches a target source
                          vs the rest of the corpus (the mix_plan
                          upweighting signal, per document)

Reference parity: none of these exist in the reference (its analytics
stop at groupby reports — SURVEY §2 A4); they are the training-data /
lakehouse operations the build brief mandates as first-class.

Cross-engine determinism (SURVEY 4.4): every statistic rides an
integer lattice. Signed-division hazard: Spark `div` truncates toward
zero while DuckDB `//` floors, so they disagree on negative numerators
— theil_sen_trend therefore computes floor(a/b) on BOTH engines via
the positive-offset identity (a + K*b) div b - K with K sized so the
shifted numerator is always positive (slopes here are bounded by the
value domain, K = 1e9 covers 100x headroom). Order statistics select
by cumulative counts over the bounded VALUE DOMAIN (v_e2 <= ~56k
distinct), never by a corpus-length sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT13: dict = {}
ORACLE_EXT13: dict = {}


# ---------------------------------------------------------------------------
# winsorize_report — p05/p95-clamped robust means per event type
# ---------------------------------------------------------------------------


def q_winsorize_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean per event type: clamp values at the exact p05 /
    p95 order statistics, then average — the robust location estimate
    a metrics pipeline reports next to the raw mean when zscore_outliers
    / anomaly_mad show heavy tails. Thresholds are the k-th order
    statistics with k = max(1, floor(q*n)) — exact, not approximate,
    and identical on both engines because selection goes through
    integer cumulative counts.

    Scale shape: the corpus reduces to (type, v_e2) counts first —
    the value DOMAIN is bounded (~56k distinct cents here; any fixed
    sensor/price domain at 100 TB), so the cumulative-count window is
    partitioned by type over domain-sized input, never corpus-sized
    (the skew_report lesson, honored by construction). Thresholds are
    a |types|-row broadcast back onto the scan; the final clamp+mean
    is one map-side-combinable aggregate.
    """
    e = (_t(spark, sf_dir, "events")
         .select("event_type",
                 F.expr("CAST(round(value * 100) AS BIGINT)")
                 .alias("v_e2")))
    counts = e.groupBy("event_type", "v_e2").agg(
        F.count(F.lit(1)).alias("c"))
    n = counts.groupBy("event_type").agg(F.sum("c").alias("n"))
    wspec = (Window.partitionBy("event_type").orderBy("v_e2")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = counts.withColumn("cum", F.sum("c").over(wspec))
    thr = (cum.join(F.broadcast(n), "event_type")
           .groupBy("event_type")
           .agg(F.min(F.when(
                F.expr("cum >= greatest(1, (5 * n) div 100)"),
                F.col("v_e2"))).alias("lo_e2"),
                F.min(F.when(
                    F.expr("cum >= greatest(1, (95 * n) div 100)"),
                    F.col("v_e2"))).alias("hi_e2")))
    return (e.join(F.broadcast(thr), "event_type")
            .select("event_type", "v_e2", "lo_e2", "hi_e2",
                    F.expr("least(greatest(v_e2, lo_e2), hi_e2)")
                    .alias("w_e2"))
            .groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_events"),
                 F.max("lo_e2").alias("lo_e2"),
                 F.max("hi_e2").alias("hi_e2"),
                 F.expr("CAST(10000 * CAST(sum(v_e2) AS DECIMAL(38,0))"
                        " div count(*) AS BIGINT)")
                 .alias("raw_mean_e6"),
                 F.expr("CAST(10000 * CAST(sum(w_e2) AS DECIMAL(38,0))"
                        " div count(*) AS BIGINT)")
                 .alias("winsor_mean_e6"))
            .orderBy("event_type"))


ORACLE_WINSORIZE = """
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v_e2
  FROM events
), counts AS (
  SELECT event_type, v_e2, CAST(count(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
), n AS (
  SELECT event_type, CAST(sum(c) AS BIGINT) AS n FROM counts GROUP BY 1
), cum AS (
  SELECT event_type, v_e2,
         CAST(sum(c) OVER (PARTITION BY event_type ORDER BY v_e2
                           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
  FROM counts
), thr AS (
  SELECT cum.event_type,
         min(CASE WHEN cum >= greatest(1, (5 * n) // 100)
                  THEN v_e2 END) AS lo_e2,
         min(CASE WHEN cum >= greatest(1, (95 * n) // 100)
                  THEN v_e2 END) AS hi_e2
  FROM cum JOIN n USING (event_type) GROUP BY 1
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(lo_e2) AS BIGINT) AS lo_e2,
       CAST(max(hi_e2) AS BIGINT) AS hi_e2,
       CAST((10000 * sum(v_e2)) // count(*) AS BIGINT) AS raw_mean_e6,
       CAST((10000 * sum(least(greatest(v_e2, lo_e2), hi_e2)))
            // count(*) AS BIGINT) AS winsor_mean_e6
FROM e JOIN thr USING (event_type)
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# theil_sen_trend — robust median-of-slopes trend per event type
# ---------------------------------------------------------------------------

_TS_DAY_NS = 86400000000000  # ns per day
_TS_K = 1000000000           # positive-offset for signed floor-div


def q_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen trend per event type: the exact lower-median of all
    pairwise slopes between daily mean values — the robust alternative
    to trend_regression's OLS slope (one bad day moves OLS; the median
    of C(days,2) slopes doesn't). Slopes are e6-lattice integers via
    the positive-offset floor identity (module docstring): both
    engines compute floor(100*(m2-m1)/(d2-d1)) exactly even for
    negative deltas, where Spark `div`/DuckDB `//` would otherwise
    disagree on rounding direction.

    Scale shape: the corpus collapses to |types| x |days| daily means
    FIRST (one map-side-combinable aggregate); the pair join and the
    median window run over C(days, 2) rows per type — day count is the
    OBSERVATION WINDOW (30 here; ~3650 for a decade), bounded by the
    calendar, not the corpus, so the per-type window input is
    corpus-independent by construction.
    """
    e = (_t(spark, sf_dir, "events")
         .select("event_type",
                 F.expr(f"ts_ns div {_TS_DAY_NS}").alias("day"),
                 F.expr("CAST(round(value * 100) AS BIGINT)")
                 .alias("v_e2")))
    daily = (e.groupBy("event_type", "day")
             .agg(F.expr("CAST(100 * CAST(sum(v_e2) AS DECIMAL(38,0))"
                         " div count(*) AS BIGINT)").alias("m_e4")))
    d1 = daily.select("event_type", F.col("day").alias("da"),
                      F.col("m_e4").alias("ma"))
    d2 = daily.select(F.col("event_type").alias("et2"),
                      F.col("day").alias("db"), F.col("m_e4").alias("mb"))
    pairs = (d1.join(d2, (d1.event_type == d2.et2) & (d1.da < d2.db))
             .select("event_type", "da", "db",
                     F.expr(f"(100 * (mb - ma) + {_TS_K} * (db - da))"
                            f" div (db - da) - {_TS_K}")
                     .alias("slope_e6")))
    wrn = Window.partitionBy("event_type").orderBy("slope_e6", "da", "db")
    wcnt = Window.partitionBy("event_type")
    med = (pairs.withColumn("rn", F.row_number().over(wrn))
           .withColumn("n_pairs", F.count(F.lit(1)).over(wcnt))
           .filter(F.expr("rn = (n_pairs + 1) div 2")))
    ndays = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_days"))
    return (med.join(F.broadcast(ndays), "event_type")
            .select("event_type", "n_days", "n_pairs",
                    F.col("slope_e6").alias("median_slope_e6"))
            .orderBy("event_type"))


ORACLE_THEIL_SEN = f"""
WITH e AS (
  SELECT event_type, epoch_ns(ts) // {_TS_DAY_NS} AS day,
         CAST(round(value * 100) AS BIGINT) AS v_e2
  FROM events
), daily AS (
  SELECT event_type, day,
         CAST((100 * sum(v_e2)) // count(*) AS BIGINT) AS m_e4
  FROM e GROUP BY 1, 2
), pairs AS (
  SELECT a.event_type, a.day AS da, b.day AS db,
         CAST((100 * (b.m_e4 - a.m_e4) + {_TS_K} * (b.day - a.day))
              // (b.day - a.day) - {_TS_K} AS BIGINT) AS slope_e6
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day < b.day
), med AS (
  SELECT event_type, slope_e6,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope_e6, da, db) AS rn,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
), nd AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM daily GROUP BY 1
)
SELECT event_type, n_days, CAST(n_pairs AS BIGINT) AS n_pairs,
       slope_e6 AS median_slope_e6
FROM med JOIN nd USING (event_type)
WHERE rn = (n_pairs + 1) // 2
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# bootstrap_ci — deterministic Poisson-bootstrap mean CI per event type
# ---------------------------------------------------------------------------

_BC_REPS = 16
# Poisson(1) CDF on the e6 lattice: P(X<=k) floors
_BC_P = (367879, 735758, 919698, 981011, 996340)


def q_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence band for the per-type mean value:
    B = {_BC_REPS} resample replicates where each row's multiplicity in
    replicate b is Poisson(1)-distributed but DETERMINISTIC — drawn by
    thresholding the md5(event_id:b) uniform against the Poisson CDF
    on an e6 integer lattice (the weighted_sample hashing convention;
    no RNG state, so the result is partitioning- and retry-invariant,
    which a resumable 100 TB job requires). Reports min / max / mean
    of the replicate means — the spread IS the sampling uncertainty.

    Scale shape: the B-way explode is a constant {_BC_REPS}x map-side
    blow-up (no shuffle grows); replicate means are one combinable
    groupBy to |types| x B partials; the CI collapse is |types| x B ->
    |types|. This is the classic distributed bootstrap: never
    materialize a resample, only hash-weights.
    """
    b = F.explode(F.sequence(F.lit(1), F.lit(_BC_REPS))).alias("b")
    u = (F.conv(F.substring(F.md5(F.concat_ws(
        ":", F.col("event_id").cast("string"), F.col("b").cast("string"))),
        1, 13), 16, 10).cast("bigint") % 1000000)
    w = (F.when(u < _BC_P[0], 0).when(u < _BC_P[1], 1)
         .when(u < _BC_P[2], 2).when(u < _BC_P[3], 3)
         .when(u < _BC_P[4], 4).otherwise(5))
    e = (_t(spark, sf_dir, "events")
         .select("event_id", "event_type",
                 F.expr("CAST(round(value * 100) AS BIGINT)").alias("v_e2"),
                 b)
         .select("event_type", "b", w.cast("bigint").alias("w"),
                 F.col("v_e2")))
    rep = (e.groupBy("event_type", "b")
           .agg(F.expr("CAST(10000 * CAST(sum(w * v_e2) AS DECIMAL(38,0))"
                       " div greatest(sum(w), 1) AS BIGINT)")
                .alias("mean_e6")))
    return (rep.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n_reps"),
                 F.expr("sum(mean_e6) div count(*)")
                 .alias("mean_of_means_e6"),
                 F.min("mean_e6").alias("ci_lo_e6"),
                 F.max("mean_e6").alias("ci_hi_e6"))
            .orderBy("event_type"))


ORACLE_BOOTSTRAP_CI = f"""
WITH reps AS (
  SELECT unnest(generate_series(1, {_BC_REPS})) AS b
), e AS (
  SELECT event_type, b,
         CAST(round(value * 100) AS BIGINT) AS v_e2,
         CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR) || ':'
                                  || CAST(b AS VARCHAR)), 1, 13))
              AS BIGINT) % 1000000 AS u
  FROM events, reps
), wts AS (
  SELECT event_type, b, v_e2,
         CAST(CASE WHEN u < {_BC_P[0]} THEN 0
                   WHEN u < {_BC_P[1]} THEN 1
                   WHEN u < {_BC_P[2]} THEN 2
                   WHEN u < {_BC_P[3]} THEN 3
                   WHEN u < {_BC_P[4]} THEN 4
                   ELSE 5 END AS BIGINT) AS w
  FROM e
), rep AS (
  SELECT event_type, b,
         CAST((10000 * sum(w * v_e2)) // greatest(sum(w), 1) AS BIGINT)
           AS mean_e6
  FROM wts GROUP BY 1, 2
)
SELECT event_type, CAST(count(*) AS BIGINT) AS n_reps,
       CAST(sum(mean_e6) // count(*) AS BIGINT) AS mean_of_means_e6,
       CAST(min(mean_e6) AS BIGINT) AS ci_lo_e6,
       CAST(max(mean_e6) AS BIGINT) AS ci_hi_e6
FROM rep GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# length_bucket_batching — pow-2 bucketed batch plan with padding waste
# ---------------------------------------------------------------------------

_LB_BUDGET = 4096  # token budget per batch (padded tokens)
_LB_CAPS = (16, 32, 64, 128, 256, 512, 1024, 2048, 4096)


def _lb_cap_sql(col: str) -> str:
    branches = " ".join(
        f"WHEN {col} <= {c} THEN {c}" for c in _LB_CAPS)
    return f"CASE {branches} ELSE {_LB_CAPS[-1] * 2} END"


def q_length_bucket_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed batch plan: assign each document to the
    smallest power-of-2 token capacity that holds it, then size
    fixed-token-budget batches per bucket and account the padding
    waste exactly — the dynamic-batching strategy training loops use
    when attention cost scales with the PADDED length (sequence_pack
    concatenates to kill padding; bucketing BOUNDS it instead and
    keeps examples intact). Per bucket: docs, real tokens, padded
    tokens, e6 waste share, and the number of batches at a
    {_LB_BUDGET}-padded-token budget (rows per batch = budget div cap).

    Scale shape: the capacity ladder is a pure CASE expression (no
    log2 float), the plan is ONE map-side-combinable groupBy to
    |ladder| rows. Nothing shuffles but <= {len(_LB_CAPS) + 1}
    partials per partition.
    """
    d = _t(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.lower("text"))
    base = d.select(F.size(toks).cast("bigint").alias("n_tok"))
    base = base.select("n_tok",
                       F.expr(_lb_cap_sql("n_tok")).cast("bigint")
                       .alias("bucket_cap"))
    return (base.groupBy("bucket_cap")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum(F.expr(f"least(n_tok, {_LB_CAPS[-1] * 2})"))
                 .alias("total_tokens"))
            .withColumn("padded_tokens",
                        F.expr("n_docs * bucket_cap"))
            .withColumn("pad_waste_e6",
                        F.expr("CAST(1000000 * CAST(padded_tokens"
                               " - total_tokens AS DECIMAL(38,0))"
                               " div padded_tokens AS BIGINT)"))
            .withColumn("rows_per_batch",
                        F.expr(f"greatest(1, {_LB_BUDGET} div bucket_cap)"))
            .withColumn("n_batches",
                        F.expr("(n_docs + rows_per_batch - 1)"
                               " div rows_per_batch"))
            .drop("rows_per_batch")
            .orderBy("bucket_cap"))


ORACLE_LENGTH_BUCKET = rf"""
WITH base AS (
  SELECT CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS BIGINT) AS n_tok
  FROM documents
), b AS (
  SELECT n_tok, CAST({_lb_cap_sql('n_tok')} AS BIGINT) AS bucket_cap
  FROM base
), agg AS (
  SELECT bucket_cap, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(least(n_tok, {_LB_CAPS[-1] * 2})) AS BIGINT)
           AS total_tokens
  FROM b GROUP BY 1
)
SELECT bucket_cap, n_docs, total_tokens,
       n_docs * bucket_cap AS padded_tokens,
       (1000000 * (n_docs * bucket_cap - total_tokens))
         // (n_docs * bucket_cap) AS pad_waste_e6,
       (n_docs + greatest(1, {_LB_BUDGET} // bucket_cap) - 1)
         // greatest(1, {_LB_BUDGET} // bucket_cap) AS n_batches
FROM agg ORDER BY bucket_cap
"""


# ---------------------------------------------------------------------------
# compaction_plan — small-file compaction sizing per month partition
# ---------------------------------------------------------------------------

_CP_STRIPE = 512       # orderkeys per "file" stripe
_CP_ROW_BYTES = 64     # bytes-per-row proxy
_CP_TARGET = 16384     # target output file size (bytes proxy)


def q_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner over a month-partitioned table
    whose "files" are orderkey stripes ({_CP_STRIPE} keys per stripe —
    the merkle_diff key-range file model): per month partition, count
    files, flag the under-target ones, and size the rewrite — how many
    compacted outputs replace them (ceil(small_bytes / target)) and
    the file-count reduction. This is the OPTIMIZE/rewrite sizing scan
    every lakehouse maintenance job runs before touching data; zorder_
    layout picks the ORDER within files, THIS picks which partitions
    get rewritten at all.

    Scale shape: two nested combinable group-bys — rows -> (month,
    stripe) file stats -> month report. Shuffles carry file counts
    (|months| x stripes-touched), never rows; no windows, no joins.
    """
    o = (_t(spark, sf_dir, "orders")
         .select(F.date_format("o_orderdate", "yyyy-MM").alias("month"),
                 F.expr(f"o_orderkey div {_CP_STRIPE}").alias("stripe")))
    files = (o.groupBy("month", "stripe")
             .agg((F.count(F.lit(1)) * _CP_ROW_BYTES).alias("bytes")))
    return (files.groupBy("month")
            .agg(F.count(F.lit(1)).alias("n_files"),
                 F.sum("bytes").alias("total_bytes"),
                 F.sum((F.col("bytes") < _CP_TARGET).cast("bigint"))
                 .alias("n_small_files"),
                 F.sum(F.when(F.col("bytes") < _CP_TARGET,
                              F.col("bytes")).otherwise(F.lit(0)))
                 .alias("small_bytes"))
            .withColumn("planned_outputs",
                        F.expr(f"(small_bytes + {_CP_TARGET} - 1)"
                               f" div {_CP_TARGET}"))
            .withColumn("files_saved",
                        F.expr("n_small_files - planned_outputs"))
            .orderBy("month"))


ORACLE_COMPACTION = f"""
WITH files AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         o_orderkey // {_CP_STRIPE} AS stripe,
         CAST(count(*) * {_CP_ROW_BYTES} AS BIGINT) AS bytes
  FROM orders GROUP BY 1, 2
), agg AS (
  SELECT month, CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(bytes) AS BIGINT) AS total_bytes,
         CAST(sum(CASE WHEN bytes < {_CP_TARGET} THEN 1 ELSE 0 END)
              AS BIGINT) AS n_small_files,
         CAST(sum(CASE WHEN bytes < {_CP_TARGET} THEN bytes ELSE 0 END)
              AS BIGINT) AS small_bytes
  FROM files GROUP BY 1
)
SELECT month, n_files, total_bytes, n_small_files, small_bytes,
       (small_bytes + {_CP_TARGET} - 1) // {_CP_TARGET}
         AS planned_outputs,
       n_small_files - (small_bytes + {_CP_TARGET} - 1) // {_CP_TARGET}
         AS files_saved
FROM agg ORDER BY month
"""


# ---------------------------------------------------------------------------
# domain_affinity_score — DSIR-style target-domain document scoring
# ---------------------------------------------------------------------------

_DA_TARGET = "src0"
_DA_TOPK = 25


def q_domain_affinity_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domain-affinity scoring (the DSIR idea on an exact lattice):
    score every document by how much its token mass sits in tokens the
    TARGET source ('{_DA_TARGET}') over-uses relative to the rest of
    the corpus. Per token, weight_e6 = target share - rest share (each
    an e6 integer div — signed values arise only by SUBTRACTION, never
    signed division, so both engines agree); a doc's affinity is the
    sum of its tokens' weights. Top-{_DA_TOPK} docs = what importance
    resampling would upweight to grow the target domain.

    Scale shape: the corpus tokenizes ONCE into postings; token
    frequencies aggregate map-side to |vocab| rows; the two corpus
    totals ride a 1-row broadcast cross join (bm25's stats shape,
    BNLJ-allowlisted); the weight table joins back to postings keyed
    on token (|vocab| << corpus; Spark broadcasts it when small,
    shuffle-joins when not — both correct); doc scores are one
    combinable groupBy and a TakeOrdered top-K. No windows.
    """
    d = _t(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.lower("text"))
    postings = d.select("doc_id", "source",
                        F.explode(toks).alias("term"))
    freq = (postings.groupBy("term")
            .agg(F.sum((F.col("source") == _DA_TARGET).cast("bigint"))
                 .alias("tgt_c"),
                 F.sum((F.col("source") != _DA_TARGET).cast("bigint"))
                 .alias("rest_c")))
    totals = freq.agg(F.sum("tgt_c").alias("t_tgt"),
                      F.sum("rest_c").alias("t_rest"))
    weights = (freq.crossJoin(F.broadcast(totals))
               .select("term",
                       F.expr("CAST(1000000 * CAST(tgt_c AS"
                              " DECIMAL(38,0)) div greatest(t_tgt, 1)"
                              " - 1000000 * CAST(rest_c AS"
                              " DECIMAL(38,0)) div greatest(t_rest, 1)"
                              " AS BIGINT)")
                       .alias("w_e6")))
    return (postings.join(weights, "term")
            .groupBy("doc_id", "source")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("w_e6").alias("affinity_e6"))
            .orderBy(F.desc("affinity_e6"), "doc_id")
            .limit(_DA_TOPK))


ORACLE_DOMAIN_AFFINITY = rf"""
WITH postings AS (
  SELECT doc_id, source,
         unnest(list_filter(string_split_regex(lower(text), '\s+'),
                            t -> t <> '')) AS term
  FROM documents
), freq AS (
  SELECT term,
         CAST(sum(CASE WHEN source = '{_DA_TARGET}' THEN 1 ELSE 0 END)
              AS BIGINT) AS tgt_c,
         CAST(sum(CASE WHEN source <> '{_DA_TARGET}' THEN 1 ELSE 0 END)
              AS BIGINT) AS rest_c
  FROM postings GROUP BY term
), totals AS (
  SELECT CAST(sum(tgt_c) AS BIGINT) AS t_tgt,
         CAST(sum(rest_c) AS BIGINT) AS t_rest
  FROM freq
), weights AS (
  SELECT term,
         (1000000 * tgt_c) // greatest(t_tgt, 1)
           - (1000000 * rest_c) // greatest(t_rest, 1) AS w_e6
  FROM freq, totals
)
SELECT doc_id, source, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(w_e6) AS BIGINT) AS affinity_e6
FROM postings JOIN weights USING (term)
GROUP BY 1, 2 ORDER BY affinity_e6 DESC, doc_id LIMIT {_DA_TOPK}
"""


QUERIES_EXT13.update({
    "winsorize_report": q_winsorize_report,
    "theil_sen_trend": q_theil_sen_trend,
    "bootstrap_ci": q_bootstrap_ci,
    "length_bucket_batching": q_length_bucket_batching,
    "compaction_plan": q_compaction_plan,
    "domain_affinity_score": q_domain_affinity_score,
})
ORACLE_EXT13.update({
    "winsorize_report": ORACLE_WINSORIZE,
    "theil_sen_trend": ORACLE_THEIL_SEN,
    "bootstrap_ci": ORACLE_BOOTSTRAP_CI,
    "length_bucket_batching": ORACLE_LENGTH_BUCKET,
    "compaction_plan": ORACLE_COMPACTION,
    "domain_affinity_score": ORACLE_DOMAIN_AFFINITY,
})
