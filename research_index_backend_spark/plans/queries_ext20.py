"""Catalog extension 20 (round 9, wave 1). Retrieval fusion, link
prediction, and ML feature-prep statistics:

  hybrid_rrf_fusion      reciprocal-rank fusion of a lexical (rarity-
                         weighted term-frequency) ranking and a vector
                         (cosine) ranking — the hybrid-search shape
                         every RAG / retrieval pipeline runs; exact on
                         the 1e6 div (k + rank) integer lattice
  link_prediction_ra     resource-allocation link prediction over the
                         part co-purchase hub core: score non-adjacent
                         pairs by sum(1e6 div deg(z)) over common
                         neighbors z — the classic RA index, exact by
                         construction
  target_encode_smoothed smoothed target (mean) encoding of a
                         categorical feature with an m-sample prior —
                         the leakage-safe encoder every tabular-ML
                         pipeline ships; exact rational via the
                         cross-multiplied closed form
  ks_test_drift          exact two-sample Kolmogorov-Smirnov statistic
                         of each event type's value distribution vs
                         the rest — distribution drift with a real
                         test statistic, integer-exact via
                         cross-multiplied CDF counts
  gini_gain_report       Gini impurity gain of the order-status label
                         for each candidate categorical feature — the
                         decision-tree split criterion as a feature-
                         selection report, exact on a documented
                         floor-division ladder

Reference parity: none in the reference (pandas+Cypher ETL); these are
the brief's LLM-pipeline / ML-prep extension families (hybrid retrieval,
graph link prediction, feature engineering, drift monitoring).

Cross-engine determinism (SURVEY 4.4): every compared value is integer
arithmetic both engines share — RRF contributions are 1000000 div
(60 + rank) with rank from a total order (quantized sims + id
tie-break); RA weights are 1000000 div deg; target encodings and KS
statistics are cross-multiplied rationals floored once through
decimal(38,0)/HUGEINT intermediates; Gini terms are a two-level floor
ladder ((1e6*sk) div nk, then div n) applied identically in both
engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT20: dict = {}
ORACLE_EXT20: dict = {}


# ---------------------------------------------------------------------------
# hybrid_rrf_fusion — reciprocal-rank fusion of lexical + vector retrieval
# ---------------------------------------------------------------------------

_RRF_K = 60        # the standard RRF damping constant
_RRF_POOL = 30     # per-arm candidate pool (top-N from each ranker)
_RRF_TOPK = 10     # fused results reported
_RRF_TERMS = ("vector", "hash", "window")   # lexical query
_RRF_QVEC = 0      # query = embedding of doc 0 (vec_id = doc_id, 1:1)


def q_hybrid_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: fuse a lexical ranking (rarity-weighted tf over
    the query terms, the ctfidf integer ladder) with a vector ranking
    (exact cosine vs doc {_RRF_QVEC}'s embedding) via reciprocal-rank
    fusion: rrf(d) = sum over arms of 1e6 div ({_RRF_K} + rank_arm(d)),
    contributions only from each arm's top-{_RRF_POOL} pool. Ranks are
    engine-stable (lexical: exact integer score desc, doc_id; vector:
    round(sim, 9) desc, id — the ann catalog rule), so the fused
    integer scores are exact. The query document itself is excluded
    from both arms.

    Scale shape: the lexical arm prunes the tokenize explode to query
    terms before any shuffle (the bm25_topk shape) and pools via
    orderBy+limit (TakeOrdered — no global window over scored docs);
    the vector arm is brute_force_topk's broadcast-query + salted
    two-stage top-k; fusion is a full-outer join of two {_RRF_POOL}-row
    tables. The only global windows rank the POST-LIMIT pools
    ({_RRF_POOL} rows by construction — GLOBAL_WINDOW_ALLOWED).
    """
    from ..operators.ann import brute_force_topk
    d = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")
    toks = whitespace_tokens(F.lower("text"))
    tf = (d.filter(F.col("doc_id") != _RRF_QVEC)
          .select("doc_id", F.explode(toks).alias("term"))
          .filter(F.col("term").isin(*_RRF_TERMS))
          .groupBy("doc_id", "term")
          .agg(F.count(F.lit(1)).alias("tf")))
    dft = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    nd = d.agg(F.count(F.lit(1)).alias("n_docs"))
    lex_pool = (tf.join(F.broadcast(dft), "term")
                .crossJoin(F.broadcast(nd))
                .groupBy("doc_id")
                .agg(F.sum(F.expr("tf * (n_docs + 1 - df)"))
                     .alias("lex_score"))
                .orderBy(F.desc("lex_score"), "doc_id")
                .limit(_RRF_POOL))
    lex = lex_pool.withColumn(
        "lex_rank", F.row_number().over(
            Window.orderBy(F.desc("lex_score"), "doc_id")))
    sem = (brute_force_topk(emb, emb.filter(F.col("vec_id") == _RRF_QVEC),
                            k=_RRF_POOL)
           .select(F.col("neighbor_id").alias("doc_id"),
                   F.col("rnk").alias("sem_rank")))
    fused = (lex.select("doc_id", "lex_rank")
             .join(sem, "doc_id", "full_outer")
             .select("doc_id",
                     F.coalesce("lex_rank", F.lit(0)).cast("bigint")
                     .alias("lex_rank"),
                     F.coalesce("sem_rank", F.lit(0)).cast("bigint")
                     .alias("sem_rank")))
    rrf = F.expr(
        f"CASE WHEN lex_rank > 0 THEN 1000000 div ({_RRF_K} + lex_rank)"
        f" ELSE 0 END"
        f" + CASE WHEN sem_rank > 0 THEN 1000000 div ({_RRF_K} + sem_rank)"
        f" ELSE 0 END")
    return (fused.withColumn("rrf_e6", rrf.cast("bigint"))
            .orderBy(F.desc("rrf_e6"), "doc_id")
            .limit(_RRF_TOPK)
            .select("doc_id", "lex_rank", "sem_rank", "rrf_e6"))


ORACLE_RRF = rf"""
WITH tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS term
        FROM documents WHERE doc_id <> {_RRF_QVEC})
  WHERE term IN ('vector', 'hash', 'window')
  GROUP BY 1, 2
), dft AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
), nd AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents
), lex_pool AS (
  SELECT doc_id, sum(tf * (n_docs + 1 - df)) AS lex_score
  FROM tf JOIN dft USING (term), nd
  GROUP BY doc_id
), lex AS (
  SELECT doc_id, lex_rank FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY lex_score DESC, doc_id) AS lex_rank
    FROM lex_pool)
  WHERE lex_rank <= {_RRF_POOL}
), sem AS (
  SELECT doc_id, sem_rank FROM (
    SELECT vec_id AS doc_id,
           row_number() OVER (
             ORDER BY round(list_cosine_similarity(
               embedding,
               (SELECT embedding FROM embeddings
                WHERE vec_id = {_RRF_QVEC})), 9) DESC,
             vec_id) AS sem_rank
    FROM embeddings WHERE vec_id <> {_RRF_QVEC})
  WHERE sem_rank <= {_RRF_POOL}
), fused AS (
  SELECT coalesce(l.doc_id, s.doc_id) AS doc_id,
         CAST(coalesce(l.lex_rank, 0) AS BIGINT) AS lex_rank,
         CAST(coalesce(s.sem_rank, 0) AS BIGINT) AS sem_rank
  FROM lex l FULL OUTER JOIN sem s ON l.doc_id = s.doc_id
)
SELECT doc_id, lex_rank, sem_rank,
       CAST(CASE WHEN lex_rank > 0
                 THEN 1000000 // ({_RRF_K} + lex_rank) ELSE 0 END
          + CASE WHEN sem_rank > 0
                 THEN 1000000 // ({_RRF_K} + sem_rank) ELSE 0 END
            AS BIGINT) AS rrf_e6
FROM fused
ORDER BY rrf_e6 DESC, doc_id
LIMIT {_RRF_TOPK}
"""


# ---------------------------------------------------------------------------
# link_prediction_ra — resource-allocation index over the co-purchase core
# ---------------------------------------------------------------------------

_LP_CORE = 600     # hub-core size: bounds candidate volume at K^2
_LP_DEGCAP = 300   # common-neighbor degree cap: bounds wedges at K*cap^2
_LP_TOPK = 20      # predicted links reported


def q_link_prediction_ra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction on the part co-purchase graph (parts adjacent
    when some order contains both): for every NON-adjacent pair in the
    top-{_LP_CORE} hub core, the resource-allocation index
    ra(x, y) = sum over common neighbors z of 1e6 div deg(z) — the
    RA variant of Adamic-Adar whose 1/deg weight is exact on the
    integer lattice (no log). Common neighbors are restricted to
    deg(z) <= {_LP_DEGCAP} (super-hub z contribute ~0 weight by the
    index's own 1/deg design; the cap makes that explicit and bounds
    the wedge volume). Top-{_LP_TOPK} by (ra desc, common-neighbor
    count desc, x, y) — a total order, so the reported set is
    engine-stable without a rank column (the record_linkage shape).

    Scale shape: hub core via distributed TakeOrdered + two broadcast
    semi-joins (the graph_clustering_coeff machinery,
    queries_ext7.py:945); wedges through capped-degree middles only —
    sum_z min(deg, cap)^2 <= K*cap^2 regardless of corpus size; the
    anti-join against the (canonical u < v) edge set keeps predicted
    pairs genuinely new. Everything downstream of the first distinct
    is K-bounded.
    """
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    a = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("pa"))
    b = li.select(F.col("l_orderkey").alias("o"),
                  F.col("l_partkey").alias("pb"))
    edges_all = (a.join(b, "o")
                 .filter(F.col("pa") < F.col("pb"))
                 .select(F.col("pa").alias("u"), F.col("pb").alias("v"))
                 .distinct().localCheckpoint())
    nodes_all = (edges_all.select(F.col("u").alias("id"))
                 .unionAll(edges_all.select(F.col("v").alias("id"))))
    deg_all = nodes_all.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
    top = (deg_all.orderBy(F.col("deg").desc(), "id").limit(_LP_CORE)
           .select("id"))
    edges = (edges_all
             .join(F.broadcast(top.select(F.col("id").alias("u"))),
                   "u", "semi")
             .join(F.broadcast(top.select(F.col("id").alias("v"))),
                   "v", "semi")
             .select("u", "v").localCheckpoint())
    adj = (edges.select(F.col("u").alias("z"), F.col("v").alias("x"))
           .unionAll(edges.select(F.col("v").alias("z"),
                                  F.col("u").alias("x"))))
    deg = adj.groupBy("z").agg(F.count(F.lit(1)).alias("deg"))
    adjc = adj.join(deg.filter(F.col("deg") <= _LP_DEGCAP), "z")
    a1 = adjc.select("z", "x", "deg")
    a2 = adjc.select("z", F.col("x").alias("y"))
    wedges = a1.join(a2, "z").filter(F.col("x") < F.col("y"))
    cand = wedges.join(
        edges.select(F.col("u").alias("x"), F.col("v").alias("y")),
        ["x", "y"], "anti")
    return (cand.groupBy("x", "y")
            .agg(F.count(F.lit(1)).alias("cn"),
                 F.sum(F.expr("1000000 div deg")).alias("ra"))
            .orderBy(F.desc("ra"), F.desc("cn"), "x", "y")
            .limit(_LP_TOPK)
            .select("x", "y", F.col("cn").cast("bigint").alias("cn"),
                    F.col("ra").cast("bigint").alias("ra_e6")))


ORACLE_LINKPRED = f"""
WITH edges_all AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
  WHERE a.l_partkey < b.l_partkey
),
nodes_all AS (
  SELECT u AS id FROM edges_all UNION ALL SELECT v FROM edges_all
),
deg_all AS (SELECT id, count(*) AS deg FROM nodes_all GROUP BY id),
top AS (SELECT id FROM deg_all ORDER BY deg DESC, id LIMIT {_LP_CORE}),
edges AS (
  SELECT u, v FROM edges_all
  WHERE u IN (SELECT id FROM top) AND v IN (SELECT id FROM top)
),
adj AS (
  SELECT u AS z, v AS x FROM edges
  UNION ALL SELECT v AS z, u AS x FROM edges
),
deg AS (SELECT z, count(*) AS deg FROM adj GROUP BY z),
adjc AS (
  SELECT a.z, a.x, d.deg FROM adj a JOIN deg d ON a.z = d.z
  WHERE d.deg <= {_LP_DEGCAP}
),
wedges AS (
  SELECT a1.x, a2.x AS y, a1.deg
  FROM adjc a1 JOIN adjc a2 ON a1.z = a2.z
  WHERE a1.x < a2.x
),
cand AS (
  SELECT w.* FROM wedges w
  ANTI JOIN edges e ON w.x = e.u AND w.y = e.v
)
SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
       CAST(sum(1000000 // deg) AS BIGINT) AS ra_e6
FROM cand
GROUP BY x, y
ORDER BY ra_e6 DESC, cn DESC, x, y
LIMIT {_LP_TOPK}
"""


# ---------------------------------------------------------------------------
# target_encode_smoothed — m-sample-prior mean encoding of a categorical
# ---------------------------------------------------------------------------

_TE_M = 20   # prior strength (pseudo-observations of the global mean)


def q_target_encode_smoothed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Smoothed target encoding of c_mktsegment against order value:
    enc(cat) = (sum_cat + m * global_mean) / (n_cat + m) with m =
    {_TE_M} — the standard shrinkage encoder (micci-barreca) every
    tabular-ML pipeline ships. Exact rational: enc_cents =
    (gn*s + m*gs) div (gn*(n + m)) — one floor, cross-multiplied so
    the global mean never materializes as a float; shrink_e4 =
    (1e4*n) div (n + m) reports how far each segment moved toward the
    prior. decimal(38,0)/HUGEINT intermediates hold gn*s to ~1e31 at
    1e12 orders.

    Scale shape: one combinable aggregate per segment plus a 1-row
    global aggregate broadcast back (BNLJ-allowlisted 1-row cross) —
    map-side partial aggs, output = |segments| rows.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey",
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    j = (o.join(c, o.o_custkey == c.c_custkey)
         .select("c_mktsegment", "cents"))
    per = j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum(F.col("cents").cast("decimal(38,0)")).alias("s"))
    g = j.agg(F.count(F.lit(1)).cast("decimal(38,0)").alias("gn"),
              F.sum(F.col("cents").cast("decimal(38,0)")).alias("gs"))
    return (per.crossJoin(F.broadcast(g))
            .select(F.col("c_mktsegment").alias("segment"),
                    F.col("n").cast("bigint").alias("n_orders"),
                    F.expr("s div n").cast("bigint")
                    .alias("raw_mean_cents"),
                    F.expr(f"(gn * s + {_TE_M} * gs)"
                           f" div (gn * (n + {_TE_M}))").cast("bigint")
                    .alias("enc_cents"),
                    F.expr(f"(10000 * n) div (n + {_TE_M})").cast("bigint")
                    .alias("shrink_e4"))
            .orderBy("segment"))


ORACLE_TARGET_ENCODE = f"""
WITH j AS (
  SELECT c_mktsegment,
         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
  FROM orders JOIN customer ON o_custkey = c_custkey
),
per AS (
  SELECT c_mktsegment, CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(cents) AS HUGEINT) AS s
  FROM j GROUP BY 1
),
g AS (
  SELECT CAST(count(*) AS HUGEINT) AS gn,
         CAST(sum(cents) AS HUGEINT) AS gs
  FROM j
)
SELECT c_mktsegment AS segment,
       CAST(n AS BIGINT) AS n_orders,
       CAST(s // n AS BIGINT) AS raw_mean_cents,
       CAST((gn * s + {_TE_M} * gs) // (gn * (n + {_TE_M})) AS BIGINT)
         AS enc_cents,
       CAST((10000 * n) // (n + {_TE_M}) AS BIGINT) AS shrink_e4
FROM per, g
ORDER BY segment
"""


# ---------------------------------------------------------------------------
# ks_test_drift — exact two-sample KS statistic, each type vs the rest
# ---------------------------------------------------------------------------

def _cdf_lattice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared CDF machinery for the rank/CDF test statistics (KS here,
    Mann-Whitney in ext21): events reduce map-side to (type, cents)
    counts over the BOUNDED value domain, the |types|-row dim crosses
    the distinct-value spine (BNLJ-allowlisted, the gapfill shape),
    and per-type inclusive CDFs come from windows partitioned by type.
    Global quantities derive from the per-type CDFs (g = sum of ft
    over types at each v; tv = count at v over all types) — no global
    window, no second corpus pass.

    Columns: event_type, v (cents), c (count of type at v, 0-filled),
    ft (inclusive per-type cum count), g (inclusive global cum count),
    tv (total count at v over all types), nt (type total), nn (grand
    total)."""
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("v"))
    # cnt feeds FOUR consumers (value spine, type dim, fill join,
    # per-type totals) — materialize the domain-bounded reduction once
    # or the corpus scan re-executes per consumer (8 scans measured)
    cnt = (e.groupBy("event_type", "v").agg(F.count(F.lit(1)).alias("c"))
           .localCheckpoint())
    lattice = (cnt.select("v").distinct()
               .crossJoin(F.broadcast(cnt.select("event_type").distinct())))
    filled = (lattice.join(cnt, ["event_type", "v"], "left")
              .select("event_type", "v",
                      F.coalesce("c", F.lit(0)).alias("c")))
    wcum = (Window.partitionBy("event_type").orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = filled.withColumn("ft", F.sum("c").over(wcum))
    gt = cum.groupBy("v").agg(F.sum("ft").alias("g"),
                              F.sum("c").alias("tv"))
    per_n = cnt.groupBy("event_type").agg(F.sum("c").alias("nt"))
    tot = per_n.agg(F.sum("nt").alias("nn"))
    return (cum.join(gt, "v")
            .join(F.broadcast(per_n), "event_type")
            .crossJoin(F.broadcast(tot)))


def q_ks_test_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test: for each event
    type t, D = max over values v of |F_t(v) - F_rest(v)|, evaluated
    at every observed value (the KS breakpoint set). Integer-exact by
    cross-multiplication: diff(v) = |ft(v)*(N-nt) - (G(v)-ft(v))*nt|
    on HUGEINT/decimal(38,0), d_e6 = (1e6 * max diff) div (nt*(N-nt)),
    plus the value where the gap peaks (min v tie-break) — the
    monitoring statistic distribution_drift's PSI bins approximate.

    Scale shape: the corpus reduces map-side to (type, cents) counts
    over the BOUNDED value domain (cents in [1, 49002] by the events
    schema); the lattice is that domain crossed with the |types|-row
    dim (BNLJ-allowlisted, the gapfill_ffill spine shape); CDFs are
    windows partitioned by type over domain-bounded rows; F_rest comes
    from G(v) = sum over types of F_t(v) — no second pass over the
    corpus and no global window anywhere.
    """
    x = _cdf_lattice(spark, sf_dir).select(
        "event_type", "v", "nt", "nn",
        F.expr("abs(CAST(ft AS DECIMAL(38,0)) * (nn - nt)"
               " - CAST(g - ft AS DECIMAL(38,0)) * nt)").alias("diff"))
    w = Window.partitionBy("event_type").orderBy(F.desc("diff"), "v")
    return (x.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select("event_type",
                    F.col("nt").cast("bigint").alias("n_type"),
                    (F.col("nn") - F.col("nt")).cast("bigint")
                    .alias("n_rest"),
                    F.expr("(1000000 * diff) div (CAST(nt AS DECIMAL(38,0))"
                           " * (nn - nt))").cast("bigint").alias("d_e6"),
                    F.col("v").alias("ks_at_e2"))
            .orderBy("event_type"))


ORACLE_KS = """
WITH e AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS v FROM events
),
cnt AS (
  SELECT event_type, v, CAST(count(*) AS BIGINT) AS c
  FROM e GROUP BY 1, 2
),
lattice AS (
  SELECT t.event_type, vv.v
  FROM (SELECT DISTINCT event_type FROM cnt) t,
       (SELECT DISTINCT v FROM cnt) vv
),
filled AS (
  SELECT l.event_type, l.v, coalesce(c.c, 0) AS c
  FROM lattice l LEFT JOIN cnt c
    ON l.event_type = c.event_type AND l.v = c.v
),
cum AS (
  SELECT event_type, v,
         sum(c) OVER (PARTITION BY event_type ORDER BY v
                      ROWS UNBOUNDED PRECEDING) AS ft
  FROM filled
),
gt AS (SELECT v, sum(ft) AS g FROM cum GROUP BY v),
per_n AS (SELECT event_type, sum(c) AS nt FROM cnt GROUP BY 1),
tot AS (SELECT sum(nt) AS nn FROM per_n),
x AS (
  SELECT c.event_type, c.v,
         CAST(p.nt AS HUGEINT) AS nt, CAST(t.nn AS HUGEINT) AS nn,
         abs(CAST(c.ft AS HUGEINT) * (t.nn - p.nt)
             - CAST(g.g - c.ft AS HUGEINT) * p.nt) AS diff
  FROM cum c JOIN gt g USING (v)
  JOIN per_n p ON c.event_type = p.event_type, tot t
)
SELECT event_type,
       CAST(nt AS BIGINT) AS n_type,
       CAST(nn - nt AS BIGINT) AS n_rest,
       CAST((1000000 * diff) // (nt * (nn - nt)) AS BIGINT) AS d_e6,
       CAST(v AS BIGINT) AS ks_at_e2
FROM (SELECT *, row_number() OVER (PARTITION BY event_type
                                   ORDER BY diff DESC, v) AS rk
      FROM x)
WHERE rk = 1
ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# gini_gain_report — decision-tree split quality per candidate feature
# ---------------------------------------------------------------------------

def q_gini_gain_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini impurity gain of the o_orderstatus label for three
    candidate categorical features (o_orderpriority, c_mktsegment,
    n_name) — the CART split criterion as a feature-selection report.
    Exact floor ladder, applied identically in both engines:
    parent_e6 = 1e6 - (1e6 * sum cl^2) div n^2; per feature value k,
    ik = (1e6 * sum_label c^2) div nk, child_e6 = 1e6 - (sum_k ik)
    div n; gain_e6 = parent_e6 - child_e6 (the floors make gain a
    deterministic integer, within 1e-6-per-value of the real rational).

    Scale shape: the joined base scans once — the three feature
    columns stack via an in-row explode of (feature, value) structs
    (no triple scan); counts reduce map-side to |features| x |values|
    x |labels| rows (bounded vocabularies); the parent side is a
    |labels|-row aggregate folded to 1 row and cross-joined back
    (BNLJ-allowlisted). decimal(38,0) holds 1e6 * sum(c^2) ~ 1e36 at
    1e12 orders.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_custkey", F.col("o_orderstatus").alias("label"),
        F.col("o_orderpriority").alias("prio"))
    c = _t(spark, sf_dir, "customer").select(
        "c_custkey", "c_mktsegment", "c_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    j = (o.join(c, o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .select("label", "prio", F.col("c_mktsegment").alias("seg"),
                 F.col("n_name").alias("nat")))
    stacked = (j.select("label", F.explode(F.array(
        F.struct(F.lit("o_orderpriority").alias("feature"),
                 F.col("prio").alias("fval")),
        F.struct(F.lit("c_mktsegment").alias("feature"),
                 F.col("seg").alias("fval")),
        F.struct(F.lit("n_name").alias("feature"),
                 F.col("nat").alias("fval")))).alias("fx"))
        .select("label", "fx.feature", "fx.fval"))
    cnt = (stacked.groupBy("feature", "fval", "label")
           .agg(F.count(F.lit(1)).alias("c")))
    per_val = cnt.groupBy("feature", "fval").agg(
        F.sum("c").cast("decimal(38,0)").alias("nk"),
        F.sum(F.col("c").cast("decimal(38,0)") * F.col("c")).alias("sk"))
    child = (per_val
             .select("feature", "nk",
                     F.expr("(1000000 * sk) div nk").alias("ik"))
             .groupBy("feature")
             .agg(F.sum("ik").alias("sik"), F.sum("nk").alias("n"),
                  F.count(F.lit(1)).alias("n_values")))
    lab = j.groupBy("label").agg(F.count(F.lit(1)).alias("cl"))
    par = lab.agg(
        F.sum("cl").cast("decimal(38,0)").alias("pn"),
        F.sum(F.col("cl").cast("decimal(38,0)") * F.col("cl")).alias("ps"))
    out = (child.crossJoin(F.broadcast(par))
           .select("feature",
                   F.col("n_values").cast("bigint").alias("n_values"),
                   F.expr("1000000 - (1000000 * ps) div (pn * pn)")
                   .cast("bigint").alias("parent_gini_e6"),
                   F.expr("1000000 - sik div n").cast("bigint")
                   .alias("child_gini_e6")))
    return (out.withColumn(
        "gain_e6",
        (F.col("parent_gini_e6") - F.col("child_gini_e6")).cast("bigint"))
        .orderBy(F.desc("gain_e6"), "feature"))


ORACLE_GINI_GAIN = """
WITH j AS (
  SELECT o_orderstatus AS label, o_orderpriority AS prio,
         c_mktsegment AS seg, n_name AS nat
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
stacked AS (
  SELECT label, 'o_orderpriority' AS feature, prio AS fval FROM j
  UNION ALL
  SELECT label, 'c_mktsegment', seg FROM j
  UNION ALL
  SELECT label, 'n_name', nat FROM j
),
cnt AS (
  SELECT feature, fval, label, CAST(count(*) AS HUGEINT) AS c
  FROM stacked GROUP BY 1, 2, 3
),
per_val AS (
  SELECT feature, fval, sum(c) AS nk, sum(c * c) AS sk
  FROM cnt GROUP BY 1, 2
),
child AS (
  SELECT feature, sum((1000000 * sk) // nk) AS sik, sum(nk) AS n,
         CAST(count(*) AS BIGINT) AS n_values
  FROM per_val GROUP BY 1
),
lab AS (
  SELECT label, CAST(count(*) AS HUGEINT) AS cl FROM j GROUP BY 1
),
par AS (SELECT sum(cl) AS pn, sum(cl * cl) AS ps FROM lab),
out AS (
  SELECT feature, n_values,
         CAST(1000000 - (1000000 * ps) // (pn * pn) AS BIGINT)
           AS parent_gini_e6,
         CAST(1000000 - sik // n AS BIGINT) AS child_gini_e6
  FROM child, par
)
SELECT feature, n_values, parent_gini_e6, child_gini_e6,
       CAST(parent_gini_e6 - child_gini_e6 AS BIGINT) AS gain_e6
FROM out
ORDER BY gain_e6 DESC, feature
"""


QUERIES_EXT20.update({
    "hybrid_rrf_fusion": q_hybrid_rrf_fusion,
    "link_prediction_ra": q_link_prediction_ra,
    "target_encode_smoothed": q_target_encode_smoothed,
    "ks_test_drift": q_ks_test_drift,
    "gini_gain_report": q_gini_gain_report,
})
ORACLE_EXT20.update({
    "hybrid_rrf_fusion": ORACLE_RRF,
    "link_prediction_ra": ORACLE_LINKPRED,
    "target_encode_smoothed": ORACLE_TARGET_ENCODE,
    "ks_test_drift": ORACLE_KS,
    "gini_gain_report": ORACLE_GINI_GAIN,
})
