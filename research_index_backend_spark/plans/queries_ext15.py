"""Catalog extension 15 (round 8, late wave 4). Tokenizer economics,
index compression, and graph-ML sampling:

  tokenizer_fertility         words vs BPE-style pre-tokens per
                              language: fertility (subtokens/word) and
                              chars/subtoken on the e6/e3 lattice —
                              the budgeting table a multilingual
                              tokenizer review starts from
  postings_compression_report inverted-index delta-gap + varint size
                              model per document-frequency band — how
                              much the postings compress and where the
                              bytes live (the engineering counterpart
                              of build_inverted_index)
  graph_random_walk           deterministic 3-hop random walks over
                              the customer-part bipartite graph
                              (md5-derived step choices over ranked
                              adjacency) — node2vec-style walk
                              sampling with zero RNG state

Reference parity: none of these exist in the reference; they extend
the brief's LLM-pipeline (tokenizer/fertility), IR (index size), and
graph-sampling families.

Cross-engine determinism (SURVEY 4.4): fertility ratios are integer
`div` on e6/e3 lattices; varint byte counts and df bands come from
integer CASE ladders (no float log); walk steps hash
md5(seed:cur:step) onto [0, deg) and select the rank-(u+1) neighbor in
the (src, dst) total order — both engines compute the identical path.
The BPE pre-token regex is the shared BPE_PRETOKEN_PATTERN
(operators/textstats.py:41), already oracle-proven portable by
token_stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators.textstats import BPE_PRETOKEN_PATTERN, whitespace_tokens
from .queries import _t
from .queries_ext14 import _lg_ladder_sql

QUERIES_EXT15: dict = {}
ORACLE_EXT15: dict = {}


# ---------------------------------------------------------------------------
# tokenizer_fertility — words vs BPE pre-tokens per language
# ---------------------------------------------------------------------------


def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: whitespace words vs BPE-style
    pre-tokens (the shared GPT-2-ish pre-tokenizer split) and nonspace
    chars, with fertility_e6 = subtokens per word and chars-per-
    subtoken on the e3 lattice — the table that says which languages
    pay more tokens for the same text (the compute-budget face of
    token_stats, which reports per-DOC counts; this is the per-LANG
    economics).

    Scale shape: pure column expressions (regexp_count / size of
    regexp_extract_all) + one map-side-combinable groupBy on the tiny
    lang key; the corpus is scanned once and the exchange carries
    |languages| partial rows.
    """
    d = _t(spark, sf_dir, "documents")
    words = F.size(whitespace_tokens(F.lower("text")))
    subtoks = F.size(F.regexp_extract_all(
        F.col("text"), F.lit(BPE_PRETOKEN_PATTERN), 0))
    chars = F.length("text") - F.regexp_count("text", F.lit(r"\s"))
    per_doc = d.select("lang", words.cast("bigint").alias("w"),
                       subtoks.cast("bigint").alias("s"),
                       chars.cast("bigint").alias("c"))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("w").alias("total_words"),
                 F.sum("s").alias("total_subtokens"),
                 F.sum("c").alias("total_chars"))
            .withColumn("fertility_e6",
                        F.expr("CAST(1000000 * CAST(total_subtokens AS"
                               " DECIMAL(38,0))"
                               " div greatest(total_words, 1) AS BIGINT)"))
            .withColumn("chars_per_subtoken_e3",
                        F.expr("CAST(1000 * CAST(total_chars AS"
                               " DECIMAL(38,0))"
                               " div greatest(total_subtokens, 1)"
                               " AS BIGINT)"))
            .orderBy("lang"))


ORACLE_TOKENIZER_FERTILITY = rf"""
WITH per_doc AS (
  SELECT lang,
         CAST(len(list_filter(string_split_regex(lower(text), '\s+'),
                              t -> t <> '')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(text,
             '{BPE_PRETOKEN_PATTERN}')) AS BIGINT) AS s,
         CAST(length(text) - len(regexp_extract_all(text, '\s'))
              AS BIGINT) AS c
  FROM documents
), agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS total_words,
         CAST(sum(s) AS BIGINT) AS total_subtokens,
         CAST(sum(c) AS BIGINT) AS total_chars
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, total_words, total_subtokens, total_chars,
       (1000000 * total_subtokens) // greatest(total_words, 1)
         AS fertility_e6,
       (1000 * total_chars) // greatest(total_subtokens, 1)
         AS chars_per_subtoken_e3
FROM agg ORDER BY lang
"""


# ---------------------------------------------------------------------------
# postings_compression_report — delta-gap varint size model per df band
# ---------------------------------------------------------------------------


def q_postings_compression_report(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Inverted-index compression model: per term, sort the postings
    list, delta-encode doc-id gaps, and cost each gap at varint bytes
    (1 byte per 7 bits, the Lucene VByte scheme as an integer CASE
    ladder); report per document-frequency BAND (floor-log2 of df) the
    term/postings counts, the raw 8-byte cost, the varint cost, and
    the e3 compression ratio — where the index bytes actually live
    (high-df stopword lists compress hardest; the long singleton tail
    doesn't compress at all).

    Scale shape: postings DISTINCT to (term, doc) once (the only
    corpus-sized shuffle, keyed on term); the gap window is
    partitioned BY TERM (per-key, the group_top1 class — never
    global); band rollup is map-side combinable to <= 21 x few rows.
    """
    d = _t(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.lower("text"))
    postings = (d.select("doc_id", F.explode(toks).alias("term"))
                .distinct())
    wgap = Window.partitionBy("term").orderBy("doc_id")
    gaps = (postings
            .withColumn("gap",
                        F.col("doc_id") - F.lag("doc_id", 1, -1).over(wgap))
            .withColumn("vbytes", F.expr(
                "CASE WHEN gap < 128 THEN 1"
                " WHEN gap < 16384 THEN 2"
                " WHEN gap < 2097152 THEN 3"
                " WHEN gap < 268435456 THEN 4 ELSE 5 END")))
    per_term = (gaps.groupBy("term")
                .agg(F.count(F.lit(1)).alias("df"),
                     F.sum("vbytes").alias("vbytes")))
    return (per_term
            .withColumn("df_band", F.expr(_lg_ladder_sql("df"))
                        .cast("bigint"))
            .groupBy("df_band")
            .agg(F.count(F.lit(1)).alias("n_terms"),
                 F.sum("df").alias("n_postings"),
                 (F.sum("df") * 8).alias("raw_bytes"),
                 F.sum("vbytes").alias("varint_bytes"))
            .withColumn("ratio_e3",
                        F.expr("(1000 * varint_bytes) div raw_bytes"))
            .orderBy("df_band"))


ORACLE_POSTINGS_COMPRESSION = rf"""
WITH postings AS (
  SELECT DISTINCT doc_id, term
  FROM (SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  t -> t <> '')) AS term
        FROM documents)
), gaps AS (
  SELECT term,
         doc_id - lag(doc_id, 1, -1) OVER (PARTITION BY term
                                           ORDER BY doc_id) AS gap
  FROM postings
), costed AS (
  SELECT term,
         CASE WHEN gap < 128 THEN 1
              WHEN gap < 16384 THEN 2
              WHEN gap < 2097152 THEN 3
              WHEN gap < 268435456 THEN 4 ELSE 5 END AS vbytes
  FROM gaps
), per_term AS (
  SELECT term, CAST(count(*) AS BIGINT) AS df,
         CAST(sum(vbytes) AS BIGINT) AS vbytes
  FROM costed GROUP BY term
)
SELECT CAST({_lg_ladder_sql('df')} AS BIGINT) AS df_band,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(df) AS BIGINT) AS n_postings,
       CAST(sum(df) * 8 AS BIGINT) AS raw_bytes,
       CAST(sum(vbytes) AS BIGINT) AS varint_bytes,
       (1000 * CAST(sum(vbytes) AS BIGINT)) // (CAST(sum(df) AS BIGINT) * 8)
         AS ratio_e3
FROM per_term GROUP BY 1 ORDER BY df_band
"""


# ---------------------------------------------------------------------------
# graph_random_walk — deterministic node2vec-style 3-hop walks
# ---------------------------------------------------------------------------

_RW_SEED_MOD = 97   # seeds: customers with custkey % 97 == 0 (that bought)
_RW_HOPS = 3

# Broadcast-hint gate (r12 ADVICE item 4): the frontier hint is only
# safe while the walker set is a bounded sample. Estimated seeds =
# |customer| / _RW_SEED_MOD; a walk row is ~6 BIGINT cols (~50 B), so
# 2M seeds ~ 100 MB on the driver — comfortably broadcastable, while
# anything past it belongs on a shuffle. Enlarging the seed population
# (shrinking _RW_SEED_MOD or walking the full node set) now degrades
# to AQE-decided join strategy instead of an OOM-prone forced BHJ.
_RW_BROADCAST_MAX_SEEDS = 2_000_000


def q_graph_random_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 3-hop random walks over the customer-part
    bipartite graph (nodes encoded cust*2 / part*2+1): at each hop the
    walker at node v picks neighbor rank md5(seed:v:hop) mod deg(v)
    from the (src, dst)-sorted adjacency — node2vec-style walk
    sampling for embedding training, with ZERO RNG state (the walk is
    a pure function of the graph + keys, so it is partitioning-,
    retry-, and resume-invariant — the property a 100 TB walk corpus
    must have to be reproducible). Walks alternate cust -> part ->
    cust -> part by bipartite construction.

    Scale shape: adjacency ranks and degrees are per-key windows /
    aggregates (the group_top1 class, partitioned by src); each hop is
    ONE equi-join frontier x adjacency on (src, rank) — |seeds| rows
    against the ranked edge table, never a crossJoin; hop count is a
    constant unroll. The oracle replays the identical three joins.

    The ranked adjacency is checkpointed ONCE (DISK_ONLY, the
    |E|-scale idiom from the 100x OOM campaign) WITH deg folded in as
    a second window column over the same partition spec (one shuffle
    gives both rank and degree): each hop is then a single join on the
    lone equi-key src — exactly the checkpoint's hash-partitioning, so
    the |E| side never reshuffles — with the neighbor-pick predicate
    `rn = 1 + md5(seed:cur:hop) % deg` as the residual condition, and
    seeds derive from the rn=1 slice (shuffle-free scan). The prior
    shape paid a second per-hop join against a groupBy-derived deg
    frame plus a distinct for seeds — 7 passes over the |E| subtree
    per walk vs 4 now; the r11 A/B that instead CHECKPOINTED deg lost
    (BENCH_HISTORY r11 negative result: the eager |V| barrier cost
    more than the shuffle-free rescans it saved), which is why deg
    rides the ranked rows instead of a separate frame.

    The frontier carries an explicit broadcast hint GATED on the
    stats-sidecar seed estimate (|customer| / _RW_SEED_MOD vs
    _RW_BROADCAST_MAX_SEEDS): the walker set is by contract a bounded
    seed SAMPLE (custkey % _RW_SEED_MOD of one bipartite side —
    |customers|/97 rows, ~15k at 100x sf0.1), so forcing BHJ means the
    |E|-scale checkpoint is never shuffled and AQE never materializes
    a frontier stage just to discover it is tiny (A/B at 100x: 81.2s
    AQE-decided vs 71.9s hinted, same host). A deployment walking a
    larger population (smaller mod, full node set) automatically loses
    the hint and falls back to AQE-decided strategy — the hint is tied
    to the bounded-seed contract in code, not just this docstring
    (r12 ADVICE item 4).
    """
    from pyspark import StorageLevel
    from ..sources.stats import table_rowcount_or_count
    cp = (_t(spark, sf_dir, "orders")
          .join(_t(spark, sf_dir, "lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"))
          .select("o_custkey", "l_partkey").distinct())
    edges = (cp.select((F.col("o_custkey") * 2).alias("src"),
                       (F.col("l_partkey") * 2 + 1).alias("dst"))
             .unionByName(
                 cp.select((F.col("l_partkey") * 2 + 1).alias("src"),
                           (F.col("o_custkey") * 2).alias("dst"))))
    wrk = Window.partitionBy("src").orderBy("dst")
    ranked = (edges.withColumn("rn", F.row_number().over(wrk))
              .withColumn("deg", F.count(F.lit(1))
                          .over(Window.partitionBy("src")))
              .localCheckpoint(storageLevel=StorageLevel.DISK_ONLY))

    walk = (ranked.filter(F.expr(
                f"rn = 1 AND src % 2 = 0"
                f" AND (src div 2) % {_RW_SEED_MOD} = 0"))
            .select(F.expr("src div 2").alias("seed"),
                    F.col("src").alias("cur")))
    cust = _t(spark, sf_dir, "customer")
    est_seeds = (table_rowcount_or_count(sf_dir, "customer", cust,
                                         "c_custkey")
                 // _RW_SEED_MOD + 1)
    hint = (F.broadcast if est_seeds <= _RW_BROADCAST_MAX_SEEDS
            else (lambda df: df))
    for k in range(1, _RW_HOPS + 1):
        r_k = f"r{k}"
        pick = F.expr(
            f"{r_k}.rn = 1 + CAST(conv(substring(md5(concat_ws(':',"
            f" CAST(seed AS STRING), CAST(cur AS STRING), '{k}')),"
            f" 1, 13), 16, 10) AS BIGINT) % {r_k}.deg")
        walk = (hint(walk)
                .join(ranked.alias(r_k),
                      (F.col("cur") == F.col(f"{r_k}.src")) & pick)
                .select("seed",
                        *[F.col(f"n{j}") for j in range(1, k)],
                        F.col(f"{r_k}.dst").alias(f"n{k}"))
                .withColumn("cur", F.col(f"n{k}")))
    return (walk.select(
        F.col("seed").alias("seed_custkey"),
        F.expr("n1 div 2").alias("hop1_partkey"),
        F.expr("n2 div 2").alias("hop2_custkey"),
        F.expr("n3 div 2").alias("hop3_partkey"))
        .orderBy("seed_custkey"))


ORACLE_RANDOM_WALK = f"""
WITH cp AS (
  SELECT DISTINCT o_custkey, l_partkey
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
), edges AS (
  SELECT o_custkey * 2 AS src, l_partkey * 2 + 1 AS dst FROM cp
  UNION ALL
  SELECT l_partkey * 2 + 1 AS src, o_custkey * 2 AS dst FROM cp
), ranked AS (
  SELECT src, dst,
         row_number() OVER (PARTITION BY src ORDER BY dst) AS rn
  FROM edges
), deg AS (
  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
), seeds AS (
  SELECT DISTINCT src // 2 AS seed, src AS cur FROM edges
  WHERE src % 2 = 0 AND (src // 2) % {_RW_SEED_MOD} = 0
), h1 AS (
  SELECT seed, r.dst AS cur FROM seeds s
  JOIN deg d ON s.cur = d.src
  JOIN ranked r ON r.src = s.cur
   AND r.rn = 1 + CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
        || CAST(s.cur AS VARCHAR) || ':1'), 1, 13)) AS BIGINT) % d.deg
), h2 AS (
  SELECT seed, r.dst AS cur FROM h1 s
  JOIN deg d ON s.cur = d.src
  JOIN ranked r ON r.src = s.cur
   AND r.rn = 1 + CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
        || CAST(s.cur AS VARCHAR) || ':2'), 1, 13)) AS BIGINT) % d.deg
), h3 AS (
  SELECT seed, r.dst AS cur FROM h2 s
  JOIN deg d ON s.cur = d.src
  JOIN ranked r ON r.src = s.cur
   AND r.rn = 1 + CAST(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':'
        || CAST(s.cur AS VARCHAR) || ':3'), 1, 13)) AS BIGINT) % d.deg
)
SELECT h1.seed AS seed_custkey, h1.cur // 2 AS hop1_partkey,
       h2.cur // 2 AS hop2_custkey, h3.cur // 2 AS hop3_partkey
FROM h1 JOIN h2 ON h1.seed = h2.seed JOIN h3 ON h1.seed = h3.seed
ORDER BY seed_custkey
"""


QUERIES_EXT15.update({
    "tokenizer_fertility": q_tokenizer_fertility,
    "postings_compression_report": q_postings_compression_report,
    "graph_random_walk": q_graph_random_walk,
})
ORACLE_EXT15.update({
    "tokenizer_fertility": ORACLE_TOKENIZER_FERTILITY,
    "postings_compression_report": ORACLE_POSTINGS_COMPRESSION,
    "graph_random_walk": ORACLE_RANDOM_WALK,
})
