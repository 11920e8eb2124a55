"""Catalog extension 11 (round 8, sixth wave). Data-contract and
corpus-composition audits — the checks a production pipeline runs
before it trusts a new drop of data:

  referential_integrity  Deequ-style FK audit over the whole star
                         schema: orphan keys, null FKs, and parent
                         coverage for every declared edge, one row per
                         foreign key
  readability_report     per-language Flesch-style readability on an
                         exact integer lattice (words / vowel-group
                         "syllables" / sentence terminators)
  source_overlap         per-source-pair shingle containment — which
                         crawl sources duplicate each other's content
                         (the corpus-mix cousin of dedup: cross-SOURCE
                         overlap, not cross-document)

Reference parity: the reference validates ingest row-by-row in pandas
(`create_graph.py` drops unmatched authors silently; no FK audit
surface exists) — these make the same trust checks declarative and
distributed, per SURVEY §2 A3/A4's scorecard family and the build
brief's training-pipeline mandate (source mix + contamination).

Cross-engine determinism (SURVEY 4.4): counts are exact integers;
every ratio is an integer `div` on an e3 lattice both engines floor
identically; regex classes are engine-portable literals ([a-z]+,
[aeiou]+, [.!?]+ — no \\w / \\b whose unicode semantics differ).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.textstats import whitespace_tokens
from .queries import _t

QUERIES_EXT11: dict = {}
ORACLE_EXT11: dict = {}


# ---------------------------------------------------------------------------
# referential_integrity — star-schema FK audit
# ---------------------------------------------------------------------------

# (child table, fk column, parent table, pk column) — the schema's FK
# edges (partsupp-less TPC-H + the analytics tables' star).
_FK_EDGES = (
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
)


def q_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style referential-integrity audit: one row per FK edge with
    child row / null-FK / distinct-FK / orphan-key counts plus parent
    cardinality and how many parents are actually referenced (the
    inverse direction — unreferenced parents are the "customers with no
    orders" class the reference's silent row-drops hide; reference
    create_graph.py merges authors m:1 and discards misses without a
    count).

    Scale shape, per edge: ONE child scan (fk column only — parquet
    column pruning) feeding a groupBy(fk) whose shuffle shrinks to
    NDV(fk) map-side, ONE parent scan feeding a pk distinct, and one
    FULL OUTER join of the two key sets from which a single 1-row
    aggregate reads ALL six counts: n_rows = sum of per-key child
    counts, null-FK count = the null-key group's count, distinct-FK /
    orphan / parent / referenced counts from which side(s) of the
    outer join are populated. The r8 shape computed row counts and key
    coverage as SEPARATE aggregates over the same child scan plus a
    separate parent count — 2 child scans + 2 parent scans per edge
    with no shared exchange (the global agg has none to reuse);
    folding everything into the outer join halves the audit's I/O
    (r13 interleaved A/B: 0.98x sf0.1 / 0.83x at 10x / 0.87-0.97x
    across two 100x passes — the win grows with scan cost, exactly
    the optimization guide's project-early prediction). The 7-row
    report is a plain union of 1-row frames.
    """
    rows = []
    for child, fk, parent, pk in _FK_EDGES:
        g = (_t(spark, sf_dir, child)
             .groupBy(F.col(fk).alias("fk"))
             .agg(F.count(F.lit(1)).alias("cnt")))
        p = (_t(spark, sf_dir, parent)
             .select(F.col(pk).alias("pk"))
             .filter(F.col("pk").isNotNull()).distinct()
             .withColumn("__p", F.lit(1)))
        j = g.join(p, F.col("fk") == F.col("pk"), "full_outer")
        rep = j.agg(
            # child-side rows carry cnt; parent-only rows contribute 0
            F.sum(F.coalesce(F.col("cnt"), F.lit(0))).alias("n_rows"),
            # the null-fk group (never pk-matched) holds all null rows
            F.sum(F.when(F.col("cnt").isNotNull() & F.col("fk").isNull(),
                         F.col("cnt")).otherwise(F.lit(0)))
            .alias("n_fk_nulls"),
            F.count("fk").alias("n_fk_distinct"),
            F.sum((F.col("fk").isNotNull() & F.col("__p").isNull())
                  .cast("bigint")).alias("n_orphan_keys"),
            # count("__p") over the NULL-filtered distinct parent side
            # == count(DISTINCT pk), matching the oracle's semantics by
            # construction (r13 ADVICE: the unfiltered form counted a
            # NULL pk row the oracle excludes — latent divergence)
            F.count("__p").alias("n_parents"))
        rows.append(rep.select(
            F.lit(child).alias("child_table"), F.lit(fk).alias("fk_col"),
            "n_rows", "n_fk_nulls", "n_fk_distinct", "n_orphan_keys",
            "n_parents",
            (F.col("n_fk_distinct") - F.col("n_orphan_keys"))
            .alias("n_parents_referenced")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("child_table", "fk_col")


def _ri_edge_sql(child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
SELECT '{child}' AS child_table, '{fk}' AS fk_col,
       (SELECT CAST(count(*) AS BIGINT) FROM {child}) AS n_rows,
       (SELECT CAST(count(*) FILTER (WHERE {fk} IS NULL) AS BIGINT)
          FROM {child}) AS n_fk_nulls,
       (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {child})
         AS n_fk_distinct,
       (SELECT CAST(count(*) AS BIGINT) FROM
          (SELECT DISTINCT {fk} AS k FROM {child} WHERE {fk} IS NOT NULL) d
          WHERE NOT EXISTS (SELECT 1 FROM {parent} WHERE {pk} = d.k))
         AS n_orphan_keys,
       (SELECT CAST(count(DISTINCT {pk}) AS BIGINT) FROM {parent})
         AS n_parents,
       (SELECT CAST(count(DISTINCT {fk}) AS BIGINT) FROM {child}
          WHERE EXISTS (SELECT 1 FROM {parent} WHERE {pk} = {child}.{fk}))
         AS n_parents_referenced"""


ORACLE_REF_INTEGRITY = "\nUNION ALL\n".join(
    _ri_edge_sql(*e) for e in _FK_EDGES) + "\nORDER BY child_table, fk_col"


# ---------------------------------------------------------------------------
# readability_report — per-language Flesch-style score on a lattice
# ---------------------------------------------------------------------------


def q_readability_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language readability aggregates over the document corpus:
    word / vowel-group ("syllable" proxy) / sentence-terminator totals
    and a Flesch-style reading-ease score on an e3 integer lattice —
    the text-quality signal a pretraining mix uses next to
    `text_quality`'s length/stopword ratios (which this complements:
    sentence STRUCTURE, not token composition).

    Exact cross-engine arithmetic: counts come from
    regexp_extract_all over portable ASCII classes; the score is
      wps_e3    = 1000*words  div sentences      (words/sentence)
      spw_e3    = 1000*vowelg div words          (syllables/word)
      flesch_e3 = 206835 - 1015*wps_e3 div 1000 - 846*spw_e3 div 10
    every step an integer `div` both engines floor identically (the
    queries_ext10 lattice discipline). Docs with no terminator count
    one sentence (greatest-1 guard per doc, BEFORE summing).

    Scale shape: pure column expressions + one map-side-combinable
    groupBy on the tiny lang key — the corpus is scanned once
    (text+lang columns only) and never shuffled; the exchange carries
    |languages| partial rows. WholeStageCodegen end-to-end, no UDFs.
    """
    d = _t(spark, sf_dir, "documents")
    words = F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
    vowel_groups = F.size(
        F.expr("regexp_extract_all(lower(text), '[aeiou]+', 0)"))
    sentences = F.greatest(
        F.lit(1), F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")))
    per_doc = d.select(
        F.col("lang"),
        words.cast("bigint").alias("w"),
        vowel_groups.cast("bigint").alias("v"),
        sentences.cast("bigint").alias("s"))
    agg = (per_doc.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_docs"),
                F.sum("w").alias("total_words"),
                F.sum("v").alias("total_vowel_groups"),
                F.sum("s").alias("total_sentences")))
    return (agg.select(
        "lang", "n_docs", "total_words", "total_vowel_groups",
        "total_sentences",
        F.expr("1000 * total_words div greatest(total_sentences, 1)")
        .alias("wps_e3"),
        F.expr("1000 * total_vowel_groups div greatest(total_words, 1)")
        .alias("spw_e3"))
        .withColumn(
            "flesch_e3",
            F.expr("206835 - 1015 * wps_e3 div 1000 - 846 * spw_e3 div 10"))
        .orderBy("lang"))


ORACLE_READABILITY = """
WITH per_doc AS (
  SELECT lang,
         CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS w,
         CAST(len(regexp_extract_all(lower(text), '[aeiou]+')) AS BIGINT)
           AS v,
         CAST(greatest(1, len(regexp_extract_all(text, '[.!?]+')))
              AS BIGINT) AS s
  FROM documents
), agg AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(w) AS BIGINT) AS total_words,
         CAST(sum(v) AS BIGINT) AS total_vowel_groups,
         CAST(sum(s) AS BIGINT) AS total_sentences
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, total_words, total_vowel_groups, total_sentences,
       1000 * total_words // greatest(total_sentences, 1) AS wps_e3,
       1000 * total_vowel_groups // greatest(total_words, 1) AS spw_e3,
       206835 - 1015 * (1000 * total_words // greatest(total_sentences, 1))
                // 1000
              - 846 * (1000 * total_vowel_groups
                       // greatest(total_words, 1)) // 10 AS flesch_e3
FROM agg ORDER BY lang
"""


# ---------------------------------------------------------------------------
# source_overlap — per-source-pair shingle containment
# ---------------------------------------------------------------------------

_SO_N = 3        # shingle width (words)
_SO_TOPK = 25    # pairs reported


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Which crawl sources duplicate each other's content: for every
    source pair, the number of distinct word {n}-gram shingles both
    emit, plus a containment score 1000*|shared| div min(|A|,|B|) —
    the corpus-MIX view of duplication (decontaminate_overlap is
    corpus-vs-eval; dedup_* are doc-vs-doc; this is source-vs-source,
    the signal that tells a mix planner two crawls are the same feed).

    Scale shape: docs shingle and DISTINCT to (shingle, source) —
    the only corpus-sized shuffle, keyed on shingle hashes (uniform by
    construction). Each shingle then folds to its ≤|sources| member
    set via collect_set (bounded by the source dim, NOT the corpus),
    pairs explode combinatorially only within that bounded set
    (≤ C(|sources|,2) per shingle), and per-source totals join back as
    a broadcast |sources|-row dim. Top-K pairs via orderBy+limit
    (TakeOrdered, no global window). The DuckDB twin states the same
    semantics as a naive shingle self-join — fine at oracle SF,
    exactly what the bounded-set plan avoids at 100 TB.
    """
    d = _t(spark, sf_dir, "documents")
    toks = whitespace_tokens(F.lower("text"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - (_SO_N - 1)),
        lambda i: F.md5(F.array_join(F.slice("toks", i, _SO_N), " ")))
    ds = (d.select("source", toks.alias("toks"))
          .filter(F.size("toks") >= _SO_N)
          .select("source", F.explode(grams).alias("g"))
          .distinct())
    members = (ds.groupBy("g")
               .agg(F.array_sort(F.collect_set("source")).alias("ss"))
               .filter(F.size("ss") >= 2))
    pairs = (members.select(F.explode(F.expr(
        "flatten(transform(ss, (a, i) -> transform("
        "  slice(ss, i + 2, size(ss) - i - 1),"
        "  b -> struct(a AS src_a, b AS src_b))))")).alias("pr"))
        .select("pr.src_a", "pr.src_b")
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared")))
    totals = ds.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_shingles"))
    ta = totals.select(F.col("source").alias("src_a"),
                       F.col("n_shingles").alias("na"))
    tb = totals.select(F.col("source").alias("src_b"),
                       F.col("n_shingles").alias("nb"))
    return (pairs.join(F.broadcast(ta), "src_a")
            .join(F.broadcast(tb), "src_b")
            .select("src_a", "src_b", "n_shared", "na", "nb",
                    F.expr("1000 * n_shared div least(na, nb)")
                    .alias("containment_e3"))
            .orderBy(F.desc("n_shared"), "src_a", "src_b")
            .limit(_SO_TOPK))


ORACLE_SOURCE_OVERLAP = rf"""
WITH tok AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\s+'), t -> t <> '')
           AS toks
  FROM documents
), sh AS (
  SELECT DISTINCT source, g FROM (
    SELECT source,
           unnest(list_transform(
               generate_series(1, len(toks) - {_SO_N - 1}),
               i -> md5(array_to_string(toks[i:i+{_SO_N - 1}], ' ')))) AS g
    FROM tok WHERE len(toks) >= {_SO_N})
), pairs AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(count(DISTINCT g) AS BIGINT) AS n_shingles
  FROM sh GROUP BY source
)
SELECT src_a, src_b, n_shared, ta.n_shingles AS na, tb.n_shingles AS nb,
       1000 * n_shared // least(ta.n_shingles, tb.n_shingles)
         AS containment_e3
FROM pairs
JOIN tot ta ON ta.source = src_a
JOIN tot tb ON tb.source = src_b
ORDER BY n_shared DESC, src_a, src_b
LIMIT {_SO_TOPK}
"""


# ---------------------------------------------------------------------------
# fd_discovery — functional-dependency audit over candidate column pairs
# ---------------------------------------------------------------------------

# (table, determinant column, dependent column) — candidate FDs mixing
# known-true (keys determine attributes) and known-false (segment does
# not determine nation) so violation counts are informative both ways.
_FD_CANDIDATES = (
    ("customer", "c_custkey", "c_nationkey"),
    ("customer", "c_mktsegment", "c_nationkey"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("lineitem", "l_orderkey", "l_linestatus"),
    ("lineitem", "l_partkey", "l_returnflag"),
    ("nation", "n_nationkey", "n_regionkey"),
    ("supplier", "s_suppkey", "s_nationkey"),
)


def q_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency audit: for each candidate A -> B, NDV(A)
    vs NDV(A,B); the FD holds iff they agree, and the gap counts the
    violating determinant-value groups — the column-level data
    contract next to referential_integrity's row-level one (profilers
    like Deequ/Metanome run exactly this check; the reference trusts
    its CSV column semantics blindly, SURVEY §2 A3).

    Scale shape, per candidate: ONE aggregate computes both distinct
    counts over a two-column pruned scan (Catalyst plans the
    multi-distinct via a single Expand — one pass, partial aggs
    map-side); no joins anywhere, the report is a union of 1-row
    aggregates. The shuffle carries distinct (A,B) pairs, never rows.
    """
    rows = []
    for table, det, dep in _FD_CANDIDATES:
        t = _t(spark, sf_dir, table)
        rows.append(t.agg(
            F.count_distinct(F.col(det)).alias("ndv_det"),
            F.count_distinct(F.col(det), F.col(dep)).alias("ndv_pair"))
            .select(F.lit(table).alias("table_name"),
                    F.lit(det).alias("det_col"),
                    F.lit(dep).alias("dep_col"),
                    "ndv_det", "ndv_pair",
                    (F.col("ndv_pair") - F.col("ndv_det"))
                    .alias("n_violating_groups"),
                    (F.col("ndv_pair") == F.col("ndv_det"))
                    .cast("int").alias("fd_holds")))
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name", "det_col", "dep_col")


def _fd_sql(table: str, det: str, dep: str) -> str:
    return f"""
SELECT '{table}' AS table_name, '{det}' AS det_col, '{dep}' AS dep_col,
       (SELECT CAST(count(DISTINCT {det}) AS BIGINT) FROM {table})
         AS ndv_det,
       (SELECT CAST(count(*) AS BIGINT)
          FROM (SELECT DISTINCT {det}, {dep} FROM {table})) AS ndv_pair,
       (SELECT CAST(count(*) AS BIGINT)
          FROM (SELECT DISTINCT {det}, {dep} FROM {table}))
       - (SELECT CAST(count(DISTINCT {det}) AS BIGINT) FROM {table})
         AS n_violating_groups,
       CAST((SELECT count(*)
               FROM (SELECT DISTINCT {det}, {dep} FROM {table}))
            = (SELECT count(DISTINCT {det}) FROM {table}) AS INT)
         AS fd_holds"""


ORACLE_FD_DISCOVERY = "\nUNION ALL\n".join(
    _fd_sql(*c) for c in _FD_CANDIDATES
) + "\nORDER BY table_name, det_col, dep_col"


# ---------------------------------------------------------------------------
# distribution_drift — temporal value-distribution drift per event type
# ---------------------------------------------------------------------------

_DD_BINS = 20       # value histogram bins
_DD_STEP_E2 = 500   # cents per bin (bin = value_cents div 500, clamped)


def q_distribution_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distribution drift between the first and second
    half of the event stream (split at the midpoint of the observed
    time range): value histograms on a fixed integer binning, compared
    with a chi-square-style statistic on an exact e6 lattice — the
    drift monitor a feature pipeline runs to catch upstream breakage
    (chi_square_report is categorical independence at one point in
    time; THIS is the same machinery pointed at temporal drift).

    Exact arithmetic (the ab_test_welch normalize-before-squaring
    discipline — a cross-multiplied chi-square numerator is n^4 and
    outgrows any fixed width): each half's bin share normalizes FIRST,
      p_e6      = 1e6 * n div greatest(T, 1)        (bounded by 1e6)
    then the drift is the L2^2 distance between the two share vectors
      drift_e12 = sum_bins (p1_e6 - p2_e6)^2        (bounded 2e13)
    — every intermediate bounded by the BIN COUNT, not the corpus; the
    1e6*n product rides decimal(38,0) so it stays exact past 1e13-row
    halves (the oracle's BIGINT version is identical at checked SFs).

    Scale shape: a 1-row (min, max) bounds aggregate broadcasts onto
    the scan (histogram_quantile's allowlisted shape); counts group by
    (type, half, bin) — map-side combinable, the shuffle carries at
    most |types| * 2 * {_DD_BINS} rows; per-type totals join back as a
    broadcast few-row dim. The corpus is scanned twice (bounds + bins)
    and shuffled never.
    """
    e = (_t(spark, sf_dir, "events")
         .select("event_type",
                 F.col("ts").cast("bigint").alias("ts_ns"),
                 F.expr("CAST(round(value * 100) AS BIGINT)")
                 .alias("v_e2")))
    bounds = e.agg(F.min("ts_ns").alias("lo"), F.max("ts_ns").alias("hi"))
    binned = (e.crossJoin(F.broadcast(bounds))
              .select("event_type",
                      F.expr("CAST(ts_ns >= lo + (hi - lo) div 2 AS INT)")
                      .alias("half"),
                      F.expr(f"least({_DD_BINS - 1}, greatest(0, "
                             f"v_e2 div {_DD_STEP_E2}))").alias("bin")))
    cells = (binned.groupBy("event_type", "bin")
             .agg(F.sum(F.expr("1 - half")).cast("decimal(38,0)")
                  .alias("n1"),
                  F.sum("half").cast("decimal(38,0)").alias("n2")))
    totals = (binned.groupBy("event_type")
              .agg(F.sum(F.expr("1 - half")).cast("decimal(38,0)")
                   .alias("t1"),
                   F.sum("half").cast("decimal(38,0)").alias("t2")))
    return (cells.join(F.broadcast(totals), "event_type")
            .withColumn("p1_e6", F.expr(
                "CAST(1000000 * n1 div greatest(t1, 1) AS BIGINT)"))
            .withColumn("p2_e6", F.expr(
                "CAST(1000000 * n2 div greatest(t2, 1) AS BIGINT)"))
            .groupBy("event_type")
            .agg(F.max(F.col("t1").cast("bigint")).alias("n_first_half"),
                 F.max(F.col("t2").cast("bigint")).alias("n_second_half"),
                 F.count(F.lit(1)).alias("n_bins"),
                 F.sum(F.expr("(p1_e6 - p2_e6) * (p1_e6 - p2_e6)"))
                 .cast("bigint").alias("drift_e12"))
            .orderBy("event_type"))


ORACLE_DIST_DRIFT = f"""
WITH e AS (
  SELECT event_type, epoch_ns(ts) AS ts_ns,
         CAST(round(value * 100) AS BIGINT) AS v_e2
  FROM events
), bounds AS (
  SELECT min(ts_ns) AS lo, max(ts_ns) AS hi FROM e
), binned AS (
  SELECT event_type,
         CAST(ts_ns >= lo + (hi - lo) // 2 AS INT) AS half,
         least({_DD_BINS - 1}, greatest(0, v_e2 // {_DD_STEP_E2})) AS bin
  FROM e, bounds
), cells AS (
  SELECT event_type, bin,
         CAST(sum(1 - half) AS BIGINT) AS n1,
         CAST(sum(half) AS BIGINT) AS n2
  FROM binned GROUP BY 1, 2
), totals AS (
  SELECT event_type,
         CAST(sum(1 - half) AS BIGINT) AS t1,
         CAST(sum(half) AS BIGINT) AS t2
  FROM binned GROUP BY 1
)
SELECT event_type,
       CAST(max(t1) AS BIGINT) AS n_first_half,
       CAST(max(t2) AS BIGINT) AS n_second_half,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(sum((1000000 * n1 // greatest(t1, 1)
                 - 1000000 * n2 // greatest(t2, 1))
                * (1000000 * n1 // greatest(t1, 1)
                   - 1000000 * n2 // greatest(t2, 1))) AS BIGINT)
         AS drift_e12
FROM cells JOIN totals USING (event_type)
GROUP BY event_type ORDER BY event_type
"""


# ---------------------------------------------------------------------------
# metadata_consistency — manifest-vs-payload audit on documents
# ---------------------------------------------------------------------------


def q_metadata_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-vs-payload consistency audit: the documents table
    carries a declared `n_chars` next to the payload `text` — the
    shape every crawl manifest has — and drift between the two is how
    a pipeline discovers truncated payloads, re-encodings, or a stale
    manifest. Per source: row/char totals, mismatch count, and the
    worst absolute drift.

    Scale shape: one scan (text + metadata columns), pure column
    expressions, map-side-combinable groupBy on the source key; the
    exchange carries |sources| partial rows. A clean corpus reports
    zero mismatches — the audit proving a zero is the point, exactly
    like referential_integrity's orphan counts.
    """
    d = _t(spark, sf_dir, "documents")
    actual = F.length("text")
    diff = F.col("n_chars") - actual
    return (d.select("source", F.col("n_chars").alias("declared"),
                     actual.alias("actual"), diff.alias("diff"))
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("declared").alias("declared_chars"),
                 F.sum("actual").alias("actual_chars"),
                 F.sum((F.col("diff") != 0).cast("bigint"))
                 .alias("n_mismatch"),
                 F.max(F.abs("diff")).alias("max_abs_drift"))
            .orderBy("source"))


ORACLE_METADATA_CONSISTENCY = """
SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS declared_chars,
       CAST(sum(length(text)) AS BIGINT) AS actual_chars,
       CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END)
            AS BIGINT) AS n_mismatch,
       CAST(max(abs(n_chars - length(text))) AS BIGINT) AS max_abs_drift
FROM documents GROUP BY source ORDER BY source
"""


# ---------------------------------------------------------------------------
# embedding_integrity — vector-corruption audit on embeddings
# ---------------------------------------------------------------------------

_EI_DIM = 64  # expected embedding dimensionality


def q_embedding_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-corruption audit per label: wrong-dimension vectors,
    NaN components, zero-norm vectors, and an exact quantized-norm
    total — the check an ANN pipeline runs before indexing (a single
    NaN poisons every distance it touches; zero-norm vectors break
    cosine).

    Exact arithmetic: the per-vector norm proxy sums round(x_i*1e3)^2
    — each element quantizes INDEPENDENTLY (the embed_quantize_report
    idiom: round(CAST(x AS DOUBLE) * scale)), so the sum is an integer
    fold that is order-independent and engine-exact, unlike a float
    list_sum whose association order differs between engines.
    zero-norm means every component rounds to 0 at e3.

    Scale shape: one scan, per-row array folds inside codegen, one
    combinable groupBy on the tiny label key — no shuffle of vectors.
    """
    e = _t(spark, sf_dir, "embeddings")
    norm_q = F.expr(
        "aggregate(transform(embedding,"
        " x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)"
        "      * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)),"
        " CAST(0 AS BIGINT), (a, v) -> a + v)")
    n_nan = F.expr(
        "aggregate(transform(embedding,"
        " x -> CAST(isnan(x) AS BIGINT)), CAST(0 AS BIGINT),"
        " (a, v) -> a + v)")
    return (e.select("label",
                     F.size("embedding").alias("dim"),
                     norm_q.alias("norm_q"), n_nan.alias("n_nan"))
            .groupBy("label")
            .agg(F.count(F.lit(1)).alias("n_vecs"),
                 F.sum((F.col("dim") != _EI_DIM).cast("bigint"))
                 .alias("n_wrong_dim"),
                 F.sum((F.col("n_nan") > 0).cast("bigint"))
                 .alias("n_with_nan"),
                 F.sum((F.col("norm_q") == 0).cast("bigint"))
                 .alias("n_zero_norm"),
                 F.sum("norm_q").alias("total_norm_q"))
            .orderBy("label"))


ORACLE_EMBEDDING_INTEGRITY = f"""
WITH v AS (
  SELECT label, len(embedding) AS dim,
         list_sum(list_transform(embedding,
             x -> CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)
                  * CAST(round(CAST(x AS DOUBLE) * 1000) AS BIGINT)))
           AS norm_q,
         list_sum(list_transform(embedding,
             x -> CAST(isnan(x) AS BIGINT))) AS n_nan
  FROM embeddings
)
SELECT label, CAST(count(*) AS BIGINT) AS n_vecs,
       CAST(sum(CASE WHEN dim <> {_EI_DIM} THEN 1 ELSE 0 END) AS BIGINT)
         AS n_wrong_dim,
       CAST(sum(CASE WHEN n_nan > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_with_nan,
       CAST(sum(CASE WHEN norm_q = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_zero_norm,
       CAST(sum(norm_q) AS BIGINT) AS total_norm_q
FROM v GROUP BY label ORDER BY label
"""


QUERIES_EXT11.update({
    "referential_integrity": q_referential_integrity,
    "readability_report": q_readability_report,
    "source_overlap": q_source_overlap,
    "fd_discovery": q_fd_discovery,
    "distribution_drift": q_distribution_drift,
    "metadata_consistency": q_metadata_consistency,
    "embedding_integrity": q_embedding_integrity,
})
ORACLE_EXT11.update({
    "referential_integrity": ORACLE_REF_INTEGRITY,
    "readability_report": ORACLE_READABILITY,
    "source_overlap": ORACLE_SOURCE_OVERLAP,
    "fd_discovery": ORACLE_FD_DISCOVERY,
    "distribution_drift": ORACLE_DIST_DRIFT,
    "metadata_consistency": ORACLE_METADATA_CONSISTENCY,
    "embedding_integrity": ORACLE_EMBEDDING_INTEGRITY,
})
