"""Author-resolution cascade: the reference's hardest correctness surface.

Reference behavior (reference src/research_index_backend/create_graph_from_doi.py:104-176,
check_upload_author): for each incoming author,
  1. if it has an ORCID, look up existing authors by ORCID;
  2. if the ORCID hit's *name* does not verify (similarity >= 0.8,
     score_name_similarity at :68-101), DISTRUST the ORCID and fall back to
  3. a name-key lookup (initial + surname, match_author_name at :53-65);
  4. if nothing matched, create a new author with a fresh uuid.
The reference does this one author at a time over Bolt (N+1); order of
multiple hits is unspecified (`LIMIT 1`).

Spark-first design: the WHOLE cascade is one lazy plan over the incoming
batch — two equi-joins (orcid, name-key) + a window top-1 + a coalesce
ladder. No per-row round trips; the existing side is typically the smaller
node table → broadcast both lookups. Determinism: multiple hits are
tie-broken by (score desc, uuid asc) — explicit where the reference relies
on engine order. Created ids are minted deterministically via sha2 of the
natural key (uuid4 in the reference, models.py:229 — nondeterministic ids
break idempotent re-runs and Spark task retries; sha2 keys give MERGE
semantics for free on re-ingest).

Scale: both joins shuffle/broadcast on narrow keys; the similarity UDF (or
JVM levenshtein twin) runs only on orcid-hit rows, never a cross product.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import get_config
from ..functions.names import (
    full_name_col,
    initial_name_col,
    levenshtein_ratio,
    name_similarity_udf,
)

ORCID_NAME_SIMILARITY_THRESHOLD = 0.8  # reference config.py:20-25


def resolve_authors(incoming: DataFrame, existing: DataFrame,
                    threshold: float | None = None,
                    exact: bool = False) -> DataFrame:
    """Resolve incoming author rows against the existing author table.

    incoming: (in_id, first_name, last_name, orcid?) — in_id is any stable
              per-row key (e.g. doi+author_pos).
    existing: (uuid, first_name, last_name, orcid).

    Returns incoming plus:
      resolved_uuid — the matched author's uuid, or a minted sha2 id
      resolution    — 'matched_orcid' | 'matched_name' | 'created'

    exact=True scores with the reference's difflib algorithm (pandas UDF);
    exact=False uses the JVM levenshtein ratio (SQL-oracle checkable).

    threshold=None reads (RIB_)ORCID_NAME_SIMILARITY_THRESHOLD from the
    environment, defaulting to 0.8 (reference config.py:20-25).
    """
    if threshold is None:
        threshold = get_config().orcid_name_similarity_threshold
    score_fn = name_similarity_udf if exact else levenshtein_ratio

    ex = existing.select(
        F.col("uuid").alias("__ex_uuid"),
        full_name_col("first_name", "last_name").alias("__ex_full"),
        initial_name_col("first_name", "last_name").alias("__ex_key"),
        F.col("orcid").alias("__ex_orcid"),
    )

    inc = incoming.withColumn("__full", full_name_col("first_name", "last_name")) \
                  .withColumn("__key", initial_name_col("first_name", "last_name"))

    # Stage 1 — ORCID match + name verification (steps 1-2).
    # Tie-break multiple hits per incoming row by (score desc, uuid asc).
    orcid_hits = (
        inc.filter(F.col("orcid").isNotNull())
        .join(ex.filter(F.col("__ex_orcid").isNotNull()),
              F.col("orcid") == F.col("__ex_orcid"), "inner")
        .withColumn("__score", score_fn(F.col("__ex_full"), F.col("__full")))
        .withColumn("__rn", F.row_number().over(
            _per_row_window([F.col("__score").desc(), F.col("__ex_uuid")])))
        .filter((F.col("__rn") == 1) & (F.col("__score") >= threshold))
        .select("in_id", F.col("__ex_uuid").alias("orcid_uuid"))
    )

    # Stage 2 — name-key match for everything not orcid-resolved (step 3).
    # The reference falls back here BOTH when there is no orcid and when the
    # orcid hit fails name verification.
    #
    # The tie-break here is by __ex_uuid ALONE (no per-row score), so the
    # winner for every incoming row with the same key is the same: the
    # minimum uuid in that key's existing group. Pre-aggregating the
    # existing side to one row per key BEFORE the join is therefore
    # answer-identical to the join + row_number form — and turns an m:m
    # join (O(N^2/K) intermediate pairs when keys are low-cardinality;
    # measured 179x at a 100x probe) into a map-side-combinable aggregate
    # plus an m:1 join whose right side is at most |distinct keys| rows.
    name_dim = ex.groupBy("__ex_key").agg(
        F.min("__ex_uuid").alias("name_uuid"))
    name_hits = (
        inc.join(name_dim, F.col("__key") == F.col("__ex_key"), "inner")
        .select("in_id", "name_uuid")
    )

    # Step 4 — deterministic identity minting for the rest.
    minted = F.sha2(F.concat_ws("|", "first_name", "last_name",
                                F.coalesce("orcid", F.lit(""))), 256)

    out = (
        inc.join(orcid_hits, "in_id", "left")
        .join(name_hits, "in_id", "left")
        .withColumn("resolved_uuid",
                    F.coalesce("orcid_uuid", "name_uuid", minted))
        .withColumn("resolution",
                    F.when(F.col("orcid_uuid").isNotNull(), "matched_orcid")
                    .when(F.col("name_uuid").isNotNull(), "matched_name")
                    .otherwise("created"))
    )
    return out.drop("orcid_uuid", "name_uuid", "__full", "__key")


def _per_row_window(order: list[Column]):
    from pyspark.sql import Window
    return Window.partitionBy("in_id").orderBy(*order)
