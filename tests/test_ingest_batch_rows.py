"""The ingest graph builder returns only the batch's rows, and the keyed
Parquet upsert in run_ingest is the only merge with the graph on disk.

Uses the in-test transport and inline articles of test_ingest_hermetic, so
no file outside the test is read."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from research_index_backend_spark.cli import run_ingest
from research_index_backend_spark.ingest.pipeline import (
    build_graph_from_envelopes,
)
from research_index_backend_spark.schemas import (
    AUTHOR_NODE,
    COUNTRY_NODE,
    OPENAIRE_SCHEMA,
    OUTPUT_NODE,
)
from test_ingest_hermetic import (
    A1,
    A2,
    COUNTRIES,
    LUCY,
    NIA,
    OMAR,
    SEEDED,
    _doi,
    _out,
    _sha,
    make_transport,
)

TABLES = ("outputs", "authors", "author_of", "refers_to")
# Spark jobs of the steady-state batch in test_batch_job_budget (local[4]):
# 55 with the builder returning batch rows; 62 while it merged the node
# tables itself and probed two tables with isEmpty().
JOB_BUDGET = 55


def _write_doi_file(path, indices) -> str:
    path.write_text("\n".join(_doi(i) for i in indices) + "\n")
    return str(path)


def _row_sets(spark, graph) -> dict:
    return {t: set(spark.read.parquet(str(graph / t)).toJSON().collect())
            for t in TABLES}


@pytest.fixture
def seeded(spark, tmp_path):
    """A graph directory with the seeded authors and no other table."""
    g = tmp_path / "graph"
    spark.createDataFrame(SEEDED, AUTHOR_NODE).write.parquet(str(g / "authors"))
    return g


def _write_countries(spark, graph) -> None:
    spark.createDataFrame(COUNTRIES, COUNTRY_NODE) \
        .write.parquet(str(graph / "countries"))


def test_insert_rerun_changes_no_table(spark, tmp_path, seeded):
    _write_countries(spark, seeded)
    dois = _write_doi_file(tmp_path / "batch.txt", (1, 2, 3, 4, 6))
    run_ingest(spark, dois, str(seeded), transport=make_transport())
    before = _row_sets(spark, seeded)
    assert all(before.values())

    got = run_ingest(spark, dois, str(seeded),
                     transport=make_transport()).collect()[0]
    assert (got["existing_dois"], got["new_dois"], got["processed_dois"],
            got["ingested_dois"]) == (5, 0, 0, 0)
    assert _row_sets(spark, seeded) == before


def test_tagging_covers_the_whole_graph(spark, tmp_path, seeded):
    # no countries table: refers_to is written empty, nothing raises
    run_ingest(spark, _write_doi_file(tmp_path / "b1.txt", (1, 2)),
               str(seeded), transport=make_transport())
    assert spark.read.parquet(str(seeded / "refers_to")).count() == 0

    # countries arrive; the next batch tags batch-1 outputs as well
    _write_countries(spark, seeded)
    run_ingest(spark, _write_doi_file(tmp_path / "b2.txt", (3,)),
               str(seeded), transport=make_transport())
    assert {(r["output_uuid"], r["country_id"]) for r in
            spark.read.parquet(str(seeded / "refers_to")).collect()} == \
        {(_out(1), "KEN"), (_out(2), "GHA"), (_out(3), "PER")}


def _envelopes(spark, indices):
    """OpenAIRE envelopes as run_ingest lands them, from the transport."""
    transport = make_transport()
    bodies = [(_doi(i), transport(f"x?originalId={_doi(i)}", {})[1])
              for i in indices]
    return (spark.createDataFrame(bodies, "query_doi string, body string")
            .select(F.from_json("body", OPENAIRE_SCHEMA).alias("e"),
                    "query_doi")
            .select("e.header", "e.results", "query_doi"))


def test_builder_returns_only_the_batch_rows(spark):
    # the graph already holds DOI 2 ("A case study of Ghana") and the
    # seeded authors
    existing_outputs = spark.createDataFrame(
        [(_out(2), _doi(2), "Solar Pathways", "A case study of Ghana")
         + (None,) * 13], OUTPUT_NODE)
    g = build_graph_from_envelopes(
        _envelopes(spark, (1, 3, 7)),
        spark.createDataFrame(SEEDED, AUTHOR_NODE), existing_outputs,
        countries=spark.createDataFrame(COUNTRIES, COUNTRY_NODE))
    assert set(g) == set(TABLES)

    outputs = {r["doi"]: r["uuid"] for r in g["outputs"].collect()}
    assert outputs == {_doi(i): _sha(_doi(i)) for i in (1, 3, 7)}
    # A1 (ORCID) and A2 (name key) are matched, so only the authors
    # resolution created come back
    assert {r["uuid"] for r in g["authors"].collect()} == {NIA, OMAR, LUCY}
    edges = {(r["author_uuid"], r["output_uuid"])
             for r in g["author_of"].collect()}
    assert edges == {(A1, _out(1)), (A2, _out(1)), (NIA, _out(3)),
                     (OMAR, _out(3)), (A1, _out(7)), (LUCY, _out(7))}
    assert {o for _, o in edges} <= set(outputs.values())
    # tagging runs over the graph's next state, the existing DOI 2 too
    assert {(r["output_uuid"], r["country_id"])
            for r in g["refers_to"].collect()} == \
        {(_out(1), "KEN"), (_out(2), "GHA"), (_out(3), "PER")}


def test_batch_job_budget(spark, tmp_path, seeded):
    """A steady-state batch (every table on disk, resubmitted and new
    DOIs) launches at most JOB_BUDGET Spark jobs: an extra probe or
    materialization on the ingest path shows up here."""
    _write_countries(spark, seeded)
    run_ingest(spark, _write_doi_file(tmp_path / "b1.txt", (1, 2, 3, 4)),
               str(seeded), transport=make_transport())
    sc = spark.sparkContext
    group = "test-batch-job-budget"
    sc.setJobGroup(group, "one ingest batch")
    try:
        run_ingest(spark, _write_doi_file(tmp_path / "b2.txt", (3, 6, 7, 9)),
                   str(seeded), transport=make_transport()).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= JOB_BUDGET, len(jobs)
