"""run_ingest end to end with no files outside the test: an in-test
transport serves inline OpenAIRE/OpenAlex bodies, the graph directory is
seeded with countries and authors, and two batches run — the second with
re-submissions and update_metadata=True (the -u flag).

Every branch of author resolution fires in the first batch: an ORCID match
whose name passes verification, a name-key match, an ORCID whose name
fails verification (so the author is created), and plain creations. One
DOI gets an OpenAIRE "no results" envelope and one an OpenAlex 404."""

from __future__ import annotations

import hashlib
import json

import pytest

from research_index_backend_spark.cli import run_ingest
from research_index_backend_spark.schemas import AUTHOR_NODE, COUNTRY_NODE

ORCID = "https://orcid.org/"


def _doi(i: int) -> str:
    return f"10.5281/zenodo.{100000 + i}"


def _author(name, surname, orcid=None, rank="1", full=None):
    a = {"fullName": full or f"{surname}, {name}", "name": name,
         "surname": surname, "rank": rank}
    if orcid:
        a["pid"] = {"id": {"scheme": "orcid", "value": orcid},
                    "provenance": None}
    return a


# doi index -> (title, abstract, authors). Ranks are author positions.
ARTICLES = {
    1: ("Energy Access in Kenya", "Grid planning for rural demand.",
        [_author("Amara", "Bandah", "0000-0001-0000-0001"),
         _author("Kofi", "Mensah", rank="2")]),
    2: ("Solar Pathways", "A case study of Ghana.",
        [_author("Zuri", "Phiri", "0000-0001-0000-0003"),
         _author("Nia", "Usman", rank="2")]),
    3: ("Hydro Storage in Peru", "Costs of storage in Peru.",
        [_author("Nia", "Usman"), _author("Omar", "OTIENO", rank="2")]),
    4: ("Open Data Kits", "Starter kits.",
        [_author(None, "Priya Rahman", full="Priya Rahman")]),
    5: ("Never Served", "No record.", [_author("Nia", "Usman")]),
    6: ("Biomass Demand", "A case study of Chile.",
        [_author("Kofi", "Mensah")]),
    7: ("Emission Scenarios", "Model results.",
        [_author("Amara", "Bandah", "0000-0001-0000-0001"),
         _author("Lucy", "Allington", "0000-0003-1801-899x", rank="2")]),
    8: ("Investment Policy", "Policy notes.",
        [{"fullName": "not a name", "rank": "1"},
         _author("Nia", "Usman", rank="2")]),
    9: ("Rural Electricity", "Planning notes.",
        [_author("Zuri", "Phiri", "0000-0001-0000-0003"),
         _author("Kofi", "Mensah", rank="2")]),
    10: ("Transition Costs", "Evidence from Kenya.",
         [_author("Sipho", "Ndlovu")]),
}
NO_RESULTS = {5}        # OpenAIRE answers with an empty result list
OPENALEX_404 = {6}


def make_transport(revised_titles: dict[int, str] | None = None):
    """A stand-in for both metadata APIs, built as a closure so cloudpickle
    ships it (and the articles) to the Python workers by value."""
    articles = {_doi(i): (i, a) for i, a in ARTICLES.items()}
    revised = {_doi(i): t for i, t in (revised_titles or {}).items()}
    no_results = {_doi(i) for i in NO_RESULTS}
    missing = {_doi(i) for i in OPENALEX_404}

    def transport(url: str, headers: dict) -> tuple[int, str]:
        if "originalId=" in url:
            doi = url.split("originalId=", 1)[1]
            if doi in no_results:
                return 200, json.dumps({"header": {"numFound": 0},
                                        "results": []})
            i, (title, abstract, authors) = articles[doi]
            return 200, json.dumps({"header": {"numFound": 1}, "results": [{
                "mainTitle": revised.get(doi, title),
                "descriptions": [abstract], "authors": authors,
                "publisher": "Zenodo", "publicationDate": f"2021-03-{i:02d}",
                "type": "publication",
                "pids": [{"id": {"scheme": "doi", "value": doi}}]}]})
        doi = url.split("/works/doi:", 1)[1]
        if doi in missing:
            return 404, json.dumps({"error": "Not Found"})
        return 200, json.dumps({"id": f"https://openalex.org/W{doi[-6:]}",
                                "cited_by_count": articles[doi][0]})
    return transport


def _sha(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


def _out(i: int) -> str:
    return _sha(_doi(i))


def _minted(first: str, last: str, orcid: str = "") -> str:
    return _sha(f"{first}|{last}|{orcid}")


# Seeded authors: A1 is found by ORCID (the incoming name differs in the
# surname, so its name key cannot match), A2 by name key (no ORCID on either
# side), and A3's ORCID arrives under a name that fails verification.
A1, A2, A3 = "seed-amara", "seed-kofi", "seed-lina"
SEEDED = [(A1, "Amara", "Banda", ORCID + "0000-0001-0000-0001", None, None),
          (A2, "Kofi", "Mensah", None, None, None),
          (A3, "Lina", "Okafor", ORCID + "0000-0001-0000-0003", None, None)]
COUNTRIES = [("KEN", "Kenya", "Republic of Kenya", "Republic_of_Kenya", 0.0, 38.0),
             ("GHA", "Ghana", "Republic of Ghana", "Republic_of_Ghana", 8.0, -1.0),
             ("PER", "Peru", "Republic of Peru", "Republic_of_Peru", -10.0, -76.0),
             ("CHL", "Chile", "Republic of Chile", "Republic_of_Chile", -30.0, -71.0)]

ZURI = _minted("Zuri", "Phiri", ORCID + "0000-0001-0000-0003")
NIA = _minted("Nia", "Usman")
OMAR = _minted("Omar", "Otieno")
PRIYA = _minted("Priya", "Rahman")
LUCY = _minted("Lucy", "Allington", ORCID + "0000-0003-1801-899x")
SIPHO = _minted("Sipho", "Ndlovu")

AUTHOR_OF_1 = {(A1, _out(1)), (A2, _out(1)), (ZURI, _out(2)), (NIA, _out(2)),
               (NIA, _out(3)), (OMAR, _out(3)), (PRIYA, _out(4)),
               (A2, _out(6)), (A1, _out(7)), (LUCY, _out(7)), (NIA, _out(8))}
# batch 2: Zuri's ORCID now hits two authors (A3 and the one minted in
# batch 1); the verified one wins
AUTHOR_OF_2 = AUTHOR_OF_1 | {(ZURI, _out(9)), (A2, _out(9)),
                             (SIPHO, _out(10))}
# the Kenya edge of DOI 1 comes from its title alone
REFERS_TO_1 = {(_out(1), "KEN"), (_out(2), "GHA"), (_out(3), "PER"),
               (_out(6), "CHL")}
REFERS_TO_2 = REFERS_TO_1 | {(_out(10), "KEN")}


def _metrics(report) -> dict:
    row = report.collect()[0].asDict()
    assert row.pop("total_time_seconds") >= 0
    return row


def _tables(spark, graph) -> dict:
    return {t: spark.read.parquet(str(graph / t))
            for t in ("outputs", "authors", "author_of", "refers_to")}


def _assert_keys_and_endpoints(tables) -> None:
    rows = {t: [r.asDict() for r in df.collect()] for t, df in tables.items()}
    for table, keys in (("outputs", ("doi",)), ("outputs", ("uuid",)),
                        ("authors", ("uuid",)),
                        ("author_of", ("author_uuid", "output_uuid")),
                        ("refers_to", ("output_uuid", "country_id"))):
        vals = [tuple(r[k] for k in keys) for r in rows[table]]
        assert len(vals) == len(set(vals)), (table, keys)
    authors = {r["uuid"] for r in rows["authors"]}
    outputs = {r["uuid"] for r in rows["outputs"]}
    assert {r["author_uuid"] for r in rows["author_of"]} <= authors
    assert {r["output_uuid"] for r in rows["author_of"]} <= outputs
    assert {r["output_uuid"] for r in rows["refers_to"]} <= outputs
    assert {r["country_id"] for r in rows["refers_to"]} <= \
        {c[0] for c in COUNTRIES}


@pytest.fixture
def graph(spark, tmp_path):
    g = tmp_path / "graph"
    spark.createDataFrame(COUNTRIES, COUNTRY_NODE) \
        .write.parquet(str(g / "countries"))
    spark.createDataFrame(SEEDED, AUTHOR_NODE).write.parquet(str(g / "authors"))
    return g


def test_two_batches_into_a_seeded_graph(spark, tmp_path, graph):
    batch1 = tmp_path / "batch1.txt"
    batch1.write_text("\n".join(
        [_doi(i) for i in range(1, 9)]
        + [f"https://doi.org/{_doi(1)}", "not-a-doi", ""]) + "\n")
    got = _metrics(run_ingest(spark, str(batch1), str(graph),
                              transport=make_transport()))
    assert got == {
        "submitted_dois": 10, "duplicated_submissions": 1,
        "processed_dois": 8, "new_dois": 8, "existing_dois": 0,
        "updated_existing_dois": 0, "ingested_dois": 7,
        "metadata_pass": 7, "metadata_failure": 1,
        "valid_pattern_dois": 8, "invalid_pattern_dois": 1,
        "openalex_success": 7, "openaire_success": 7,
    }
    t = _tables(spark, graph)
    _assert_keys_and_endpoints(t)
    outputs = {r["doi"]: r for r in t["outputs"].collect()}
    assert set(outputs) == {_doi(i) for i in (1, 2, 3, 4, 6, 7, 8)}
    assert outputs[_doi(1)]["openalex"] == "https://openalex.org/W100001"
    assert outputs[_doi(1)]["cited_by_count"] == 1
    assert outputs[_doi(6)]["openalex"] is None  # the OpenAlex 404
    assert outputs[_doi(6)]["cited_by_count"] is None
    edges = {(r["author_uuid"], r["output_uuid"])
             for r in t["author_of"].collect()}
    # A1: ORCID match; A2: name match; ZURI: A3's ORCID under a name that
    # fails verification, so created (A3 gets no edge); the rest created
    assert edges == AUTHOR_OF_1
    authors = {r["uuid"]: r for r in t["authors"].collect()}
    assert set(authors) == {A1, A2, A3, ZURI, NIA, OMAR, PRIYA, LUCY}
    assert authors[ZURI]["orcid"] == authors[A3]["orcid"]
    assert (authors[OMAR]["first_name"], authors[OMAR]["last_name"]) == \
        ("Omar", "Otieno")
    assert (authors[PRIYA]["first_name"], authors[PRIYA]["last_name"]) == \
        ("Priya", "Rahman")
    assert {(r["output_uuid"], r["country_id"])
            for r in t["refers_to"].collect()} == REFERS_TO_1

    # batch 2: two re-submissions (one with a revised title), the failed
    # DOI again and two new DOIs, under -u
    batch2 = tmp_path / "batch2.txt"
    batch2.write_text("\n".join(
        [_doi(1), _doi(3), _doi(5), _doi(9), _doi(10), "doi:unknown"]) + "\n")
    revised = "Energy Access in Kenya: Revised"
    got = _metrics(run_ingest(spark, str(batch2), str(graph),
                              update_metadata=True,
                              transport=make_transport({1: revised})))
    assert got == {
        "submitted_dois": 6, "duplicated_submissions": 0,
        "processed_dois": 5, "new_dois": 3, "existing_dois": 2,
        "updated_existing_dois": 2, "ingested_dois": 4,
        "metadata_pass": 4, "metadata_failure": 1,
        "valid_pattern_dois": 5, "invalid_pattern_dois": 1,
        "openalex_success": 5, "openaire_success": 4,
    }
    t = _tables(spark, graph)
    _assert_keys_and_endpoints(t)
    outputs = {r["doi"]: r for r in t["outputs"].collect()}
    assert set(outputs) == {_doi(i) for i in (1, 2, 3, 4, 6, 7, 8, 9, 10)}
    assert outputs[_doi(1)]["title"] == revised
    assert {(r["author_uuid"], r["output_uuid"])
            for r in t["author_of"].collect()} == AUTHOR_OF_2
    assert {r["uuid"] for r in t["authors"].collect()} == \
        {A1, A2, A3, ZURI, NIA, OMAR, PRIYA, LUCY, SIPHO}
    assert {(r["output_uuid"], r["country_id"])
            for r in t["refers_to"].collect()} == REFERS_TO_2
