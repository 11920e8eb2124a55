"""Legacy v1 oaf-envelope parse (the response.results.result[]
XML-to-JSON dialect): goldens against the reference's zenodo fixture
(reference tests/fixtures/zenodo.json), and inline envelopes that need no
fixture file."""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from research_index_backend_spark.ingest.parse import (
    parse_zenodo_v1,
    read_zenodo_v1_json,
)
from research_index_backend_spark.schemas import ZENODO_V1_SCHEMA

FIXTURE = "/root/reference/tests/fixtures/zenodo.json"


def test_zenodo_v1_golden(spark):
    env = read_zenodo_v1_json(spark, FIXTURE)
    rows = parse_zenodo_v1(env).collect()
    assert len(rows) == 1
    r = rows[0].asDict()

    # doi from the @classid='doi' pid ($ value); no query_doi side channel
    assert r["doi"] == "10.5281/zenodo.4650794"
    assert r["title"] == "CCG Starter Data Kit: Liberia"
    assert r["abstract"] == "A starter data kit for Liberia"
    assert r["journal"] == ""          # zenodo records carry no journal
    assert r["publisher"] == "Zenodo"
    # dateofacceptance.$ = 2023-01-16
    assert (r["publication_year"], r["publication_month"],
            r["publication_day"]) == (2023, 1, 16)
    # resulttype @classid; resourcetype schemeid is dnet:dataCite_resource,
    # which the scheme dispatch (parser.py:150-163) does NOT map
    assert r["result_type"] == "dataset"
    assert r["resource_type"] is None
    assert r["cited_by_count_date"] == datetime.now().year

    # creator[0]: @rank=1 @name=Lucy @surname=Allington
    # @orcid_pending=0000-0003-1801-899x
    assert len(r["authors"]) == 1
    a = r["authors"][0].asDict()
    assert a == {
        "first_name": "Lucy",
        "last_name": "Allington",
        "orcid": "https://orcid.org/0000-0003-1801-899x",
        "rank": 1,
    }


def test_zenodo_v1_query_doi_side_channel(spark):
    env = read_zenodo_v1_json(spark, FIXTURE).withColumn(
        "query_doi", F.lit("10.9999/landed"))
    r = parse_zenodo_v1(env).collect()[0]
    assert r["doi"] == "10.9999/landed"


def test_zenodo_v1_null_doi_keeps_authors(spark):
    """Envelope with neither query_doi nor a @classid='doi' pid: the doi
    is null, but the authors re-join keys on the surrogate env_id, so
    parsed creators must still attach (a doi-keyed join would never match
    a null key and silently emit an empty author array)."""
    env = read_zenodo_v1_json(spark, FIXTURE).withColumn(
        "response",
        F.col("response").withField(
            "results.result",
            F.transform(
                F.col("response.results.result"),
                lambda res: res.withField(
                    "metadata.`oaf:entity`.`oaf:result`.pid",
                    F.filter(
                        res["metadata"]["oaf:entity"]["oaf:result"]["pid"],
                        lambda p: p["@classid"] != "doi")))))
    rows = parse_zenodo_v1(env).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doi"] is None
    assert len(r["authors"]) == 1
    assert r["authors"][0]["last_name"] == "Allington"


def test_zenodo_v1_duplicate_envelopes_do_not_cross_merge(spark):
    """Two identical envelopes share (doi, result_idx); the surrogate
    env_id must keep their author lists separate — each output row gets
    exactly its own 1 creator, not a cross-merged 2."""
    one = read_zenodo_v1_json(spark, FIXTURE)
    rows = parse_zenodo_v1(one.unionAll(one)).collect()
    assert len(rows) == 2
    for r in rows:
        assert r["doi"] == "10.5281/zenodo.4650794"
        assert len(r["authors"]) == 1


# Inline v1 envelopes, built on ZENODO_V1_SCHEMA: no fixture file needed.

def _classified(classid, schemeid=None, value=None):
    return {"@classid": classid, "@classname": classid,
            "@schemeid": schemeid, "@schemename": schemeid, "$": value}


def _creator(rank, name=None, surname=None, orcid=None, pending=None,
             dollar=None):
    return {"@rank": rank, "@name": name, "@surname": surname,
            "@orcid": orcid, "@orcid_pending": pending, "$": dollar}


def _v1_result(title, creators, doi=None, date="2021-07-09"):
    pids = [_classified("handle", "dnet:pid_types", "11.111/h")]
    if doi:
        pids.append(_classified("doi", "dnet:pid_types", doi))
    return {"metadata": {"oaf:entity": {"oaf:result": {
        "pid": pids,
        "title": _classified("main title", value=title),
        "creator": creators,
        "dateofacceptance": {"$": date},
        "description": {"$": f"About {title}."},
        "publisher": {"$": "Zenodo"},
        "journal": None,
        "resulttype": _classified("publication"),
        "resourcetype": _classified("0001", "dnet:publication_resource"),
    }}}}


def _v1_envelopes(spark, *envelopes):
    """envelopes: (query_doi, [result, ...]) pairs."""
    return spark.createDataFrame(
        [{"response": {"results": {"result": results}}, "query_doi": q}
         for q, results in envelopes], ZENODO_V1_SCHEMA)


def _authors(row):
    return [a.asDict() for a in row["authors"]]


def test_inline_doi_pid_and_orcid_creator(spark):
    env = _v1_envelopes(spark, (None, [_v1_result(
        "Grid <b>Atlas</b>",
        [_creator("1", "amara", "bandah", orcid="0000-0002-0000-0001",
                  pending="0000-0002-0000-0009"),
         _creator("2", "Kofi", "Mensah", pending="0000-0002-0000-0002")],
        doi="10.5281/zenodo.1")]))
    rows = parse_zenodo_v1(env).collect()
    assert len(rows) == 1
    r = rows[0]
    # doi from the @classid='doi' pid; the handle pid is ignored
    assert r["doi"] == "10.5281/zenodo.1"
    assert r["title"] == "Grid Atlas"
    assert r["abstract"] == "About Grid <b>Atlas</b>."
    assert r["journal"] == ""
    assert (r["publication_year"], r["publication_month"],
            r["publication_day"]) == (2021, 7, 9)
    assert (r["result_type"], r["resource_type"]) == ("publication", "0001")
    # @orcid wins over @orcid_pending; names are title-cased
    assert _authors(r) == [
        {"first_name": "Amara", "last_name": "Bandah",
         "orcid": "https://orcid.org/0000-0002-0000-0001", "rank": 1},
        {"first_name": "Kofi", "last_name": "Mensah",
         "orcid": "https://orcid.org/0000-0002-0000-0002", "rank": 2},
    ]


def test_inline_doi_from_query_doi_and_dollar_only_creator(spark):
    env = _v1_envelopes(spark, ("10.5281/zenodo.2", [_v1_result(
        "Starter Kit",
        [_creator(None, dollar="Lucy Allington"),
         # a `$` that does not split into exactly two tokens is unparseable
         _creator("2", dollar="Just One Too Many")])]))
    rows = parse_zenodo_v1(env).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doi"] == "10.5281/zenodo.2"
    # the `$` split keeps the tokens as written; a missing @rank is 1
    assert _authors(r) == [{"first_name": "Lucy", "last_name": "Allington",
                            "orcid": None, "rank": 1}]


def test_inline_two_results_in_one_envelope(spark):
    env = _v1_envelopes(spark, ("10.5281/zenodo.3", [
        _v1_result("First", [_creator("1", "Nia", "Usman")]),
        _v1_result("Second", [_creator("1", "Omar", "Otieno"),
                              _creator("2", "Zuri", "Phiri")],
                   date="2020-01-02"),
    ]))
    rows = sorted(parse_zenodo_v1(env).collect(), key=lambda r: r["title"])
    assert [r["title"] for r in rows] == ["First", "Second"]
    # both results carry the envelope's query_doi; each keeps its own
    # creators
    assert {r["doi"] for r in rows} == {"10.5281/zenodo.3"}
    assert [(a["first_name"], a["last_name"]) for a in rows[0]["authors"]] \
        == [("Nia", "Usman")]
    assert [(a["first_name"], a["last_name"]) for a in rows[1]["authors"]] \
        == [("Omar", "Otieno"), ("Zuri", "Phiri")]
    assert rows[1]["publication_year"] == 2020
