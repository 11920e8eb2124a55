"""Author-parse and metadata-parse goldens ported from the reference
(reference tests/test_parser.py:31-219) against the Spark ingest plan
(ingest/parse.py). The reference's per-row parse_author/parse_metadata
become column expressions here; the goldens pin identical outputs."""

from __future__ import annotations

import random
from datetime import datetime

import pytest
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StructField, StructType

from research_index_backend_spark.functions.pytext import (
    clean_html_udf,
    py_title_udf,
)
from research_index_backend_spark.ingest.parse import (
    _parse_author,
    parse_articles,
    parse_authors,
    read_openaire_json,
)
from research_index_backend_spark.schemas import AUTHOR_SCHEMA, OPENAIRE_SCHEMA

FIXTURE = "/root/reference/tests/fixtures/openaire_v2_simple.json"


def _parse_one(spark, author_dict):
    """Run one author dict through the staged _parse_author; returns the
    struct row or None (the reference's parse_author -> None contract)."""
    schema = StructType([StructField("a", AUTHOR_SCHEMA)])
    df = spark.createDataFrame([(author_dict,)], schema)
    rows = _parse_author(df, "a").select("p").collect()
    assert len(rows) <= 1
    return rows[0]["p"].asDict() if rows else None


class TestAuthorGoldens:
    """reference tests/test_parser.py:31-128 — six edge cases."""

    def test_author_orcid_pending(self, spark):
        got = _parse_one(spark, {
            "rank": "1", "name": "Lucy", "surname": "Allington",
            "pid": {"id": {"scheme": "orcid_pending",
                           "value": "0000-0003-1801-899x"},
                    "provenance": "null"},
            "fullName": "Allington, Lucy",
        })
        assert got == {"first_name": "Lucy", "last_name": "Allington",
                       "orcid": "https://orcid.org/0000-0003-1801-899x",
                       "rank": 1}

    def test_author_orcid(self, spark):
        got = _parse_one(spark, {
            "rank": "5", "name": "Will", "surname": "Usher",
            "pid": {"id": {"scheme": "orcid",
                           "value": "0000-0001-9367-1791"},
                    "provenance": "null"},
            "fullName": "Usher, Will",
        })
        assert got == {"first_name": "Will", "last_name": "Usher",
                       "orcid": "https://orcid.org/0000-0001-9367-1791",
                       "rank": 5}

    def test_author_no_orcid(self, spark):
        got = _parse_one(spark, {
            "rank": "5", "name": "Will", "surname": "Usher",
            "fullName": "Usher, Will", "pid": {},
        })
        assert got == {"first_name": "Will", "last_name": "Usher",
                       "orcid": None, "rank": 5}

    def test_author_name_poorly_formed(self, spark):
        """surname carries the full name -> fallback split (parser.py:40-56)."""
        got = _parse_one(spark, {
            "rank": "13", "surname": "Stephanie Hirmer",
            "pid": {"id": {"scheme": "orcid_pending",
                           "value": "0000-0001-7628-9259"},
                    "provenance": "null"},
            "fullName": "null Stephanie Hirmer",
        })
        assert got == {"first_name": "Stephanie", "last_name": "Hirmer",
                       "orcid": "https://orcid.org/0000-0001-7628-9259",
                       "rank": 13}

    def test_author_no_name_no_orcid(self, spark):
        assert _parse_one(spark, {"rank": "13",
                                  "fullName": "not a name"}) is None

    def test_author_no_first_name(self, spark):
        """ALL-CAPS duplicated surname -> .title() + mutual-substring repair
        (parser.py:24-29)."""
        got = _parse_one(spark, {
            "rank": "1", "name": "Antoinette",
            "surname": "HABINSHUTI Antoinette",
            "fullName": "HABINSHUTI Antoinette",
        })
        assert got == {"first_name": "Antoinette",
                       "last_name": "Habinshuti", "orcid": None, "rank": 1}


class TestMetadataGolden:
    """reference tests/test_parser.py:133-219 — full fixture parse."""

    def test_parse_metadata(self, spark):
        env = read_openaire_json(spark, FIXTURE).withColumn(
            "query_doi", F.lit("10.5281/zenodo.4650794"))
        rows = parse_articles(env).collect()
        assert len(rows) == 1
        art = rows[0].asDict()
        assert art["doi"] == "10.5281/zenodo.4650794"
        assert art["title"] == "CCG Starter Data Kit: Liberia"
        assert art["abstract"] == "A starter data kit for Liberia"
        assert art["journal"] == ""
        assert art["issue"] is None
        assert art["volume"] is None
        assert art["publication_year"] == 2021
        assert art["publication_month"] == 3
        assert art["publication_day"] == 31
        assert art["publisher"] == "Zenodo"
        assert art["result_type"] == "dataset"
        assert art["resource_type"] is None
        assert art["cited_by_count_date"] == datetime.now().year
        authors = [a.asDict() for a in art["authors"]]
        assert authors == [{
            "first_name": "Lucy", "last_name": "Allington",
            "orcid": "https://orcid.org/0000-0003-1801-899x", "rank": 1,
        }]

    def test_parse_authors_flat(self, spark):
        env = read_openaire_json(spark, FIXTURE).withColumn(
            "query_doi", F.lit("10.5281/zenodo.4650794"))
        rows = parse_authors(env).collect()
        assert len(rows) == 1
        assert rows[0]["first_name"] == "Lucy"
        assert rows[0]["author_pos"] == 0

    def test_parse_date(self, spark):
        """reference tests/test_parser.py:173-177."""
        df = spark.createDataFrame([("2021-05-13",)], ["d"])
        row = df.select(
            F.year(F.to_date("d")).alias("y"),
            F.month(F.to_date("d")).alias("m"),
            F.dayofmonth(F.to_date("d")).alias("dd"),
        ).collect()[0]
        assert (row["y"], row["m"], row["dd"]) == (2021, 5, 13)


class TestDegenerateTrim:
    """reference parser.py:26-29 — the empty-substring branch of the
    mutual-substring repair still applies .strip() (round-2 ADVICE)."""

    def test_whitespace_surname_empty_name_splits(self, spark):
        # name='' -> '' in surname is True -> surname.strip() -> 'Ab Cd'
        # -> surname-only fallback splits to ('Ab', 'Cd')
        got = _parse_one(spark, {"name": "", "surname": " ab cd ",
                                 "rank": "1"})
        assert got == {"first_name": "Ab", "last_name": "Cd",
                       "orcid": None, "rank": 1}

    def test_nonempty_uncontained_names_keep_whitespace_path(self, spark):
        # both non-empty, neither contains the other -> NO strip happens
        # (the reference only strips inside the `in` branches)
        got = _parse_one(spark, {"name": "Lucy", "surname": "Allington",
                                 "rank": "2"})
        assert got == {"first_name": "Lucy", "last_name": "Allington",
                       "orcid": None, "rank": 2}


class TestOpenAlex:
    """reference parser.py:183-186 + get_metadata.py:69-87: the OpenAlex
    body contributes `id` and `cited_by_count` per DOI."""

    def test_parse_openalex_body(self, spark):
        import json

        from research_index_backend_spark.ingest.fetch import FETCH_SCHEMA
        from research_index_backend_spark.ingest.parse import parse_openalex

        body = json.dumps({
            "id": "https://openalex.org/W2053522485",
            "doi": "https://doi.org/10.5281/zenodo.4650794",
            "cited_by_count": 42,
            "counts_by_year": [
                {"year": 2024, "cited_by_count": 30},
                {"year": 2023, "cited_by_count": 12},
            ],
        })
        landed = spark.createDataFrame(
            [("10.5281/zenodo.4650794", "openalex", 200, None, body),
             ("10.5281/zenodo.9999999", "openalex", 404, "HTTP 404", None)],
            FETCH_SCHEMA)
        rows = parse_openalex(landed).collect()
        assert len(rows) == 1  # errored row drops out (the {"id": None} branch)
        r = rows[0]
        assert r["doi"] == "10.5281/zenodo.4650794"
        assert r["openalex"] == "https://openalex.org/W2053522485"
        assert r["cited_by_count"] == 42
        assert r["counts_by_year"] == {2024: 30, 2023: 12}


# The single-Column author parse this package used before the staged
# _parse_author, kept verbatim as the differential oracle. Each step reuses
# the Column objects of earlier steps, so the expression grows exponentially
# (thousands of UDF call sites); it is correct, only too large to plan.
def _author_cols(a: Column) -> Column:
    """parse_author (parser.py:11-70) as a single struct expression.

    Returns struct(first_name, last_name, orcid, rank) or NULL when the
    reference would return None (unparseable name).
    """
    # F7: pid→orcid coalesce (parser.py:18-22). NOTE the reference checks
    # `if not orcid` (falsy: None or ""), mirrored via nullif('').
    orcid_raw = F.coalesce(
        F.nullif(a["orcid"], F.lit("")),
        F.when(a["pid"]["id"]["scheme"].isin("orcid", "orcid_pending"),
               a["pid"]["id"]["value"]),
    )

    # F3: .title() on name/surname, None treated as "" (parser.py:24-25)
    first0 = py_title_udf(F.coalesce(a["name"], F.lit("")))
    last0 = py_title_udf(F.coalesce(a["surname"], F.lit("")))

    # F4: mutual-substring repair (parser.py:26-29). Python's `x in y` is
    # True for x == "", where replace(y, "", "") is a no-op but the
    # trailing .strip() still runs — so the empty-substring branch must
    # trim too (round-2 ADVICE: ' Ab Cd ' with an empty twin is stripped
    # by the reference). A non-empty non-contained twin takes NO strip.
    last1 = (F.when((first0 != "") & F.contains(last0, first0),
                    F.trim(F.replace(last0, first0, F.lit(""))))
             .when(first0 == "", F.trim(last0))
             .otherwise(last0))
    first1 = (F.when((last1 != "") & F.contains(first0, last1),
                     F.trim(F.replace(first0, last1, F.lit(""))))
              .when(last1 == "", F.trim(first0))
              .otherwise(first0))

    # F5a: legacy `$` full-name split — only when both names empty
    # (parser.py:31-39); exactly-2-token split, else unparseable.
    dollar_toks = F.split(F.coalesce(a["$"], F.lit("")), r"\s+")
    dollar_toks = F.filter(dollar_toks, lambda t: t != "")
    use_dollar = (first1 == "") & (last1 == "") & (F.size(dollar_toks) > 0)
    first2 = F.when(use_dollar,
                    F.when(F.size(dollar_toks) == 2, F.element_at(dollar_toks, 1))
                    .otherwise(F.lit(None))).otherwise(first1)
    last2 = F.when(use_dollar,
                   F.when(F.size(dollar_toks) == 2, F.element_at(dollar_toks, 2))
                   .otherwise(F.lit(None))).otherwise(last1)

    # F5b: surname-only fallback (parser.py:40-56): clean_html, split on
    # narrow-NBSP U+202F, else on single space; 2 toks → (first, last),
    # >2 → (first, rest joined), 1 → unparseable.
    need_split = last2.isNotNull() & (last2 != "") & \
        (first2.isNull() | (first2 == ""))
    cleaned = clean_html_udf(last2)
    nbsp_toks = F.split(cleaned, " ")
    sp_toks = F.split(cleaned, " ")
    toks = F.when(F.size(nbsp_toks) == 1, sp_toks).otherwise(nbsp_toks)
    first3 = F.when(
        need_split,
        F.when(F.size(toks) >= 2, F.element_at(toks, 1)).otherwise(F.lit(None)),
    ).otherwise(first2)
    last3 = F.when(
        need_split,
        F.when(F.size(toks) == 2, F.element_at(toks, 2))
        .when(F.size(toks) > 2, F.array_join(F.slice(toks, 2, 100000), " "))
        .otherwise(F.lit(None)),
    ).otherwise(last2)

    rank = F.coalesce(a["rank"].cast("int"), F.lit(1))
    # F6: ORCID URL format (parser.py:66)
    orcid = F.when(orcid_raw.isNotNull(),
                   F.concat(F.lit("https://orcid.org/"), orcid_raw))

    ok = first3.isNotNull() & (first3 != "") & last3.isNotNull() & (last3 != "")
    return F.when(ok, F.struct(
        first3.alias("first_name"),
        last3.alias("last_name"),
        orcid.alias("orcid"),
        rank.alias("rank"),
    ))


_NAMES = (None, "", " ", "lucy", "Lucy", "LUCY", "  lucy  ", "o'neil-smith",
          "Mary Ann", "Antoinette", "Ab\u202fCd", "Ab\u202fCd Ef",
          "<b>Ab</b> Cd", "Ab &amp; Cd", "de la Cruz", "J.", "ab cd ef gh")


def _random_author(r: random.Random) -> dict:
    """One author struct drawn from the shapes the parse branches on."""
    name = r.choice(_NAMES)
    surname = r.choice(_NAMES + ("HABINSHUTI Antoinette", "Stephanie Hirmer",
                                 "ALLINGTON", "Lucy Allington"))
    shape = r.random()
    if shape < 0.15 and name:  # mutual substring, either way round
        surname = f"{surname or 'Doe'} {name}" if r.random() < 0.5 \
            else name[: max(1, len(name) // 2)]
    elif shape < 0.25 and surname:
        name = f"{name or 'Jo'} {surname}"
    scheme = r.choice((None, "orcid", "orcid_pending", "doi", "mag", ""))
    pid = None if scheme is None and r.random() < 0.5 else {
        "id": None if scheme is None else {
            "scheme": scheme, "value": r.choice(
                (None, "", f"0000-000{r.randrange(10)}-1801-899x"))},
        "provenance": r.choice((None, "null"))}
    return {
        "fullName": r.choice((None, "Allington, Lucy", "not a name")),
        "name": name, "surname": surname,
        "rank": r.choice((None, "1", "5", "13", "0", "-2")),
        "pid": pid,
        "orcid": r.choice((None, None, "", "0000-0002-0000-0001")),
        "$": r.choice((None, "", "ab cd", "AB", "ab cd ef", "  ab   cd  ",
                       "Ab\u202fCd")),
    }


class TestStagedAuthorParse:
    """_parse_author against the single-Column oracle above."""

    N = 1500

    def test_matches_single_column_oracle(self, spark):
        r = random.Random(20260601)
        corpus = [(i, _random_author(r)) for i in range(self.N)]
        schema = StructType([StructField("i", IntegerType()),
                             StructField("a", AUTHOR_SCHEMA)])
        df = spark.createDataFrame(corpus, schema)
        want = {row["i"]: row["p"] for row in
                df.select("i", _author_cols(F.col("a")).alias("p")).collect()}
        got = {row["i"]: row["p"] for row in
               _parse_author(df, "a").select("i", "p").collect()}
        # unparseable authors: NULL in the oracle, no row in the staged parse
        assert {i for i, p in want.items() if p is not None} == set(got)
        diff = [(i, want[i], got[i]) for i in got if want[i] != got[i]]
        assert diff == []
        # the corpus reaches every outcome the parse can produce
        kept = list(got.values())
        assert 0 < len(kept) < self.N
        assert any(p["orcid"] for p in kept)
        assert any(p["orcid"] is None for p in kept)
        assert any(" " in p["last_name"] for p in kept)

    def test_plan_names_each_udf_once_per_call(self, spark):
        """The staged parse keeps one call site per UDF call: the analyzed
        plan of parse_authors names .title() twice and clean_html once, and
        the executed plan calls them no more often (the oracle's Column
        alone names them 4,788 and 54 times)."""
        env = spark.createDataFrame([], OPENAIRE_SCHEMA) \
            .withColumn("query_doi", F.lit("10.1/x"))
        qe = parse_authors(env)._jdf.queryExecution()
        for plan in (qe.analyzed(), qe.executedPlan()):
            text = plan.toString()
            assert text.count("py_title_udf") <= 2
            assert text.count("clean_html_udf") <= 1
