"""Seeded synthetic input for the DOI-ingest workload.

Everything here is a pure function of the seed, so the same seed yields the
same DOI files, the same metadata envelopes and the same ground truth:

- ``make_plan`` draws the batches: valid DOIs in dirty spellings, invalid
  lines, in-file duplicate submissions and ~20% re-submissions of DOIs from
  earlier batches.
- ``make_transport`` returns a picklable ``transport(url, headers)`` closure
  for ``fetch_metadata``.  It never touches the network: each envelope is
  derived from ``(seed, doi)`` inside the Python worker.  About 3% of DOIs
  get an OpenAIRE "no results" envelope and about 5% an OpenAlex 404.
- Authors come from a seeded pool, ~60% with an ORCID; a slice of the pool
  is pre-loaded into the graph so the ORCID-match, name-match and create
  branches of author resolution all fire from the first batch.
- ``check_graph`` compares the Parquet graph against the ground truth.
"""

from __future__ import annotations

import hashlib
import json
import random
from collections import Counter
from dataclasses import dataclass

COUNTRY_NAMES = (
    "Kenya", "Liberia", "Ghana", "Nigeria", "Niger", "Ethiopia", "Uganda",
    "Rwanda", "Zambia", "Malawi", "Mozambique", "Tanzania", "Namibia",
    "Botswana", "Senegal", "Mali", "Chad", "Sudan", "South Sudan", "Egypt",
    "Morocco", "Tunisia", "Algeria", "Angola", "Benin", "Togo", "Gabon",
    "Cameroon", "Somalia", "Eritrea", "Lesotho", "Madagascar", "Mauritius",
    "Nepal", "India", "Bangladesh", "Vietnam", "Laos", "Cambodia",
    "Indonesia", "Peru", "Chile", "Bolivia", "Ecuador", "Colombia",
    "Guatemala", "Honduras", "Jamaica", "Haiti", "Fiji",
)
FIRST = ("Amara", "Bongani", "Chidi", "Dalia", "Eshe", "Femi", "Gloria",
         "Hamza", "Ines", "Jabari", "Kofi", "Lina", "Musa", "Nia", "Omar",
         "Priya", "Quentin", "Rosa", "Sipho", "Tariq", "Uma", "Viktor",
         "Wanjiru", "Xolani", "Yara", "Zuri")
LAST = ("Abebe", "Banda", "Cisse", "Diallo", "Eze", "Fofana", "Gueye",
        "Hassan", "Ibrahim", "Juma", "Kamau", "Lungu", "Mensah", "Ndlovu",
        "Okafor", "Phiri", "Quaye", "Rahman", "Sesay", "Traore", "Usman",
        "Vilakazi", "Wekesa", "Yeboah", "Zulu", "Achieng", "Boateng",
        "Chukwu", "Dlamini", "Otieno")
WORDS = ("energy", "access", "model", "grid", "solar", "demand", "policy",
         "climate", "pathway", "scenario", "cost", "storage", "rural",
         "electricity", "planning", "data", "kit", "starter", "open",
         "transition", "hydro", "biomass", "emissions", "investment")
INVALID_LINES = ("non_empty_string", "10.5281zenodo.8140226",
                 "10.5281/zenodo", "doi:unknown")
P_NO_RESULTS = 0.03
P_OPENALEX_404 = 0.05
P_RESUBMIT = 0.20
P_ORCID = 0.60


def _rng(*key) -> random.Random:
    h = hashlib.sha256("|".join(map(str, key)).encode()).digest()
    return random.Random(int.from_bytes(h[:8], "big"))


def make_author_pool(seed: int, n: int = 240) -> list[dict]:
    """Distinct (first, last) names, ~60% with an ORCID."""
    rng = _rng(seed, "authors")
    names = [(f, last) for f in FIRST for last in LAST]
    rng.shuffle(names)
    pool = []
    for i, (first, last) in enumerate(names[:n]):
        orcid = (f"0000-000{rng.randrange(10)}-{rng.randrange(10**4):04d}-"
                 f"{i:04d}" if rng.random() < P_ORCID else None)
        pool.append({"first": first, "last": last, "orcid": orcid})
    return pool


def countries_table(seed: int) -> list[dict]:
    """Country nodes in COUNTRY_NODE shape, ids C00 to C49."""
    rng = _rng(seed, "countries")
    rows = []
    for i, name in enumerate(COUNTRY_NAMES):
        rows.append({"id": f"C{i:02d}", "name": name,
                     "official_name": f"Republic of {name}",
                     "dbpedia": f"Republic_of_{name.replace(' ', '_')}",
                     "latitude": round(rng.uniform(-40, 40), 4),
                     "longitude": round(rng.uniform(-90, 120), 4)})
    return rows


def _outcome(seed: int, doi: str) -> tuple[bool, bool]:
    """(openaire_ok, openalex_ok) for one DOI."""
    r = _rng(seed, "outcome", doi)
    return r.random() >= P_NO_RESULTS, r.random() >= P_OPENALEX_404


def _article(seed: int, doi: str, pool: list[dict]) -> dict:
    r = _rng(seed, "article", doi)
    countries = r.sample(COUNTRY_NAMES, r.randint(0, 3))
    title_country = r.choice(COUNTRY_NAMES) if r.random() < 0.3 else None
    words = [r.choice(WORDS) for _ in range(r.randint(3, 6))]
    title = " ".join(w.capitalize() for w in words)
    if title_country:
        title += f": {title_country}"
    abstract = " ".join(r.choice(WORDS) for _ in range(r.randint(20, 60)))
    for c in countries:
        abstract += f" A case study of {c}."
    authors = r.sample(range(len(pool)), r.randint(1, 5))
    return {"title": title, "abstract": abstract,
            "date": f"{r.randint(2015, 2024)}-{r.randint(1, 12):02d}-"
                    f"{r.randint(1, 28):02d}",
            "authors": authors, "cited": r.randint(0, 500)}


def _openaire_body(seed: int, doi: str, pool: list[dict]) -> str:
    a = _article(seed, doi, pool)
    authors = []
    for rank, idx in enumerate(a["authors"], start=1):
        p = pool[idx]
        pid = ({"id": {"scheme": "orcid", "value": p["orcid"]},
                "provenance": None} if p["orcid"] else None)
        authors.append({"fullName": f"{p['last']}, {p['first']}",
                        "name": p["first"], "surname": p["last"],
                        "rank": str(rank), "pid": pid})
    result = {"id": "doi_dedup___::" + hashlib.md5(doi.encode()).hexdigest(),
              "mainTitle": a["title"], "descriptions": [a["abstract"]],
              "authors": authors, "publisher": "Zenodo",
              "publicationDate": a["date"], "journal": None,
              "type": "publication",
              "resourcetype": {"@classid": "0001", "@classname": "Article",
                               "@schemeid": "dnet:publication_resource",
                               "@schemename": "dnet:publication_resource"},
              "pids": [{"id": {"scheme": "doi", "value": doi}}]}
    return json.dumps({"header": {"numFound": 1, "page": 1, "pageSize": 10,
                                  "queryTime": 3}, "results": [result]})


def make_transport(seed: int, pool: list[dict]):
    """A deterministic in-process stand-in for the two metadata APIs."""
    def transport(url: str, headers: dict) -> tuple[int, str]:
        if "originalId=" in url:
            doi = url.split("originalId=", 1)[1]
            if not _outcome(seed, doi)[0]:
                return 200, json.dumps({"header": {"numFound": 0},
                                        "results": []})
            return 200, _openaire_body(seed, doi, pool)
        doi = url.split("/works/doi:", 1)[1]
        if not _outcome(seed, doi)[1]:
            return 404, json.dumps({"error": "Not Found"})
        cited = _article(seed, doi, pool)["cited"]
        return 200, json.dumps({"id": "https://openalex.org/W" + hashlib.md5(
            doi.encode()).hexdigest()[:10], "doi": doi,
            "cited_by_count": cited, "counts_by_year": []})
    return transport


@dataclass
class Batch:
    lines: list[str]
    #: expected ingestion_metrics counters for this batch
    expect: dict
    #: DOIs whose OpenAIRE fetch succeeded in this batch
    ingested: list[str]


def _dirty(r: random.Random, doi: str) -> str:
    k = r.randrange(5)
    return (doi, f"https://doi.org/{doi}", f"  {doi}  ", f"{doi}.",
            f"doi.org/{doi}")[k]


def make_plan(seed: int, batch_sizes: list[int]) -> list[Batch]:
    """DOI files for a run of batches plus each batch's expected metrics."""
    rng = _rng(seed, "plan")
    seen: list[str] = []
    next_id = rng.randrange(10**6, 9 * 10**6)
    batches = []
    for size in batch_sizes:
        n_resub = int(size * P_RESUBMIT) if seen else 0
        fresh = []
        for _ in range(size - n_resub):
            next_id += rng.randint(1, 7)
            fresh.append(f"10.5281/zenodo.{next_id}")
        resub = rng.sample(seen, min(n_resub, len(seen)))
        dois = fresh + resub
        dupes = rng.sample(dois, max(1, size // 20))
        invalid = [rng.choice(INVALID_LINES) for _ in range(max(1, size // 25))]
        entries = dois + dupes + invalid
        rng.shuffle(entries)
        lines = [_dirty(rng, e) if e.startswith("10.5281/zenodo.") else e
                 for e in entries]
        lines.insert(rng.randrange(len(lines)), "")
        ok = [d for d in fresh if _outcome(seed, d)[0]]
        ok_alex = [d for d in fresh if _outcome(seed, d)[1]]
        expect = {
            "submitted_dois": len(entries),
            "duplicated_submissions": _duplicates(lines),
            "new_dois": len(fresh),
            "existing_dois": len(resub),
            "processed_dois": len(fresh),
            "valid_pattern_dois": len(set(dois)),
            "invalid_pattern_dois": len(set(invalid)),
            "metadata_pass": len(ok),
            "metadata_failure": len(fresh) - len(ok),
            "openaire_success": len(ok),
            "openalex_success": len(ok_alex),
        }
        batches.append(Batch(lines=lines, expect=expect, ingested=ok))
        seen.extend(ok)
    return batches


def _duplicates(lines: list[str]) -> int:
    """Distinct DOIs (after normalization) submitted more than once."""
    norm = Counter(_normalize(x) for x in lines if _normalize(x))
    return sum(1 for n in norm.values() if n > 1)


def _normalize(line: str) -> str:
    s = line.strip().rstrip(".")
    return s.replace("https://doi.org/", "").replace("doi.org/", "")


def expected_refers_to(seed: int, dois: list[str],
                       pool: list[dict]) -> set[tuple[str, str]]:
    """(output_uuid, country_id) pairs under case-sensitive containment on
    the title and the abstract."""
    ids = {c["name"]: c["id"] for c in countries_table(seed)}
    out = set()
    for doi in dois:
        a = _article(seed, doi, pool)
        uuid = hashlib.sha256(doi.encode()).hexdigest()
        for name, cid in ids.items():
            if name in a["abstract"] or name in a["title"]:
                out.add((uuid, cid))
    return out


def preloaded_authors(seed: int, pool: list[dict]) -> list[dict]:
    """A quarter of the pool already in the graph before the first batch."""
    rng = _rng(seed, "preload")
    rows = []
    for p in rng.sample(pool, len(pool) // 4):
        uuid = hashlib.sha256(
            f"seed|{p['first']}|{p['last']}".encode()).hexdigest()
        rows.append({"uuid": uuid, "first_name": p["first"],
                     "last_name": p["last"],
                     "orcid": (f"https://orcid.org/{p['orcid']}"
                               if p["orcid"] else None),
                     "openalex": None, "rank": None})
    return rows


def check_graph(tables: dict, seed: int, batches: list[Batch],
                pool: list[dict]) -> list[str]:
    """Problems found in the final graph (empty when it matches the truth).

    ``tables`` maps table name to a pandas frame read from the graph dir.
    """
    problems = []
    want_dois = {d for b in batches for d in b.ingested}
    out = tables["outputs"]
    if set(out["doi"]) != want_dois:
        problems.append(f"outputs: {len(set(out['doi']) ^ want_dois)} DOIs "
                        "differ from the successful distinct DOIs")
    for name, keys in (("outputs", ["doi"]), ("outputs", ["uuid"]),
                       ("authors", ["uuid"]),
                       ("author_of", ["author_uuid", "output_uuid"]),
                       ("refers_to", ["output_uuid", "country_id"])):
        if tables[name].duplicated(keys).any():
            problems.append(f"{name}: duplicate key {keys}")
    authors, outputs = set(tables["authors"]["uuid"]), set(out["uuid"])
    ao = tables["author_of"]
    if not set(ao["author_uuid"]) <= authors:
        problems.append("author_of: author endpoint missing")
    if not set(ao["output_uuid"]) <= outputs:
        problems.append("author_of: output endpoint missing")
    if set(ao["output_uuid"]) != outputs:
        problems.append("author_of: an output has no author")
    rt = tables["refers_to"]
    got = set(zip(rt["output_uuid"], rt["country_id"]))
    if got != expected_refers_to(seed, sorted(want_dois), pool):
        problems.append("refers_to: edges differ from the seeded country "
                        "mentions")
    return problems
