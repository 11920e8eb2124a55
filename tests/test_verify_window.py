"""Driver-contract ordering: the correctness harness verifies the
first ~50 queries() entries, so the head of queries() IS the round's
official verification window.

The registry derives that order rather than pinning it: ``TOUCHED``
(plans whose physical form changed and have no official row yet) first,
then every other query stalest first by (last CORRECTNESS_r*.json round,
name). These tests assert the rule against an independent reading of the
CORRECTNESS files, so a new CORRECTNESS file rotates the window without
turning the suite red, while a reorder that breaks the rule still does.
"""

from __future__ import annotations

import json
import os
import re
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as entry  # noqa: E402

WINDOW = 50
CATALOG_SIZE = 315  # frozen: the catalog neither grows nor shrinks


def _official_last_round() -> dict[str, int]:
    # Driver files are zero-padded (CORRECTNESS_r01.json); parse the
    # round number rather than formatting it so both forms match.
    last: dict[str, int] = {}
    for fname in sorted(os.listdir(ROOT)):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", fname)
        if m:
            with open(os.path.join(ROOT, fname)) as fh:
                for name in json.load(fh):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    assert last, "no CORRECTNESS_r*.json found — pattern drifted again"
    return last


def test_verify_first_names_all_resolve():
    qs = entry.queries()
    missing = [n for n in entry.TOUCHED if n not in qs]
    assert not missing, f"TOUCHED names not in queries(): {missing}"
    assert len(set(entry.TOUCHED)) == len(entry.TOUCHED)
    assert len(entry.TOUCHED) < WINDOW, "TOUCHED would crowd out the window"


def test_window_head_is_touched():
    names = list(entry.queries())
    assert names[:len(entry.TOUCHED)] == list(entry.TOUCHED)
    assert "matryoshka_recall_report" in names[:WINDOW]


def test_full_coverage_no_never_checked_rows():
    # The never-checked backlog was cleared in r12: every catalog query
    # must hold an official row. If this fails, a NEW query was added —
    # it sorts first (staleness 0); confirm it was meant to be added.
    last = _official_last_round()
    never = [n for n in entry.queries() if n not in last]
    assert not never, f"queries without any official row: {never}"


def test_window_is_touched_then_the_stalest_rows():
    # The window must be TOUCHED followed by the stalest official rows
    # under (last-round, name) order — that's what makes each
    # verification round a rolling re-certification with zero wasted
    # budget.
    last = _official_last_round()
    rest = sorted(set(entry.queries()) - set(entry.TOUCHED),
                  key=lambda q: (last.get(q, 0), q))
    expect = [*entry.TOUCHED, *rest][:WINDOW]
    got = list(entry.queries())[:WINDOW]
    assert got == expect, (
        f"window != TOUCHED + stalest: unexpected={set(got) - set(expect)} "
        f"missing={set(expect) - set(got)}")


def test_whole_tail_ordered_stalest_first():
    # Behind TOUCHED the ENTIRE catalog stays sorted by (last-official-
    # check round, name) so every future rotation's window doubles as a
    # rolling re-certification (r11 VERDICT item 6; full-catalog from r13).
    last = _official_last_round()
    tail = list(entry.queries())[len(entry.TOUCHED):]
    keys = [(last.get(n, 0), n) for n in tail]
    assert keys == sorted(keys), "tail not stalest-first"


def test_every_window_query_has_oracle():
    # The driver's value-hash compare needs an oracle_sql entry; a
    # rows-only check is a weaker gate the window shouldn't ship.
    oracles = entry.oracle_sql()
    weak = [n for n in list(entry.queries())[:WINDOW] if n not in oracles]
    assert not weak, f"window queries without oracle SQL: {weak}"


def test_catalog_names_unique_and_paired():
    qs, orc = list(entry.queries()), list(entry.oracle_sql())
    assert len(qs) == len(set(qs)) == CATALOG_SIZE
    assert qs == orc, "queries() and oracle_sql() disagree on names/order"


def _import_entry_over(tmp_path, modules: dict[str, str]):
    """Import a copy of the entry module over a throwaway plans package
    and return the finished process."""
    pkg = tmp_path / "research_index_backend_spark"
    (pkg / "plans").mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "plans" / "__init__.py").write_text("")
    for mod, body in modules.items():
        (pkg / "plans" / f"{mod}.py").write_text(body)
    with open(os.path.join(ROOT, "__spark_entry__.py")) as fh:
        (tmp_path / "__spark_entry__.py").write_text(fh.read())
    return subprocess.run(
        [sys.executable, "-c", "import __spark_entry__"], cwd=tmp_path,
        capture_output=True, text=True, timeout=120)


def test_duplicate_name_makes_import_raise(tmp_path):
    dup = _import_entry_over(tmp_path, {
        "queries": 'QUERIES = {"a": 1}\nORACLE = {"a": "SELECT 1"}\n',
        "queries_ext": 'QUERIES_EXT = {"a": 2}\n'
                       'ORACLE_EXT = {"a": "SELECT 2"}\n',
    })
    assert dup.returncode != 0
    assert "already registered: ['a']" in dup.stderr


def test_query_without_oracle_makes_import_raise(tmp_path):
    bad = _import_entry_over(tmp_path, {
        "queries": 'QUERIES = {"a": 1, "b": 2}\nORACLE = {"a": "SELECT 1"}\n',
    })
    assert bad.returncode != 0
    assert "queries without oracle: ['b']" in bad.stderr
