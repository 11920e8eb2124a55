"""Closed-loop DOI ingest: the paper's entry point, ``cli.run_ingest``.

One operation is one batch: a seeded DOI file ingested into one Parquet
graph directory, followed by collecting the batch's metrics row, as the
CLI does.  Batches run one after the other until the time is up (at least
one), so the tables grow between batches.  Each metrics row is compared
with the generator's expected counters, and the graph with its ground
truth.

The traced run ingests the first batch only, with spans around the public
functions ``run_ingest`` calls (see ``instrumented``); nothing of the
pipeline is re-composed here.
"""

from __future__ import annotations

import importlib
import os
import shutil
import sys
import time
import traceback
from contextlib import contextmanager

import ingestgen as gen

BATCH_DOIS = 60
TABLES = ("outputs", "authors", "author_of", "refers_to")


def seed_graph(graph_dir: str, seed: int, pool) -> None:
    """A fresh graph holding the countries and a quarter of the author
    pool, so every resolution branch can fire in the first batch.  Written
    with Arrow in the node schemas: two Spark writes cost seconds a run."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from research_index_backend_spark.schemas import AUTHOR_NODE, COUNTRY_NODE
    types = {"string": pa.string(), "int": pa.int32(), "double": pa.float64()}
    shutil.rmtree(graph_dir, ignore_errors=True)
    for name, struct, rows in (
            ("countries", COUNTRY_NODE, gen.countries_table(seed)),
            ("authors", AUTHOR_NODE, gen.preloaded_authors(seed, pool))):
        schema = pa.schema([pa.field(f.name, types[f.dataType.simpleString()],
                                     f.nullable) for f in struct.fields])
        os.makedirs(os.path.join(graph_dir, name))
        pq.write_table(pa.Table.from_pylist(rows, schema),
                       os.path.join(graph_dir, name, "part-0.parquet"))


def _doi_file(work: str, i: int, batch) -> str:
    path = os.path.join(work, f"dois_{i}.txt")
    with open(path, "w") as fh:
        fh.write("\n".join(batch.lines) + "\n")
    return path


def _row_counts(graph_dir: str) -> dict:
    import pyarrow.parquet as pq
    out = {}
    for t in TABLES:
        p = os.path.join(graph_dir, t)
        out[t] = pq.read_table(p).num_rows if os.path.isdir(p) else 0
    return out


def write_amp(before: dict, after: dict) -> float:
    """Rows written by the batch's table rewrites per row it added."""
    new = sum(after[t] - before[t] for t in TABLES)
    return sum(after.values()) / new if new > 0 else float("nan")


def _mismatch(got: dict, expect: dict) -> dict:
    return {k: (got.get(k), v) for k, v in expect.items() if got.get(k) != v}


def _batch(spark, graph_dir: str, path: str, batch, transport,
           tracer=None) -> dict:
    """One ``run_ingest`` call and its metrics row; mismatches against the
    expected counters, or the exception, in the returned dict."""
    from research_index_backend_spark.cli import run_ingest
    try:
        metrics = run_ingest(spark, path, graph_dir, limit=len(batch.lines),
                             transport=transport)
        if tracer is None:
            got = metrics.collect()[0].asDict()
        else:
            with tracer.span("ingest.report", "metrics"):
                got = metrics.collect()[0].asDict()
        return _mismatch(got, batch.expect)
    except Exception:
        return {"exception": traceback.format_exc(limit=4)}


def _check(graph_dir: str, seed: int, done: list, pool) -> list:
    import pandas as pd
    tables = {t: pd.read_parquet(os.path.join(graph_dir, t)) for t in TABLES}
    problems = gen.check_graph(tables, seed, done, pool)
    for p in problems:
        print(f"graph: {p}", file=sys.stderr)
    return problems


def run(spark, work: str, seed: int, seconds: float, tracer=None) -> dict:
    pool = gen.make_author_pool(seed)
    transport = gen.make_transport(seed, pool)
    batches = gen.make_plan(seed, [BATCH_DOIS] * 8)
    graph_dir = os.path.join(work, "graph")
    if tracer is not None:
        return _traced_run(spark, work, graph_dir, seed, pool, transport,
                           batches[0], tracer)
    seed_graph(graph_dir, seed, pool)
    lat, failed, done = [], 0, []
    t0 = time.perf_counter()
    while not done or (len(done) < len(batches)
                       and time.perf_counter() - t0 < seconds):
        i = len(done)
        path = _doi_file(work, i, batches[i])
        a = time.perf_counter()
        bad = _batch(spark, graph_dir, path, batches[i], transport)
        lat.append(time.perf_counter() - a)
        if bad:
            failed += 1
            print(f"batch {i}: {bad}", file=sys.stderr)
        done.append(batches[i])
    timed = time.perf_counter() - t0
    problems = _check(graph_dir, seed, done, pool)
    shutil.rmtree(graph_dir, ignore_errors=True)
    return {"latencies": lat, "passes": lat, "timed_s": timed,
            "items": sum(len(b.ingested) for b in done),
            "attempted": len(done),
            "failed_ops": len(done) if problems else failed}


def _traced_run(spark, work, graph_dir, seed, pool, transport, batch,
                tracer) -> dict:
    """The first batch, traced: the same position, inputs and graph state
    as the first batch of an untraced run with the same seed."""
    from spans import last_execution_id, plan_ops
    path = _doi_file(work, 0, batch)
    seed_graph(graph_dir, seed, pool)
    before = _row_counts(graph_dir)
    first_exec = last_execution_id(spark)
    probes: list[range] = []
    a = time.perf_counter()
    with instrumented(tracer, probes):
        bad = _batch(spark, graph_dir, path, batch, transport, tracer)
    lat = time.perf_counter() - a
    amp = write_amp(before, _row_counts(graph_dir))
    # the program's own plans, without the probes' extra ones
    ids = [i for i in range(first_exec + 1, last_execution_id(spark) + 1)
           if not any(i in r for r in probes)]
    if bad:
        print(f"traced batch: {bad}", file=sys.stderr)
    failed = bool(bad or _check(graph_dir, seed, [batch], pool))
    shutil.rmtree(graph_dir, ignore_errors=True)
    return {"latencies": [lat], "passes": [lat], "timed_s": lat,
            "items": len(batch.ingested), "attempted": 1,
            "failed_ops": int(failed), "write_amp": amp,
            "plan": plan_ops(spark, ids)}


@contextmanager
def instrumented(tracer, probes: list):
    """Spans around the public calls ``run_ingest`` makes, for the duration
    of the block.  The SQL execution ids of each probe are added to
    ``probes`` as a range.

    - ``ingest.fetch``: each ``fetch_metadata`` call and the
      ``localCheckpoint`` that run_ingest puts on it.
    - ``ingest.graph``: ``build_graph_from_envelopes`` and the checkpoint
      of every table it returns (run_ingest's write-all-then-commit
      materialization, where the composed plan runs).  Nested in it,
      probes materialize once, on the side, the output of each parse
      function (``ingest.parse``), of ``resolve_authors``
      (``operators.resolve``, with its resolution mix) and of each
      ``contains_tag`` pass (``operators.theta``); the frames handed back
      are the unmaterialized ones, so the composed plan is unchanged.
    - ``operators.upsert``: each ``upsert_parquet`` call.

    Materializing inside a span makes run_ingest's own checkpoints of the
    same frames cheap; they are not re-timed.  ``ingest.report`` is the
    collect of the metrics row, timed by the caller.
    """
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    from spans import last_execution_id

    spark = SparkSession.getActiveSession()
    # by module path: the operators package re-exports functions under
    # the names of its modules
    cli, parse, resolve, theta, upsert = (
        importlib.import_module(f"research_index_backend_spark.{m}")
        for m in ("cli", "ingest.parse", "operators.resolve",
                  "operators.theta", "operators.upsert"))

    def fetch(fn):
        def wrapped(work, source, **kw):
            with tracer.span("ingest.fetch", source) as rec:
                out = fn(work, source=source, **kw).localCheckpoint()
                rec["errors"] = out.filter(F.col("error").isNotNull()).count()
            return out
        return wrapped

    def graph(fn):
        def wrapped(*a, **kw):
            with tracer.span("ingest.graph", "tables"):
                return {k: v.localCheckpoint()
                        for k, v in fn(*a, **kw).items()}
        return wrapped

    building = []

    def probe(name, mix=False):
        def wrap(fn):
            def wrapped(*a, **kw):
                if building:  # called by another probed function
                    return fn(*a, **kw)
                building.append(name)
                try:
                    out = fn(*a, **kw)
                finally:
                    building.pop()
                first = last_execution_id(spark)
                with tracer.span(name, fn.__name__) as rec:
                    done = out.localCheckpoint()
                    if mix:
                        rec.update({r["resolution"]: r["n"] for r in
                                    done.groupBy("resolution").agg(
                                        F.count(F.lit(1)).alias("n"))
                                    .collect()})
                probes.append(range(first + 1, last_execution_id(spark) + 1))
                return out
            return wrapped
        return wrap

    def sink(fn):
        def wrapped(session, df, path, *a, **kw):
            with tracer.span("operators.upsert", os.path.basename(path)):
                return fn(session, df, path, *a, **kw)
        return wrapped

    patches = [
        (cli, "fetch_metadata", fetch),
        (cli, "build_graph_from_envelopes", graph),
        (parse, "parse_articles", probe("ingest.parse")),
        (parse, "parse_openalex", probe("ingest.parse")),
        (parse, "parse_authors", probe("ingest.parse")),
        (resolve, "resolve_authors", probe("operators.resolve", mix=True)),
        (theta, "contains_tag", probe("operators.theta")),
        (upsert, "upsert_parquet", sink),
    ]
    saved = [(mod, name, getattr(mod, name)) for mod, name, _ in patches]
    try:
        for mod, name, wrap in patches:
            setattr(mod, name, wrap(getattr(mod, name)))
        yield
    finally:
        for mod, name, fn in saved:
            setattr(mod, name, fn)


def layer_metrics(spans: list[dict], result: dict) -> dict:
    """Per-layer figures of the traced batch.

    The tracing overhead is measured, not inferred: the probes' extra
    materializations plus the tracer's own status-store reads.  The traced
    total less that overhead compares with ``op_p50_s`` of an untraced run
    with the same seed, whose one batch has the same position and inputs.
    """
    def total(name=None, key="s"):
        return sum(s[key] for s in spans if name in (None, s["name"]))

    probes = ("ingest.parse", "operators.resolve", "operators.theta")
    traced = result["latencies"][0]
    top = sum(s["s"] for s in spans if s["parent"] is None)
    out = {"ingest.traced_total_s": traced,
           "ingest.trace_overhead_s": sum(total(p) for p in probes)
           + total(key="trace_s"),
           "ingest.unattributed_s": traced - top,
           "exec.run_s": traced}
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb"):
        out[f"exec.{k}"] = total(key=k)
    out.update({
        "ingest.fetch_s": total("ingest.fetch"),
        "ingest.fetch_errors": total("ingest.fetch", "errors"),
        "ingest.parse_s": total("ingest.parse"),
        "ingest.graph_s": total("ingest.graph", "self_s"),
        "ingest.report_s": total("ingest.report"),
        "operators.resolve_s": total("operators.resolve"),
        "operators.theta_s": total("operators.theta"),
        "operators.upsert_s": total("operators.upsert"),
        "operators.upsert_write_amp": result["write_amp"]})
    for k in ("matched_orcid", "matched_name", "created"):
        out[f"operators.resolve_{k}"] = sum(
            s.get(k, 0) for s in spans if s["name"] == "operators.resolve")
    out.update({f"plan.{k}": v for k, v in result["plan"].items()})
    return out
