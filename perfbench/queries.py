"""Closed-loop query workloads over the catalog in ``__spark_entry__``.

One operation is one catalog query as a client sees it: ``fn(spark,
data_dir)`` builds the plan and ``toPandas()`` runs it and returns the rows.
Each pass issues every query of the workload once, one after the other, in
an order drawn from the seed.  Correctness is checked after the timed
region: the rows each query returned last are compared with its DuckDB
``oracle_sql()`` twin using ``compare`` from ``tools/check.py``.
"""

from __future__ import annotations

import random
import sys
import time
import traceback

WORKLOADS = {
    "graph_iterative": (
        "graph_pagerank", "graph_ppr", "hits_hubs_authorities", "graph_sssp",
        "graph_bfs_depth", "graph_components", "graph_components_star",
        "kcore_decompose", "harmonic_centrality_seeds", "ktruss_edges",
        "label_prop_communities", "dedup_survivors"),
    "similarity_topk": (
        "ann_cosine_topk", "ann_ivf_topk", "ann_lsh_topk", "ann_pq_topk",
        "ann_pq_trained", "mutual_knn_pairs", "knn_label_eval",
        "hard_negative_mining", "mmr_diversify", "rerank_topk",
        "matryoshka_recall_report", "dedup_embedding", "similarity_join",
        "dedup_jaccard", "dedup_lsh_pairs", "simhash_hamming_pairs"),
    "relational_tpch": tuple(f"tpch_q{i}" for i in range(1, 23)),
}
#: passes per run: similarity_topk has few queries with spread-out
#: latencies, so one pass leaves its median and tail noisy
PASSES = {"graph_iterative": 1, "similarity_topk": 3, "relational_tpch": 1}


def run(spark, workload: str, data_dir: str, seed: int, seconds: float,
        tracer=None) -> dict:
    """Issue passes until ``seconds`` have elapsed and at least
    ``PASSES[workload]`` passes are done (one pass when traced).

    With a tracer, each query's build (``fn``) and execution (``toPandas``)
    run as separate spans, and the executed plan's operators are counted.
    """
    from __spark_entry__ import queries
    catalog = queries()
    names = WORKLOADS[workload]
    rng = random.Random(seed)
    lat, failed, last = [], set(), {}
    passes = []
    min_passes = 1 if tracer else PASSES[workload]
    t0 = time.perf_counter()
    while len(passes) < min_passes or time.perf_counter() - t0 < seconds:
        order = list(names)
        rng.shuffle(order)
        p0 = time.perf_counter()
        for name in order:
            a = time.perf_counter()
            try:
                if tracer is None:
                    rows = catalog[name](spark, data_dir).toPandas()
                else:
                    rows = _traced(tracer, spark, catalog[name], name,
                                   data_dir)
                last[name] = rows
            except Exception:
                failed.add(name)
                print(f"{name} raised:\n{traceback.format_exc(limit=3)}",
                      file=sys.stderr)
            lat.append((name, time.perf_counter() - a))
        passes.append(time.perf_counter() - p0)
    timed = time.perf_counter() - t0
    failed |= check(data_dir, last)
    return {"latencies": [s for _, s in lat], "passes": passes,
            "timed_s": timed, "items": len(lat),
            "failed_ops": sum(1 for n, _ in lat if n in failed),
            "failed_names": sorted(failed)}


def _traced(tracer, spark, fn, name, data_dir):
    from spans import plan_ops
    with tracer.span("build", name):
        df = fn(spark, data_dir)
    with tracer.span("exec", name) as rec:
        rows = df.toPandas()
    rec.update(plan_ops(spark))
    return rows


def check(data_dir: str, results: dict) -> set[str]:
    """Names whose collected result differs from the DuckDB oracle."""
    import duckdb
    from check import TABLES, compare
    from __spark_entry__ import oracle_sql
    oracles = oracle_sql()
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    # an oracle that spills more than this fails (counted as a mismatch)
    # instead of filling the disk: kcore_decompose's does at sf0.05
    con.execute("SET max_temp_directory_size = '4GB'")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    bad = set()
    for name, rows in results.items():
        try:
            ok, msg = compare(rows, con.execute(oracles[name]).df())
        except Exception as exc:
            ok, msg = False, repr(exc)
        if not ok:
            bad.add(name)
            print(f"{name}: oracle mismatch: {msg}", file=sys.stderr)
    con.close()
    return bad


def layer_metrics(spans: list[dict]) -> dict:
    """Totals of the build and execution spans of the traced pass."""
    build = [s for s in spans if s["name"] == "build"]
    execs = [s for s in spans if s["name"] == "exec"]
    out = {"plans.build_s": sum(s["s"] for s in build),
           "plans.build_jobs": sum(s["jobs"] for s in build),
           "exec.run_s": sum(s["s"] for s in execs)}
    for k in ("jobs", "stages", "tasks", "executor_run_s", "shuffle_read_mb",
              "shuffle_write_mb", "spill_mb"):
        out[f"exec.{k}"] = sum(s[k] for s in execs)
    for k in ("exchanges", "bnlj", "python_evals"):
        out[f"plan.{k}"] = sum(s[k] for s in execs)
    return out
