"""Closed-loop benchmark of the research-index engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  One client in one process drives a
``local[nproc]`` SparkSession; each operation is issued after the previous
one completes.  Workloads:

- ``graph_iterative``, ``similarity_topk``, ``relational_tpch``: passes over
  a fixed list of catalog queries (see ``queries.py``) on seeded synthetic
  tables; the seed sets the query order of every pass.
- ``ingest_doi_batches``: seeded DOI batches through ``cli.run_ingest`` into
  one Parquet graph (see ``ingest.py``); the seed draws the DOIs and the
  metadata envelopes.

Set-up is timed from process start (imports and JVM launch included) to
the end of the warm-up.  Outputs are checked after the timed region; a
wrong answer counts as a failed operation.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics of one traced pass (or,
for ingest, one traced batch), and every span is written to
``perfbench/_work/spans-<workload>-<seed>.json``.  Everything the run
writes stays under ``perfbench/_work``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
DATA_SEED, DATA_SCALE = 42, 0.05
INGEST = "ingest_doi_batches"
E2E_UNITS = {"setup_s": "s", "wall_s": "s", "op_p50_s": "s",
             "op_tail_s": "s", "items_per_s": "1/s"}
LAYER_UNITS = {
    "plans.build_s": "s", "plans.build_jobs": "count",
    "exec.run_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.executor_run_s": "s",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB",
    "plan.exchanges": "count", "plan.bnlj": "count",
    "plan.python_evals": "count",
    "session.start_s": "s", "session.warmup_s": "s",
    "session.jvm_peak_rss_mb": "MB",
    # the ingest workload's layers; 0 on the query workloads
    "ingest.fetch_s": "s", "ingest.fetch_errors": "count",
    "ingest.parse_s": "s", "ingest.graph_s": "s", "ingest.report_s": "s",
    "ingest.traced_total_s": "s",
    "ingest.trace_overhead_s": "s", "ingest.unattributed_s": "s",
    "operators.resolve_s": "s", "operators.resolve_matched_orcid": "count",
    "operators.resolve_matched_name": "count",
    "operators.resolve_created": "count", "operators.theta_s": "s",
    "operators.upsert_s": "s", "operators.upsert_write_amp": "ratio",
}


def _environment() -> None:
    """Keep every file the run writes under perfbench/_work, and let the
    Python workers Spark starts import the package and these modules."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT, HERE, os.path.join(ROOT, "tools")]
    sys.path[:0] = paths
    os.environ["PYTHONPATH"] = os.pathsep.join(
        paths + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                 if p])
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    os.environ["RIB_TEST_SPLIT_MB"] = "16"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell"])
    os.chdir(WORK)


def _data_dir() -> str:
    """The query tables, generated once per checkout from DATA_SEED."""
    import shutil

    import datagen
    out = os.path.join(WORK, f"data-{DATA_SEED}-{DATA_SCALE}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        part = out + f".part{os.getpid()}"
        shutil.rmtree(part, ignore_errors=True)
        datagen.write_tables(part, DATA_SEED, DATA_SCALE)
        open(os.path.join(part, "_DONE"), "w").close()
        shutil.rmtree(out, ignore_errors=True)
        os.rename(part, out)
    return out


def _warm(spark, data_dir: str | None) -> None:
    """For the query workloads one scan-aggregate-collect over lineitem;
    for ingest one Arrow round trip, which starts the Python workers its
    fetch stage runs in."""
    if data_dir:
        spark.read.parquet(os.path.join(data_dir, "lineitem.parquet")) \
            .groupBy("l_returnflag").count().toPandas()
    else:
        spark.range(64).repartition(spark.sparkContext.defaultParallelism) \
            .mapInPandas(lambda it: it, "id long") \
            .write.format("noop").mode("overwrite").save()


def setup(cpus: int, data_dir: str | None):
    """Start the session and warm it up; timed from process start, so
    imports and the JVM launch count."""
    from research_index_backend_spark.session import get_spark
    spark = get_spark(cpus=cpus)
    a = time.perf_counter()
    _warm(spark, data_dir)
    b = time.perf_counter()
    return spark, {"setup_s": b - T_START, "session.start_s": a - T_START,
                   "session.warmup_s": b - a}


def _jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext
    proc = getattr(SparkContext._gateway, "proc", None)
    try:
        with open(f"/proc/{proc.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except (AttributeError, OSError):
        pass
    return 0.0


def shutdown(spark) -> None:
    """Stop Spark and wait until the JVM (and its Python workers) exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest order statistic with at least ten
    samples above it; the maximum when there are ten samples or fewer.
    With fewer than 20 samples this lies below the median: a run that few
    operations long supports no higher percentile."""
    xs = sorted(samples)
    n = len(xs)
    k = n - 11 if n > 10 else n - 1
    return 100.0 * (k + 1) / n, xs[k]


def end_to_end(setup_s: float, res: dict) -> tuple[dict, str]:
    pct, tail_s = tail(res["latencies"])
    vals = {"setup_s": setup_s,
            "wall_s": res["timed_s"] / len(res["passes"]),
            "op_p50_s": statistics.median(res["latencies"]),
            "op_tail_s": tail_s,
            "items_per_s": res["items"] / res["timed_s"]}
    attempted = res.get("attempted", len(res["latencies"]))
    note = (f"op_tail_s is p{pct:.1f} of {len(res['latencies'])} samples; "
            f"failed_frac = {res['failed_ops'] / attempted:.4f} (ratio); "
            f"{len(res['passes'])} pass(es) in {res['timed_s']:.3f} s")
    return vals, note


def main(argv=None) -> int:
    from queries import WORKLOADS
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, INGEST])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "research_index_backend_spark",
                           os.path.join("tools", "check.py"))
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: the engine is not here (missing {missing}); run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    _environment()
    cpus = len(os.sched_getaffinity(0))
    t_data = time.perf_counter()
    data_dir = None if args.workload == INGEST else _data_dir()
    t_data = time.perf_counter() - t_data

    from spans import Tracer
    spark, session = setup(cpus, data_dir)
    # generating the tables (first run in a checkout only) is not set-up
    session["setup_s"] -= t_data
    session["session.start_s"] -= t_data
    t_run = time.perf_counter()
    tracer = Tracer(spark) if args.trace else None
    try:
        if args.workload == INGEST:
            import ingest
            res = ingest.run(spark, WORK, args.seed, args.seconds, tracer)
        else:
            import queries
            res = queries.run(spark, args.workload, data_dir, args.seed,
                              0 if args.trace else args.seconds, tracer)
        session["session.jvm_peak_rss_mb"] = _jvm_peak_rss_mb()
        if args.trace:
            layers = dict.fromkeys(LAYER_UNITS, 0)
            layers.update({k: v for k, v in session.items() if k in layers})
            if args.workload == INGEST:
                layers.update(ingest.layer_metrics(tracer.spans, res))
            else:
                layers.update(queries.layer_metrics(tracer.spans))
            with open(os.path.join(
                    WORK, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
                json.dump(tracer.spans, fh, indent=1)
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]}
                       for k, v in layers.items()}
        else:
            vals, note = end_to_end(session["setup_s"], res)
            print(note)
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in vals.items()}
    finally:
        t_end = time.perf_counter()
        shutdown(spark)
    print(f"phases: setup {t_run - T_START:.1f} s, workload and checks "
          f"{t_end - t_run:.1f} s, shutdown {time.perf_counter() - t_end:.1f} s",
          file=sys.stderr)
    attempted = res.get("attempted", len(res["latencies"]))
    print(json.dumps({"correct": res["failed_ops"] == 0,
                      "attempted": attempted, "failed": res["failed_ops"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
