"""Benchmark of the taxonomy engine: one seeded workload per run.

    python3 perfbench/run.py --workload reindex --seed 1 --seconds 12 --trace 0

Run from the repository root.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0``
the metrics are the end-to-end metrics of ``BENCHMARK.json``; with
``--trace 1`` the run records spans around each call into an engine module,
enables Spark's event log, and reports the per-layer metrics instead.

Everything the run writes goes under ``.perfbench_work/`` in the repository
root and is removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import procstat  # noqa: E402

#: end-to-end metrics (trace 0) and their units
END_TO_END = {
    "setup_s": "s",
    "cpu_s": "s",
    "write_cpu_s": "s",
    "categorise_cpu_s": "s",
    "read_cpu_s": "s",
    "docs_per_s": "1/s",
    "peak_rss_mb": "MB",
    "index_bytes_per_doc": "B",
}
LAYERS = ("index_build", "queryparser", "search", "engine", "incremental", "index_append")
#: per-layer metrics the workloads measure directly (trace 1)
DIRECT = (
    "index_build.build_s", "index_build.ords_s", "index_build.staging_s",
    "index_build.doc_stats_s", "index_build.dictionary_s", "index_build.docmap_s",
    "index_build.postings_s", "index_build.postings_bytes",
    "index_build.dictionary_bytes", "index_build.docs_bytes", "index_build.docmap_bytes",
    "queryparser.parse_s",
    "search.reader_open_s", "search.compile_s", "search.eval_s", "search.fresh_read_s",
    "search.persisted_rdds_end", "search.reader_cache_entries",
    "engine.categorise_all_s", "engine.save_results_s", "engine.results_bytes_written",
    "engine.tree_peak_rss_mb",
    "incremental.payload_compile_s", "incremental.categorise_batch_s",
    "index_append.append_s", "index_append.compact_s", "index_append.compactions",
    "index_append.delta_bytes",
)
#: index_build counters from Spark's task metrics
BUILD_SPARK = (
    "shuffle_write_bytes", "spill_bytes", "arrow_bytes_to_python",
    "arrow_bytes_from_python", "output_bytes",
)
#: per-query Spark counters over single searches (SEARCHES spans)
QUERY_SPARK = {
    "jobs": "jobs_per_query", "tasks": "tasks_per_query",
    "executor_cpu_s": "task_cpu_s_per_query", "shuffle_read_bytes": "shuffle_bytes_per_query",
    "arrow_bytes_to_python": "arrow_bytes_to_python_per_query",
}
SEARCHES = ("search.query", "search.fresh_read")
TRACE_KEYS = ("trace.coverage_min", "trace.span_overhead_s", "trace.timed_wall_s", "trace.unattributed_jobs")


def unit_of(name: str) -> str:
    if name.endswith("_bytes") or "bytes" in name.split(".")[-1]:
        return "B"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_s") or name.endswith("_s_per_query"):
        return "s"
    if name == "trace.coverage_min":
        return "ratio"
    return "count"


def per_layer_names() -> list[str]:
    from spans import SPARK_KEYS

    names = list(DIRECT)
    names += [f"index_build.task_cpu_s"] + [f"index_build.{k}" for k in BUILD_SPARK]
    names += [f"search.{v}" for v in QUERY_SPARK.values()]
    for layer in LAYERS:
        names.append(f"{layer}.self_s")
        names += [f"{layer}.{k}" for k in SPARK_KEYS]
    return names + list(TRACE_KEYS)


def _refuse_env() -> None:
    bad = sorted(
        k for k in os.environ
        if (k.startswith("SPARK_GRAFT_") and k.endswith("_TRACE")) or k == "SPARK_GRAFT_EVAL_DUMP"
    )
    if bad:
        sys.exit(f"perfbench: refusing to run with {', '.join(bad)} set: they change the program measured")


def _session(work: Path, traced: bool):
    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark

    n = procstat.nproc()
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # jobs the engine submits concurrently share the cores instead of
        # queueing FIFO
        "spark.scheduler.mode": "FAIR",
        "spark.local.dir": str(work / "spark-local"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }
    if traced:
        (work / "events").mkdir()
        conf |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
        }
    # a sixth of the host's memory, at most 4 GiB: the JVM heap of a local
    # session shares the host with everything else
    mem_mb = min(4096, procstat.mem_total_mb() // 6)
    return make_spark(str(n), shuffle_partitions=n, driver_memory=f"{mem_mb}m", extra_conf=conf)


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _layer_metrics(run, tracer, work: Path) -> dict:
    import spans

    recs = tracer.spans
    jobs = spans.parse_event_log(work / "events")
    by_span, lost = spans.attribute(recs, jobs)
    selfs = spans.self_times(recs)
    out = {k: float(run.layer.get(k, 0.0)) for k in DIRECT}
    layer_stats = {layer: spans.empty_stats() for layer in LAYERS}
    layer_self = {layer: 0.0 for layer in LAYERS}
    query = spans.empty_stats()
    n_query = 0
    for s in recs:
        if s["layer"] not in layer_stats:
            continue
        layer_self[s["layer"]] += selfs[s["id"]]
        st = by_span.get(s["id"])
        if st:
            for k, v in st.items():
                layer_stats[s["layer"]][k] += v
        if s["name"] in SEARCHES:
            n_query += 1
            for k, v in (st or {}).items():
                query[k] += v
    for layer in LAYERS:
        out[f"{layer}.self_s"] = layer_self[layer]
        for k in spans.SPARK_KEYS:
            out[f"{layer}.{k}"] = float(layer_stats[layer][k])
    b = layer_stats["index_build"]
    out["index_build.task_cpu_s"] = b["executor_cpu_s"]
    for k in BUILD_SPARK:
        out[f"index_build.{k}"] = float(b[k])
    for k, name in QUERY_SPARK.items():
        out[f"search.{name}"] = query[k] / n_query if n_query else 0.0
    out["trace.coverage_min"] = spans.coverage(recs)
    out["trace.span_overhead_s"] = tracer.overhead_s
    out["trace.timed_wall_s"] = sum(s["end"] - s["start"] for s in recs if s["layer"] == "phase")
    out["trace.unattributed_jobs"] = float(lost)
    bad = spans.check_nesting(recs)
    run.check(not bad, f"spans escape their parents: {bad[:3]}")
    tracer.write(work / "spans.jsonl")
    return out


def main(argv: list[str] | None = None) -> int:
    import workloads

    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--docs", type=int, default=workloads.N_DOCS, help="corpus size (self-test: smaller)")
    p.add_argument("--keep", action="store_true", help="keep the work directory (spans, event log)")
    args = p.parse_args(argv)
    _refuse_env()

    import ds_discovery_opensearch_taxonomy_spark as pkg

    if Path(pkg.__file__).resolve().parent.parent != ROOT:
        sys.exit(f"perfbench: engine imported from {pkg.__file__}, not from {ROOT}")

    from spans import Tracer

    print(json.dumps({"host": procstat.host_record()}), flush=True)
    run_id = f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"
    work = ROOT / ".perfbench_work" / run_id
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    tracer = Tracer(bool(args.trace), run_id)
    spark = None
    try:
        spark = _session(work, bool(args.trace))
        tracer.sc = spark.sparkContext if args.trace else None
        run = workloads.Run(spark, tracer, work, args.seed, args.seconds, args.docs)
        workloads.WORKLOADS[args.workload](run)
        _stop(spark)
        spark = None
        if args.trace:
            metrics = _layer_metrics(run, tracer, work)
            names = per_layer_names()
        else:
            metrics = run.metrics
            names = list(END_TO_END)
        missing = [n for n in names if n not in metrics]
        if missing:
            raise RuntimeError(f"metrics not measured: {missing}")
        print(json.dumps({"facts": run.facts}), flush=True)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {
                n: {"value": float(metrics[n]), "unit": END_TO_END.get(n) or unit_of(n)}
                for n in names
            },
        }
    finally:
        if spark is not None:
            _stop(spark)
        if not args.keep:
            shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


def guarded_main(argv: list[str] | None = None) -> int:
    """``main``, with every process it starts stopped before it returns, on
    any way out of it."""
    procstat.adopt_orphans()
    try:
        return main(argv)
    finally:
        left = procstat.stop_descendants()
        if left:
            print(f"perfbench: stopped processes left running: {left}", file=sys.stderr)


if __name__ == "__main__":
    raise SystemExit(guarded_main())
