"""Self-test of the benchmark at toy size.

    python3 perfbench/selftest.py

Runs every workload with tracing off and on at a small corpus and checks
that:

* the printed metric names and units are those of ``BENCHMARK.json``;
* the correctness gate passes on the real engine and catches a corrupted
  result (a results sink that drops a row, a categoriser that drops every
  category);
* no span starts before or ends after its parent, and the layer spans of
  each timed phase cover its wall;
* no process a run starts is still running after it exits.

Exits 0 when every check holds.  Each run starts its own Spark session, so
the whole test takes several minutes.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE)]

import procstat  # noqa: E402

TOY_DOCS = 800
SEED = 3


def _strays() -> list[str]:
    """Processes a finished run left behind.  This process is the subreaper
    of its runs, so each one that outlived the run's own process is now its
    child, whether it has exited since or not."""
    out = []
    for name in os.listdir("/proc"):
        try:
            with open(f"/proc/{name}/stat", "rb") as f:
                raw = f.read()
        except OSError:  # not a process, or it exited meanwhile
            continue
        if name.isdigit() and int(raw.rsplit(b")", 1)[1].split()[1]) == os.getpid():
            out.append(raw[raw.find(b"(") + 1 : raw.rfind(b")")].decode(errors="replace"))
    return out


def _run(args: list[str]) -> dict:
    p = subprocess.run(
        [sys.executable, *args], cwd=ROOT, capture_output=True, text=True, timeout=600
    )
    strays = _strays()
    procstat.stop_descendants()
    if p.returncode != 0:
        raise AssertionError(f"{args} exited {p.returncode}:\n{p.stderr[-3000:]}")
    if strays:
        raise AssertionError(f"{args} left processes running: {strays}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def _bench(workload: str, trace: int, *extra: str) -> dict:
    return _run([
        "perfbench/run.py", "--workload", workload, "--seed", str(SEED),
        "--seconds", "1", "--trace", str(trace), "--docs", str(TOY_DOCS), *extra,
    ])


def _corrupt(workload: str) -> None:
    """Run ``workload`` in this process with one engine call corrupted."""
    sys.path[:0] = [str(HERE), str(ROOT)]
    from pyspark.sql import functions as F

    from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine

    if workload == "daily_update":
        save = TaxonomyEngine.save_results

        def drop_one(self, per_doc):
            keep = per_doc.orderBy("doc_id").limit(max(per_doc.count() - 1, 0))
            return save(self, keep)

        TaxonomyEngine.save_results = drop_one
    else:
        categorise_all = TaxonomyEngine.categorise_all

        def no_categories(self, *a, **k):
            return categorise_all(self, *a, **k).withColumn(
                "category_ids", F.array().cast("array<string>")
            )

        TaxonomyEngine.categorise_all = no_categories
    import run

    run.guarded_main([
        "--workload", workload, "--seed", str(SEED), "--seconds", "1",
        "--trace", "0", "--docs", str(TOY_DOCS),
    ])


def main() -> int:
    procstat.adopt_orphans()
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems = []
    for w in (x["name"] for x in bench["workloads"]):
        for trace in (0, 1):
            r = _bench(w, trace, "--keep")
            got = {k: v["unit"] for k, v in r["metrics"].items()}
            if got != want[trace]:
                problems.append(f"{w} trace {trace}: metrics differ from BENCHMARK.json")
            if not r["correct"] or r["failed"] or r["attempted"] < 1:
                problems.append(f"{w} trace {trace}: gate failed on the real engine: {r}")
            work = glob.glob(str(ROOT / ".perfbench_work" / f"{w}-{SEED}-{trace}-*"))
            if trace:
                import spans

                recs = [json.loads(x) for x in open(Path(work[0]) / "spans.jsonl")]
                if spans.check_nesting(recs):
                    problems.append(f"{w}: {spans.check_nesting(recs)[:3]}")
                if spans.coverage(recs) < 0.9:
                    problems.append(f"{w}: layer spans cover {spans.coverage(recs):.2f} of a phase")
            for d in work:
                shutil.rmtree(d, ignore_errors=True)
        r = _run(["perfbench/selftest.py", "--corrupt", w])
        if r["correct"] or r["failed"] < 1:
            problems.append(f"{w}: corrupted result passed the gate: {r}")
    for p in problems:
        print("selftest:", p, file=sys.stderr)
    print(json.dumps({"selftest": "ok" if not problems else "failed", "problems": len(problems)}))
    return 1 if problems else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--corrupt"]:
        _corrupt(sys.argv[2])
        raise SystemExit(0)
    raise SystemExit(main())
