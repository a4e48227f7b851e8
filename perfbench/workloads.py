"""The benchmark's workloads, run against the engine's public API.

``reindex``       build -> categorise_all + save_results -> scored top-100.
``daily_update``  a micro-batch of new and re-ingested documents through
                  categorise_batch -> save_results -> append_docs ->
                  auto-compaction -> one read-after-write search.

Both are closed loops in one process.  Every operation's output is checked;
a failed or wrong operation counts in ``failed``.  With tracing on, each call
into an engine module runs inside a span named ``<module>.<call>`` and each
timed phase inside a ``phase.<name>`` span.

Each workload fills ``run.metrics`` with the end-to-end metrics, measured
the same way on both:

* ``write_cpu_s`` / ``categorise_cpu_s`` / ``read_cpu_s`` - CPU seconds of
  the whole process tree in the write step (build; append + compaction), the
  categorise step (categorise_all + save; categorise_batch + save) and the
  read step (median of 3 scored top-100 passes; median of the first search
  after the append and 9 repeats of it);
* ``cpu_s`` - their sum, per unit of work (one reindex; one batch);
* ``docs_per_s`` - documents per wall second of write + categorise + read;
* ``peak_rss_mb`` - peak summed RSS of the tree's Python processes;
* ``index_bytes_per_doc`` - index table bytes per live document;
* ``setup_s`` - median of the repeated set-up step.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import statistics
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.operators import search as search_ops
from ds_discovery_opensearch_taxonomy_spark.operators.oracle import (
    OracleIndex,
    build_oracle_doc,
)
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import with_doc_ids
from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
    categorise_batch,
)

import procstat
from gen import Generator

#: documents in the reindex corpus; the daily_update base index has a
#: quarter as many
N_DOCS = 3000
#: daily_update micro-batches: size as a share of the base index (twice the
#: default 0.25 delta-bytes ratio, so auto-compaction fires on every batch),
#: share of re-ingested doc_ids, and the count per run: at least one, more
#: while --seconds have not passed
BATCH_SHARE = 0.5
REINGEST = 0.3
MIN_BATCHES = 1
MAX_BATCHES = 12
#: corpus documents checked against the brute-force oracle, per run
ORACLE_SAMPLE = 12
#: scored top-100 passes per reindex run (read_cpu_s is their median)
READ_REPS = 3
#: daily_update: repeats of the read-after-write search per batch
READ_REPEATS = 9
#: categories whose single search is checked against the scored pass
SEARCH_CHECKS = 1
#: repetitions of the set-up step whose median is setup_s
REINDEX_SETUP_REPS = 5
DAILY_SETUP_REPS = 3
#: the index layout the engine is configured with at this corpus size
CONFIG = EngineConfig(
    n_term_buckets=4,
    n_eval_bands=4,
    salt_target_postings=20_000,
    build_parallelism=2,
    n_results_buckets=8,
)
RESULT_SCHEMA = "doc_id long, category_ids array<string>"
PINNED = Path(__file__).resolve().parent / "pinned.json"
INDEX_TABLES = (
    IndexCatalog.POSTINGS, IndexCatalog.DICTIONARY, IndexCatalog.DOCS, IndexCatalog.DOCMAP,
    IndexCatalog.DELTA_BLOCKS, IndexCatalog.DELTA_DOCS, IndexCatalog.DELTA_DICTIONARY,
    IndexCatalog.DELTA_DOCMAP,
)


class Run:
    """State shared by one benchmark run: session, tracer, counters."""

    def __init__(self, spark, tracer, work: Path, seed: int, seconds: float, n_docs: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.n_docs = n_docs
        self.gen = Generator(seed)
        self.pairs = [(c["category_id"], c["query_text"]) for c in self.gen.categories]
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.facts: dict = {}

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: check failed: {what}", file=sys.stderr)
        return ok

    def span(self, name: str):
        return self.tracer.span(name)

    def load_table(self, pdf, name: str, files: int = 8):
        """Write rows as a parquet table of ``files`` files; read it back
        with doc_ids."""
        path = self.work / name
        shutil.rmtree(path, ignore_errors=True)
        path.mkdir(parents=True)
        step = -(-len(pdf) // files)
        for i in range(0, len(pdf), step):
            pq.write_table(
                pa.Table.from_pandas(pdf.iloc[i : i + step], preserve_index=False),
                path / f"part-{i // step:05d}.parquet",
            )
        return with_doc_ids(self.spark.read.parquet(str(path)))


def _timed(fn):
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


def _measured(fn):
    """(result, wall seconds, process-tree CPU seconds) of ``fn()``."""
    c0 = procstat.tree_cpu()
    out, wall = _timed(fn)
    return out, wall, procstat.tree_cpu() - c0


def _digest(rows) -> str:
    h = hashlib.sha256()
    for cid, doc, score in sorted(rows):
        h.update(f"{cid}|{doc}|{score:.6f}\n".encode())
    return h.hexdigest()[:16]


def _index_bytes(cat: IndexCatalog) -> int:
    return sum(cat.table_bytes(t) for t in INDEX_TABLES)


def _reader_state(run: Run, engine: TaxonomyEngine) -> dict:
    reader = engine.reader
    return {
        "search.persisted_rdds_end": run.spark.sparkContext._jsc.getPersistentRDDs().size(),
        "search.reader_cache_entries": len(reader.compile_cache)
        + len(reader.percat_cache)
        + len(reader.expansion_cache),
    }


def _build_layers(cat: IndexCatalog, build_s: float) -> dict:
    """Build stage walls from the manifest's stage commit timestamps
    (dictionary and docmap run beside postings; their walls overlap)."""
    m = cat.manifest()
    st = m["stages"]
    ts = {k: v["ts"] for k, v in st.items()}
    start = ts["complete"] - build_s
    bucket_end = max(b["ts"] for b in m["buckets"].values())
    out = {
        "index_build.build_s": build_s,
        "index_build.ords_s": ts["ords"] - start,
        "index_build.staging_s": ts["staging"] - ts["ords"],
        "index_build.doc_stats_s": ts["doc_stats"] - max(ts["staging"], ts["docs"]),
        "index_build.dictionary_s": st["dictionary"]["metrics"]["elapsed_sec"],
        "index_build.docmap_s": st["docmap"]["metrics"]["elapsed_sec"],
        "index_build.postings_s": bucket_end - ts["doc_stats"],
    }
    for t in INDEX_TABLES[:4]:
        out[f"index_build.{t}_bytes"] = cat.table_bytes(t)
    return out


# -- reindex ---------------------------------------------------------------------


def reindex(run: Run) -> None:
    spark, cfg = run.spark, CONFIG
    corpus_pdf = run.gen.corpus(run.n_docs)
    setup = []
    for rep in range(REINDEX_SETUP_REPS):
        # the input table the reindex reads: written, scanned, counted
        t0 = time.perf_counter()
        corpus = run.load_table(corpus_pdf, f"corpus{rep}")
        n_in = corpus.count()
        setup.append(time.perf_counter() - t0)
    run.check(n_in == run.n_docs, f"corpus rows {n_in} != {run.n_docs}")
    idx = str(run.work / "index")

    with procstat.PeakRss() as rss:
        with run.span("phase.build"), run.span("index_build.build"):
            engine, build_s, write_cpu = _measured(
                lambda: TaxonomyEngine.build(spark, corpus, idx, cfg, resume=False)
            )
        c0 = procstat.tree_cpu()
        t0 = time.perf_counter()
        with run.span("phase.categorise"):
            with run.span("queryparser.parse"):
                _, parse_s = _timed(lambda: [qp.parse_query(q, cfg) for _, q in run.pairs])
            with run.span("search.compile"):
                _, compile_s = _timed(
                    lambda: search_ops.compile_queries(engine.reader, run.pairs, cfg)
                )
            with run.span("engine.categorise_all"):
                per_doc = engine.categorise_all().persist()
                n_out, cat_all_s = _timed(per_doc.count)
            with run.span("engine.save_results"):
                _, save_s = _timed(lambda: engine.save_results(per_doc))
        categorise_s = time.perf_counter() - t0
        categorise_cpu = procstat.tree_cpu() - c0
        passes = []
        with run.span("phase.scored"):
            for _ in range(READ_REPS):
                with run.span("search.run_categories"):
                    passes.append(_measured(
                        lambda: search_ops.run_categories(
                            spark, engine.reader, run.pairs, scored=True, top_k=100
                        ).collect()
                    ))
    scored = passes[0][0]
    eval_s = statistics.median(p[1] for p in passes)
    read_cpu = statistics.median(p[2] for p in passes)
    per_doc_rows = per_doc.collect()
    per_doc.unpersist()

    # -- correctness ----------------------------------------------------------
    run.check(n_out == run.n_docs, f"categorise_all rows {n_out} != {run.n_docs}")
    for again, _, _ in passes[1:]:
        run.check(sorted(again) == sorted(scored), "scored pass changed result on repeat")
    facts = {
        "bool_matches": sum(len(r["category_ids"]) for r in per_doc_rows),
        "scored_rows": len(scored),
        "scored_digest": _digest((r["category_id"], r["doc_id"], r["score"]) for r in scored),
    }
    run.facts.update(facts)
    pins = json.loads(PINNED.read_text())["reindex"].get(f"{run.seed}:{run.n_docs}")
    for k, v in (pins or {}).items():
        run.check(facts[k] == v, f"pinned {k}: {facts[k]} != {v}")
    _oracle_check(run, corpus_pdf, corpus, per_doc_rows)
    _search_check(run, engine, scored)
    with run.span("search.reader_open"):
        _, reader_open_s = _timed(engine.refresh)

    cat = IndexCatalog(idx)
    run.metrics.update(
        setup_s=statistics.median(setup),
        cpu_s=write_cpu + categorise_cpu + read_cpu,
        peak_rss_mb=rss.py_peak_mb,
        docs_per_s=run.n_docs / (build_s + categorise_s + eval_s),
        write_cpu_s=write_cpu,
        categorise_cpu_s=categorise_cpu,
        read_cpu_s=read_cpu,
        index_bytes_per_doc=_index_bytes(cat) / run.n_docs,
    )
    run.layer.update(_build_layers(cat, build_s))
    run.layer.update({
        "queryparser.parse_s": parse_s,
        "search.compile_s": compile_s,
        "search.eval_s": eval_s,
        "search.reader_open_s": reader_open_s,
        "engine.categorise_all_s": cat_all_s,
        "engine.save_results_s": save_s,
        "engine.results_bytes_written": cat.table_bytes(IndexCatalog.RESULTS_PARTS),
        "engine.tree_peak_rss_mb": rss.peak_mb,
        **_reader_state(run, engine),
    })


def _oracle_check(run: Run, corpus_pdf, corpus, per_doc_rows) -> None:
    """Category membership of a seeded sample of documents against the
    brute-force oracle over those documents (membership of a document does
    not depend on the rest of the corpus)."""
    rng = np.random.default_rng([run.seed, 7])
    pick = sorted(int(i) for i in rng.choice(len(corpus_pdf), ORACLE_SAMPLE, replace=False))
    ids = {
        (r["repo"], r["path"], r["commit"]): r["doc_id"]
        for r in corpus.select("repo", "path", "commit", "doc_id").collect()
    }
    got = {r["doc_id"]: set(r["category_ids"]) for r in per_doc_rows}
    docs = [
        build_oracle_doc(ids[(r["repo"], r["path"], r["commit"])], r, CONFIG)
        for r in corpus_pdf.iloc[pick].to_dict("records")
    ]
    oracle = OracleIndex(docs, CONFIG)
    nodes = {cid: qp.parse_query(q, CONFIG) for cid, q in run.pairs}
    for d in docs:
        want = {cid for cid, n in nodes.items() if oracle.evaluate(n, d)[0]}
        have = got.get(d.doc_id, set())
        run.check(
            want == have,
            f"oracle doc {d.doc_id}: only engine {sorted(have - want)[:5]}, "
            f"only oracle {sorted(want - have)[:5]}",
        )


def _search_check(run: Run, engine: TaxonomyEngine, scored) -> None:
    """Single scored searches for a seeded pick of categories must return
    the head of their rows in the scored top-100 pass."""
    ref: dict[str, list] = {}
    for r in scored:
        ref.setdefault(r["category_id"], []).append((-r["score"], r["doc_id"]))
    rng = np.random.default_rng([run.seed, 11])
    for i in rng.choice(len(run.pairs), SEARCH_CHECKS, replace=False):
        cid, q = run.pairs[int(i)]
        want = sorted(ref.get(cid, []))[:10]
        with run.span("search.query"):
            got = engine.search(q, limit=10).collect()
        ok = [r["doc_id"] for r in got] == [d for _, d in want] and all(
            abs(r["score"] + w) <= 1e-6 * max(1.0, abs(w)) for r, (w, _) in zip(got, want)
        )
        run.check(ok, f"category {cid}: search != its scored top-100 rows")


# -- daily_update ------------------------------------------------------------------


def daily_update(run: Run) -> None:
    spark, cfg = run.spark, CONFIG
    base_pdf = run.gen.corpus(run.n_docs // 4)
    batch_docs = max(int(len(base_pdf) * BATCH_SHARE), 10)
    batches = run.gen.batches(base_pdf, MAX_BATCHES, batch_docs, REINGEST)
    idx = str(run.work / "index")
    base = run.load_table(base_pdf, "base")
    with run.span("index_build.build"):
        _, build_s = _timed(lambda: TaxonomyEngine.build(spark, base, idx, cfg, resume=False))
    build_layers = _build_layers(IndexCatalog(idx), build_s)

    first = run.load_table(batches[0], "batch0", files=2)
    # what a daily-update process pays before its first batch: open the
    # engine and compile the category payload
    setup, opens, compiles = [], [], []
    for _ in range(DAILY_SETUP_REPS):
        with run.span("search.reader_open"):
            engine, t_open = _timed(lambda: TaxonomyEngine(spark, idx, cfg))
        with run.span("incremental.payload_compile"):
            _, t_compile = _timed(lambda: categorise_batch(engine, first))
        opens.append(t_open)
        compiles.append(t_compile)
        setup.append(t_open + t_compile)

    expected: dict[int, list] = {}
    steps: dict[str, list] = {}
    walls, compactions, delta_bytes, n_done = [], 0, 0, 0
    with procstat.PeakRss() as rss:
        t_loop = time.perf_counter()
        k = 0
        while k < MAX_BATCHES and (k < MIN_BATCHES or time.perf_counter() - t_loop < run.seconds):
            sdf = first if k == 0 else run.load_table(batches[k], f"batch{k}", files=2)
            ids = {r["doc_id"] for r in sdf.select("doc_id").collect()}
            marker = run.gen.batch_marker(k)
            t0 = time.perf_counter()
            with run.span("phase.batch"):
                with run.span("incremental.categorise_batch"):
                    rows, t_cat, c_cat = _measured(lambda: categorise_batch(engine, sdf).collect())
                with run.span("engine.save_results"):
                    _, t_save, c_save = _measured(
                        lambda: engine.save_results(spark.createDataFrame(rows, RESULT_SCHEMA))
                    )
                with run.span("index_append.append"):
                    m, t_app, c_app = _measured(
                        lambda: engine.append_docs(sdf, batch_key=f"b{k}", auto_compact=False)
                    )
                with run.span("index_append.compact"):
                    c, t_cmp, c_cmp = _measured(engine.maybe_compact)
                with run.span("search.fresh_read"):
                    got, t_read, c_read = _measured(
                        lambda: engine.search(marker, limit=batch_docs + 10).collect()
                    )
            walls.append(time.perf_counter() - t0)
            run.check(m is not None, f"batch {k} append was not applied")
            run.check({r["doc_id"] for r in got} == ids, f"batch {k}: read-after-write search missed the batch")
            # the read step's CPU is the median of the fresh read and its
            # repeats: one read alone spread 30% between runs
            read_cpus = [c_read]
            for _ in range(READ_REPEATS):
                with run.span("search.query"):
                    again, _, c_again = _measured(
                        lambda: engine.search(marker, limit=batch_docs + 10).collect()
                    )
                read_cpus.append(c_again)
                run.check(again == got, f"batch {k}: repeated search changed result")
            for r in rows:
                expected[r["doc_id"]] = sorted(r["category_ids"])
            for key, v in (("cat", t_cat), ("save", t_save), ("app", t_app), ("cmp", t_cmp),
                           ("read", t_read), ("cat_cpu", c_cat + c_save),
                           ("write_cpu", c_app + c_cmp), ("read_cpu", statistics.median(read_cpus))):
                steps.setdefault(key, []).append(v)
            compactions += c is not None
            delta_bytes += int((m or {}).get("bytes") or 0)
            n_done += len(ids)
            k += 1

    results = {r["doc_id"]: sorted(r["category_ids"]) for r in engine.results().collect()}
    run.check(
        results == expected,
        f"results table ({len(results)} docs) != categorise_batch output ({len(expected)} docs)",
    )
    run.facts.update(batches=k, compactions=compactions, results_docs=len(results))

    cat = IndexCatalog(idx)
    med = {key: statistics.median(v) for key, v in steps.items()}
    run.metrics.update(
        setup_s=statistics.median(setup),
        cpu_s=med["cat_cpu"] + med["write_cpu"] + med["read_cpu"],
        peak_rss_mb=rss.py_peak_mb,
        docs_per_s=n_done / sum(walls),
        write_cpu_s=med["write_cpu"],
        categorise_cpu_s=med["cat_cpu"],
        read_cpu_s=med["read_cpu"],
        index_bytes_per_doc=_index_bytes(cat) / engine.reader.n_docs,
    )
    run.layer.update(build_layers)
    run.layer.update({
        "search.reader_open_s": statistics.median(opens),
        "search.fresh_read_s": med["read"],
        "incremental.payload_compile_s": statistics.median(compiles),
        "incremental.categorise_batch_s": med["cat"],
        "engine.save_results_s": med["save"],
        "engine.results_bytes_written": cat.table_bytes(IndexCatalog.RESULTS_PARTS),
        "engine.tree_peak_rss_mb": rss.peak_mb,
        "index_append.append_s": med["app"],
        "index_append.compact_s": med["cmp"],
        "index_append.compactions": compactions,
        "index_append.delta_bytes": delta_bytes,
        **_reader_state(run, engine),
    })


WORKLOADS = {"reindex": reindex, "daily_update": daily_update}
