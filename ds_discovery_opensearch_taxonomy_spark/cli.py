"""spark-submit entry point (reference: TaxonomyCLI/Program.cs:31-93,
Batch/Program.cs OperationMode switch).

    spark-submit --py-files <pkg.zip> -m ds_discovery_opensearch_taxonomy_spark.cli ...
    # or locally:
    python -m ds_discovery_opensearch_taxonomy_spark.cli build --corpus X --index Y

Modes:
* ``build``             — full index build (Full_Reindex), resumable;
* ``categorise``        — run all category queries, write per-doc results;
* ``test-categorise``   — categorise specific docs with scores (CLI -t flag);
* ``search``            — ad-hoc query with min-score/limit/offset;
* ``append``            — daily-update: add/replace docs in the LIVE index
                          (idempotent by --batch-key);
* ``compact``           — fold accumulated append deltas into the main
                          tables (atomic manifest commit);
* ``synthesize``        — generate a deterministic corpus table.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
from pathlib import Path


def _default_driver_memory() -> str:
    """Half of the host's MemTotal: in local mode the driver is the only
    JVM, and the Python workers need the other half."""
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    return f"{int(line.split()[1]) // 2048}m"
    except OSError:
        pass
    return "4g"  # no /proc (not Linux)


def make_spark(
    cpus: str = "*",
    shuffle_partitions: int | None = None,
    driver_memory: str | None = None,
    extra_conf: dict[str, str] | None = None,
):
    # Python workers must be able to import this package even when the
    # driver script runs from another cwd with a bare sys.path insert
    # (mapInArrow closures unpickle by module name in the worker).  Local
    # mode workers inherit the driver process env, so extending PYTHONPATH
    # before the JVM starts is sufficient; on a real cluster the package
    # ships via --py-files / a pip-installed image instead.
    pkg_root = str(Path(__file__).resolve().parent.parent)
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            pkg_root + (os.pathsep + pp if pp else "")
        )

    from pyspark.sql import SparkSession

    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("ds-discovery-taxonomy-spark")
        # local mode: the only JVM
        .config("spark.driver.memory", driver_memory or _default_driver_memory())
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 10k-row default batches starve the all-numeric block builder with
        # per-batch Arrow/pandas round-trip overhead; 32k keeps tokenizer
        # input frames bounded (~55 MB of 1.7 KB docs) while 3x-ing the
        # builder's vectorization granularity
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "32768")
        # AQE coalesces the per-(chunk, band) eval exchange by SIZE, but
        # eval groups are CPU-bound (phrase/positions work on compressed
        # blocks): the default 1 MB floor folded a heavy single query's 16
        # bands into 1-2 tasks (measured 1.4 s -> 0.76 s on the largest
        # fixture query with a 16 KB floor; parallelismFirst then keeps
        # partitions).  Large shuffles still coalesce normally.
        .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
        # parquet In-pushdown keeps the literal set up to this size; above
        # it Spark falls back to a min/max RANGE filter, which on 64-bit
        # hash term_ids spans the whole file — no row-group pruning.  The
        # heaviest fixture query carries ~100 term_ids (default cutoff is
        # 10): raising to 1000 cut its cold latency 7.5 -> 4.6 s and the
        # 136-query batch cold pass 14.7 -> 9.7 s; 8192 REGRESSED the
        # batch to 15.1 s (giant-set row-group evaluation), so keep 1000.
        .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
        .config("spark.ui.enabled", "false")
    )
    if shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    # file scans must not cap map parallelism below the cluster: default
    # 128 MB bin-packing folded the ~64-file staging table into ~16 input
    # splits, capping the dictionary agg and the postings job's map side at
    # 16 tasks REGARDLESS of cores (dictionary stage measured flat ~50 s at
    # 4 and 16 cores).  Suggest >= 2 splits per core; AQE still coalesces
    # small downstream stages, and at real scale files outnumber cores so
    # the hint is inert.
    n = os.cpu_count() or 8
    if cpus != "*":
        try:
            n = int(cpus)
        except ValueError:
            pass
    b = b.config("spark.sql.files.minPartitionNum", str(2 * n))
    s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    return s


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="taxonomy-spark")
    p.add_argument("--cpus", default="*")
    sub = p.add_subparsers(dest="mode", required=True)

    b = sub.add_parser("build")
    b.add_argument("--corpus", required=True, help="parquet path of corpus table")
    b.add_argument("--index", required=True, help="output index directory")
    b.add_argument("--no-resume", action="store_true")

    c = sub.add_parser("categorise")
    c.add_argument("--index", required=True)
    c.add_argument("--out", help="write per-doc results to this results table")
    c.add_argument("--scored", action="store_true")

    t = sub.add_parser("test-categorise")
    t.add_argument("--index", required=True)
    t.add_argument("--content", required=True)
    t.add_argument("--path", default="")

    s = sub.add_parser("search")
    s.add_argument("--index", required=True)
    s.add_argument("--query", required=True)
    s.add_argument("--min-score", type=float, default=0.0)
    s.add_argument("--limit", type=int, default=10)
    s.add_argument("--offset", type=int, default=0)

    a = sub.add_parser("append")
    a.add_argument("--index", required=True)
    a.add_argument("--corpus", required=True, help="parquet path of new/updated rows")
    a.add_argument("--batch-key", required=True, help="idempotency key")

    k = sub.add_parser("compact")
    k.add_argument("--index", required=True)

    g = sub.add_parser("synthesize")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)

    # category dimension CRUD (CategoriesController.cs:27-143) — driver-side
    # document store, no SparkSession needed
    cc = sub.add_parser("categories")
    csub = cc.add_subparsers(dest="cat_op", required=True)
    for name in ("list", "search", "add", "save"):
        q = csub.add_parser(name)
        q.add_argument("--index", required=True)
        if name == "search":
            q.add_argument("--text", required=True)
        if name in ("add", "save"):
            q.add_argument("--title", required=True)
            q.add_argument("--query", required=True)
            q.add_argument("--score", type=float, default=0.0)
            q.add_argument("--locked", action="store_true")
        if name == "save":
            q.add_argument("--id", required=True)

    args = p.parse_args(argv)

    if args.mode == "categories":
        from ds_discovery_opensearch_taxonomy_spark.sources.categories import (
            CategoryStore,
        )

        store = CategoryStore(args.index)
        if args.cat_op == "list":
            print(json.dumps(store.list_all(), indent=1))
        elif args.cat_op == "search":
            print(json.dumps(store.find(args.text), indent=1))
        elif args.cat_op == "add":
            print(json.dumps(store.add(
                args.title, args.query, args.score, args.locked
            )))
        elif args.cat_op == "save":
            store.save({
                "category_id": args.id, "title": args.title,
                "query_text": args.query, "score": args.score,
                "locked": args.locked,
            })
            print(json.dumps({"saved": args.id}))
        return 0

    spark = make_spark(args.cpus)

    from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine

    if args.mode == "build":
        corpus = spark.read.parquet(args.corpus)
        TaxonomyEngine.build(spark, corpus, args.index, resume=not args.no_resume)
        m = json.loads(open(f"{args.index}/manifest.json").read())
        print(json.dumps({"buckets": len(m["buckets"]), "stages": list(m["stages"])}))
    elif args.mode == "categorise":
        eng = TaxonomyEngine(spark, args.index)
        per_doc = eng.categorise_all(scored=args.scored)
        if args.out:
            per_doc.write.mode("overwrite").parquet(args.out)
            print(json.dumps({"docs": spark.read.parquet(args.out).count()}))
        else:
            eng.save_results(per_doc)
            print(json.dumps({"docs": eng.results().count()}))
    elif args.mode == "test-categorise":
        eng = TaxonomyEngine(spark, args.index)
        out = eng.categorise_docs([{"content": args.content, "path": args.path}])
        print(json.dumps(out[0]["categories"], indent=1))
    elif args.mode == "search":
        eng = TaxonomyEngine(spark, args.index)
        rows = eng.search_page(args.query, args.min_score, args.limit, args.offset)
        for r in rows:
            print(json.dumps({"doc_id": r["doc_id"], "score": r["score"]}))
    elif args.mode == "append":
        eng = TaxonomyEngine(spark, args.index)
        # append_docs applies the segment-merge policy itself (auto_compact)
        # — scripted daily appends must not accumulate deltas unboundedly;
        # metrics carries a "compacted" subdict when the trigger fired
        metrics = eng.append_docs(
            spark.read.parquet(args.corpus), batch_key=args.batch_key
        )
        out = dict(metrics) if metrics else {"replayed": True}
        print(json.dumps(out))
    elif args.mode == "compact":
        eng = TaxonomyEngine(spark, args.index)
        out = eng.compact()
        print(json.dumps(out or {"nothing_to_compact": True}))
    elif args.mode == "synthesize":
        from ds_discovery_opensearch_taxonomy_spark.sources.corpus import synthesize_corpus

        synthesize_corpus(spark, args.rows).write.mode("overwrite").parquet(args.out)
        print(json.dumps({"rows": spark.read.parquet(args.out).count()}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
