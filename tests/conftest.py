import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO_ROOT))
# python workers spawned by the JVM need the package importable too
os.environ["PYTHONPATH"] = (
    f"{REPO_ROOT}:{os.environ['PYTHONPATH']}" if os.environ.get("PYTHONPATH") else str(REPO_ROOT)
)


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("taxonomy-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "4g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("WARN")
    yield s


def assert_executors_agree(spark, reader, pairs):
    """Differential check of the two executors: every category of
    ``pairs`` run ALONE (compile warm) must return exactly its
    ``(doc_id, score)`` rows from ONE Spark batch run of all of them, in
    scored top-100 and bool modes.  A category whose compiled node has no
    distributed wildcard/range expansion and no virtual (metadata) clause
    must take the local executor and launch no Spark job; any other must
    run on Spark.  Returns the number of local single runs."""
    from ds_discovery_opensearch_taxonomy_spark.operators import search as so

    sc = spark.sparkContext
    n_local = 0
    for scored, top_k in ((True, 100), (False, None)):
        want: dict = {}
        for r in so.run_categories(
            spark, reader, pairs, scored=scored, top_k=top_k
        ).collect():
            want.setdefault(r["category_id"], []).append((r["doc_id"], r["score"]))
        for cid, q in pairs:
            compiled, _, df_map, bucket_map, tid_map = so.compile_queries(
                reader, [(cid, q)], reader.config
            )
            node = compiled[cid]
            virtual: dict = {}
            so._collect_virtual_nodes(node, virtual)
            simple = not virtual and not so.distributed_constructs(node)
            assert so._local_eligible(
                reader, node, df_map, bucket_map, tid_map
            ) == simple, cid
            group = f"executors-{scored}-{cid}"
            sc.setJobGroup(group, group)
            try:
                got = so.run_categories(
                    spark, reader, [(cid, q)], scored=scored, top_k=top_k
                ).collect()
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
            n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
            assert sorted((r["doc_id"], r["score"]) for r in got) == sorted(
                want.get(cid, [])
            ), f"{cid} scored={scored}"
            if simple:
                assert n_jobs == 0, f"{cid}: local run launched {n_jobs} jobs"
                n_local += 1
            else:
                assert n_jobs > 0, f"{cid}: expected the Spark executor"
    return n_local
