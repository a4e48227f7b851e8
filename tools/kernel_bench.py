"""Deterministic in-process eval-kernel microbench + profile.

The driver-window categorise numbers on this host swing with external
load, so kernel changes can't be judged from end-to-end walls alone.
This tool replays ONE (chunk, band) eval group's exact shuffled input
(dumped by eval_group under SPARK_GRAFT_EVAL_DUMP) through the band
kernel both executors run (operators/search.eval_band), single-threaded,
and reports per-category medians over N repeats plus an optional
cProfile breakdown — pure kernel CPU, no Spark scheduling or
memory-bandwidth contention from sibling tasks.  Each pass times the
kernel's set-up (``median_setup_s``: sidecar unpack, groupby by term,
evaluator construction) and its per-category evaluation
(``median_eval_s``) separately; ``median_total_s`` is their sum.

Usage:
  1. dump:    SPARK_GRAFT_EVAL_DUMP=/tmp/evaldump python tools/eval_decompose.py 32
  2. replay:  python tools/kernel_bench.py /tmp/evaldump/group_0_3.parquet \
                  [index_dir] [--repeat N] [--profile] [--scored]
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

import pandas as pd

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> None:
    argv = sys.argv[1:]
    repeat = 5
    if "--repeat" in argv:
        i = argv.index("--repeat")
        repeat = int(argv[i + 1])
        del argv[i : i + 2]
    profile = "--profile" in argv
    scored = "--scored" in argv
    args = [a for a in argv if not a.startswith("--")]
    group_path = args[0]
    idx = args[1] if len(args) > 1 else str(REPO / ".scratch" / "decompose_idx_32")

    from ds_discovery_opensearch_taxonomy_spark.cli import make_spark
    from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
    from ds_discovery_opensearch_taxonomy_spark.operators import search as so
    from ds_discovery_opensearch_taxonomy_spark.sources.corpus import load_categories

    name = Path(group_path).stem  # group_<chunk>_<band>
    _, chunk_s, band_s = name.split("_")
    chunk, band = int(chunk_s), int(band_s)

    spark = make_spark("2", shuffle_partitions=2)
    config = EngineConfig(
        n_term_buckets=8, n_eval_bands=16,
        salt_target_postings=20_000,
    )
    reader = so.IndexReader(spark, idx, config)
    pairs = [(c["category_id"], c["query_text"]) for c in load_categories()]
    compiled, virtual, df_map, bucket_map, tid_map = so.compile_queries(
        reader, pairs, config
    )
    # same chunk packing as run_categories
    sorted_cids = sorted(compiled)
    chunk_size = max(1, int(config.eval_chunk_size))
    chunk_cids: dict[int, list[str]] = {}
    for i, cid in enumerate(sorted_cids):
        chunk_cids.setdefault(i // chunk_size, []).append(cid)
    nodes = {cid: compiled[cid] for cid in chunk_cids[chunk]}
    params = so.kernel_params(reader, config, scored, None)
    blocks, sidecars = so.split_group(pd.read_parquet(group_path))
    spark.stop()  # everything below is pure numpy/pandas

    def one_pass():
        # a fresh evaluator (and decode cache) per pass: real cost shape
        stats: dict = {}
        out = so.eval_band(
            band, nodes, blocks, sidecars, df_map, tid_map, params, stats
        )
        return stats["cid_walls"], len(out)

    if profile:
        import cProfile
        import pstats

        pr = cProfile.Profile()
        pr.enable()
        one_pass()
        pr.disable()
        pstats.Stats(pr).sort_stats("cumulative").print_stats(25)
        return

    runs = []
    matches = None
    for _ in range(repeat):
        t0 = time.perf_counter()
        walls, matches = one_pass()
        runs.append((time.perf_counter() - t0, walls))
    med_total = statistics.median(r[0] for r in runs)
    # eval = the per-category walls (eval + ord -> doc_id + top-k cut);
    # setup = the rest of the pass (sidecar unpack, groupby by term,
    # evaluator construction).  Only median_eval_s compares with readings
    # taken before the kernel was shared, whose total excluded set-up.
    med_eval = statistics.median(sum(r[1].values()) for r in runs)
    med_setup = statistics.median(r[0] - sum(r[1].values()) for r in runs)
    per_cid = {
        cid: statistics.median(r[1][cid] for r in runs) for cid in nodes
    }
    top = sorted(per_cid.items(), key=lambda kv: -kv[1])[:12]
    print(
        json.dumps(
            {
                "group": name,
                "scored": scored,
                "repeat": repeat,
                "median_total_s": round(med_total, 4),
                "median_setup_s": round(med_setup, 4),
                "median_eval_s": round(med_eval, 4),
                "matches": matches,
                "top_cids": [(c, round(w, 4)) for c, w in top],
            }
        ),
        flush=True,
    )


if __name__ == "__main__":
    main()
