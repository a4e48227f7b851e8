"""End-to-end engine tests: build the inverted index with Spark, run the
category queries through the distributed path, and assert match-set AND
score parity with the brute-force oracle (SURVEY.md §5 items 3-4)."""

import math

import pytest
from conftest import assert_executors_agree

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig, FieldSpec
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.operators.oracle import (
    OracleIndex,
    build_oracle_doc,
)
from ds_discovery_opensearch_taxonomy_spark.operators.search import (
    IndexReader,
    run_categories,
)
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    load_categories,
    synthesize_corpus,
    with_doc_ids,
)

# small salt target + >1 band + >1 bucket so the skew/salting/banding
# machinery is exercised even at test scale
TEST_CONFIG = EngineConfig(
    n_term_buckets=4,
    salt_target_postings=64,
    max_salts=8,
    n_eval_bands=2,
)

N_DOCS = 400

REPRESENTATIVE = [
    "Air Force",
    "Chartism",
    "Freemasons",
    "Rationing",
    "UFOs",
    "Votes for women",
    "Europe",
]

SYNTHETIC = [
    ("X_RANGE", '"ration" AND START_DATE:{1950-01-01 TO *}'),
    ("X_SOURCE", "women AND SOURCE:[0 TO 60]"),
    ("X_CASPUNC", "textcaspunc:suffrage OR textcaspunc:\"women's\""),
    ("X_CASNOPUNC", "textcasnopunc:MELODY"),
    ("X_WILD", "suffrag* NOT chartism"),
    ("X_LEADWILD", "*mason"),
    # fuzzy: misspellings within edit distance of real vocabulary words;
    # scored via per-term boosts 1 - d/min_len summed (BooleanQuery rewrite)
    ("X_FUZZY", "sufrage~1 OR charism~2"),
    ("X_FUZZY_SCORED", "ration~1^2 OR women"),
    # match-all syntax (Q11) incl. as the positive leg of a NOT
    ("X_MATCHALL", "*:*"),
    ("X_MATCHALL_NOT", '*:* NOT "chartism"'),
]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("index")
    corpus = with_doc_ids(synthesize_corpus(spark, N_DOCS))
    cat = build_index(spark, corpus, str(out), TEST_CONFIG)
    rows = [r.asDict() for r in corpus.collect()]
    oracle_docs = [
        build_oracle_doc(
            r["doc_id"],
            r,
            TEST_CONFIG,
            doc_ref=f'{r["repo"]}/{r["path"]}/{r["commit"]}',
        )
        for r in rows
    ]
    oracle = OracleIndex(oracle_docs, TEST_CONFIG)
    reader = IndexReader(spark, str(out), TEST_CONFIG)
    return cat, oracle, reader, rows


def _category_queries():
    cats = load_categories()
    chosen = [
        (c["category_id"], c["query_text"])
        for c in cats
        if c["title"] in REPRESENTATIVE
    ]
    return chosen + SYNTHETIC


def test_manifest_complete(built):
    cat, _, _, _ = built
    m = cat.manifest()
    assert len(m["buckets"]) == TEST_CONFIG.n_term_buckets
    assert "complete" in m["stages"]
    for b in m["buckets"].values():
        assert b["postings"] > 0 and b["bytes"] > 0


def test_sha_invariant(built, spark):
    _, _, reader, rows = built
    docs = reader.docs().select("doc_id", "content_sha").collect()
    assert len(docs) == N_DOCS
    import hashlib

    by_id = {r["doc_id"]: r["content_sha"] for r in docs}
    for r in rows[:50]:
        assert by_id[r["doc_id"]] == hashlib.sha256(r["content"].encode()).hexdigest()


def test_salting_applied(built, spark):
    _, _, reader, _ = built
    heavy = (
        reader.postings().select("term_id", "salt").distinct()
        .groupBy("term_id").count().where("count > 1").count()
    )
    assert heavy > 0, "expected at least one salted (heavy) term at this scale"


@pytest.mark.parametrize("scored", [True, False])
def test_match_set_parity(built, spark, scored):
    _, oracle, reader, _ = built
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query

    queries = _category_queries()
    results = run_categories(spark, reader, queries, scored=scored).collect()
    got: dict[str, dict[int, float]] = {}
    for r in results:
        got.setdefault(r["category_id"], {})[r["doc_id"]] = r["score"]
    for cid, qtext in queries:
        node = parse_query(qtext, TEST_CONFIG)
        expected = dict(oracle.matching_docs(node))
        g = got.get(cid, {})
        assert set(g) == set(expected), (
            f"{cid}: engine={len(g)} oracle={len(expected)} "
            f"only_engine={list(set(g) - set(expected))[:5]} "
            f"only_oracle={list(set(expected) - set(g))[:5]}"
        )
        if scored:
            for d, s in expected.items():
                assert math.isclose(g[d], s, rel_tol=1e-9, abs_tol=1e-12), (
                    f"{cid} doc {d}: engine={g[d]} oracle={s}"
                )


def test_topk_rank_parity(built, spark):
    _, oracle, reader, _ = built
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query

    queries = _category_queries()
    k = 5
    results = run_categories(spark, reader, queries, scored=True, top_k=k).collect()
    got: dict[str, list[int]] = {}
    for r in sorted(results, key=lambda r: (r["category_id"], -r["score"], r["doc_id"])):
        got.setdefault(r["category_id"], []).append(r["doc_id"])
    for cid, qtext in queries:
        node = parse_query(qtext, TEST_CONFIG)
        expected = [d for d, _ in oracle.matching_docs(node)][:k]
        assert got.get(cid, []) == expected, f"{cid}"


def test_all_136_categories_parity(built, spark):
    """Engine vs oracle on the COMPLETE 136-query reference set: equal
    per-category doc sets, identical BM25 scores."""
    _, oracle, reader, _ = built
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import parse_query

    cats = load_categories()
    pairs = [(c["category_id"], c["query_text"]) for c in cats]
    results = run_categories(spark, reader, pairs, scored=True).collect()
    got: dict[str, dict[int, float]] = {cid: {} for cid, _ in pairs}
    for r in results:
        got[r["category_id"]][r["doc_id"]] = r["score"]
    n_matched_categories = 0
    for cid, qtext in pairs:
        node = parse_query(qtext, TEST_CONFIG)
        expected = dict(oracle.matching_docs(node))
        g = got[cid]
        assert set(g) == set(expected), (
            f"{cid}: engine={len(g)} oracle={len(expected)}"
        )
        for d, s in expected.items():
            assert math.isclose(g[d], s, rel_tol=1e-9, abs_tol=1e-12), (
                f"{cid} doc {d}: {g[d]} vs {s}"
            )
        if expected:
            n_matched_categories += 1
    # the fragment-salted corpus must exercise a healthy share of categories
    assert n_matched_categories >= 25, n_matched_categories


def test_executors_agree_on_all_136_categories(built, spark):
    """Local vs Spark executor on every fixture category (scored top-100
    and bool sets, exact (doc_id, score) equality), plus the ineligible
    synthetic shapes — wildcard, range, metadata, match-all — which must
    route to Spark."""
    _, _, reader, _ = built
    pairs = [(c["category_id"], c["query_text"]) for c in load_categories()]
    n_local = assert_executors_agree(spark, reader, pairs)
    assert n_local >= 2 * 100, n_local  # most fixture categories run locally
    assert assert_executors_agree(spark, reader, SYNTHETIC) < 2 * len(SYNTHETIC)


def test_local_searches_keep_persisted_rdds_bounded(built, spark):
    """50 distinct local-eligible single-term searches on one reader add
    no persisted RDD (the local executor persists nothing per query)."""
    from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine

    cat, _, _, _ = built
    eng = TaxonomyEngine(spark, str(cat.root), TEST_CONFIG)
    terms = [
        r["term"]
        for r in eng.reader.dictionary()
        .where("field = 'textnocasnopunc' AND term RLIKE '^[a-z]{4,}$'")
        .orderBy("term")
        .limit(51)
        .collect()
    ]
    assert len(terms) == 51
    eng.search(terms[0]).collect()  # the reader's own tables persist here
    jsc = spark.sparkContext._jsc
    before = jsc.getPersistentRDDs().size()
    for t in terms[1:]:
        assert eng.search(t, limit=5).collect()
    assert jsc.getPersistentRDDs().size() == before
    eng.reader.unpersist()
    assert not eng.reader._local_sidecars and eng.reader._local_ds is None


@pytest.mark.parametrize("bound", ["_LOCAL_MAX_POSTINGS", "_LOCAL_MAX_BYTES"])
def test_runs_over_a_local_bound_go_to_spark(built, spark, monkeypatch, bound):
    """With a routing bound lowered to the median distinct estimate of the
    locally answered fixture categories, the categories above it run on
    Spark and the rest in the driver, each returning exactly its unbounded
    local rows.  The sidecar cache is cut to one band: it evicts, stays
    exact and keeps its byte count."""
    from ds_discovery_opensearch_taxonomy_spark.operators import search as so

    cat, _, _, _ = built
    reader = IndexReader(spark, str(cat.root), TEST_CONFIG)
    sc = spark.sparkContext
    monkeypatch.setattr(so, "_LOCAL_SIDECAR_MAX_BYTES", 1)

    def estimate(cid, q):
        compiled, _, df_map, bucket_map, tid_map = so.compile_queries(
            reader, [(cid, q)], reader.config
        )
        node = compiled[cid]
        if bound == "_LOCAL_MAX_POSTINGS":
            return sum(df_map.get(k, 0) for k in so.needed_terms(node))
        keys = [k for k in so.needed_terms(node) if k in tid_map]
        return reader.local_read_bytes(
            sorted({tid_map[k] for k in keys}),
            sorted({bucket_map[k] for k in keys}),
            so._node_has_phrase(node),
        )

    want = {}
    for c in load_categories()[:40]:
        rows = so.run_local(reader, [(c["category_id"], c["query_text"])], top_k=100)
        if rows is not None and len(rows):
            want[c["category_id"], c["query_text"]] = sorted(
                zip(rows["doc_id"], rows["score"])
            )
    assert len(reader._local_sidecars) == 1
    assert reader._local_sidecar_bytes == so._payload_bytes(
        next(iter(reader._local_sidecars.values()))
    )
    est = {pair: estimate(*pair) for pair in want}
    vals = sorted(set(est.values()))  # reads of one small index tie
    assert len(vals) > 1, vals
    limit = vals[(len(vals) - 1) // 2]
    monkeypatch.setattr(so, bound, limit)
    n_spark = 0
    for (cid, q), rows in want.items():
        group = f"bound-{bound}-{cid}"
        sc.setJobGroup(group, group)
        try:
            got = so.run_categories(spark, reader, [(cid, q)], top_k=100).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
        assert sorted((r["doc_id"], r["score"]) for r in got) == rows, cid
        if est[cid, q] > limit:
            assert n_jobs > 0, f"{cid}: over the bound, expected Spark"
            n_spark += 1
        else:
            assert n_jobs == 0, f"{cid}: within the bound, launched {n_jobs}"
    assert 0 < n_spark < len(want), n_spark
    reader.unpersist()


def test_air_force_reference_doc(built, spark):
    """Reference assertion: row 0 (AIR 37/177 verbatim) is categorised
    'Air Force' (ElasticCategoriserRepositoryTest.cs)."""
    _, _, reader, rows = built
    cats = load_categories()
    air = next(c for c in cats if c["title"] == "Air Force")
    res = run_categories(
        spark, reader, [(air["category_id"], air["query_text"])], scored=True
    ).collect()
    air_doc_id = rows[0]["doc_id"]
    assert any(r["doc_id"] == air_doc_id for r in res)


def test_ord_passes_tolerate_empty_trailing_partitions(spark, tmp_path_factory):
    """A tiny file split to satisfy minPartitionNum plans byte ranges with
    NO rows (parquet row-groups don't split), so scan partitions can
    outnumber the non-empty pids the offsets pass saw.  attach_ords and the
    tokenize pass must treat over-range EMPTY partitions as legal (the
    streaming micro-batch append hits this on every small batch) while still
    failing loudly if rows show up there."""
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        attach_ords,
        expected_counts,
        partition_offsets,
    )
    from ds_discovery_opensearch_taxonomy_spark.sources.corpus import with_doc_ids

    out = tmp_path_factory.mktemp("tinyfile")
    src = spark.createDataFrame(
        [(f"r{i}", f"p{i}.py", f"{i:040x}", "py", f"alpha beta doc{i}")
         for i in range(5)],
        "repo string, path string, commit string, lang string, content string",
    )
    with_doc_ids(src).coalesce(1).write.mode("overwrite").parquet(str(out / "c"))
    old = spark.conf.get("spark.sql.files.minPartitionNum", None)
    old_cost = spark.conf.get("spark.sql.files.openCostInBytes", None)
    spark.conf.set("spark.sql.files.minPartitionNum", "16")
    # default 4 MB openCost floors split size above the whole file; drop it
    # so the tiny file really splits into empty byte-range partitions
    spark.conf.set("spark.sql.files.openCostInBytes", "16")
    try:
        corpus = spark.read.parquet(str(out / "c"))
        n_parts = corpus.rdd.getNumPartitions()
        offsets, n_docs = partition_offsets(corpus)
        assert n_docs == 5
        # the regression precondition: more planned partitions than offsets
        assert n_parts > len(offsets), (n_parts, len(offsets))
        got = attach_ords(
            corpus, offsets, expected_counts(offsets, n_docs)
        ).select("ord").collect()
        assert sorted(r["ord"] for r in got) == list(range(5))
    finally:
        if old is None:
            spark.conf.unset("spark.sql.files.minPartitionNum")
        else:
            spark.conf.set("spark.sql.files.minPartitionNum", old)
        if old_cost is None:
            spark.conf.unset("spark.sql.files.openCostInBytes")
        else:
            spark.conf.set("spark.sql.files.openCostInBytes", old_cost)
