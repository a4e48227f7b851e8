"""Checkpoint/resume (SURVEY.md §5 item 5) + engine facade + incremental
micro-batch parity tests."""

import json

import pytest

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.engine import TaxonomyEngine
from ds_discovery_opensearch_taxonomy_spark.operators.index_build import build_index
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog
from ds_discovery_opensearch_taxonomy_spark.sources.corpus import (
    load_categories,
    synthesize_corpus,
    with_doc_ids,
)

CFG = EngineConfig(n_term_buckets=4, salt_target_postings=64, n_eval_bands=2)
N = 250


@pytest.fixture(scope="module")
def corpus(spark):
    return with_doc_ids(synthesize_corpus(spark, N))


class InterruptedBuild(Exception):
    pass


def _rows(df):
    """Order-free multiset of a table's rows (binary cells as bytes)."""
    from collections import Counter

    return Counter(
        tuple(bytes(v) if isinstance(v, (bytearray, memoryview)) else v for v in r)
        for r in df.collect()
    )


def _index_content(spark, idx_dir):
    cat = IndexCatalog(idx_dir)
    return {
        "postings": _rows(cat.read(spark, IndexCatalog.POSTINGS)),
        "dictionary": _rows(cat.read(spark, IndexCatalog.DICTIONARY)),
        "docs": _rows(
            spark.read.parquet(cat.path(IndexCatalog.DOCS)).select("ord", "doc_id")
        ),
        "docmap": _rows(spark.read.parquet(cat.path(IndexCatalog.DOCMAP))),
    }


def _categorised(spark, idx_dir):
    eng = TaxonomyEngine(spark, str(idx_dir), CFG)
    return {r["doc_id"]: list(r["category_ids"]) for r in eng.categorise_all().collect()}


def test_resume_after_kill(spark, corpus, tmp_path, monkeypatch):
    """Crash matrix: kill the build at EVERY manifest write of a clean
    build (the k+1-th write raises before it lands, after that step's
    files were written), then resume.  Each resumed index must equal an
    uninterrupted build's — postings, dictionary, docs (ord, doc_id) and
    docmap — and categorise identically.  A clean build makes at most
    seven manifest writes (one per build step)."""
    orig_write = IndexCatalog._write_manifest
    writes = {"n": 0, "allow": None}

    def counting_write(self, m):
        if writes["allow"] is not None and writes["n"] >= writes["allow"]:
            raise InterruptedBuild()
        writes["n"] += 1
        orig_write(self, m)

    monkeypatch.setattr(IndexCatalog, "_write_manifest", counting_write)
    ref_dir = tmp_path / "ref"
    build_index(spark, corpus, str(ref_dir), CFG)
    n_writes = writes["n"]
    assert 0 < n_writes <= 7, n_writes
    ref = _index_content(spark, ref_dir)
    ref_cats = _categorised(spark, ref_dir)
    assert any(ref_cats.values()), "fixture corpus must match some categories"

    for k in range(n_writes):
        part_dir = tmp_path / f"crash_{k}"
        writes.update(n=0, allow=k)
        with pytest.raises(InterruptedBuild):
            build_index(spark, corpus, str(part_dir), CFG)
        assert writes["n"] == k
        writes.update(n=0, allow=None)
        build_index(spark, corpus, str(part_dir), CFG, resume=True)
        m = IndexCatalog(part_dir).manifest()
        assert "complete" in m["stages"], k
        # the resume made exactly the writes the crash left undone
        assert writes["n"] == n_writes - k, k
        got = _index_content(spark, part_dir)
        for table, rows in ref.items():
            assert got[table] == rows, f"crash after {k} writes: {table} differs"
        assert _categorised(spark, part_dir) == ref_cats, k


def test_pre_v6_manifest_refused_and_rebuilt(spark, corpus, tmp_path):
    """A manifest of an older format (5) or with no format is refused by
    IndexReader open and by append_docs with one "rebuild the index"
    error, and build_index(resume=True) rebuilds it from scratch."""
    from ds_discovery_opensearch_taxonomy_spark.operators.search import IndexReader

    idx = tmp_path / "old"
    build_index(spark, corpus, str(idx), CFG)
    eng = TaxonomyEngine(spark, str(idx), CFG)
    want = _categorised(spark, idx)
    mp = idx / "manifest.json"
    current = json.loads(mp.read_text())
    for fmt in (5, None):
        m = json.loads(json.dumps(current))
        if fmt is None:
            del m["meta"]["format"]
        else:
            m["meta"]["format"] = fmt
        mp.write_text(json.dumps(m))
        with pytest.raises(RuntimeError, match="rebuild the index"):
            IndexReader(spark, str(idx), CFG)
        with pytest.raises(RuntimeError, match="rebuild the index"):
            eng.append_docs(corpus.limit(5), batch_key=f"old{fmt}", auto_compact=False)
        assert "deltas" not in json.loads(mp.read_text())
        build_index(spark, corpus, str(idx), CFG, resume=True)
        rebuilt = json.loads(mp.read_text())
        assert rebuilt["meta"]["format"] == current["meta"]["format"]
        # a rebuild, not a resume: every step was committed afresh
        assert all(
            st["ts"] > current["stages"]["complete"]["ts"]
            for st in rebuilt["stages"].values()
        )
        current = rebuilt
    assert _categorised(spark, idx) == want


@pytest.fixture(scope="module")
def engine(spark, corpus, tmp_path_factory):
    out = tmp_path_factory.mktemp("engine_idx")
    return TaxonomyEngine.build(spark, corpus, str(out), CFG)


def test_categorise_all_includes_empty(spark, engine):
    per_doc = engine.categorise_all().collect()
    assert len(per_doc) == N  # every doc emitted, empty arrays included
    empties = [r for r in per_doc if not r["category_ids"]]
    nonempty = [r for r in per_doc if r["category_ids"]]
    assert nonempty, "fixture corpus must match some categories"
    assert empties, "synthetic corpus should also have unmatched docs"
    for r in nonempty:
        assert r["category_ids"] == sorted(r["category_ids"])


def test_single_doc_matches_batch_path(spark, engine, corpus):
    """Daily-update single-doc scores == batch index scores (global stats)."""
    rows = [r.asDict() for r in corpus.limit(25).collect()]
    cats = load_categories()
    subset = [c["category_id"] for c in cats[:30]]
    batch = engine.run_queries(subset=subset, scored=True).collect()
    batch_map = {}
    for r in batch:
        batch_map.setdefault(r["doc_id"], {})[r["category_id"]] = r["score"]
    single = engine.categorise_docs(rows, scored=True, subset=subset)
    for row, res in zip(rows, single):
        expected = batch_map.get(row["doc_id"], {})
        got = {c["category_id"]: c["score"] for c in res["categories"]}
        assert set(got) == set(expected), f"doc {row['doc_id']}"
        for cid, s in expected.items():
            assert abs(got[cid] - s) < 1e-9


def test_categorise_docs_warns_on_bulk_misuse(engine):
    """The doc-at-a-time API is a driver-side loop by design (reference
    CategoriseSingle); feeding it a bulk list must warn and redirect to the
    distributed paths rather than silently crawl."""
    import warnings

    rows = [{"doc_id": i, "content": "air force"} for i in range(1001)]
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        engine.categorise_docs(rows, scored=False, subset=["C10002"])
    assert any("driver-side Python loop" in str(x.message) for x in w)
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        engine.categorise_docs(rows[:5], scored=False, subset=["C10002"])
    assert not w


def test_search_pagination_and_count(spark, engine):
    q = '"ration" OR "rations" OR "rationing"'
    total = engine.count(q)
    assert total > 0
    page1 = engine.search_page(q, limit=3, offset=0)
    page2 = engine.search_page(q, limit=3, offset=3)
    ids1 = [r["doc_id"] for r in page1]
    ids2 = [r["doc_id"] for r in page2]
    assert len(ids1) == min(3, total)
    assert not set(ids1) & set(ids2)
    scores = [r["score"] for r in page1 + page2]
    assert scores == sorted(scores, reverse=True)
    # min_score filter
    hi = engine.search_page(q, min_score=scores[0], limit=10)
    assert all(r["score"] >= scores[0] for r in hi)


def test_facets(spark, engine):
    rows = engine.facets("lang").collect()
    assert sum(r["count"] for r in rows) == N
    counts = [r["count"] for r in rows]
    assert counts == sorted(counts, reverse=True)


def test_save_results_merge(spark, engine):
    per_doc = engine.categorise_all()
    engine.save_results(per_doc)
    n1 = engine.results().count()
    assert n1 == N
    # idempotent re-merge + targeted update
    sample = engine.results().limit(1).collect()[0]
    updated = spark.createDataFrame(
        [(sample["doc_id"], ["CXXXXX"])], "doc_id long, category_ids array<string>"
    )
    engine.save_results(updated)
    assert engine.results().count() == N
    got = engine.results().where(f"doc_id = {sample['doc_id']}").collect()[0]
    assert got["category_ids"] == ["CXXXXX"]


def test_incremental_stream(spark, engine, corpus, tmp_path):
    """files-source streaming -> foreachBatch categorise -> merged results."""
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        start_incremental,
    )

    inbox = tmp_path / "inbox"
    corpus.drop("doc_id", "content_sha").limit(10).write.mode("overwrite").parquet(str(inbox))
    schema = spark.read.parquet(str(inbox)).schema
    stream = spark.readStream.schema(schema).parquet(str(inbox))
    q = start_incremental(engine, stream, str(tmp_path / "ckpt"))
    q.awaitTermination(120)
    res = engine.results()
    assert res.count() >= 10
    # streamed docs agree with the batch path (boolean sets)
    batch = {r["doc_id"]: r["category_ids"] for r in engine.categorise_all().collect()}
    streamed_ids = [
        r["doc_id"] for r in with_doc_ids(spark.read.parquet(str(inbox))).collect()
    ]
    for r in res.where(res.doc_id.isin(streamed_ids[:5])).collect():
        assert sorted(r["category_ids"]) == sorted(batch[r["doc_id"]])


def test_save_results_crash_between_write_and_swap(spark, engine, monkeypatch):
    """A crash AFTER the new snapshot is written but BEFORE the manifest
    pointer swap must leave the previous results table fully readable
    (round-1 verdict: the old double-overwrite lost the table)."""
    from pyspark.sql import functions as F

    if not engine.reader.cat.results_buckets():  # self-sufficient solo run
        engine.save_results(engine.categorise_all())
    before = {r["doc_id"]: r["category_ids"] for r in engine.results().collect()}
    v_before = engine.reader.cat.results_buckets()

    boom = RuntimeError("injected crash before pointer swap")
    monkeypatch.setattr(
        engine.reader.cat,
        "commit_results_buckets",
        lambda *a, **k: (_ for _ in ()).throw(boom),
    )
    update = engine.results().limit(2).select(
        "doc_id", F.array(F.lit("CRASH")).alias("category_ids")
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        engine.save_results(update)
    monkeypatch.undo()

    # old snapshot still live and byte-complete
    assert engine.reader.cat.results_buckets() == v_before
    after = {r["doc_id"]: r["category_ids"] for r in engine.results().collect()}
    assert after == before

    # a subsequent save commits normally over the aborted attempt
    engine.save_results(update)
    got = {r["doc_id"]: r["category_ids"] for r in engine.results().collect()}
    changed = [d for d, c in got.items() if list(c) == ["CRASH"]]
    assert len(changed) == 2 and len(got) == len(before)


def test_save_results_small_batch_touches_only_its_buckets(spark, engine):
    """The bucketed sink's scale contract (round-3 S8 flag): a small-batch
    save must leave every UNtouched bucket's files byte-identical on disk
    (O(batch) I/O, the Iceberg MERGE file-pruning analogue)."""
    from pathlib import Path
    from pyspark.sql import functions as F

    if not engine.reader.cat.results_buckets():
        engine.save_results(engine.categorise_all())
    cat = engine.reader.cat
    nb = int(cat.get_meta("n_results_buckets"))
    assert len(cat.results_buckets()) > 1, "need a multi-bucket table"

    def bucket_files():
        out = {}
        for b, v in cat.results_buckets().items():
            d = Path(cat.root) / f"{cat.RESULTS_PARTS}/v{v}/bucket={b}"
            out[b] = {
                p.name: (p.stat().st_size, p.stat().st_mtime_ns)
                for p in d.glob("*.parquet")
            }
        return out

    before = bucket_files()
    one = engine.results().limit(1).select(
        "doc_id", F.array(F.lit("CBUCKET")).alias("category_ids")
    )
    doc = one.collect()[0]["doc_id"]
    engine.save_results(one)
    after = bucket_files()
    touched = [b for b in after if after[b] != before.get(b)]
    # exactly the batch's one bucket moved; all others byte-identical
    want_b = int(
        spark.sql(
            f"select pmod(xxhash64(cast({doc} as bigint)), {nb}) p"
        ).collect()[0]["p"]
    )
    assert touched == [want_b]
    got = engine.results().where(F.col("doc_id") == doc).collect()[0]
    assert got["category_ids"] == ["CBUCKET"]


def test_parse_iaid_messages(spark):
    """Queue-message contract: ;-separated IAID lists, malformed entries
    rejected by the reference regex (TaxonomyCLI/Categoriser.cs:28)."""
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        parse_iaid_messages,
    )

    msgs = spark.createDataFrame(
        [
            ("C123;D45678; C99 ;bogus;C1",),  # C1: too few digits
            ("e" * 32 + ";C123456789",),  # 32-char ok; 9 digits too many
            ("",),
        ],
        "body string",
    )
    got = sorted(r["iaid"] for r in parse_iaid_messages(msgs).collect())
    assert got == ["C123", "C99", "D45678", "e" * 32]


def test_streaming_expanders():
    """Sorted-vocab expansion helpers: prefix bisect + regex fallback."""
    from ds_discovery_opensearch_taxonomy_spark.plans.queryparser import (
        TermRangeNode,
    )
    from ds_discovery_opensearch_taxonomy_spark.streaming.incremental import (
        _expand_range,
        _expand_wildcard,
    )

    vocab = sorted(
        ["ship", "shipment", "shipwreck", "shipwrecked", "shop", "sh", "zzz"]
    )
    assert _expand_wildcard(vocab, "ship*") == [
        "ship", "shipment", "shipwreck", "shipwrecked",
    ]
    assert _expand_wildcard(vocab, "shipwreck*") == ["shipwreck", "shipwrecked"]
    assert _expand_wildcard(vocab, "sh?p") == ["ship", "shop"]
    assert _expand_wildcard(vocab, "*wreck") == ["shipwreck"]  # leading star
    assert _expand_wildcard(vocab, "s*k") == ["shipwreck"]
    r = TermRangeNode("f", "ship", "shipwreck", True, False)
    assert _expand_range(vocab, r) == ["ship", "shipment"]
    r2 = TermRangeNode("f", None, "sh", True, True)
    assert _expand_range(vocab, r2) == ["sh"]


def test_results_reader_survives_saves_then_gc_beyond_horizon(spark, engine):
    """Snapshot retention (round-4 review: immediate GC raced concurrent
    readers): a DataFrame obtained from ``results()`` BEFORE a save still
    collects after later saves supersede its bucket dirs — superseded
    generations fall out only beyond config.results_snapshot_retention
    further saves of the same bucket, at which point their dirs ARE
    GC'd (the Iceberg snapshot-expiration analogue)."""
    from pathlib import Path

    from pyspark.sql import functions as F

    if not engine.reader.cat.results_buckets():
        engine.save_results(engine.categorise_all())
    cat = engine.reader.cat
    held = engine.results()
    n_before = held.count()

    one = engine.results().limit(1).select("doc_id")
    doc = one.collect()[0]["doc_id"]

    def save_tag(tag):
        engine.save_results(
            spark.createDataFrame(
                [(doc, [tag])], "doc_id long, category_ids array<string>"
            )
        )

    keep = engine.config.results_snapshot_retention
    assert keep >= 2
    v0 = dict(cat.results_buckets())
    save_tag("RET1")
    save_tag("RET2")
    # within the horizon: the pre-save DataFrame still collects fully
    assert held.count() == n_before
    # the bucket's original dir is still on disk (retired, not GC'd)
    (b,) = [b for b in cat.results_buckets() if cat.results_buckets()[b] != v0[b]]
    first_old = v0[b]
    assert Path(engine._results_part(b, first_old)).exists()
    # one more save pushes the ORIGINAL version past keep=2 -> GC victim
    save_tag("RET3")
    assert not Path(engine._results_part(b, first_old)).exists()
    # retired ledger never holds more than `keep` versions per bucket
    retired = cat.manifest().get("results_retired", {})
    assert all(len(v) <= keep for v in retired.values())
    # live view is the latest write and table row count is unchanged
    got = engine.results().where(F.col("doc_id") == doc).collect()[0]
    assert got["category_ids"] == ["RET3"]
    assert engine.results().count() == n_before
