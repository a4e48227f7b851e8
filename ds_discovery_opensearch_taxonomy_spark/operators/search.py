"""Distributed query evaluation over the persistent inverted index.

Spark re-plan of the reference's query path (per-category
``searcher.Search(query, batchSize)`` over a transient RAMDirectory,
InMemoryCategoriserRepository.cs:86-121,365-454; msearch fan-out
OpenSearchConnection.cs:170-212):

1. driver: parse + analyze the category queries once (mirrors the
   reference's static parsed-query cache, :337-363), expand wildcards /
   term ranges against the dictionary table, pull df for exactly the terms
   the queries need;
2. fetch posting blocks for those (field, term) keys — broadcast semi-join
   + term-bucket partition pruning, so the scan touches only the buckets
   hosting query terms;
3. tag blocks with the categories needing them (broadcast join), group by
   ``(category, band)`` (bands = doc_id-prefix ranges, exact because blocks
   never cross band boundaries), evaluate each group in one Arrow UDF with
   NumPy sorted-set algebra (union/intersect/andnot), positional phrase
   matching, and BM25 scoring;
4. scored top-k mode uses block-max dynamic pruning (MaxScore/WAND family):
   terms processed in descending max-score-upper-bound order; once the
   running k-th score exceeds the remaining upper-bound mass, later terms
   only update existing candidates (galloping intersect) and blocks outside
   the candidate range or below the lift threshold are skipped undecoded.

Numeric-range / id clauses evaluate against the docs table as "virtual
postings" (constant-score doc-id sets, Lucene's constant-score rewrite).
"""

from __future__ import annotations

import os
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass
from pathlib import Path
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ds_discovery_opensearch_taxonomy_spark.config import EngineConfig
from ds_discovery_opensearch_taxonomy_spark.functions import codec, scoring
from ds_discovery_opensearch_taxonomy_spark.plans import queryparser as qp
from ds_discovery_opensearch_taxonomy_spark.sources.catalog import IndexCatalog

RESULT_SCHEMA = T.StructType(
    [
        T.StructField("category_id", T.StringType(), False),
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("score", T.DoubleType(), False),
    ]
)


class IndexReader:
    """Handle on a built index: stats, dictionary expansion, block fetch."""

    def __init__(self, spark: SparkSession, index_dir: str, config: EngineConfig | None = None):
        self.spark = spark
        self.config = config or EngineConfig()
        self.cat = IndexCatalog(index_dir)
        from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
            check_format,
            reconcile_from_manifest,
        )

        check_format(self.cat)
        # prune direct-write files from attempts the committed manifest
        # doesn't know (zombie speculative renames after the post-job
        # sweep) BEFORE any scan binds to the directory listing
        reconcile_from_manifest(self.cat)
        stats = spark.read.parquet(self.cat.path(IndexCatalog.DOC_STATS)).collect()
        self.n_docs = int(stats[0]["n_docs"]) if stats else 0
        self.avgdl = {r["field"]: float(r["avgdl"]) for r in stats}
        meta = self.cat.manifest()["meta"]
        #: band layout is the INDEX's property (recorded at build)
        self.band_bits = int(meta["band_bits"])
        #: width of the dense ordinal space — with band_bits it fixes the
        #: ord -> band mapping (band = ord >> ord_shift); an index property
        self.ord_bits = int(meta["ord_bits"])
        self.ord_shift = max(self.ord_bits - self.band_bits, 0)
        #: appends since the build: main tables are read through union views
        #: (operators/index_append.py) until a compaction folds them in
        self.has_deltas = bool(self.cat.deltas())
        #: block-max bounds are encoded with the BUILD-TIME avgdl; appends
        #: drift the live avgdl, and tf_norm is monotone in avgdl with
        #: ratio <= live/encoded — multiplying bounds by this per-field
        #: factor keeps dynamic pruning exact under drift
        enc = meta["encode_avgdl"]
        self.norm_safety = {
            f: max(1.0, v / float(enc[f])) if enc.get(f) else 1.0
            for f, v in self.avgdl.items()
        }
        #: compile_queries results per (categories, config) — the index a
        #: reader points at is immutable, so expansions/df never go stale
        #: (mirrors the reference's static parsed-query cache,
        #: InMemoryCategoriserRepository.cs:30,337-363).  LRU-bounded: a
        #: long-lived reader serving varied ad-hoc queries must not grow
        #: without bound.
        self.compile_cache: OrderedDict = OrderedDict()
        self.compile_cache_max = 64
        #: (category_id, query_text) -> (node, df/bucket/tid map refs) —
        #: populated by every batch compile, so a later SINGLE-category
        #: compile (the API search / bench per-query path) reuses the 136-
        #: batch's dictionary job instead of launching its own (the compile
        #: job was ~0.5-1 s of a single query's ~1.3 s).  Values reference
        #: the batch maps (supersets are harmless: bucket/tid lookups are
        #: keyed by the query's own needed terms).
        self.percat_cache: OrderedDict = OrderedDict()
        self.percat_cache_max = 1024
        #: per-(virtual key, band_bits) materialized+persisted block DFs —
        #: a metadata clause's doc set is immutable for this index snapshot,
        #: so each clause pays its docs-table scan once per reader, not once
        #: per query run.  LRU-bounded with unpersist-on-evict: the API's
        #: extra_filters path inserts one entry per DISTINCT filter clause,
        #: so a long-lived reader serving varied filters must not accumulate
        #: persisted storage until refresh().
        self._virtual_cache: OrderedDict = OrderedDict()
        self._virtual_cache_max = 64
        #: repr(construct) -> ExpansionInfo: DISTRIBUTED wildcard/term-range
        #: expansions (term_id DataFrame + bounded driver stats), cached per
        #: reader — see expand_constructs
        self.expansion_cache: dict[str, ExpansionInfo] = {}
        self._expansion_persists: list = []
        #: Spark executor, per compile key (categories, config, filters):
        #: persisted routing rows of runs with distributed expansions
        #: (LRU 64, unpersist on evict) and the run's broadcasts (LRU 256)
        self._terms_df_cache: OrderedDict = OrderedDict()
        self._bcast_cache: OrderedDict = OrderedDict()
        #: Spark executor: docmap projected to sentinel block rows, per
        #: ``scored`` (a plan over the persisted docmap — nothing to release)
        self._dmap_proj: dict[bool, DataFrame] = {}
        #: local executor: pyarrow datasets over the postings and docmap
        #: files plus their row-group byte index (footers read once), built
        #: on first use — see :meth:`_local_datasets` — and the per-band
        #: docmap sidecar rows (LRU, at most ``_LOCAL_SIDECAR_MAX_BYTES``)
        self._local_ds: LocalDatasets | None = None
        self._local_sidecars: OrderedDict = OrderedDict()
        self._local_sidecar_bytes = 0
        self._local_lock = threading.Lock()  # concurrent callers fill them

    # -- tables -------------------------------------------------------------

    def dictionary(self) -> DataFrame:
        """Term dictionary (field, term, term_id, df, cf, bucket) — persisted
        per reader: every compile does a lookup pass over it, and the table
        is ~|vocab| rows (executors cache their slices; spills to disk at
        real vocabulary scale)."""
        if not hasattr(self, "_dictionary_df"):
            if self.has_deltas:
                from ds_discovery_opensearch_taxonomy_spark.operators import (
                    index_append,
                )

                df = index_append.dictionary_view(
                    self.spark, self.cat, self.config
                )
            else:
                df = self.cat.read(self.spark, IndexCatalog.DICTIONARY)
            self._dictionary_df = df.persist()
        return self._dictionary_df

    def postings(self) -> DataFrame:
        """Posting blocks — the DataFrame OBJECT is cached per reader: a
        fresh spark.read.parquet resolves sources + reads footers on every
        call (~80 ms), which dominated warm single-query latency.  The
        index snapshot a reader binds to is immutable, so reuse is safe."""
        if not hasattr(self, "_postings_df"):
            if self.has_deltas:
                from ds_discovery_opensearch_taxonomy_spark.operators import (
                    index_append,
                )

                self._postings_df = index_append.postings_view(
                    self.spark, self.cat
                )
            else:
                self._postings_df = self.cat.read(
                    self.spark, IndexCatalog.POSTINGS
                )
        return self._postings_df

    def docs(self) -> DataFrame:
        if not hasattr(self, "_docs_df"):
            if self.has_deltas:
                from ds_discovery_opensearch_taxonomy_spark.operators import (
                    index_append,
                )

                self._docs_df = index_append.docs_view(self.spark, self.cat)
            else:
                self._docs_df = self.spark.read.parquet(
                    self.cat.path(IndexCatalog.DOCS)
                )
        return self._docs_df

    def docmap(self) -> DataFrame:
        """Per-band packed sidecars (band, ford, blk_seq, n, payload):
        ford == -1 rows hold ord -> doc_id arrays, ford == k rows field k's
        per-doc lengths, ford == -2 tombstoned ords (appends).  Persisted
        per reader — every query run ships these into its eval tasks, and
        the table is ~16 bytes/doc."""
        if not hasattr(self, "_docmap_df"):
            if self.has_deltas:
                from ds_discovery_opensearch_taxonomy_spark.operators import (
                    index_append,
                )

                df = index_append.docmap_view(self.spark, self.cat)
            else:
                df = self.spark.read.parquet(self.cat.path(IndexCatalog.DOCMAP))
            self._docmap_df = df.persist()
        return self._docmap_df

    def unpersist(self) -> None:
        """Release everything this reader caches (engine.refresh()):
        persisted tables, routing rows and broadcasts of the Spark executor,
        and the local executor's datasets and sidecars."""
        for attr in ("_dictionary_df", "_docmap_df"):
            df = getattr(self, attr, None)
            if df is not None:
                df.unpersist()
        for df in self._virtual_cache.values():
            df.unpersist()
        self._virtual_cache.clear()
        for df in self._expansion_persists:
            df.unpersist()
        self._expansion_persists.clear()
        self.expansion_cache.clear()
        for df in self._terms_df_cache.values():
            df.unpersist()
        self._terms_df_cache.clear()
        for bcasts in self._bcast_cache.values():
            for b_ in bcasts:
                b_.unpersist()
        self._bcast_cache.clear()
        self._dmap_proj.clear()
        self._local_ds = None
        self._local_sidecars.clear()
        self._local_sidecar_bytes = 0

    # -- local executor reads (pyarrow, in the driver) ------------------------

    def _local_datasets(self) -> LocalDatasets:
        """Pyarrow datasets over EXACTLY the files the Spark views read:
        the main generation dirs plus the committed ``batch=<seq>`` delta
        dirs — never an orphan batch dir, an ``.inprogress`` file or a
        ``_``/``.`` file.  Built on first use, so opening a reader costs
        nothing extra; every footer is read here once, later scans prune
        row groups from the cached metadata, and the routing rule sizes a
        read from the row-group byte index (:meth:`local_read_bytes`)."""
        with self._local_lock:
            if self._local_ds is None:
                self._local_ds = self._open_local_datasets()
            return self._local_ds

    def _open_local_datasets(self) -> LocalDatasets:
        import pyarrow as pa
        import pyarrow.dataset as ds

        from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
            _arrow_blocks_schema,
        )

        cat = self.cat
        seqs = cat.delta_seqs()

        def files(root: Path, pattern: str = "*.parquet") -> list[str]:
            return sorted(
                str(p) for p in root.glob(pattern)
                if not p.name.startswith((".", "_"))
            )

        def delta_files(table: str) -> list[str]:
            root = Path(cat.path(table))
            return [f for s in seqs for f in files(root / f"batch={s}")]

        post_root = Path(cat.path(IndexCatalog.POSTINGS))
        bucket = pa.schema([("bucket", pa.int32())])
        main = ds.dataset(
            files(post_root, "bucket=*/*.parquet"),
            schema=_arrow_blocks_schema().append(bucket.field(0)),
            format="parquet",
            partitioning=ds.partitioning(bucket, flavor="hive"),
            partition_base_dir=str(post_root),
        )
        dfiles = delta_files(IndexCatalog.DELTA_BLOCKS)
        delta = (
            ds.dataset(dfiles, schema=_arrow_blocks_schema(), format="parquet")
            if dfiles
            else None
        )
        docmap = ds.dataset(
            files(Path(cat.path(IndexCatalog.DOCMAP)))
            + delta_files(IndexCatalog.DELTA_DOCMAP),
            schema=pa.schema(
                [
                    ("band", pa.int32()), ("ford", pa.int32()),
                    ("blk_seq", pa.int32()), ("n", pa.int32()),
                    ("payload", pa.binary()),
                ]
            ),
            format="parquet",
        )
        # row-group byte index of the postings: (bucket — -1 for delta
        # files, which every query reads — term_id min, term_id max,
        # uncompressed bytes without posdata, posdata bytes)
        rgs = []
        for d in (main, delta):
            for frag in d.get_fragments() if d is not None else ():
                frag.ensure_complete_metadata()
                b = ds.get_partition_keys(frag.partition_expression).get(
                    "bucket", -1
                )
                md = frag.metadata
                tcol = md.schema.names.index("term_id")
                for i in range(md.num_row_groups):
                    rg = md.row_group(i)
                    st = rg.column(tcol).statistics
                    lo, hi = (
                        (st.min, st.max)
                        if st is not None and st.has_min_max
                        else (np.iinfo(np.int64).min, np.iinfo(np.int64).max)
                    )
                    cols = [rg.column(j) for j in range(rg.num_columns)]
                    pos = sum(
                        c.total_uncompressed_size for c in cols
                        if c.path_in_schema == "posdata"
                    )
                    rest = sum(c.total_uncompressed_size for c in cols) - pos
                    rgs.append((b, lo, hi, rest, pos))
        docmap_bytes = 0
        for frag in docmap.get_fragments():
            frag.ensure_complete_metadata()
            md = frag.metadata
            docmap_bytes += sum(
                md.row_group(i).total_byte_size for i in range(md.num_row_groups)
            )
        rg = np.array(rgs, dtype=np.int64).reshape(-1, 5)
        return LocalDatasets(main, delta, docmap, rg, docmap_bytes)

    def local_read_bytes(
        self, tids: list[int], buckets: list[int], with_pos: bool
    ) -> int:
        """Bytes a local read of the sorted ``tids`` (hosted in
        ``buckets``) would decode, from the cached footers: the postings
        row groups whose term_id range overlaps the query's in the hosting
        buckets and in every delta file, plus the docmap sidecars of the
        bands not in the sidecar cache (pro rata — a query's postings land
        in most bands)."""
        lds = self._local_datasets()
        b, lo, hi, rest, pos = lds.row_groups.T
        hit = (
            (hi >= tids[0]) & (lo <= tids[-1])
            & ((b < 0) | np.isin(b, buckets))
        )
        n_bands = 1 << self.band_bits
        uncached = max(n_bands - len(self._local_sidecars), 0)
        return (
            int(rest[hit].sum())
            + (int(pos[hit].sum()) if with_pos else 0)
            + lds.docmap_bytes * uncached // n_bands
        )

    def local_blocks(
        self, tids: list[int], buckets: list[int], columns: list[str]
    ) -> pd.DataFrame:
        """Posting-block rows of the sorted ``tids`` (hosted in
        ``buckets``), main + committed deltas.  The term_id range conjunct
        is what lets footer stats skip row groups — pyarrow prunes on
        ranges, not on ``is_in``."""
        import pyarrow as pa
        import pyarrow.compute as pc

        lds = self._local_datasets()
        tid = pc.field("term_id")
        sel = (tid >= tids[0]) & (tid <= tids[-1]) & tid.isin(tids)
        parts = [
            lds.main.to_table(
                columns=columns, filter=sel & pc.field("bucket").isin(buckets)
            )
        ]
        if lds.delta is not None:
            parts.append(lds.delta.to_table(columns=columns, filter=sel))
        return pa.concat_tables(parts).to_pandas()

    def local_sidecars(self, band: int) -> pd.DataFrame:
        """One band's docmap sidecar rows (ford, blk_seq, payload): the
        ord -> doc_id array, per-field lengths and tombstones — kept in an
        LRU of at most ``_LOCAL_SIDECAR_MAX_BYTES`` payload bytes (the
        most recent band always stays)."""
        import pyarrow.compute as pc

        docmap = self._local_datasets().docmap
        with self._local_lock:
            rows = self._local_sidecars.get(band)
            if rows is not None:
                self._local_sidecars.move_to_end(band)
                return rows
            rows = docmap.to_table(
                columns=["ford", "blk_seq", "payload"],
                filter=pc.field("band") == band,
            ).to_pandas()
            self._local_sidecars[band] = rows
            self._local_sidecar_bytes += _payload_bytes(rows)
            while (
                self._local_sidecar_bytes > _LOCAL_SIDECAR_MAX_BYTES
                and len(self._local_sidecars) > 1
            ):
                _, old = self._local_sidecars.popitem(last=False)
                self._local_sidecar_bytes -= _payload_bytes(old)
            return rows

    # -- dictionary expansion -------------------------------------------------

    @staticmethod
    def _wildcard_to_java_regex(pattern: str) -> str:
        out = []
        for ch in pattern:
            if ch == "*":
                out.append(".*")
            elif ch == "?":
                out.append(".")
            else:
                out.append(re_escape_java(ch))
        return "^" + "".join(out) + "$"

    @staticmethod
    def construct_condition(node: qp.Node):
        """Dictionary-row predicate of a multi-term construct (wildcard /
        term range).  Regex only where string ops can't answer: a Java
        regex match costs ~100x a startswith, and constructs x |vocab| row
        evals dominate compile time — ``abc*`` -> startswith; any literal
        prefix short-circuits the regex for the non-matching bulk."""
        if isinstance(node, qp.WildcardNode):
            pat = node.pattern
            head = re.match(r"[^*?]*", pat).group(0)
            c = F.col("field") == node.field
            if head == pat:  # no wildcard chars: exact equality
                return c & (F.col("term") == pat)
            if pat == head + "*":
                return c & F.col("term").startswith(head)
            if head:
                c = c & F.col("term").startswith(head)
            return c & F.col("term").rlike(
                IndexReader._wildcard_to_java_regex(pat)
            )
        if isinstance(node, qp.TermRangeNode):
            c = F.col("field") == node.field
            if node.lo is not None:
                c = c & (
                    F.col("term") >= node.lo
                    if node.inc_lo
                    else F.col("term") > node.lo
                )
            if node.hi is not None:
                c = c & (
                    F.col("term") <= node.hi
                    if node.inc_hi
                    else F.col("term") < node.hi
                )
            return c
        raise TypeError(type(node))  # pragma: no cover

    def expand_constructs(
        self, nodes: set[qp.Node], config: EngineConfig
    ) -> dict[str, "ExpansionInfo"]:
        """DISTRIBUTED wildcard / term-range expansion — the matching terms
        NEVER collect to the driver (Lucene enumerates matching terms
        segment-side; a leading ``c*`` on a 10^12-file corpus can match
        10^8-10^9 vocabulary terms, a multi-GB collect in the round-2
        design).  One dictionary scan per compile tags each matching row
        with every construct it matched (one row per (term, construct) —
        overlapping patterns each get the term); the per-construct slices
        persist per reader (the index snapshot is immutable), and the
        driver sees only BOUNDED aggregates: per-construct match count +
        hosting-bucket set (<= n_term_buckets values).

        ``config.max_term_expansions`` optionally caps each construct
        (deterministic keep: term_id asc) with a logged truncation —
        Lucene's maxClauseCount analogue for the constant-score rewrite;
        default None preserves exact reference semantics."""
        missing = sorted(
            {n for n in nodes if repr(n) not in self.expansion_cache},
            key=repr,
        )
        if missing:
            tagged = []
            conds = None
            for node in missing:
                c = self.construct_condition(node)
                tagged.append(F.when(c, F.lit(repr(node))))
                conds = c if conds is None else (conds | c)
            exp = (
                self.dictionary()
                .where(conds)
                .select(
                    "term_id",
                    "bucket",
                    F.explode(F.array_compact(F.array(*tagged))).alias("ckey"),
                )
            )
            cap = getattr(config, "max_term_expansions", None)
            if cap:
                from pyspark.sql import Window

                w = Window.partitionBy("ckey").orderBy("term_id")
                exp = (
                    exp.withColumn("_rn", F.row_number().over(w))
                    .where(F.col("_rn") <= int(cap))
                    .drop("_rn")
                )
            exp = exp.persist()
            self._expansion_persists.append(exp)
            # driver-side rows are BOUNDED: one per construct (counts +
            # distinct buckets), never one per matching term
            stats = {
                r["ckey"]: (int(r["n"]), tuple(sorted(r["buckets"])))
                for r in exp.groupBy("ckey")
                .agg(
                    F.count(F.lit(1)).alias("n"),
                    F.collect_set("bucket").alias("buckets"),
                )
                .collect()
            }
            import logging

            log = logging.getLogger(__name__)
            for node in missing:
                ckey = repr(node)
                n, buckets = stats.get(ckey, (0, ()))
                if cap and n >= int(cap):
                    log.warning(
                        "construct %s expansion truncated at %d terms "
                        "(max_term_expansions)", ckey, n,
                    )
                self.expansion_cache[ckey] = ExpansionInfo(
                    n_terms=n,
                    buckets=buckets,
                    parent=exp,
                )
        return {repr(n): self.expansion_cache[repr(n)] for n in nodes}

    def lookup_dictionary(
        self,
        exact: set[tuple[str, str]],
        fuzzies: set[qp.FuzzyNode],
    ) -> tuple[dict, dict, dict, dict]:
        """ONE dictionary job serving the BOUNDED compile-time lookups:
        exact-term df/bucket/term_id fetch and fuzzy expansion.  (Wildcard /
        term-range constructs expand DISTRIBUTED — see
        :meth:`expand_constructs`; their matching terms never reach the
        driver.)  Compile latency is job-count-bound (each Spark job costs
        ~1-3 s of fixed scheduling/codegen before any data moves), so both
        lookups share a single scan.

        Fuzzy distances run JVM-side (``F.levenshtein`` with the early-exit
        threshold); expansions are capped DISTRIBUTED at
        ``_MAX_FUZZY_EXPANSIONS`` per construct, ordered (distance asc,
        term asc) — the collect is bounded by 50 x |fuzzy constructs| —
        with boost ``1 - d / min(len(query_term), len(term))``
        (FuzzyTermsEnum's boost; plain Levenshtein pinned in
        :class:`~...queryparser.FuzzyNode`).

        Returns ``(df_map, bucket_map, tid_map, fuzzy_map)``; the first
        three cover every collected row (exact AND fuzzy hits — fuzzy
        terms need global df for scoring too)."""
        empty: tuple = ({}, {}, {}, {})
        if not (exact or fuzzies):
            return empty
        from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
            term_id_of,
        )

        out_cols = [
            "field", "term", "df", "bucket", "term_id",
            F.col("m.k").alias("k"), F.col("m.d").alias("d"),
        ]
        parts = []
        if exact:
            # exact terms fetch by NUMERIC key: term_id is a driver-side
            # hash of (field, term), so a broadcast hash join on a long
            # column replaces a giant IN-list literal (which Catalyst
            # evaluates as an O(|list|) per-row scan — ~6x slower here)
            tids = sorted({term_id_of(f, t) for f, t in exact})
            tdf = self.spark.createDataFrame(
                [(t,) for t in tids], "term_id long"
            )
            parts.append(
                self.dictionary()
                .join(F.broadcast(tdf), "term_id")
                .select(
                    "field", "term", "df", "bucket", "term_id",
                    F.struct(
                        F.lit("e").alias("k"), F.lit(-1).alias("d")
                    ).alias("m"),
                )
                .select(*out_cols)
            )
        fuzzy_keys = {}
        if fuzzies:
            conds = None
            tagged = []
            for i, node in enumerate(
                sorted(fuzzies, key=lambda n: (n.field, n.term, n.max_edits))
            ):
                fuzzy_keys[f"f\x00{i}"] = node
                lev = F.levenshtein(
                    F.col("term"), F.lit(node.term), node.max_edits
                )
                c = (F.col("field") == node.field) & (lev >= 0)
                tagged.append(
                    F.when(
                        c,
                        F.struct(
                            F.lit(f"f\x00{i}").alias("k"), lev.alias("d")
                        ),
                    )
                )
                conds = c if conds is None else (conds | c)
            from pyspark.sql import Window

            fz = (
                self.dictionary()
                .where(conds)
                .select(
                    "field", "term", "df", "bucket", "term_id",
                    F.explode(F.array_compact(F.array(*tagged))).alias("m"),
                )
                .select(*out_cols)
            )
            # cap BEFORE the collect so the driver never sees more than 50
            # candidates per construct even against a huge vocabulary
            wf = Window.partitionBy("k").orderBy("d", "term")
            fz = (
                fz.withColumn("_rn", F.row_number().over(wf))
                .where(F.col("_rn") <= _MAX_FUZZY_EXPANSIONS)
                .drop("_rn")
            )
            parts.append(fz)
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
        rows = df.collect()
        df_map: dict[tuple[str, str], int] = {}
        bucket_map: dict[tuple[str, str], int] = {}
        tid_map: dict[tuple[str, str], int] = {}
        fuzzy_hits: dict[qp.FuzzyNode, list[tuple[int, str]]] = {
            n: [] for n in fuzzies
        }
        for r in rows:
            ft = (r["field"], r["term"])
            df_map[ft] = int(r["df"])
            bucket_map[ft] = int(r["bucket"])
            tid_map[ft] = int(r["term_id"])
            k = r["k"]
            if k[0] == "f":
                fuzzy_hits[fuzzy_keys[k]].append((int(r["d"]), r["term"]))
        fuzzy_map: dict[qp.FuzzyNode, tuple[tuple[str, float], ...]] = {}
        for node, matches in fuzzy_hits.items():
            matches = sorted(matches)[:_MAX_FUZZY_EXPANSIONS]
            fuzzy_map[node] = tuple(
                (t, 1.0 - d / min(len(node.term), len(t)) if d else 1.0)
                for d, t in matches
            )
        return df_map, bucket_map, tid_map, fuzzy_map


def re_escape_java(ch: str) -> str:
    import re

    return re.escape(ch)


# --------------------------------------------------------------------------
# Compilation: replace dictionary-dependent nodes, collect term needs
# --------------------------------------------------------------------------


@dataclass(frozen=True)
class ExpandedTermsNode(qp.Node):
    """Wildcard / term-range after dictionary expansion: constant score 1.0
    for any doc containing >= 1 of the expanded terms.  ``source`` keeps the
    original construct so the single-doc (daily-update) path can also match
    terms the index has never seen — the reference expands multi-term
    queries against the transient per-doc index, not a global dictionary.

    ``terms is None`` marks a DISTRIBUTED expansion: the matching terms
    were never collected to the driver — the construct's term_ids (rows of
    reader.expansion_cache[key].parent) semi-join into the blocks fetch, rows
    arrive tagged with ``key``, and the evaluator unions the group's tagged
    term postings (constant-score rewrite, Lucene MultiTermQuery style).
    The streaming path re-expands ``source`` against the batch vocabulary
    and substitutes an explicit tuple."""

    field: str
    terms: tuple[str, ...] | None = None
    source: qp.Node | None = None
    key: str | None = None


@dataclass
class ExpansionInfo:
    """One construct's distributed expansion: the BOUNDED driver-side
    facts — match count and hosting buckets (for partition pruning) — and
    ``parent``, the persisted (term_id, bucket, ckey) scan this construct
    was tagged in; its matching term_ids are the parent's rows with
    ``ckey == repr(construct)``.  Queries touching several constructs of
    one compile route them all with a single isin filter over it instead
    of a per-construct union."""

    n_terms: int
    buckets: tuple[int, ...]
    parent: DataFrame


#: FuzzyQuery's expansion cap (Lucene maxExpansions default 50); ties are
#: deterministic: (distance asc, term asc)
_MAX_FUZZY_EXPANSIONS = 50

#: cap on the term_id IN-list pushed into the postings parquet scan; beyond
#: this the broadcast term join alone does the selection (planning cost of a
#: giant IN beats the row-group skips it buys)
_MAX_PUSHED_TERM_IDS = 8192

#: block-max top-k pruning only pays above this many postings per
#: (category, band): below it the pruning machinery's fixed cost (clause
#: upper-bound sort, per-clause candidate intersection, block-mask pandas
#: slices) measured ~3x a plain vectorized eval + partial top-k, which is
#: O(postings) with tiny numpy constants.  High-band indexes make each band
#: small, so most groups take the cheap path; the pruning path still guards
#: the pathological wide-OR x large-band case it was built for.
_TOPK_MIN_POSTINGS = 100_000

#: routing bound of the LOCAL executor (run_local): a single-category run
#: whose estimated postings (sum of global df over its terms) are at or
#: below this is answered in the driver from pyarrow-read blocks.
#: Measured on a 4-core host, 250k-doc index, warm, limit 10, fixture
#: categories, queries/s local vs Spark at 1/4/8/16 in-flight callers:
#: under 0.5M postings 3.8/4.3/4.2/3.9 vs 0.9/1.2/1.3/1.5; 0.5-1M
#: 1.5/1.8/1.5/1.4 vs 0.8/1.1/1.1/1.0; 1-2.5M 0.9/0.6/0.6/0.8 vs
#: 0.6/0.8/0.7/0.7.  A single caller is faster locally up to ~2.5-3M
#: postings, but above 1M concurrent callers sharing the driver lose.
_LOCAL_MAX_POSTINGS = 1_000_000

#: the LOCAL executor's second routing bound: the bytes its read would
#: decode (:meth:`IndexReader.local_read_bytes`, from cached footers).
#: Postings files hash-partition terms within a bucket, so a read decodes
#: whole row groups — this bound follows the I/O, which grows with the
#: index, where the df bound follows the query.  Set just above the
#: largest read measured (the whole 719 MiB of postings of the 250k-doc
#: index above): local runs were faster there at every caller count;
#: larger reads are unmeasured and go to Spark.
_LOCAL_MAX_BYTES = 768 << 20

#: cap on the docmap sidecar payload bytes a reader keeps for the local
#: executor (LRU over bands)
_LOCAL_SIDECAR_MAX_BYTES = 256 << 20


class LocalDatasets(NamedTuple):
    """The local executor's pyarrow view of one index snapshot."""

    main: object  # pyarrow Dataset, postings partitioned by bucket
    delta: object | None  # pyarrow Dataset over committed delta blocks
    docmap: object  # pyarrow Dataset, main + delta docmap sidecars
    #: int64 (n, 5): bucket (-1: delta), term_id min, term_id max,
    #: uncompressed bytes without posdata, posdata bytes — per row group
    row_groups: np.ndarray
    docmap_bytes: int  # uncompressed


def _payload_bytes(rows: pd.DataFrame) -> int:
    return int(rows["payload"].map(len).sum())


@dataclass(frozen=True)
class ExpandedFuzzyNode(qp.Node):
    """Fuzzy construct after dictionary expansion: per-term scoring boosts
    (``1 - d/min_len``), summed like SHOULD TermQueries (BooleanQuery
    scoring rewrite).  ``source`` keeps the original so the single-doc
    path can match terms the global dictionary never saw."""

    field: str
    terms: tuple[str, ...]
    boosts: tuple[float, ...]
    source: qp.FuzzyNode | None = None


#: pseudo-field hosting virtual posting sets in tid_map/needed_terms
VIRTUAL_FIELD = "__virtual__"

#: reserved term_id carrying per-band packed ord -> doc_id arrays through
#: the eval shuffle (replicated per chunk by the terms_df broadcast join,
#: so every (chunk, band) task can translate its ords without a join
#: against the docs table).  Collision with a real blake2b term_id is
#: ~2^-64 and would be caught by the dictionary collision check.
DOCMAP_TID = (1 << 63) - 1


@dataclass(frozen=True)
class VirtualDocsNode(qp.Node):
    """Numeric-range / id clause over docs metadata (constant score).

    Evaluated DISTRIBUTED: the matching doc_id set is materialized as
    "virtual posting blocks" (same block schema as real postings, built by
    :func:`build_virtual_blocks`) and unioned into the evaluation shuffle —
    never collected to the driver (a wide range can match ~every doc; at
    10¹² rows a driver collect is an OOM).  ``source`` keeps the original
    metadata clause for condition building and for the single-doc path."""

    key: str
    source: qp.Node


def _collect_virtual_nodes(node: qp.Node, out: dict) -> None:
    """Gather {key: source clause} for every VirtualDocsNode in an AST —
    lets cached compiles rebuild the virtual dict without re-rewriting."""
    if isinstance(node, VirtualDocsNode):
        out[node.key] = node.source
    elif isinstance(node, qp.BoostNode):
        _collect_virtual_nodes(node.child, out)
    elif isinstance(node, qp.DisMaxNode):
        for c in node.children:
            _collect_virtual_nodes(c, out)
    elif isinstance(node, qp.BoolNode):
        for _, c in node.clauses:
            _collect_virtual_nodes(c, out)


def compile_queries(
    reader: IndexReader,
    categories: list[tuple[str, str]],
    config: EngineConfig | None = None,
) -> tuple[dict[str, qp.Node], dict[str, np.ndarray], dict[tuple[str, str], int]]:
    """Parse all query strings, expand dictionary-dependent constructs,
    rewrite metadata clauses to virtual-postings nodes, and pull GLOBAL df
    for every needed term (one dictionary semi-join) — scoring must use
    global df everywhere, including phrase terms absent from the index
    (df=0, Lucene still sums their idf) and bands where a term has no
    postings.

    Returns (compiled nodes by category_id, virtual clause nodes by key,
    df by (field, term), hosting bucket by (field, term), term_id by
    (field, term) — postings are keyed by the numeric term_id; virtual
    clauses appear under the ``__virtual__`` pseudo-field)."""
    config = config or reader.config
    cache_key = (tuple(categories), config)
    cached = reader.compile_cache.get(cache_key)
    if cached is not None:
        reader.compile_cache.move_to_end(cache_key)
        return cached
    hits = [reader.percat_cache.get((cid, q, config)) for cid, q in categories]
    if all(h is not None for h in hits):
        # assemble from per-category compiles — no dictionary job
        compiled = {cid: h[0] for (cid, _), h in zip(categories, hits)}
        df_map: dict = {}
        bucket_map: dict = {}
        tid_map: dict = {}
        virtual: dict[str, qp.Node] = {}
        for h in hits:
            df_map.update(h[1])
            bucket_map.update(h[2])
            tid_map.update(h[3])
        for node in compiled.values():
            _collect_virtual_nodes(node, virtual)
        out = (compiled, virtual, df_map, bucket_map, tid_map)
        reader.compile_cache[cache_key] = out
        while len(reader.compile_cache) > reader.compile_cache_max:
            reader.compile_cache.popitem(last=False)
        return out
    parsed = {cid: qp.parse_query(q, config) for cid, q in categories}

    # the BOUNDED dictionary needs (exact terms, fuzzy candidates) resolve
    # in ONE collected Spark job; wildcard / term-range constructs expand
    # DISTRIBUTED (expand_constructs) — their matching terms never reach
    # the driver, only per-construct counts + hosting buckets do.
    exact: set[tuple[str, str]] = set()
    patterns: set[tuple[str, str]] = set()
    ranges: set[qp.TermRangeNode] = set()
    fuzzies: set[qp.FuzzyNode] = set()
    for node in parsed.values():
        exact |= qp.collect_terms(node)
        patterns |= qp.collect_patterns(node)
        ranges |= qp.collect_term_ranges(node)
        fuzzies |= qp.collect_fuzzy(node)
    constructs: set[qp.Node] = {
        qp.WildcardNode(f, p) for f, p in patterns
    } | set(ranges)
    if constructs and (exact or fuzzies):
        # the exact/fuzzy lookup job and the construct-expansion job are
        # independent scans of the same persisted dictionary — submit them
        # CONCURRENTLY (Spark schedules both) instead of paying two
        # sequential job walls; cold compile is job-count-bound.
        # Materialize the lazy dictionary handle first so the threads
        # don't race its persist initialization.
        from concurrent.futures import ThreadPoolExecutor

        reader.dictionary()
        with ThreadPoolExecutor(max_workers=2) as _ex:
            _f_lookup = _ex.submit(reader.lookup_dictionary, exact, fuzzies)
            _f_exp = _ex.submit(reader.expand_constructs, constructs, config)
            df_map, bucket_map, tid_map, fuzzy_map = _f_lookup.result()
            _f_exp.result()
    else:
        df_map, bucket_map, tid_map, fuzzy_map = reader.lookup_dictionary(
            exact, fuzzies
        )
        if constructs:
            reader.expand_constructs(constructs, config)

    #: key -> original metadata clause; doc sets are NOT resolved here —
    #: they materialize distributed at evaluation time (build_virtual_blocks)
    virtual: dict[str, qp.Node] = {}

    def rewrite(node: qp.Node) -> qp.Node:
        if isinstance(node, (qp.WildcardNode, qp.TermRangeNode)):
            return ExpandedTermsNode(
                node.field, None, node, key=repr(node)
            )
        if isinstance(node, qp.FuzzyNode):
            tb = fuzzy_map.get(node, ())
            return ExpandedFuzzyNode(
                node.field,
                tuple(t for t, _ in tb),
                tuple(b for _, b in tb),
                node,
            )
        if isinstance(node, (qp.IntTermNode, qp.IntRangeNode, qp.IdNode, qp.MatchAllNode)):
            key = repr(node)
            virtual[key] = node
            return VirtualDocsNode(key, node)
        if isinstance(node, qp.BoostNode):
            return qp.BoostNode(rewrite(node.child), node.boost)
        if isinstance(node, qp.DisMaxNode):
            return qp.DisMaxNode(
                tuple(rewrite(c) for c in node.children), node.tie_breaker
            )
        if isinstance(node, qp.BoolNode):
            return qp.BoolNode(tuple((o, rewrite(c)) for o, c in node.clauses))
        return node

    compiled = {cid: rewrite(n) for cid, n in parsed.items()}

    from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import term_id_of

    for key in virtual:
        tid_map[(VIRTUAL_FIELD, key)] = term_id_of(VIRTUAL_FIELD, key)
    out = (compiled, virtual, df_map, bucket_map, tid_map)
    reader.compile_cache[cache_key] = out
    while len(reader.compile_cache) > reader.compile_cache_max:
        reader.compile_cache.popitem(last=False)
    for cid, q in categories:
        reader.percat_cache[(cid, q, config)] = (
            compiled[cid], df_map, bucket_map, tid_map,
        )
    while len(reader.percat_cache) > reader.percat_cache_max:
        reader.percat_cache.popitem(last=False)
    return out


def phrase_terms(node: qp.Node) -> set[tuple[str, str]]:
    """(field, term) pairs whose POSITIONS the evaluator will read (phrase
    slots).  Position streams for all other terms are dropped before the
    eval shuffle — posdata is the largest per-posting stream, and plain
    term/bool scoring never touches it."""
    out: set[tuple[str, str]] = set()
    if isinstance(node, qp.PhraseNode):
        for slot in node.slots:
            out.update((node.field, t) for t in slot)
    elif isinstance(node, qp.BoostNode):
        out |= phrase_terms(node.child)
    elif isinstance(node, qp.DisMaxNode):
        for child in node.children:
            out |= phrase_terms(child)
    elif isinstance(node, qp.BoolNode):
        for _, child in node.clauses:
            out |= phrase_terms(child)
    return out


def needed_terms(node: qp.Node) -> set[tuple[str, str]]:
    out = qp.collect_terms(node)
    if isinstance(node, (ExpandedTermsNode, ExpandedFuzzyNode)):
        out |= {(node.field, t) for t in (node.terms or ())}
    elif isinstance(node, VirtualDocsNode):
        out |= {(VIRTUAL_FIELD, node.key)}
    elif isinstance(node, qp.BoostNode):
        out |= needed_terms(node.child)
    elif isinstance(node, qp.DisMaxNode):
        for child in node.children:
            out |= needed_terms(child)
    elif isinstance(node, qp.BoolNode):
        for _, child in node.clauses:
            out |= needed_terms(child)
    return out


def distributed_constructs(node: qp.Node) -> set[str]:
    """Construct keys of every DISTRIBUTED expansion (ExpandedTermsNode
    with terms=None) in an AST."""
    out: set[str] = set()
    if isinstance(node, ExpandedTermsNode):
        if node.terms is None and node.key is not None:
            out.add(node.key)
    elif isinstance(node, qp.BoostNode):
        out |= distributed_constructs(node.child)
    elif isinstance(node, qp.DisMaxNode):
        for c in node.children:
            out |= distributed_constructs(c)
    elif isinstance(node, qp.BoolNode):
        for _, c in node.clauses:
            out |= distributed_constructs(c)
    return out


def virtual_condition(node: qp.Node):
    """Docs-table predicate for a metadata clause (pushes down to the
    parquet/Iceberg scan; Int32Field semantics per
    InMemoryCategoriserRepository.cs:236-244)."""
    if isinstance(node, qp.IntTermNode):
        return F.col(node.field) == node.value
    if isinstance(node, qp.IntRangeNode):
        cond = F.col(node.field).isNotNull()
        if node.lo is not None:
            cond = cond & (
                F.col(node.field) >= node.lo
                if node.inc_lo
                else F.col(node.field) > node.lo
            )
        if node.hi is not None:
            cond = cond & (
                F.col(node.field) <= node.hi
                if node.inc_hi
                else F.col(node.field) < node.hi
            )
        return cond
    if isinstance(node, qp.IdNode):
        return F.lower(F.concat_ws("/", "repo", "path", "commit")) == node.doc_ref
    if isinstance(node, qp.MatchAllNode):
        return F.lit(True)
    if isinstance(node, qp.MetaInNode):
        return F.col(node.column).isin(list(node.values))
    raise TypeError(type(node))  # pragma: no cover


#: doc_id-top-bit salts per (virtual key, band) group — bounds the rows any
#: single virtual-block build task holds to ~corpus/(bands*salts)
_VIRTUAL_SALT_BITS = 4


def build_virtual_blocks(
    reader: IndexReader,
    virtual: dict[str, qp.Node],
    tid_map: dict[tuple[str, str], int],
    config: EngineConfig,
    band_bits: int,
) -> DataFrame:
    """Materialize metadata clauses as posting blocks (BLOCKS_SCHEMA).

    One distributed pass per NEW clause (cached+persisted per reader
    afterwards — the doc set is immutable for an index snapshot): docs-table
    predicate scan (filters push down) -> band+salt from doc_id bits
    (signed-order monotone, same scheme as the index build) -> per
    (term_id, band, salt) group sort + gap/varbyte encode.  Groups are
    bounded by corpus/(bands*2^salt_bits); tfs/posdata are constant-1/0
    streams so the normal decode path works unchanged (virtual sets score
    constant 1.0)."""
    parts = []
    for key in sorted(virtual):
        ckey = (key, band_bits)
        cached = reader._virtual_cache.get(ckey)
        if cached is None:
            cached = _encode_virtual_key(
                reader, virtual[key], tid_map[(VIRTUAL_FIELD, key)], config,
                band_bits,
            ).persist()
            reader._virtual_cache[ckey] = cached
            while len(reader._virtual_cache) > reader._virtual_cache_max:
                _, old_v = reader._virtual_cache.popitem(last=False)
                old_v.unpersist()
        else:
            reader._virtual_cache.move_to_end(ckey)
        parts.append(cached)
    vdf = parts[0]
    for p in parts[1:]:
        vdf = vdf.unionByName(p)
    return vdf


def _encode_virtual_key(
    reader: IndexReader,
    node: qp.Node,
    vtid: int,
    config: EngineConfig,
    band_bits: int,
) -> DataFrame:
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        BLOCKS_SCHEMA,
    )

    vdf = reader.docs().where(virtual_condition(node)).select(
        F.lit(vtid).cast("long").alias("term_id"),
        F.col("ord").alias("doc_id"),  # posting id space is the dense ord
    )
    ord_shift = max(reader.ord_bits - band_bits, 0)
    # band EXACTLY as the index derives it (ord >> ord_shift); salt = the
    # next few ord bits below the band boundary, so salts are contiguous
    # ord ranges within the band (clamped for tiny ordinal spaces)
    vsalt_bits = min(_VIRTUAL_SALT_BITS, ord_shift)
    vdf = vdf.withColumn(
        "band", F.shiftright(F.col("doc_id"), ord_shift).cast("int")
    ).withColumn(
        "salt",
        (
            F.shiftright(F.col("doc_id"), ord_shift - vsalt_bits)
            % (1 << vsalt_bits)
        ).cast("int")
        if vsalt_bits
        else F.lit(0),
    )

    block_size = config.block_size

    def encode(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        vtid, band, salt = int(key[0]), int(key[1]), int(key[2])
        ids = np.sort(pdf["doc_id"].to_numpy(np.int64))
        n = len(ids)
        starts = np.arange(0, n, block_size, dtype=np.int64)
        ends = np.minimum(starts + block_size, n)
        rows = {k: [] for k in (
            "blk_seq", "n", "min_docid", "max_docid", "docids", "tfs",
            "posdata",
        )}
        ones = None
        for seq, (lo, hi) in enumerate(zip(starts, ends)):
            blk = ids[lo:hi]
            rows["blk_seq"].append(seq)
            rows["n"].append(hi - lo)
            rows["min_docid"].append(int(blk[0]))
            rows["max_docid"].append(int(blk[-1]))
            # base=None: first gap absolute — _decode_rows' segmented
            # cumsum treats every block's first gap as an absolute value
            rows["docids"].append(codec.encode_docids(blk, base=None))
            if ones is None or len(ones) != hi - lo:
                ones = codec.varbyte_encode(np.ones(hi - lo, dtype=np.uint64))
            rows["tfs"].append(ones)
            rows["posdata"].append(b"\x00" * (hi - lo))  # one pos=0 per posting
        k = len(rows["blk_seq"])
        return pd.DataFrame(
            {
                "term_id": np.full(k, vtid, dtype=np.int64),
                "salt": np.full(k, salt, dtype=np.int32),
                "band": np.full(k, band, dtype=np.int32),
                "blk_seq": np.asarray(rows["blk_seq"], dtype=np.int32),
                "n": np.asarray(rows["n"], dtype=np.int32),
                "min_docid": np.asarray(rows["min_docid"], dtype=np.int64),
                "max_docid": np.asarray(rows["max_docid"], dtype=np.int64),
                "max_norm": np.ones(k),
                "docids": rows["docids"],
                "tfs": rows["tfs"],
                "posdata": rows["posdata"],
            }
        )

    return vdf.groupBy("term_id", "band", "salt").applyInPandas(
        encode, BLOCKS_SCHEMA
    )


# --------------------------------------------------------------------------
# Per-(category, band) evaluation kernel
# --------------------------------------------------------------------------


class _TermData:
    """One term's decoded postings.  Positions decode LAZILY: the posdata
    byte stream is carried raw (``_raw``) and only turned into
    (offsets, flat) arrays on first ``pos_offsets``/``pos_flat`` access —
    a phrase whose slot-term docid intersection comes up empty (the
    common case: most phrases match nothing in a band) never pays its
    terms' position decode, and ``_slot_keys`` skips terms with no
    candidate overlap the same way.  ``_full_tfs``/``_keep`` carry the
    pre-tombstone tf array + keep mask the deferred decode needs."""

    __slots__ = (
        "ids", "tfs", "_po", "_pf", "_raw", "_full_tfs", "_keep", "_adj",
        "stats",
    )

    def __init__(self, ids, tfs, pos_offsets, pos_flat,
                 pos_raw=None, full_tfs=None, keep=None):
        self.ids = ids
        self.tfs = tfs
        self._po = pos_offsets
        self._pf = pos_flat
        self._raw = pos_raw
        self._full_tfs = full_tfs
        self._keep = keep
        self._adj: dict[int, np.ndarray] = {}
        self.stats = None  # optional trace-counter dict (see _Evaluator)

    def adj_keys(self, si: int, off: np.int64) -> np.ndarray:
        """Sorted-unique absolute occurrence keys ``ord << 32 | (pos + off
        - si)`` adjusted for slot index ``si`` — CACHED per (term, si), so
        a term shared by many phrases (e.g. "publication" across ~20
        "X publication" phrases in the 136-category fixture) builds its
        key array once per eval group instead of once per phrase."""
        arr = self._adj.get(si)
        if arr is None:
            base = self._adj.get(0)
            if base is None:
                po = self.pos_offsets  # may trigger the lazy decode
                ids_rep = np.repeat(self.ids, np.diff(po))
                base = (ids_rep << 32) | (self.pos_flat + off)
                # ascending by construction (ids sorted, per-doc positions
                # ascending); dedupe stacked tokens at one position
                if len(base) > 1:
                    base = base[np.concatenate(([True], base[1:] != base[:-1]))]
                self._adj[0] = base
            arr = base if si == 0 else base - np.int64(si)
            self._adj[si] = arr
        return arr

    @property
    def has_pos(self) -> bool:
        """Whether positions are available — WITHOUT forcing the decode."""
        return self._po is not None or self._raw is not None

    @property
    def pos_offsets(self):
        if self._po is None and self._raw is not None:
            self._decode_pos()
        return self._po

    @property
    def pos_flat(self):
        if self._pf is None and self._raw is not None:
            self._decode_pos()
        return self._pf

    def _decode_pos(self) -> None:
        import time as _t

        _s = _t.perf_counter() if self.stats is not None else 0.0
        po, pf = codec.decode_positions(self._full_tfs, self._raw)
        if self._keep is not None:
            from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
                _ragged_gather,
            )

            lens = np.diff(po)
            klens = lens[self._keep]
            pf = pf[_ragged_gather(po[:-1][self._keep], klens.astype(np.int64))]
            po = np.concatenate([[0], np.cumsum(klens)]).astype(np.int64)
        self._po, self._pf = po, pf
        if self.stats is not None:
            self.stats["pos_decode_s"] += _t.perf_counter() - _s
            self.stats["n_pos_decoded"] += 1
            self.stats["pos_ints"] += len(pf)
        self._raw = self._full_tfs = self._keep = None


_EMPTY = np.empty(0, dtype=np.int64)


_U64_SHIFT = np.uint64(1 << 63)


def _decode_rows(rows: pd.DataFrame, need_positions: bool) -> _TermData:
    """Decode all blocks of one (field, term): salts are contiguous
    signed-order ranges, so sorting rows by (salt, blk_seq) and concatenating
    yields globally sorted doc ids.

    Each varbyte stream (docids/tfs/posdata) is decoded in ONE pass over
    the concatenation of the term's blocks — every block's first docid gap
    is absolute, so per-block values are recovered with a segmented cumsum
    (subtract the carried prefix at each block start) instead of per-block
    decode calls, which dominated the profile at ~70 blocks/term."""
    # numpy lexsort + object-array gather: pandas sort_values cost ~1 ms
    # per term (~0.3 s/group over ~300 terms — profiled), all of it
    # categorical/indexing overhead the two int columns don't need
    order = np.lexsort(
        (rows["blk_seq"].to_numpy(), rows["salt"].to_numpy())
    )
    ns = rows["n"].to_numpy().astype(np.int64)[order]
    doc_b = rows["docids"].to_numpy()
    tf_b = rows["tfs"].to_numpy()
    total = int(ns.sum())
    gaps = codec.varbyte_decode(b"".join(doc_b[i] for i in order), count=total)
    with np.errstate(over="ignore"):
        cum = np.cumsum(gaps, dtype=np.uint64)
        starts = np.zeros(len(ns), dtype=np.int64)
        np.cumsum(ns[:-1], out=starts[1:])
        base = cum[starts] - gaps[starts]  # carried prefix per block
        cum -= np.repeat(base, ns)
        ids = (cum - _U64_SHIFT).astype(np.int64)
    tfs = codec.varbyte_decode(
        b"".join(tf_b[i] for i in order), count=total
    ).astype(np.int64)
    pos_raw = None
    if need_positions and rows["posdata"].iloc[0] is not None:
        # per-posting position counts == tfs (no separate poslens stream);
        # per-posting delta chains restart absolute, so one decode suffices.
        # posdata arrives null for terms no phrase in this chunk uses —
        # their positions were dropped before the eval shuffle.  The decode
        # itself is DEFERRED (see _TermData): only phrases that reach a
        # non-empty candidate set force it.
        pos_b = rows["posdata"].to_numpy()
        pos_raw = b"".join(pos_b[i] for i in order)
    return _TermData(ids, tfs, None, None, pos_raw=pos_raw, full_tfs=tfs)


def _union_add(ids_a, sc_a, ids_b, sc_b):
    """Union of two sorted (ids, scores): scores summed on overlap."""
    if len(ids_a) == 0:
        return ids_b, sc_b
    if len(ids_b) == 0:
        return ids_a, sc_a
    ids = np.concatenate([ids_a, ids_b])
    sc = np.concatenate([sc_a, sc_b])
    order = np.argsort(ids, kind="stable")
    ids, sc = ids[order], sc[order]
    uniq, inverse = np.unique(ids, return_inverse=True)
    out = np.zeros(len(uniq))
    np.add.at(out, inverse, sc)
    return uniq, out


def _union_add_many(parts):
    """ONE-SHOT union of many sorted (ids, scores) pairs, scores summed on
    overlap — replaces an iterative ``_union_add`` chain, which is
    O(clauses x accumulated size) with a fresh argsort per step, with one
    O(total log total) unique.  The 136-category fixture has categories
    with hundreds of SHOULD clauses (501 phrases in the heaviest), where
    the chain dominated the eval kernel."""
    parts = [(i, s) for i, s in parts if len(i)]
    if not parts:
        return _EMPTY, _EMPTY
    if len(parts) == 1:
        return parts[0]
    allids = np.concatenate([i for i, _ in parts])
    allsc = np.concatenate([s for _, s in parts])
    ids, inverse = np.unique(allids, return_inverse=True)
    sc = np.bincount(inverse, weights=allsc, minlength=len(ids))
    return ids, sc


def _union_ids_many(parts):
    """One-shot constant-score union of many sorted id arrays."""
    parts = [i for i in parts if len(i)]
    if not parts:
        return _EMPTY
    if len(parts) == 1:
        return parts[0]
    return np.unique(np.concatenate(parts))


def _member_mask(a: np.ndarray, b: np.ndarray):
    """For sorted-unique arrays: boolean mask of a's elements present in b,
    plus their positions in b (valid where the mask is True).  One
    searchsorted — O(|a| log |b|) — where np.intersect1d/np.isin re-sort
    the concatenation every call (profiled hot in the eval kernel)."""
    if len(b) == 0 or len(a) == 0:
        return np.zeros(len(a), dtype=bool), np.empty(0, dtype=np.int64)
    idx = np.searchsorted(b, a)
    np.minimum(idx, len(b) - 1, out=idx)
    return b[idx] == a, idx


def _intersect_sorted(a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Intersection VALUES of two sorted-unique arrays (searchsorted from
    the smaller side)."""
    if len(a) > len(b):
        a, b = b, a
    mask, _ = _member_mask(a, b)
    return a[mask]


def _intersect_add(ids_a, sc_a, ids_b, sc_b):
    if len(ids_a) == 0 or len(ids_b) == 0:
        return _EMPTY, _EMPTY
    if len(ids_a) <= len(ids_b):
        mask, idx = _member_mask(ids_a, ids_b)
        return ids_a[mask], sc_a[mask] + sc_b[idx[mask]]
    mask, idx = _member_mask(ids_b, ids_a)
    return ids_b[mask], sc_b[mask] + sc_a[idx[mask]]


def _andnot(ids_a, sc_a, ids_not):
    if len(ids_not) == 0 or len(ids_a) == 0:
        return ids_a, sc_a
    mask, _ = _member_mask(ids_a, ids_not)
    return ids_a[~mask], sc_a[~mask]


def _kth_score(scores: np.ndarray, k: int) -> float:
    """Current k-th best score; -inf while fewer than k candidates."""
    if len(scores) < k:
        return float("-inf")
    return float(np.partition(scores, -k)[-k])


def _partial_topk(ids: np.ndarray, sc: np.ndarray, k: int):
    if len(ids) <= k:
        return ids, sc
    order = np.lexsort((ids, -sc))[:k]
    return ids[order], sc[order]


def _topk_keep_ties(ids: np.ndarray, sc: np.ndarray, k: int):
    """Top-k by score, keeping ALL docs tied with the k-th score.  Used for
    in-band cuts while ids are still ords: the final (score desc, doc_id
    asc) selection happens after ord -> doc_id translation, so boundary
    ties must survive the band cut."""
    if len(ids) <= k:
        return ids, sc
    kth = np.partition(sc, -k)[-k]
    keep = sc >= kth
    return ids[keep], sc[keep]


class _Evaluator:
    """Evaluates one compiled query against one (category, band) block group.

    Posting blocks are decoded LAZILY per term — the block-max top-k path
    (``eval_topk``) can skip whole terms and whole blocks without paying
    their decode cost."""

    def __init__(self, rows_by_term: dict, df_map: dict, n_docs: float,
                 k1: float, b: float, avgdl: dict, scored: bool, needs_pos: bool,
                 tid_map: dict | None = None,
                 dl_by_field: dict | None = None, band_start: int = 0,
                 dead: np.ndarray | None = None,
                 norm_safety: dict | None = None):
        # rows_by_term is keyed by term_id (numeric postings key); tid_map
        # translates the AST's (field, term) to it.  Virtual doc sets arrive
        # as ordinary rows under their ``(__virtual__, key)`` term_id.
        self.rows_by_term = rows_by_term
        self.tid_map = tid_map if tid_map is not None else {}
        self.terms: dict = {}  # decode cache: term_id -> _TermData
        self.df_map = df_map  # (field, term) -> GLOBAL df
        self.n_docs = n_docs
        self.k1 = k1
        self.b = b
        self.avgdl = avgdl
        self.scored = scored
        self.needs_pos = needs_pos
        #: per-band packed per-doc field lengths (BM25 norms sidecar);
        #: indexed by ord - band_start
        self.dl_by_field = dl_by_field or {}
        self.band_start = np.int64(band_start)
        #: sorted TOMBSTONED ords of this band (docs superseded by appends) —
        #: dropped from every decoded posting list BEFORE scoring/top-k
        self.dead = dead if dead is not None and len(dead) else None
        #: per-field block-max inflation covering avgdl drift since encode
        self.norm_safety = norm_safety or {}
        #: construct key -> sorted term_ids present in THIS group (from the
        #: distributed expansion tags riding the eval shuffle)
        self.construct_tids: dict[str, list[int]] = {}
        #: optional decode-cost counters (set by eval_band when its caller
        #: passes a stats dict) — None in normal operation, zero cost
        self.stats: dict | None = None

    def _term_by_id(self, tid: int) -> _TermData | None:
        """Decode-cache lookup by numeric term_id (distributed expansions
        know ids, not strings; shares the cache _term fills)."""
        td = self.terms.get(tid)
        if td is None and tid in self.rows_by_term:
            td = self._decode(self.rows_by_term[tid])
            self.terms[tid] = td
        return td

    def _decode(self, rows: pd.DataFrame) -> _TermData:
        """Decode + tombstone-filter one term's blocks (all decode paths
        come through here so dead ords can never reach scoring or top-k)."""
        if self.stats is not None:
            import time as _t

            _s = _t.perf_counter()
            td = _decode_rows(rows, self.needs_pos)
            self.stats["decode_s"] += _t.perf_counter() - _s
            self.stats["n_decoded"] += 1
            self.stats["decoded_postings"] += len(td.ids)
            if td.has_pos:
                self.stats["n_pos_carried"] += 1
            td.stats = self.stats
        else:
            td = _decode_rows(rows, self.needs_pos)
        dead = self.dead
        if dead is None or len(td.ids) == 0:
            return td
        idx = np.searchsorted(dead, td.ids)
        hit = dead[np.minimum(idx, len(dead) - 1)] == td.ids
        if not hit.any():
            return td
        keep = ~hit
        # positions stay LAZY through the tombstone filter: the raw stream
        # + full tfs + keep mask ride along and the deferred decode applies
        # the mask itself.  Already-eager po/pf (external constructors,
        # e.g. the streaming batch path) filter here as before.
        po = pf = None
        if td._po is not None:
            from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
                _ragged_gather,
            )

            lens = np.diff(td._po)
            klens = lens[keep]
            pf = td._pf[_ragged_gather(td._po[:-1][keep], klens.astype(np.int64))]
            po = np.concatenate([[0], np.cumsum(klens)]).astype(np.int64)
        out = _TermData(
            td.ids[keep], td.tfs[keep], po, pf,
            pos_raw=td._raw, full_tfs=td._full_tfs, keep=keep,
        )
        out.stats = td.stats
        return out

    def _dls(self, field: str, ids: np.ndarray) -> np.ndarray:
        """Per-doc lengths of ``field`` for the given ords (norms lookup)."""
        arr = self.dl_by_field.get(field)
        if arr is None:
            return np.ones(len(ids))
        return arr[ids - self.band_start].astype(np.float64)

    def _term(self, field: str, term: str) -> _TermData | None:
        key = self.tid_map.get((field, term))
        if key is None:
            return None
        td = self.terms.get(key)
        if td is None and key in self.rows_by_term:
            td = self._decode(self.rows_by_term[key])
            self.terms[key] = td
        return td

    def _term_ub(self, field: str, term: str) -> float:
        """Block-max upper bound for one term — from metadata, no decode.
        Blocks carry the df-independent ``max_norm``; idf folds in here
        from the dictionary's global df (df_map).  ``norm_safety`` covers
        avgdl drift since block encode (appends)."""
        rows = self.rows_by_term.get(self.tid_map.get((field, term)))
        if rows is None:
            return 0.0
        return (
            self._idf(field, term)
            * float(rows["max_norm"].max())
            * self.norm_safety.get(field, 1.0)
        )

    def _clause_ub(self, node: qp.Node) -> float:
        """Max possible BM25 contribution of a SHOULD clause."""
        if isinstance(node, qp.TermNode):
            return self._term_ub(node.field, node.term)
        if isinstance(node, qp.OrTermsNode):
            return sum(self._term_ub(node.field, t) for t in node.terms)
        if isinstance(node, qp.PhraseNode):
            idf_sum = sum(self._idf(node.field, t) for s in node.slots for t in s)
            return idf_sum * (self.k1 + 1.0)  # tf_norm < k1+1 for any tf
        if isinstance(node, (ExpandedTermsNode, VirtualDocsNode)):
            return 1.0
        if isinstance(node, ExpandedFuzzyNode):
            return sum(
                b * self._term_ub(node.field, t)
                for t, b in zip(node.terms, node.boosts)
            )
        if isinstance(node, qp.DisMaxNode):
            ubs = [self._clause_ub(c) for c in node.children]
            if not ubs:
                return 0.0
            t = node.tie_breaker
            return (1.0 - t) * max(ubs) + t * sum(ubs)
        if isinstance(node, qp.BoostNode):
            return node.boost * self._clause_ub(node.child)
        return float("inf")  # nested bool etc: no bound, never skipped

    def _idf(self, field: str, term: str) -> float:
        return float(scoring.idf(float(self.df_map.get((field, term), 0)), self.n_docs))

    def _score_term(self, td: _TermData, field: str, term: str) -> np.ndarray:
        if not self.scored:
            return np.zeros(len(td.ids))
        return self._idf(field, term) * scoring.tf_norm(
            td.tfs.astype(np.float64), self._dls(field, td.ids),
            self.avgdl[field], self.k1, self.b,
        )

    # -- block-max dynamic pruning (MaxScore/WAND family) --------------------

    def eval_topk(self, node: qp.Node, k: int) -> tuple[np.ndarray, np.ndarray]:
        """Exact top-k with block-max pruning for disjunctive queries.

        Two phases over SHOULD clauses sorted by descending upper bound:
        while new docs could still enter the top-k (sum of remaining clause
        upper bounds >= current k-th score), clauses are fully evaluated and
        union-accumulated; afterwards remaining clauses only UPDATE existing
        candidates — candidates whose score + remaining bound is strictly
        below the k-th are dropped, and term blocks outside the candidate
        id-range or unable to lift any candidate above the threshold are
        skipped without decoding.  Exactness: a doc first seen in phase 2
        would score < remaining_ub < theta = k-th score, i.e. strictly below
        the k-th — it loses even the doc_id tie-break.  Non-disjunctive
        queries fall back to full evaluation."""
        clauses = self._flatten_disjunction(node)
        if clauses is None:
            ids, sc = self.eval(node)
            return _topk_keep_ties(ids, sc, k)
        scorers = sorted(
            ((self._clause_ub(c), c) for c in clauses), key=lambda x: -x[0]
        )
        ubs = [u for u, _ in scorers]
        suffix = np.concatenate([np.cumsum(ubs[::-1])[::-1], [0.0]])
        acc_ids, acc_sc = _EMPTY, np.empty(0)
        for i, (ub_c, c) in enumerate(scorers):
            theta = _kth_score(acc_sc, k)
            if theta > suffix[i]:  # strict: new docs can no longer enter
                rest = float(suffix[i])
                for ub_j, cj in scorers[i:]:
                    theta = _kth_score(acc_sc, k)
                    keep = acc_sc + rest >= theta  # strict-drop only
                    acc_ids, acc_sc = acc_ids[keep], acc_sc[keep]
                    if len(acc_ids) == 0:
                        break
                    cids, csc = self._eval_clause_restricted(
                        cj, acc_ids, float(acc_sc.max()), rest, theta
                    )
                    if len(cids):
                        mask, idx = _member_mask(cids, acc_ids)
                        acc_sc = acc_sc.copy()
                        acc_sc[idx[mask]] += csc[mask]
                    rest -= ub_j
                break
            cids, csc = self.eval(c)
            acc_ids, acc_sc = _union_add(acc_ids, acc_sc, cids, csc)
        return _topk_keep_ties(acc_ids, acc_sc, k)

    def _flatten_disjunction(self, node: qp.Node) -> list[qp.Node] | None:
        if isinstance(node, (qp.TermNode, qp.OrTermsNode, qp.PhraseNode,
                             ExpandedTermsNode, ExpandedFuzzyNode,
                             qp.DisMaxNode, qp.BoostNode)):
            return [node]
        if isinstance(node, qp.BoolNode) and all(
            o is qp.Occur.SHOULD for o, _ in node.clauses
        ):
            return [c for _, c in node.clauses]
        return None

    def _eval_clause_restricted(
        self, node: qp.Node, acc_ids: np.ndarray, max_acc: float,
        rest: float, theta: float
    ) -> tuple[np.ndarray, np.ndarray]:
        """Evaluate a clause only for docs already in the accumulator; for
        plain terms, blocks outside [min,max] of the accumulator or whose
        max contribution cannot lift even the best candidate are skipped
        UNDECODED."""
        if isinstance(node, qp.TermNode):
            rows = self.rows_by_term.get(self.tid_map.get((node.field, node.term)))
            if rows is None:
                return _EMPTY, _EMPTY
            lo, hi = int(acc_ids[0]), int(acc_ids[-1])
            keep = (rows["max_docid"].to_numpy() >= lo) & (
                rows["min_docid"].to_numpy() <= hi
            )
            # block-max test: can this block lift ANY candidate over theta?
            # per-block ub = idf * max_norm * drift safety (see _term_ub)
            idf_t = self._idf(node.field, node.term)
            safety = self.norm_safety.get(node.field, 1.0)
            keep &= (max_acc + idf_t * safety * rows["max_norm"].to_numpy() + (rest - self._term_ub(node.field, node.term))) >= theta
            if not keep.any():
                return _EMPTY, _EMPTY
            td = self._decode(rows[keep])
            sc = self._idf(node.field, node.term) * scoring.tf_norm(
                td.tfs.astype(np.float64), self._dls(node.field, td.ids),
                self.avgdl[node.field], self.k1, self.b,
            )
            return td.ids, sc
        return self.eval(node)

    def eval(self, node: qp.Node) -> tuple[np.ndarray, np.ndarray]:
        """Returns (sorted doc_ids, scores)."""
        if isinstance(node, qp.MatchNoneNode):
            return _EMPTY, _EMPTY
        if isinstance(node, qp.TermNode):
            td = self._term(node.field, node.term)
            if td is None:
                return _EMPTY, _EMPTY
            return td.ids, self._score_term(td, node.field, node.term)
        if isinstance(node, qp.OrTermsNode):
            return _union_add_many(
                [
                    (td.ids, self._score_term(td, node.field, t))
                    for t in node.terms
                    if (td := self._term(node.field, t)) is not None
                ]
            )
        if isinstance(node, ExpandedTermsNode):
            if node.terms is None:
                # distributed expansion: the group's rows tagged with this
                # construct key ARE the expansion (terms never enumerated
                # driver-side); constant-score union over their postings
                ids = _union_ids_many(
                    [
                        td.ids
                        for tid in self.construct_tids.get(node.key, ())
                        if (td := self._term_by_id(tid)) is not None
                    ]
                )
                return ids, np.ones(len(ids))
            ids = _union_ids_many(
                [
                    td.ids
                    for t in node.terms
                    if (td := self._term(node.field, t)) is not None
                ]
            )
            return ids, np.ones(len(ids))
        if isinstance(node, VirtualDocsNode):
            td = self._term(VIRTUAL_FIELD, node.key)
            if td is None:
                return _EMPTY, _EMPTY
            return td.ids, np.ones(len(td.ids))
        if isinstance(node, ExpandedFuzzyNode):
            return _union_add_many(
                [
                    (td.ids, boost * self._score_term(td, node.field, t))
                    for t, boost in zip(node.terms, node.boosts)
                    if (td := self._term(node.field, t)) is not None
                ]
            )
        if isinstance(node, qp.DisMaxNode):
            return self._eval_dismax(node)
        if isinstance(node, qp.BoostNode):
            ids, sc = self.eval(node.child)
            return ids, sc * node.boost
        if isinstance(node, qp.PhraseNode):
            return self._eval_phrase(node)
        if isinstance(node, qp.BoolNode):
            return self._eval_bool(node)
        raise TypeError(f"unknown node {type(node)}")

    def _eval_dismax(self, node: qp.DisMaxNode) -> tuple[np.ndarray, np.ndarray]:
        """Union of children; per-doc score ``(1-t)*max + t*sum`` — the
        dis-max combination ``max + tie_breaker*(sum of the rest)``."""
        t = node.tie_breaker
        parts = [
            (cids, csc)
            for cids, csc in (self.eval(c) for c in node.children)
            if len(cids)
        ]
        if not parts:
            return _EMPTY, _EMPTY
        if len(parts) == 1:
            return parts[0][0], parts[0][1].astype(np.float64)
        # one-shot union: per-doc max via ufunc.at, sum via bincount (a doc
        # appears at most once per child, so the per-child semantics hold)
        allids = np.concatenate([i for i, _ in parts])
        allsc = np.concatenate([s for _, s in parts]).astype(np.float64)
        ids, inverse = np.unique(allids, return_inverse=True)
        sm = np.bincount(inverse, weights=allsc, minlength=len(ids))
        mx = np.full(len(ids), -np.inf)
        np.maximum.at(mx, inverse, allsc)
        return ids, (1.0 - t) * mx + t * sm

    # adjusted positions are packed into the low 32 key bits with this
    # offset so (pos - slot_index) stays non-negative; windows/equality are
    # differences, so the offset cancels everywhere it is consumed
    _POS_OFF = np.int64(1 << 12)

    def _slot_keys(
        self, tds: list[_TermData], si: int, cand: np.ndarray
    ) -> np.ndarray:
        """Sorted int64 keys ``doc_index << 32 | (pos - si + _POS_OFF)`` for
        every occurrence of slot ``si``'s terms in candidate docs — fully
        vectorized (segment gather of the per-posting position runs)."""
        parts = []
        for td in tds:
            j = np.searchsorted(cand, td.ids)
            jc = np.minimum(j, len(cand) - 1)
            sel = np.flatnonzero(cand[jc] == td.ids)
            if not len(sel):
                continue
            doc_idx = j[sel]
            starts = td.pos_offsets[sel]
            lens = td.pos_offsets[sel + 1] - starts
            total = int(lens.sum())
            if total == 0:
                continue
            gather = np.repeat(
                starts - np.concatenate(([0], np.cumsum(lens)[:-1])), lens
            ) + np.arange(total, dtype=np.int64)
            pos = td.pos_flat[gather]
            docr = np.repeat(doc_idx.astype(np.int64), lens)
            parts.append((docr << 32) | (pos - si + self._POS_OFF))
        if not parts:
            return _EMPTY
        if len(parts) == 1:
            # ascending by construction (docs, then pos); dedupe stacked
            # tokens at one position (oracle semantics: positions are a set)
            k = parts[0]
            if len(k) > 1:
                k = k[np.concatenate(([True], k[1:] != k[:-1]))]
            return k
        return np.unique(np.concatenate(parts))

    def _eval_phrase_bool(
        self, node: qp.PhraseNode
    ) -> tuple[np.ndarray, np.ndarray]:
        """Match-only phrase evaluation over CACHED per-(term, slot)
        occurrence-key arrays (_TermData.adj_keys): an exact phrase is one
        sorted-intersection chain, a sloppy phrase one searchsorted window
        test per slot — no per-phrase candidate gather, no per-doc python
        loop, and terms shared across phrases amortize their key build.
        A docid-level pregate keeps the lazy position decode: slots whose
        docid intersection is already empty never force it."""
        slot_tds: list[list[_TermData]] = []
        cand = None
        for slot in node.slots:
            tds = [
                td
                for t in slot
                if (td := self._term(node.field, t)) is not None
            ]
            if not tds:
                return _EMPTY, _EMPTY
            for td in tds:
                if not td.has_pos:
                    raise RuntimeError(
                        "phrase term arrived without positions — posdata "
                        "gating dropped a stream the evaluator needs"
                    )
            slot_tds.append(tds)
        # docid pregate ONLY while some slot term's positions are still
        # undecoded: it exists to protect the lazy decode, and once every
        # term is materialized (terms shared across phrases decode once)
        # the smallest-first key intersection below is its own gate
        if any(td._po is None for tds in slot_tds for td in tds):
            for tds in slot_tds:
                slot_ids = (
                    tds[0].ids
                    if len(tds) == 1
                    else _union_ids_many([td.ids for td in tds])
                )
                cand = (
                    slot_ids
                    if cand is None
                    else _intersect_sorted(cand, slot_ids)
                )
                if len(cand) == 0:
                    return _EMPTY, _EMPTY
        off = self._POS_OFF
        slot_arrs = []
        for si, tds in enumerate(slot_tds):
            arrs = [td.adj_keys(si, off) for td in tds]
            a = arrs[0] if len(arrs) == 1 else _union_ids_many(arrs)
            if not len(a):
                return _EMPTY, _EMPTY
            slot_arrs.append(a)
        if node.slop <= 0:
            # smallest-first intersection chain over absolute keys
            order = np.argsort([len(a) for a in slot_arrs])
            acc = slot_arrs[order[0]]
            for oi in order[1:]:
                if not len(acc):
                    return _EMPTY, _EMPTY
                acc = _intersect_sorted(acc, slot_arrs[oi])
            hits = acc
        else:
            # existence: some occurrence x (window minimum) has every slot
            # within [x, x+slop]; keys embed the ord in the high 32 bits
            # and slop < _POS_OFF, so windows never cross docs
            xs = (
                slot_arrs[0]
                if len(slot_arrs) == 1
                else _union_ids_many(slot_arrs)
            )
            ok = np.ones(len(xs), dtype=bool)
            for keys in slot_arrs:
                ok &= np.searchsorted(keys, xs + node.slop + 1) > np.searchsorted(
                    keys, xs
                )
            hits = xs[ok]
        if not len(hits):
            return _EMPTY, _EMPTY
        docs = hits >> 32
        if len(docs) > 1:
            docs = docs[np.concatenate(([True], docs[1:] != docs[:-1]))]
        return docs, np.zeros(len(docs))

    def _eval_phrase(self, node: qp.PhraseNode) -> tuple[np.ndarray, np.ndarray]:
        if not self.scored:
            return self._eval_phrase_bool(node)
        # candidate docs: intersection over slots of (union of slot terms)
        slot_tds: list[list[_TermData]] = []
        cand = None
        for slot in node.slots:
            tds = [td for t in slot if (td := self._term(node.field, t)) is not None]
            if not tds:
                return _EMPTY, _EMPTY
            for td in tds:
                if not td.has_pos:  # cheap check — does NOT force decode
                    raise RuntimeError(
                        "phrase term arrived without positions — posdata "
                        "gating dropped a stream the evaluator needs"
                    )
            slot_ids = (
                tds[0].ids
                if len(tds) == 1
                else _union_ids_many([td.ids for td in tds])
            )
            cand = (
                slot_ids
                if cand is None
                else _intersect_sorted(cand, slot_ids)
            )
            if len(cand) == 0:
                return _EMPTY, _EMPTY
            slot_tds.append(tds)
        if node.slop <= 0:
            # exact scored: the SAME cached per-(term, slot) key chain as
            # the bool path; per-doc phrase freqs are the run lengths of
            # the doc component of the surviving alignment keys
            off = self._POS_OFF
            slot_arrs = []
            for si, tds in enumerate(slot_tds):
                arrs = [td.adj_keys(si, off) for td in tds]
                a = arrs[0] if len(arrs) == 1 else _union_ids_many(arrs)
                if not len(a):
                    return _EMPTY, _EMPTY
                slot_arrs.append(a)
            order = np.argsort([len(a) for a in slot_arrs])
            acc = slot_arrs[order[0]]
            for oi in order[1:]:
                if not len(acc):
                    return _EMPTY, _EMPTY
                acc = _intersect_sorted(acc, slot_arrs[oi])
            if not len(acc):
                return _EMPTY, _EMPTY
            docs_all = acc >> 32
            bnd = np.concatenate(([True], docs_all[1:] != docs_all[:-1]))
            starts = np.flatnonzero(bnd)
            ids = docs_all[starts]
            freqs_hit = np.diff(
                np.append(starts, len(docs_all))
            ).astype(np.float64)
            idf_sum = sum(
                self._idf(node.field, t)
                for slot in node.slots
                for t in slot
            )
            sc = idf_sum * scoring.tf_norm(
                freqs_hit, self._dls(node.field, ids),
                self.avgdl[node.field], self.k1, self.b,
            )
            return ids, sc
        # sloppy scored: per-doc advance-min window algorithm; per-doc
        # slices come from two vectorized searchsorteds per slot
        # (match-only evaluation never reaches here — _eval_phrase_bool)
        slot_keys = [
            self._slot_keys(tds, si, cand) for si, tds in enumerate(slot_tds)
        ]
        freqs = np.zeros(len(cand))
        ranges = np.arange(len(cand) + 1, dtype=np.int64) << 32
        bounds = [
            (keys, np.searchsorted(keys, ranges[:-1]), np.searchsorted(keys, ranges[1:]))
            for keys in slot_keys
        ]
        mask32 = np.int64(0xFFFFFFFF)
        for ci in range(len(cand)):
            slot_positions = []
            for keys, lo, hi in bounds:
                if hi[ci] <= lo[ci]:
                    slot_positions = None
                    break
                slot_positions.append(keys[lo[ci]:hi[ci]] & mask32)
            if slot_positions is not None:
                freqs[ci] = scoring.phrase_freq(slot_positions, node.slop)
        hit = freqs > 0
        ids = cand[hit]
        idf_sum = sum(
            self._idf(node.field, t) for slot in node.slots for t in slot
        )
        sc = idf_sum * scoring.tf_norm(
            freqs[hit], self._dls(node.field, ids), self.avgdl[node.field], self.k1, self.b
        )
        return ids, sc

    def _eval_bool(self, node: qp.BoolNode) -> tuple[np.ndarray, np.ndarray]:
        must = [(o, c) for o, c in node.clauses if o is qp.Occur.MUST]
        should = [c for o, c in node.clauses if o is qp.Occur.SHOULD]
        must_not = [c for o, c in node.clauses if o is qp.Occur.MUST_NOT]
        filters = [c for o, c in node.clauses if o is qp.Occur.FILTER]
        ids: np.ndarray
        sc: np.ndarray
        if must:
            ids, sc = self.eval(must[0][1])
            for _, child in must[1:]:
                cids, csc = self.eval(child)
                ids, sc = _intersect_add(ids, sc, cids, csc)
                if len(ids) == 0:
                    return _EMPTY, _EMPTY
            # filter context: restrict candidates, contribute NO score —
            # intersect drops non-matching docs before SHOULD boosts and
            # before any top-k cut (the reference's Must/Filter split)
            for child in filters:
                fids, _ = self.eval(child)
                mask, _ = _member_mask(ids, fids)
                ids, sc = ids[mask], sc[mask]
                if len(ids) == 0:
                    return _EMPTY, _EMPTY
            # SHOULD only adds score on the MUST-filtered set
            for child in should:
                cids, csc = self.eval(child)
                mask, idx = _member_mask(cids, ids)
                sc = sc.copy()
                sc[idx[mask]] += csc[mask]
        elif filters:
            # filter-context candidates (constant sets, no score); SHOULDs
            # become optional scorers — minimum_should_match defaults to 0
            # when a filter/must is present (OpenSearch bool semantics)
            ids, _ = self.eval(filters[0])
            for child in filters[1:]:
                fids, _ = self.eval(child)
                ids = _intersect_sorted(ids, fids)
                if len(ids) == 0:
                    return _EMPTY, _EMPTY
            sc = np.zeros(len(ids))
            for child in should:
                cids, csc = self.eval(child)
                mask, idx = _member_mask(cids, ids)
                sc = sc.copy()
                sc[idx[mask]] += csc[mask]
        elif should:
            # one-shot union over ALL should clauses (see _union_add_many)
            ids, sc = _union_add_many([self.eval(child) for child in should])
        else:
            return _EMPTY, _EMPTY  # pure negative matches nothing
        for child in must_not:
            nids, _ = self.eval(child)
            ids, sc = _andnot(ids, sc, nids)
            if len(ids) == 0:
                break
        return ids, sc


# --------------------------------------------------------------------------
# The band kernel: one (category set, band) evaluation, shared by both
# executors
# --------------------------------------------------------------------------


class KernelParams(NamedTuple):
    """Index stats and run options the band kernel reads besides a band's
    rows (built by :func:`kernel_params`, identical for both executors)."""

    field_names: list[str]
    n_docs: float
    avgdl: dict
    norm_safety: dict
    ord_shift: int
    k1: float
    b: float
    scored: bool
    top_k: int | None


def kernel_params(
    reader: IndexReader, config: EngineConfig, scored: bool, top_k: int | None
) -> KernelParams:
    return KernelParams(
        [f.name for f in config.fields], float(reader.n_docs),
        dict(reader.avgdl), dict(reader.norm_safety), reader.ord_shift,
        config.k1, config.b, scored, top_k,
    )


def split_group(pdf: pd.DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """One Spark eval-shuffle group -> (block rows, docmap sidecar rows):
    sidecars ride the shuffle as DOCMAP_TID sentinel rows carrying the
    sidecar kind in ``salt`` and the payload in ``docids``."""
    dm = (pdf["term_id"] == DOCMAP_TID).to_numpy()
    sidecars = pdf.loc[dm, ["salt", "blk_seq", "docids"]].rename(
        columns={"salt": "ford", "docids": "payload"}
    )
    return pdf.loc[~dm], sidecars


def eval_band(
    band: int,
    nodes: dict[str, qp.Node],
    blocks: pd.DataFrame,
    sidecars: pd.DataFrame,
    df_map: dict,
    tid_map: dict,
    params: KernelParams,
    stats: dict | None = None,
) -> pd.DataFrame:
    """THE evaluation kernel: every compiled node of ``nodes`` (category_id
    -> node) against one band's posting-block rows and docmap sidecar rows
    (ford, blk_seq, payload), returning (category_id, doc_id, score) with
    doc_ids external and, under ``params.top_k``, each category cut to its
    band-local top-k.  The Spark executor runs it once per (chunk, band)
    eval group, the local executor once per band in the driver.

    ``stats``, when given, is filled with the evaluator's decode counters
    and per-category walls (``cid_walls``)."""
    import time

    rows_by_term: dict[int, pd.DataFrame] = {
        int(t): rows for t, rows in blocks.groupby("term_id", sort=False)
    }
    # the band's sidecars (the band is a contiguous ord range starting at
    # band << ord_shift): ford == -1 rows are the packed int64 ord ->
    # doc_id array, ford == -2 tombstoned ords (one payload per append
    # batch touching the band), ford == k field k's packed int32 per-doc
    # lengths (BM25 norms)
    band_start = np.int64(band) << np.int64(params.ord_shift)
    ordmap = None
    dead = None
    dl_by_field: dict[str, np.ndarray] = {}
    for ford_v, gr in sidecars.groupby("ford", sort=False):
        buf = b"".join(gr.sort_values("blk_seq")["payload"])
        if int(ford_v) == -2:
            dead = np.unique(np.frombuffer(buf, dtype="<i8"))  # sorts + dedups
        elif int(ford_v) < 0:
            ordmap = np.frombuffer(buf, dtype="<i8")
        else:
            dl_by_field[params.field_names[int(ford_v)]] = np.frombuffer(
                buf, dtype="<i4"
            )
    needs_pos = any(_node_has_phrase(n) for n in nodes.values())
    ev = _Evaluator(
        rows_by_term, df_map, params.n_docs, params.k1, params.b,
        params.avgdl, params.scored, needs_pos, tid_map, dl_by_field,
        int(band_start), dead=dead, norm_safety=params.norm_safety,
    )
    if "vkeys" in blocks.columns:
        # distributed expansion tags: which of this group's term_ids
        # belong to which construct (one pass over rows with tags)
        cmap: dict[str, set[int]] = {}
        vk_col = blocks["vkeys"]
        mask = vk_col.map(lambda v: v is not None and len(v) > 0)
        for tid_v, vk in zip(blocks.loc[mask, "term_id"].to_numpy(), vk_col[mask]):
            for k in vk:
                cmap.setdefault(k, set()).add(int(tid_v))
        ev.construct_tids = {k: sorted(v) for k, v in cmap.items()}
    if stats is not None:
        stats.update(
            decode_s=0.0, n_decoded=0, decoded_postings=0, n_pos_carried=0,
            pos_decode_s=0.0, n_pos_decoded=0, pos_ints=0, cid_walls={},
        )
        ev.stats = stats
    n_by_term = {t: int(rows["n"].sum()) for t, rows in rows_by_term.items()}
    top_k = params.top_k
    frames = []
    for cid, node in nodes.items():
        t0 = time.perf_counter()
        group_postings = sum(
            n_by_term.get(tid_map.get(key), 0) for key in needed_terms(node)
        ) + sum(
            n_by_term.get(t, 0)
            for ckey in distributed_constructs(node)
            for t in ev.construct_tids.get(ckey, ())
        )
        if top_k is not None and params.scored and group_postings >= _TOPK_MIN_POSTINGS:
            # per-band block-max top-k: the in-band cut keeps boundary
            # score-TIES (ord order is not doc_id order) so the global
            # (score desc, doc_id asc) window stays exact
            ids, sc = ev.eval_topk(node, top_k)
        else:
            ids, sc = ev.eval(node)
        if ordmap is not None and len(ids):
            ids = ordmap[ids - band_start]  # ord -> external doc_id
        if top_k is not None and len(ids) > top_k:
            ids, sc = _partial_topk(ids, sc, top_k)
        frames.append(pd.DataFrame({"category_id": cid, "doc_id": ids, "score": sc}))
        if stats is not None:
            stats["cid_walls"][cid] = time.perf_counter() - t0
    return pd.concat(frames, ignore_index=True)


# --------------------------------------------------------------------------
# The local executor: small single-category runs in the driver
# --------------------------------------------------------------------------


def _local_eligible(
    reader: IndexReader, node: qp.Node, df_map: dict, bucket_map: dict,
    tid_map: dict,
) -> bool:
    """The routing rule's per-node half: no distributed wildcard/range
    expansion, no virtual (metadata, filter, match-all) clause, estimated
    postings — the sum of global df over its terms — at or below
    ``_LOCAL_MAX_POSTINGS``, and a read of at most ``_LOCAL_MAX_BYTES``
    (:meth:`IndexReader.local_read_bytes`)."""
    virtual: dict = {}
    _collect_virtual_nodes(node, virtual)
    if virtual or distributed_constructs(node):
        return False
    keys = needed_terms(node)
    if sum(df_map.get(k, 0) for k in keys) > _LOCAL_MAX_POSTINGS:
        return False
    keys = [k for k in keys if k in tid_map]
    return not keys or reader.local_read_bytes(
        sorted({tid_map[k] for k in keys}),
        sorted({bucket_map[k] for k in keys}),
        _node_has_phrase(node),
    ) <= _LOCAL_MAX_BYTES


def run_local(
    reader: IndexReader,
    categories: list[tuple[str, str]],
    scored: bool = True,
    top_k: int | None = None,
    config: EngineConfig | None = None,
) -> pd.DataFrame | None:
    """The LOCAL executor: a run of exactly one local-eligible category
    (see :func:`_local_eligible`) evaluated in the driver, or None when
    the run must go to the Spark executor (:func:`run_spark`).

    Same compile (:func:`compile_queries`), same kernel
    (:func:`eval_band`): the query's blocks are read with pyarrow filtered
    by term_id (footer stats prune row groups) from the files the Spark
    views read, and each band they land in runs through the kernel with
    that band's cached docmap sidecars.  No Spark job runs once the
    compile is cached.  Returns the FINAL rows (category_id, doc_id,
    score), ordered score desc then doc_id asc and, under ``top_k``, cut
    to the top k."""
    if len(categories) != 1:
        return None
    config = config or reader.config
    compiled, _, df_map, bucket_map, tid_map = compile_queries(
        reader, categories, config
    )
    ((cid, node),) = compiled.items()
    if not _local_eligible(reader, node, df_map, bucket_map, tid_map):
        return None
    keys = [k for k in needed_terms(node) if k in tid_map]
    frames = []
    if keys:
        columns = ["term_id", "salt", "band", "blk_seq", "n", "docids", "tfs"]
        if _node_has_phrase(node):
            columns.append("posdata")
        if scored:
            columns += ["min_docid", "max_docid", "max_norm"]
        blocks = reader.local_blocks(
            sorted({tid_map[k] for k in keys}),
            sorted({bucket_map[k] for k in keys}),
            columns,
        )
        params = kernel_params(reader, config, scored, top_k)
        for band, rows in blocks.groupby("band", sort=True):
            frames.append(
                eval_band(
                    int(band), {cid: node}, rows,
                    reader.local_sidecars(int(band)), df_map, tid_map, params,
                )
            )
    out = (
        pd.concat(frames, ignore_index=True)
        if frames
        else pd.DataFrame({"category_id": [], "doc_id": [], "score": []})
    ).astype({"category_id": object, "doc_id": np.int64, "score": np.float64})
    order = np.lexsort((out["doc_id"].to_numpy(), -out["score"].to_numpy()))
    if top_k is not None:
        order = order[:top_k]
    return out.iloc[order].reset_index(drop=True)


def local_frame(spark: SparkSession, rows: pd.DataFrame) -> DataFrame:
    """Local-executor rows as a DataFrame.  An Arrow table becomes a
    driver-local relation, so collecting it launches no Spark job (a
    pandas frame would, when empty)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.Table.from_pandas(rows, preserve_index=False), RESULT_SCHEMA
    )


# --------------------------------------------------------------------------
# The distributed run
# --------------------------------------------------------------------------


def run_categories(
    spark: SparkSession,
    reader: IndexReader,
    categories: list[tuple[str, str]],
    scored: bool = True,
    top_k: int | None = None,
    config: EngineConfig | None = None,
    extra_filters: tuple[qp.Node, ...] | None = None,
) -> DataFrame:
    """Evaluate all category queries against the whole index.

    Returns DataFrame (category_id, doc_id, score) — full match sets, or
    top-k per category when ``top_k`` is given (ties broken doc_id asc,
    mirroring rank order (score desc, doc_id asc)).

    Two executors run the same compile and the same band kernel
    (:func:`eval_band`); this function routes each run once.  A run of
    exactly ONE category without extra filters whose compiled node has no
    distributed wildcard/range expansion, no virtual (metadata, filter,
    match-all) clause, at most ``_LOCAL_MAX_POSTINGS`` estimated postings
    (sum of global df over its terms) and a read of at most
    ``_LOCAL_MAX_BYTES`` (row-group bytes from the cached footers) goes to
    the LOCAL executor (:func:`run_local`): pyarrow reads in the driver,
    no Spark job once compiled, rows returned as a driver-local
    DataFrame.  Every other run — every multi-category batch — goes to
    the SPARK executor (:func:`run_spark`).

    ``extra_filters``: metadata clauses applied in FILTER context to every
    query (see :func:`run_spark`)."""
    config = config or reader.config
    if not extra_filters:
        local = run_local(reader, categories, scored, top_k, config)
        if local is not None:
            return local_frame(spark, local)
    return run_spark(
        spark, reader, categories, scored, top_k, config, extra_filters
    )


def run_spark(
    spark: SparkSession,
    reader: IndexReader,
    categories: list[tuple[str, str]],
    scored: bool = True,
    top_k: int | None = None,
    config: EngineConfig | None = None,
    extra_filters: tuple[qp.Node, ...] | None = None,
) -> DataFrame:
    """The SPARK executor for any run (same contract as
    :func:`run_categories`, no routing): a postings scan pruned to the
    query terms' buckets, a broadcast routing join, and one
    :func:`eval_band` task per (chunk, band) group.

    ``extra_filters``: metadata clauses applied in FILTER context to every
    query — compiled as virtual posting sets that intersect candidates
    INSIDE the evaluator, before scoring accumulation and before the
    per-band top-k cut (the reference's Must/Filter split,
    OpenSearchConnection.cs:393-402), never as a post-join."""
    config = config or reader.config
    compiled, virtual, df_map, bucket_map, tid_map = compile_queries(
        reader, categories, config
    )
    #: cache key for per-compile artifacts (routing rows, broadcasts)
    bkey = (tuple(categories), config, extra_filters)
    if extra_filters:
        from ds_discovery_opensearch_taxonomy_spark.functions.vtokenize import (
            term_id_of,
        )

        # never mutate the compile cache's shared dicts
        virtual = dict(virtual)
        tid_map = dict(tid_map)
        fclauses = []
        for fnode in extra_filters:
            key = repr(fnode)
            virtual[key] = fnode
            tid_map[(VIRTUAL_FIELD, key)] = term_id_of(VIRTUAL_FIELD, key)
            fclauses.append((qp.Occur.FILTER, VirtualDocsNode(key, fnode)))
        compiled = {
            cid: qp.BoolNode(tuple([(qp.Occur.MUST, node)] + fclauses))
            for cid, node in compiled.items()
        }

    term_cats: dict[tuple[str, str], list[str]] = {}
    construct_cats: dict[str, list[str]] = {}
    for cid, node in compiled.items():
        for key in needed_terms(node):
            term_cats.setdefault(key, []).append(cid)
        for ckey in distributed_constructs(node):
            construct_cats.setdefault(ckey, []).append(cid)
    if not term_cats and not construct_cats:
        return spark.createDataFrame([], RESULT_SCHEMA)

    # categories are evaluated in CHUNKS of one task per (chunk, band); all
    # categories of a chunk share one decoded-term cache per task.  The
    # default chunk size is large enough that a normal taxonomy run is ONE
    # chunk — parallelism comes from the doc_id BANDS (an index property,
    # set at build), so each posting block ships through the eval shuffle
    # exactly once.  Smaller chunks re-ship shared terms once per chunk;
    # they only pay off when a single band's working set outgrows task
    # memory before bands can be raised at build time.
    sorted_cids = sorted(compiled)
    chunk_size = max(1, int(config.eval_chunk_size))
    chunk_of = {cid: i // chunk_size for i, cid in enumerate(sorted_cids)}
    chunk_cids: dict[int, list[str]] = {}
    for cid, ch in chunk_of.items():
        chunk_cids.setdefault(ch, []).append(cid)

    # positions are only decoded for phrase slots: ship posdata for a
    # (term, chunk) only if some category of the chunk uses the term in a
    # phrase — posdata is the largest stream and most terms are term/bool
    pos_keys: dict[tuple[str, str], set[str]] = {}
    for cid, node in compiled.items():
        for key in phrase_terms(node):
            pos_keys.setdefault(key, set()).add(cid)
    term_chunks: dict[tuple[int, int], bool] = {}
    for (f, t), cids in term_cats.items():
        if (f, t) not in tid_map:  # absent from dictionary -> no postings
            continue
        tid = tid_map[(f, t)]
        pcs = pos_keys.get((f, t), ())
        for c in cids:
            ch = chunk_of[c]
            term_chunks[(tid, ch)] = term_chunks.get((tid, ch), False) or (c in pcs)
    if not term_chunks and not construct_cats:
        return spark.createDataFrame([], RESULT_SCHEMA)
    # one DOCMAP row set per chunk: the broadcast join below replicates the
    # per-band ord->doc_id arrays into every (chunk, band) eval task.  A
    # side effect worth keeping: every (chunk, band) group EXISTS even when
    # no real posting lands in it, so virtual-only categories evaluate in
    # every band deterministically regardless of chunk packing.
    for ch in chunk_cids:
        term_chunks[(DOCMAP_TID, ch)] = False
    # pandas -> Arrow path: a plain-list createDataFrame goes through the
    # Python-RDD converter (~150-250 ms of driver time PER QUERY); the
    # Arrow path is ~10x cheaper and dominates warm single-query latency
    tdf_rows = sorted((tid, ch, np_) for (tid, ch), np_ in term_chunks.items())
    terms_df = spark.createDataFrame(
        pd.DataFrame(tdf_rows, columns=["term_id", "chunk", "needs_pos"]).astype(
            {"term_id": "int64", "chunk": "int32", "needs_pos": "bool"}
        )
    )
    # DISTRIBUTED expansions: each used construct's term_id DataFrame joins
    # into the term routing, tagged with its construct key — the driver
    # knows only counts + hosting buckets (bounded), never the terms
    construct_chunks = {
        ckey: sorted({chunk_of[c] for c in cids})
        for ckey, cids in construct_cats.items()
    }
    exp_infos = {
        ckey: reader.expansion_cache[ckey] for ckey in construct_chunks
    }
    exp_buckets = sorted(
        {b for info in exp_infos.values() for b in info.buckets}
    )
    exp_parts = []
    used_ckeys = [
        ckey
        for ckey in sorted(construct_chunks)
        if exp_infos[ckey].n_terms > 0
    ]
    if used_ckeys:
        # ONE (ckey, chunk) mapping + one broadcast join routes every
        # construct's terms (a per-construct createDataFrame cost ~150 ms
        # of driver time each on the wildcard-heavy category fixture);
        # constructs sharing a tagged-scan parent select with one isin
        by_parent: dict[int, tuple[DataFrame, list[str]]] = {}
        for ckey in used_ckeys:
            parent = exp_infos[ckey].parent
            by_parent.setdefault(id(parent), (parent, []))[1].append(ckey)
        cdf = None
        for parent, ckeys in by_parent.values():
            d = parent.where(F.col("ckey").isin(ckeys)).select(
                "ckey", "term_id"
            )
            cdf = d if cdf is None else cdf.unionByName(d)
        pairs_pd = pd.DataFrame(
            [
                (ck, ch)
                for ck in used_ckeys
                for ch in construct_chunks[ck]
            ],
            columns=["ckey", "chunk"],
        ).astype({"chunk": "int32"})
        exp_parts.append(
            cdf.join(F.broadcast(spark.createDataFrame(pairs_pd)), "ckey")
            .select(
                "term_id",
                "chunk",
                F.lit(False).alias("needs_pos"),
                F.array("ckey").alias("vkeys"),
            )
        )
    if exp_parts:
        terms_df = terms_df.withColumn(
            "vkeys", F.array().cast("array<string>")
        )
        for p in exp_parts:
            terms_df = terms_df.unionByName(p)
        # a term can be exact AND belong to several constructs: merge to one
        # routing row per (term, chunk) so each block ships through the
        # shuffle once, carrying ALL its construct tags
        terms_df = terms_df.groupBy("term_id", "chunk").agg(
            F.max("needs_pos").alias("needs_pos"),
            F.array_distinct(F.flatten(F.collect_list("vkeys"))).alias(
                "vkeys"
            ),
        )
        # routing rows are identical for every run of this compile (scored
        # or not) — persist per compile key so the scored pass after a bool
        # pass (and every repeat) skips the union/agg/expansion scans
        cached_t = reader._terms_df_cache.get(bkey)
        if cached_t is None:
            terms_df = terms_df.persist()
            reader._terms_df_cache[bkey] = terms_df
            while len(reader._terms_df_cache) > 64:
                _, old_t = reader._terms_df_cache.popitem(last=False)
                old_t.unpersist()
        else:
            reader._terms_df_cache.move_to_end(bkey)
            terms_df = cached_t
    band_bits = reader.band_bits
    # bucket pruning: buckets hosting THIS run's needed terms — known from
    # the dictionary fetch in compile_queries (no extra job); terms absent
    # from the dictionary have no postings anywhere.  bucket_map may be a
    # superset (per-category compile cache shares the batch's maps), so
    # filter by the evaluated categories' own terms.  Construct buckets
    # come from the expansion's bounded stats.
    buckets = sorted(
        {bucket_map[k] for k in term_cats if k in bucket_map}
        | set(exp_buckets)
    )
    from ds_discovery_opensearch_taxonomy_spark.operators.index_build import (
        BLOCKS_SCHEMA,
    )

    block_cols = [f.name for f in BLOCKS_SCHEMA.fields]
    blocks = None
    if buckets:
        blocks = (
            reader.postings().where(F.col("bucket").isin(buckets)).select(*block_cols)
        )
        # push the term selection into the parquet scan: bucket pruning alone
        # still reads a whole bucket's blocks and discards non-queried terms
        # join-side; an explicit IN filter reaches the scan (PushedFilters)
        # and skips row groups via term_id min/max stats (files are sorted by
        # term_id).  Capped — a giant IN list costs more in planning than it
        # saves; above the cap the broadcast term join alone does the
        # selection.  Construct expansions can't enumerate term_ids driver-
        # side, so their buckets stay un-skipped via the OR leg (both legs
        # push down to parquet stats).
        tids = sorted({t for t, _ in term_chunks})
        if len(tids) <= _MAX_PUSHED_TERM_IDS:
            sel = F.col("term_id").isin(tids)
            if exp_buckets:
                sel = sel | F.col("bucket").isin(exp_buckets)
            blocks = blocks.where(sel)
    if virtual:
        vblocks = build_virtual_blocks(reader, virtual, tid_map, config, band_bits)
        blocks = vblocks if blocks is None else blocks.unionByName(vblocks)
    # per-band ord -> doc_id translation arrays as sentinel block rows
    # (payload rides the ``docids`` column; ordering by blk_seq).  The
    # projected DF is cached per (reader, scored): its ~12 chained column
    # expressions cost real py4j latency per query otherwise.
    dmap = reader._dmap_proj.get(scored)
    if dmap is None:
        dmap = reader.docmap()
        if not scored:
            # dl sidecars (ford >= 0) are only read by BM25 length norms;
            # ord->doc_id (-1) and tombstones (-2) are needed in every mode
            dmap = dmap.where(F.col("ford") < 0)
        dmap = dmap.select(
            F.lit(DOCMAP_TID).alias("term_id"),
            F.col("ford").alias("salt"),  # sidecar kind rides the salt column
            F.col("band"),
            F.col("blk_seq"),
            F.col("n"),
            F.lit(0).cast("long").alias("min_docid"),
            F.lit(0).cast("long").alias("max_docid"),
            F.lit(0.0).alias("max_norm"),
            F.col("payload").alias("docids"),
            F.lit(None).cast("binary").alias("tfs"),
            F.lit(None).cast("binary").alias("posdata"),
        )
        reader._dmap_proj[scored] = dmap
    blocks = dmap if blocks is None else blocks.unionByName(dmap)
    if exp_parts:
        # expansion side is unbounded (can match 10^8+ vocabulary terms on
        # a web-scale corpus) — no forced broadcast; AQE picks broadcast
        # when the realized expansion is small, shuffled hash join when not
        tagged = blocks.join(terms_df, ["term_id"])
    else:
        tagged = blocks.join(F.broadcast(terms_df), ["term_id"])
    # drop position streams for non-phrase terms BEFORE the eval shuffle
    # (the projection runs map-side, between the join and the exchange)
    tagged = tagged.withColumn(
        "posdata",
        F.when(F.col("needs_pos"), F.col("posdata")).otherwise(
            F.lit(None).cast("binary")
        ),
    ).drop("needs_pos")
    # shuffle only what the evaluator reads: bool matching needs neither
    # length norms (dls) nor block-max metadata.  Catalyst prunes the
    # dropped columns all the way down to the parquet scan.
    eval_cols = ["term_id", "chunk", "salt", "band", "blk_seq", "n",
                 "docids", "tfs", "posdata"]
    if scored:
        eval_cols += ["min_docid", "max_docid", "max_norm"]
    if exp_parts:
        eval_cols.append("vkeys")
    tagged = tagged.select(*eval_cols)

    params = kernel_params(reader, config, scored, top_k)
    # per-compile broadcasts cached on the reader: re-broadcasting the
    # shared df/tid maps on every single-query call costs pickling + an
    # RPC each (~20+ ms/query warm); keys mirror the compile cache
    cached_b = reader._bcast_cache.get(bkey)
    if cached_b is None:
        cached_b = (
            spark.sparkContext.broadcast(compiled),
            spark.sparkContext.broadcast(df_map),
            spark.sparkContext.broadcast(tid_map),
            spark.sparkContext.broadcast(chunk_cids),
        )
        reader._bcast_cache[bkey] = cached_b
        while len(reader._bcast_cache) > 256:
            _, old = reader._bcast_cache.popitem(last=False)
            for b_ in old:
                b_.unpersist()
    else:
        reader._bcast_cache.move_to_end(bkey)
    compiled_b, df_map_b, tid_map_b, chunk_cids_b = cached_b

    def eval_group(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        """Spark wrapper of the band kernel for one (chunk, band) group."""
        import time

        t0 = time.perf_counter()
        chunk, band = int(key[0]), int(key[1])
        dumpdir = os.environ.get("SPARK_GRAFT_EVAL_DUMP")
        if dumpdir:  # diagnostic: replay one group in tools/kernel_bench.py
            try:
                pdf.to_parquet(f"{dumpdir}/group_{chunk}_{band}.parquet")
            except Exception:
                pass
        compiled_v = compiled_b.value
        nodes = {cid: compiled_v[cid] for cid in chunk_cids_b.value[chunk]}
        stats = {} if os.environ.get("SPARK_GRAFT_EVAL_TRACE") == "1" else None
        blocks, sidecars = split_group(pdf)
        out = eval_band(
            band, nodes, blocks, sidecars, df_map_b.value, tid_map_b.value,
            params, stats,
        )
        if stats is not None:
            walls = stats.pop("cid_walls")
            top = sorted(walls.items(), key=lambda kv: -kv[1])[:8]
            print(
                f"EVAL_TRACE chunk={chunk} band={band} rows={len(pdf)} "
                f"n_cids={len(nodes)} wall={time.perf_counter() - t0:.3f} "
                f"stats={stats} "
                f"top_cids={[(c, round(w, 3)) for c, w in top]}",
                flush=True,
            )
        return out

    results = tagged.groupBy("chunk", "band").applyInPandas(eval_group, RESULT_SCHEMA)

    if top_k is not None:
        if len(compiled) == 1:
            # single category: TakeOrderedAndProject (per-partition top-k +
            # driver-side merge) replaces the window's full shuffle + sort —
            # one whole stage off the latency floor of the API search path
            results = results.orderBy(
                F.desc("score"), F.asc("doc_id")
            ).limit(top_k)
        else:
            from pyspark.sql import Window

            w = Window.partitionBy("category_id").orderBy(
                F.desc("score"), F.asc("doc_id")
            )
            results = (
                results.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= top_k)
                .drop("rank")
            )
    return results


def _node_has_phrase(node: qp.Node) -> bool:
    if isinstance(node, qp.PhraseNode):
        return True
    if isinstance(node, qp.BoostNode):
        return _node_has_phrase(node.child)
    if isinstance(node, qp.DisMaxNode):
        return any(_node_has_phrase(c) for c in node.children)
    if isinstance(node, qp.BoolNode):
        return any(_node_has_phrase(c) for _, c in node.clauses)
    return False
