"""Index catalog: manifest-committed parquet tables with per-bucket lineage.

Stands in for the Iceberg catalog named by the north rule: each table is a
parquet directory, and ``manifest.json`` is the snapshot pointer.  Every
manifest change is ONE read-modify-write that lands by atomic rename
(temp file + ``os.replace``), as an Iceberg commit is one metadata swap.
``build_index`` commits in seven such writes, one per step: ords with the
index layout (format, band_bits, ord_bits); staging with docs; doc_stats
with the encode avgdl; dictionary; postings (the attempts map plus every
bucket's lineage metrics: blocks/postings/terms/bytes); docmap; complete.
A killed build resumes by skipping the committed steps (SURVEY.md §2.2
I7).  On a real cluster the same layout maps 1:1 onto Iceberg partitions
+ snapshot commits (``MERGE INTO`` for the upsert sink).
"""

from __future__ import annotations

import json
import os
import time
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession


class IndexCatalog:
    DICTIONARY = "dictionary"
    POSTINGS = "postings"
    DOCS = "docs"
    #: per-band packed ord -> doc_id translation arrays (Lucene stores the
    #: external key as a stored field / docvalue next to the segment-local
    #: docID; this is the distributed analogue)
    DOCMAP = "docmap"
    DOC_STATS = "doc_stats"
    STAGING = "staging"
    #: incremental-append tables, one ``batch=<seq>`` partition per
    #: committed append (operators/index_append.py); readers union them
    #: with the main tables until a compaction folds them in
    DELTA_BLOCKS = "delta/blocks"
    DELTA_DOCS = "delta/docs"
    DELTA_DICTIONARY = "delta/dictionary"
    DELTA_DOCMAP = "delta/docmap"
    DELTA_STAGING = "delta/staging"

    def __init__(self, root: str | Path):
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self.manifest_path = self.root / "manifest.json"

    # -- manifest ------------------------------------------------------------

    def manifest(self) -> dict:
        if self.manifest_path.exists():
            return json.loads(self.manifest_path.read_text())
        return {"version": 1, "stages": {}, "buckets": {}, "metrics": {}}

    def _write_manifest(self, m: dict) -> None:
        tmp = self.manifest_path.with_suffix(".tmp")
        tmp.write_text(json.dumps(m, indent=1, sort_keys=True))
        os.replace(tmp, self.manifest_path)

    def stage_done(self, stage: str) -> bool:
        return stage in self.manifest()["stages"]

    def commit(
        self,
        stages: dict[str, dict] | None = None,
        buckets: dict[int, dict] | None = None,
        meta: dict | None = None,
    ) -> None:
        """ONE atomic manifest write (read-modify-write + ``os.replace``)
        that commits every given stage (name -> metrics), postings bucket
        (bucket -> lineage metrics) and index-layout property (``meta``
        key -> value, e.g. band_bits — readers bind to the INDEX's layout,
        not their own config).  Each build step is one such write, so a
        crash leaves either the whole step or none of it committed."""
        m = self.manifest()
        ts = time.time()
        for name, metrics in (stages or {}).items():
            m["stages"][name] = {"ts": ts, "metrics": metrics or {}}
        for b, metrics in (buckets or {}).items():
            m["buckets"][str(int(b))] = {"ts": ts, **metrics}
        m.setdefault("meta", {}).update(meta or {})
        self._write_manifest(m)

    def get_meta(self, key: str, default=None):
        return self.manifest().get("meta", {}).get(key, default)

    #: bucketed results layout (round 4): data lives under
    #: ``results_parts/v<snap>/bucket=<b>``; the manifest maps each doc_id-
    #: hash bucket to the snapshot that holds its CURRENT rows.  A save
    #: rewrites only the buckets present in the batch — the Iceberg
    #: ``MERGE INTO`` file-pruning analogue (O(batch) I/O, not O(table)).
    RESULTS_PARTS = "results_parts"

    def results_buckets(self) -> dict[int, int]:
        """{bucket: owning snapshot} for the bucketed results table
        (empty = no results)."""
        return {
            int(b): int(v)
            for b, v in self.manifest().get("results_buckets", {}).items()
        }

    def next_results_snapshot(self) -> int:
        """1 + the highest COMMITTED snapshot id: a crashed save leaves an
        orphan v-dir that the next save simply overwrites."""
        return int(self.manifest().get("results_snapshot", 0)) + 1

    def commit_results_buckets(
        self,
        updates: dict[int, int],
        n_buckets: int,
        superseded: dict[int, int] | None = None,
        keep: int = 0,
    ) -> list[tuple[int, int]]:
        """ONE atomic manifest write flips every touched bucket to its new
        snapshot — a crash before it leaves the previous per-bucket view
        fully live.

        Snapshot retention (Iceberg snapshot-expiration analogue): each
        bucket's superseded versions are appended to a per-bucket retired
        list in the SAME atomic write, and versions beyond the newest
        ``keep`` fall off and are RETURNED as GC victims for the caller to
        delete.  ``keep > 0`` lets a DataFrame obtained from ``results()``
        before a save still collect afterwards (its lazily-listed files
        survive until ``keep`` further saves touch the same bucket)."""
        m = self.manifest()
        rb = m.setdefault("results_buckets", {})
        for b, v in updates.items():
            rb[str(int(b))] = int(v)
        m.setdefault("meta", {})["n_results_buckets"] = int(n_buckets)
        if updates:
            m["results_snapshot"] = max(
                int(m.get("results_snapshot", 0)), max(updates.values())
            )
        victims: list[tuple[int, int]] = []
        retired = m.setdefault("results_retired", {})
        for b, old in (superseded or {}).items():
            lst = retired.setdefault(str(int(b)), [])
            lst.append(int(old))
            while len(lst) > keep:
                victims.append((int(b), int(lst.pop(0))))
        self._write_manifest(m)
        return victims

    # -- incremental appends (delta batches) ---------------------------------

    def deltas(self) -> dict:
        """{batch_key: {"seq": int, "n_docs": ..., ...}} — committed appends."""
        return self.manifest().get("deltas", {})

    def delta_seqs(self) -> list[int]:
        return sorted(int(d["seq"]) for d in self.deltas().values())

    def next_delta_seq(self) -> int:
        """Monotone within one compaction interval; compaction renumbers
        the interval's salts into the dense compacted range and resets the
        counter atomically (clear_deltas), so a fresh seq 0 salt is again
        above every salt in the main table."""
        m = self.manifest()
        from_meta = int(m.get("meta", {}).get("next_delta_seq", 0))
        from_deltas = (
            max(
                (int(d["seq"]) for d in m.get("deltas", {}).values()),
                default=-1,
            )
            + 1
        )
        return max(from_meta, from_deltas)

    def commit_delta(self, key: str, metrics: dict) -> None:
        """ONE atomic write commits the batch AND advances both cursors
        (next_delta_seq, next_ord) — persisting either in a separate write
        would open a crash window where a committed batch's ord range / salt
        gets reused by the next append."""
        m = self.manifest()
        m.setdefault("deltas", {})[key] = {"ts": time.time(), **metrics}
        meta = m.setdefault("meta", {})
        meta["next_delta_seq"] = int(metrics["seq"]) + 1
        meta["next_ord"] = int(metrics["base_ord"]) + int(metrics["n_docs"])
        self._write_manifest(m)

    def clear_deltas(
        self,
        gen_updates: dict[str, int],
        stats_base: dict | None = None,
        compacted_salts: int | None = None,
        postings_attempts: dict | None = None,
    ) -> None:
        """ONE atomic manifest write: bump table generations to the
        compacted dirs, drop the delta list, AND roll the compacted
        batches' doc/dl totals into ``meta.stats_base`` (live-stats
        derivation must keep counting them after the delta list empties).
        When ``compacted_salts`` is given, the compaction renumbered this
        interval's delta salts into the dense compacted range, so the
        batch-seq counter resets in the SAME write (resetting without the
        renumber — or vice versa — would collide salts and corrupt the
        concatenation decode order).  A crash before this leaves the old
        main+delta view live; after it, the compacted view."""
        m = self.manifest()
        meta = m.setdefault("meta", {})
        # compacted batches must STAY replay-detectable: an at-least-once
        # producer retrying a batch_key right after a compaction would
        # otherwise re-ingest it (double-counted stats, tombstone churn).
        # FIFO-capped — any realistic replay window is far shorter.
        keys = meta.get("compacted_batch_keys", []) + sorted(m.get("deltas", {}))
        meta["compacted_batch_keys"] = keys[-self.MAX_REPLAY_KEYS:]
        m["deltas"] = {}
        meta.setdefault("gen", {}).update(
            {t: int(g) for t, g in gen_updates.items()}
        )
        if stats_base is not None:
            meta["stats_base"] = stats_base
        if compacted_salts is not None:
            meta["compacted_salts"] = int(compacted_salts)
            meta["next_delta_seq"] = 0
        if postings_attempts is not None:
            # the committed-attempt map of the NEW postings generation must
            # flip in the SAME write as the generation pointer — written
            # separately, a crash between the two would re-prune the still-
            # live old generation against the new map (data loss)
            meta["postings_attempts"] = postings_attempts
        self._write_manifest(m)

    #: replay-detection window for compacted batch keys (FIFO)
    MAX_REPLAY_KEYS = 4096

    def batch_key_seen(self, key: str) -> bool:
        """True when ``key`` was committed as a live delta OR already
        folded into the main tables by a compaction (replay no-op)."""
        m = self.manifest()
        return key in m.get("deltas", {}) or key in m.get("meta", {}).get(
            "compacted_batch_keys", []
        )

    # -- tables ----------------------------------------------------------------

    def _resolve(self, table: str) -> str:
        """Physical dir of a table: compactions commit by bumping the
        table's generation in the manifest (``<table>__g<N>``), so readers
        flip atomically with the manifest write."""
        gen = self.manifest().get("meta", {}).get("gen", {}).get(table)
        return table if gen is None else f"{table}__g{int(gen)}"

    def path(self, table: str, bucket: int | None = None) -> str:
        p = self.root / self._resolve(table)
        if bucket is not None:
            p = p / f"bucket={bucket}"
        return str(p)

    def write(
        self,
        df: DataFrame,
        table: str,
        bucket: int | None = None,
        mode: str = "overwrite",
        partition_by: list[str] | None = None,
    ) -> None:
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(table, bucket))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        p = self.root / self._resolve(table)
        if table in (self.POSTINGS, self.DICTIONARY) and not (p / "_SUCCESS").exists():
            # bucket-partitioned tree from the task-direct writer (no
            # top-level _SUCCESS marker); enumerate real dirs (a literal "bucket=*" glob path makes
            # Spark's FileStreamSink metadata probe log a spurious
            # FileNotFoundException stack on every read)
            parts = sorted(
                (str(d) for d in p.glob("bucket=*") if d.is_dir()),
                key=lambda s: int(s.rsplit("=", 1)[1]),
            )
            if not parts:
                raise FileNotFoundError(f"no bucket partitions under {p}")
            return spark.read.option("basePath", str(p)).parquet(*parts)
        return spark.read.parquet(str(p))

    def table_bytes(self, table: str) -> int:
        p = self.root / self._resolve(table)
        return sum(f.stat().st_size for f in p.rglob("*.parquet")) if p.exists() else 0
