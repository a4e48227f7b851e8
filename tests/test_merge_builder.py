"""Unit tests for the packed-run merge builder (operators/index_build).

These drive the mapInArrow closures DIRECTLY with hand-built Arrow batches
— no SparkSession — so the merge invariants (runs from disjoint ord ranges
concatenate into globally sorted posting lists; blocks never cross band
boundaries; positions survive the round trip) are pinned independently of
the end-to-end parity tests.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pytest

from ds_discovery_opensearch_taxonomy_spark.functions import codec
from ds_discovery_opensearch_taxonomy_spark.operators import index_build as IB


def _packed_run(term_id, ford, ords, tfs, dls, plists, salt=0):
    """One SALTED_SCHEMA row from per-posting python lists (round-4 narrow
    format: rel-u32 ords, width-flagged tf/pos_lens, u8 quantized dl)."""
    ords = np.asarray(ords, dtype=np.int64)
    tfs = np.asarray(tfs, dtype=np.int64)
    dls = np.asarray(dls, dtype=np.int64)
    flat = np.concatenate([np.asarray(p, dtype=np.int64) for p in plists])
    starts = np.cumsum([0] + [len(p) for p in plists])[:-1]
    pos_data, bounds = codec.encode_position_groups(flat, starts)
    lens = np.diff(bounds).astype(np.int64)
    wide_tf = bool(tfs.max() > 0xFFFF)
    wide_pl = bool(lens.max() > 0xFFFF)
    return {
        "term_id": term_id,
        "ford": ford,
        "salt": salt,
        "n": len(ords),
        "min_ord": int(ords[0]),
        "ord_bytes": (ords - ords[0]).astype("<u4").tobytes(),
        "tf_bytes": tfs.astype("<u4" if wide_tf else "<u2").tobytes(),
        "dl_bytes": IB.dl_code_of(dls).tobytes(),
        "pos_lens": lens.astype("<u4" if wide_pl else "<u2").tobytes(),
        "pos_data": pos_data,
        "wflags": wide_tf * IB.WIDE_TF + wide_pl * IB.WIDE_PL,
    }


def _batch(rows):
    names = [f.name for f in IB.SALTED_SCHEMA.fields]
    types = {
        "term_id": pa.int64(), "ford": pa.int32(), "salt": pa.int32(),
        "n": pa.int32(), "min_ord": pa.int64(), "ord_bytes": pa.binary(),
        "tf_bytes": pa.binary(), "dl_bytes": pa.binary(),
        "pos_lens": pa.binary(), "pos_data": pa.binary(),
        "wflags": pa.int8(),
    }
    return pa.RecordBatch.from_arrays(
        [pa.array([r[n] for r in rows], types[n]) for n in names],
        names=names,
    )


def _run_builder(batches, n_docs=1000, block_size=4, band_bits=0):
    avgdl = np.array([10.0, 12.0])
    ord_shift = IB.ord_shift_of(n_docs, band_bits)
    builder = IB.make_merge_builder(
        float(n_docs), avgdl, 1.2, 0.75, block_size, ord_shift
    )
    out = list(builder(iter(batches)))
    import pandas as pd

    return pd.concat([b.to_pandas() for b in out]) if out else None


def test_runs_merge_in_min_ord_order_across_batches():
    """Runs of one term arriving out of order (and split across Arrow
    batches) concatenate into a globally ord-sorted posting list."""
    t = 42
    r1 = _packed_run(t, 0, [100, 101, 150], [1, 2, 1], [5, 5, 5],
                     [[0], [1, 3], [7]])
    r2 = _packed_run(t, 0, [0, 7], [3, 1], [4, 4], [[2, 5, 9], [0]])
    r3 = _packed_run(t, 0, [400], [1], [9], [[11]])
    blocks = _run_builder([_batch([r1]), _batch([r3, r2])], block_size=128)
    assert blocks is not None and (blocks["term_id"] == t).all()
    gaps = codec.varbyte_decode(b"".join(blocks.sort_values("blk_seq")["docids"]))
    # first gap absolute in the u64-shifted space, rest deltas (one block)
    with np.errstate(over="ignore"):
        got = (np.cumsum(gaps, dtype=np.uint64) - np.uint64(1 << 63)).astype(
            np.int64
        )
    assert got.tolist() == [0, 7, 100, 101, 150, 400]
    tfs = codec.varbyte_decode(b"".join(blocks.sort_values("blk_seq")["tfs"]))
    assert tfs.tolist() == [3, 1, 1, 2, 1, 1]


def test_blocks_split_at_block_size_and_band_boundary():
    t = 7
    # 6 postings, block_size 4 -> blocks of 4+2; with band_bits=1 over
    # n_docs=1000 the band boundary is at ord 512 -> extra split
    ords = [1, 2, 3, 500, 600, 700]
    r = _packed_run(t, 0, ords, [1] * 6, [10] * 6, [[0]] * 6)
    blocks = _run_builder([_batch([r])], block_size=4, band_bits=1)
    blocks = blocks.sort_values(["band", "blk_seq"]).reset_index(drop=True)
    # band 0: ords 1,2,3,500 -> but 500 < 512 so band 0 has 4 postings
    assert blocks["n"].tolist() == [4, 2]
    assert blocks["band"].tolist() == [0, 1]
    assert blocks["min_docid"].tolist() == [1, 600]
    assert blocks["max_docid"].tolist() == [500, 700]


def test_max_norm_is_df_independent_tf_norm_max():
    from ds_discovery_opensearch_taxonomy_spark.functions import scoring

    t = 9
    tfs = [1, 5, 2]
    dls = [10, 10, 30]
    r = _packed_run(t, 0, [1, 2, 3], tfs, dls, [[0]] * 3)
    blocks = _run_builder([_batch([r])], block_size=128)
    # staging dls are quantized to grid LOWER bounds (dl_code_of), so
    # max_norm is computed from those — and must stay an UPPER bound of
    # the exact-dl norm max (block-max pruning correctness)
    dl_lo = IB._DL_LUT[IB.dl_code_of(np.array(dls, np.int64))]
    want = max(
        scoring.tf_norm(np.array([tf], float), np.array([d]),
                        10.0, 1.2, 0.75)[0]
        for tf, d in zip(tfs, dl_lo)
    )
    exact = max(
        scoring.tf_norm(np.array([tf], float), np.array([dl], float),
                        10.0, 1.2, 0.75)[0]
        for tf, dl in zip(tfs, dls)
    )
    got = blocks["max_norm"].iloc[0]
    assert got == pytest.approx(want)
    assert got >= exact - 1e-12


def test_dl_codes_are_lower_bounds():
    dls = np.unique(
        np.concatenate(
            [np.arange(1, 4096), (1.09 ** np.arange(1, 180)).astype(np.int64)]
        )
    )
    codes = IB.dl_code_of(dls)
    lo = IB._DL_LUT[codes]
    assert (lo <= dls).all()
    # and tight: within one grid step of the true dl
    assert (dls <= lo * IB._DL_BASE + 1).all()


def test_width_stream_roundtrip_mixed():
    rng = np.random.default_rng(7)
    ns = np.array([3, 5, 2, 4], dtype=np.int64)
    bounds = np.concatenate([[0], np.cumsum(ns)])
    vals = rng.integers(0, 50, int(ns.sum()), dtype=np.int64)
    # make runs 1 and 3 wide
    vals[bounds[1]] = 70_000
    vals[bounds[3]] = 1 << 20
    wide = np.array([False, True, False, True])
    stream, byte_bounds = IB._width_stream(vals, bounds, wide)
    assert byte_bounds[-1] == 3 * 2 + 5 * 4 + 2 * 2 + 4 * 4
    got = IB._width_decode(stream, ns, wide)
    assert got.tolist() == vals.tolist()
    # per-run byte slices decode independently (the salt-cut contract)
    for i in range(4):
        seg = stream[int(byte_bounds[i]):int(byte_bounds[i + 1])]
        dt = "<u4" if wide[i] else "<u2"
        assert np.frombuffer(seg, dtype=dt).tolist() == vals[
            bounds[i]:bounds[i + 1]
        ].tolist()


def test_wide_tf_run_survives_merge():
    t = 11
    tfs = [1, 70_000, 3]
    r = _packed_run(t, 0, [5, 6, 7], tfs, [10, 70_000, 12], [[0]] * 3)
    assert r["wflags"] & IB.WIDE_TF
    blocks = _run_builder([_batch([r])], block_size=128)
    got = codec.varbyte_decode(b"".join(blocks["tfs"]))
    assert got.tolist() == tfs


def test_positions_roundtrip_through_merge():
    t = 5
    plists = [[2, 4, 9], [1], [0, 8]]
    r = _packed_run(t, 1, [10, 20, 30], [3, 1, 2], [7, 7, 7], plists)
    blocks = _run_builder([_batch([r])], block_size=128)
    tfs = codec.varbyte_decode(b"".join(blocks["tfs"]))
    offs, flat = codec.decode_positions(
        tfs.astype(np.int64), b"".join(blocks["posdata"])
    )
    got = [flat[offs[i]:offs[i + 1]].tolist() for i in range(len(tfs))]
    assert got == plists


def test_empty_partition_yields_nothing():
    assert _run_builder([]) is None


def _blocks_batch(term_ids, ns):
    """Minimal blocks-schema batch: only term_id (col 0) and n (col 4)
    carry signal for the direct writer's bucketing/stats."""
    schema = IB._arrow_blocks_schema()
    z = b""
    cols = {
        "term_id": pa.array(term_ids, pa.int64()),
        "salt": pa.array([0] * len(term_ids), pa.int32()),
        "band": pa.array([0] * len(term_ids), pa.int32()),
        "blk_seq": pa.array([0] * len(term_ids), pa.int32()),
        "n": pa.array(ns, pa.int32()),
        "min_docid": pa.array([0] * len(term_ids), pa.int64()),
        "max_docid": pa.array([0] * len(term_ids), pa.int64()),
        "max_norm": pa.array([0.0] * len(term_ids), pa.float64()),
        "docids": pa.array([z] * len(term_ids), pa.binary()),
        "tfs": pa.array([z] * len(term_ids), pa.binary()),
        "posdata": pa.array([z] * len(term_ids), pa.binary()),
    }
    return pa.RecordBatch.from_arrays(
        [cols[f.name] for f in schema], schema=schema
    )


def test_direct_writer_buckets_stats_and_filenames(tmp_path):
    """The direct writer routes blocks to bucket=<tid % nb> dirs, returns
    stat rows that sum to the input, and leaves no .inprogress files."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "postings")
    builder = lambda _batches: iter(  # noqa: E731
        [_blocks_batch([0, 1, 2, 5], [10, 20, 30, 40]),
         _blocks_batch([4, 1], [7, 3])]
    )
    w = IB.make_direct_block_writer(builder, out, n_buckets=4)
    stats = list(w([]))
    assert len(stats) == 1
    s = stats[0].to_pydict()
    # bucket 0: tids 0,4 -> 2 blocks, 17 postings; bucket 1: tids 1,5,1
    # -> 3 blocks, 63 postings; bucket 2: tid 2 -> 1 block, 30 postings
    got = dict(zip(s["bucket"], zip(s["blocks"], s["postings"])))
    assert got == {0: (2, 17), 1: (3, 63), 2: (1, 30)}
    atts = IB._int_keys(IB.attempts_map(stats[0].to_pylist()))
    IB._reconcile_direct_write(out, atts)
    for b, (nb_, np_) in got.items():
        files = list((tmp_path / "postings" / f"bucket={b}").glob("*"))
        assert [f.name for f in files] == ["part-00000-0.parquet"]
        t = pq.read_table(files[0])
        assert t.num_rows == nb_
        assert sum(t["n"].to_pylist()) == np_
        assert t.schema.equals(IB._arrow_blocks_schema())


def test_direct_writer_retry_cleans_inprogress_not_finals(tmp_path):
    """A re-run of the same partition id sweeps predecessor .inprogress
    temps but NEVER a committed final — deleting finals at task startup
    would let a speculative twin whose launch raced the original's
    success erase a file the stats collect already counted.  Duplicate
    finals are the post-job reconcile's to resolve (attempts map)."""
    out = str(tmp_path / "postings")
    builder = lambda _b: iter([_blocks_batch([0], [5])])  # noqa: E731
    w = IB.make_direct_block_writer(builder, out, n_buckets=2)
    list(w([]))
    bdir = tmp_path / "postings" / "bucket=0"
    (bdir / "part-00000-99.parquet").write_bytes(b"stale")
    (bdir / "part-00000-7.parquet.inprogress").write_bytes(b"dead")
    list(IB.make_direct_block_writer(builder, out, n_buckets=2)([]))
    names = sorted(f.name for f in bdir.glob("*"))
    # temp swept, both finals present until reconcile picks the winner
    assert names == ["part-00000-0.parquet", "part-00000-99.parquet"]
    IB._reconcile_dir(bdir, {0: 0})
    assert sorted(f.name for f in bdir.glob("*")) == ["part-00000-0.parquet"]


def test_direct_staging_writer_retry_and_stats(tmp_path):
    """The staging direct writer must (a) route every row with a bucket
    column equal to term_id % n_buckets (python-mod semantics match
    Spark's pmod for negative hashes), (b) report per-field kind-0 cf
    sums only, and (c) replace a prior attempt's file on retry."""
    import pyarrow.parquet as pq

    out = str(tmp_path / "staging")

    def _tokens_batch():
        # TOKENS_SCHEMA order: kind, term_id, term, ford, n, cf, min_ord,
        # ord_bytes, tf_bytes, dl_bytes, pos_lens, pos_data, wflags
        z = b""
        return pa.RecordBatch.from_arrays(
            [
                pa.array([0, 0, 1], pa.int8()),       # kind (last is sidecar)
                pa.array([-5, 7, -1], pa.int64()),    # term_id
                pa.array(["a", "b", None], pa.string()),
                pa.array([0, 1, 0], pa.int32()),      # ford
                pa.array([2, 1, 1], pa.int32()),      # n
                pa.array([3, 4, 99], pa.int64()),     # cf
                pa.array([0, 1, 0], pa.int64()),      # min_ord
                pa.array([z, z, z], pa.binary()),
                pa.array([z, z, z], pa.binary()),
                pa.array([z, z, z], pa.binary()),
                pa.array([z, z, z], pa.binary()),
                pa.array([z, z, z], pa.binary()),
                pa.array([0, 0, 0], pa.int8()),       # wflags
            ],
            names=[
                "kind", "term_id", "term", "ford", "n", "cf", "min_ord",
                "ord_bytes", "tf_bytes", "dl_bytes", "pos_lens", "pos_data",
                "wflags",
            ],
        )

    def inner(_batches):
        yield _tokens_batch()

    w = IB.make_direct_staging_writer(inner, out, n_buckets=4)
    stats = list(w([]))
    assert len(stats) == 1
    s = stats[0].to_pydict()
    # kind-0 cf sums per ford (cf column comes from _packed_run's defaults)
    t = pq.read_table(f"{out}/part-00000-0.parquet")
    assert t["bucket"].to_pylist() == [(-5) % 4, 7 % 4, (-1) % 4]
    k0 = [k == 0 for k in t["kind"].to_pylist()]
    by_ford = dict(zip(s["ford"], s["sum_cf"]))
    import collections

    expect = collections.defaultdict(int)
    for ford_v, cf_v, is_k0 in zip(
        t["ford"].to_pylist(), t["cf"].to_pylist(), k0
    ):
        if is_k0:
            expect[ford_v] += cf_v
    assert by_ford == dict(expect)
    # retry: orphan temp swept at writer startup; the stale final stays
    # for the attempts-map reconcile (finals are never deleted in-task —
    # see test_direct_writer_retry_cleans_inprogress_not_finals)
    (tmp_path / "staging" / "part-00000-42.parquet").write_bytes(b"x")
    (tmp_path / "staging" / "part-00000-9.parquet.inprogress").write_bytes(b"y")
    list(IB.make_direct_staging_writer(inner, out, n_buckets=4)([]))
    from pathlib import Path

    assert not list((tmp_path / "staging").glob("*.inprogress"))
    IB._reconcile_dir(Path(out), {0: 0})
    names = sorted(f.name for f in (tmp_path / "staging").glob("*"))
    assert names == ["part-00000-0.parquet"]


def test_reconcile_with_expected_keeps_committed_attempt(tmp_path):
    """Speculation safety: with the (pid -> succeeded attempt) map from the
    stat rows, reconciliation keeps EXACTLY the committed attempt — even
    when a killed speculative copy left a file with a HIGHER attempt id
    (keep-newest would pick the wrong one) — and drops files from pids
    that reported no stats at all."""
    bdir = tmp_path / "bucket=0"
    bdir.mkdir(parents=True)
    (bdir / "part-00002-4.parquet").write_bytes(b"committed")
    (bdir / "part-00002-11.parquet").write_bytes(b"zombie-speculative")
    (bdir / "part-00005-3.parquet").write_bytes(b"no-stats-pid")
    (bdir / "part-00007-9.parquet").write_bytes(b"ok")
    (bdir / "part-00007-1.parquet.inprogress").write_bytes(b"dead")
    IB._reconcile_direct_write(str(tmp_path), {2: 4, 7: 9})
    names = sorted(f.name for f in bdir.glob("*"))
    assert names == ["part-00002-4.parquet", "part-00007-9.parquet"]


def test_reconcile_ignores_non_direct_writer_files(tmp_path):
    """Files the direct writer did not name (a JVM-committer part file
    with a uuid, a driver-side ``part-00000.parquet``) are left alone by
    reconciliation — parsing them as ours would crash reader open
    (ValueError on the uuid) or delete live data as an "unknown
    attempt"."""
    bdir = tmp_path / "bucket=1"
    bdir.mkdir(parents=True)
    jvm = "part-00000-0eb2a631-7a54-4a02-bd59-5efbe951cd6a-c000.snappy.parquet"
    (bdir / jvm).write_bytes(b"jvm-committed")
    (bdir / "part-00000.parquet").write_bytes(b"driver-written")
    (bdir / "part-00003-2.parquet").write_bytes(b"ours-committed")
    (bdir / "part-00003-7.parquet").write_bytes(b"ours-zombie")
    IB._reconcile_direct_write(str(tmp_path), {3: 2})
    names = sorted(f.name for f in bdir.glob("*"))
    assert names == [jvm, "part-00000.parquet", "part-00003-2.parquet"]


def test_direct_writer_stats_carry_attempt_id(tmp_path):
    """Both direct writers report the attempt id that wrote the files, and
    attempts_map() turns the stat rows into the manifest map."""
    out = str(tmp_path / "postings")
    builder = lambda _b: iter([_blocks_batch([0, 1], [5, 6])])  # noqa: E731
    stats = list(IB.make_direct_block_writer(builder, out, n_buckets=2)([]))
    s = stats[0].to_pydict()
    assert set(s["att"]) == {0}  # no TaskContext -> attempt 0
    rows = [
        {"pid": p, "att": a} for p, a in zip(s["pid"], s["att"])
    ]
    assert IB.attempts_map(rows) == {"0": 0}
    assert IB._int_keys(IB.attempts_map(rows)) == {0: 0}
