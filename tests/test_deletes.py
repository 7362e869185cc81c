"""Predicate deletes over encoded state dirs: delete_where tombstones
(merge-on-read, SQL DELETE null semantics), decode-side application under
projections and where-composition, encode_resume's append refusal and
rewritten-base bookkeeping, and purge_deletes' zone-targeted journaled
rewrite including a deterministic crash drill of the commit journal.

Mirrors the reference's idempotent-convert contract (convert_xls.py:
238-245 skip-if-exists) extended to state MUTATION: delete + purge must
leave the state dir exactly as if the deleted rows had never been
encoded."""

from __future__ import annotations

import glob
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

import d6tstack_spark.operators.sinks as sinks
import d6tstack_spark.plans.maintenance as maintenance
from d6tstack_spark.operators.encode import SUB_BLOCK_BITS
from d6tstack_spark.plans.checkpoint import (
    _purge_seq_path,
    decode_state,
    delete_where,
    encode_resume,
    load_deletes,
)
from d6tstack_spark.plans.maintenance import purge_deletes

pytestmark = pytest.mark.usefixtures("no_persisted_rdds")


_DD_CON = None


def _dd_con():
    """Test-module-private DuckDB connection: NOT the process-global
    default (one fatal error there poisons every later test in the
    shared-process suite), and held in a module global so relations
    created from it are not invalidated by GC closing the connection."""
    global _DD_CON
    if _DD_CON is None:
        import duckdb

        _DD_CON = duckdb.connect()
    return _DD_CON


def _mk_files(tmp_path, prefixes=("a", "b", "c"), n=1200):
    """One sorted parquet file per conv-id prefix → disjoint zone ranges,
    so a prefix-targeted delete affects exactly one file's blocks."""
    os.makedirs(str(tmp_path), exist_ok=True)
    paths = []
    for i, p in enumerate(prefixes):
        tbl = pa.table(
            {
                "conv_id": pa.array([f"{p}{j // 6:04d}" for j in range(n)]),
                "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
                "text": pa.array([f"msg {p}{j}" for j in range(n)]),
                "tool": pa.array(
                    [None if j % 5 == 0 else f"t{j % 3}" for j in range(n)]
                ),
            }
        )
        path = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, path, row_group_size=400)
        paths.append(path)
    return paths


def _rows(df):
    return sorted(
        (r.conv_id, r.turn_idx, r.text, r.tool)
        for r in df.select("conv_id", "turn_idx", "text", "tool").collect()
    )


@pytest.fixture()
def state(spark, tmp_path):
    paths = _mk_files(tmp_path)
    sd = str(tmp_path / "state")
    encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    src = spark.read.parquet(*paths)
    return paths, sd, src


def test_delete_where_merge_on_read(spark, state):
    paths, sd, src = state
    pred = "conv_id >= 'c0100' AND conv_id < 'c0150'"
    rep = delete_where(spark, sd, pred)
    assert rep["recorded"] and rep["matched"] == src.filter(pred).count() > 0
    got = _rows(decode_state(spark, sd))
    want = _rows(src.filter(f"NOT coalesce(({pred}), false)"))
    assert got == want


def test_delete_null_semantics_keeps_null_predicate_rows(spark, state):
    paths, sd, src = state
    # tool IS NULL on 1/5 of rows: DELETE WHERE tool='t1' must keep them
    rep = delete_where(spark, sd, "tool = 't1'")
    assert rep["matched"] == src.filter("tool = 't1'").count()
    dec = decode_state(spark, sd)
    assert dec.filter("tool IS NULL").count() == src.filter(
        "tool IS NULL"
    ).count()
    assert dec.filter("tool = 't1'").count() == 0


def test_delete_matching_nothing_not_recorded(spark, state):
    paths, sd, _ = state
    rep = delete_where(spark, sd, "conv_id = 'zzz-nope'")
    assert rep["matched"] == 0 and not rep["recorded"]
    assert load_deletes(sd) == []


def test_delete_bad_predicate_raises_eagerly(spark, state):
    paths, sd, _ = state
    with pytest.raises(Exception, match="no_such_column|UNRESOLVED"):
        delete_where(spark, sd, "no_such_column = 1")
    assert load_deletes(sd) == []


def test_tombstone_applies_under_projection_and_where(spark, state):
    paths, sd, src = state
    delete_where(spark, sd, "conv_id >= 'b' AND conv_id < 'c'")
    # projection that EXCLUDES the tombstone column still filters by it
    texts = decode_state(spark, sd, columns=["text"])
    assert texts.columns == ["text"]
    assert texts.count() == src.filter("conv_id < 'b' OR conv_id >= 'c'").count()
    # user where= composes with the tombstone keep-filter
    got = decode_state(spark, sd, where="turn_idx = 0", columns=["conv_id"])
    want = src.filter(
        "turn_idx = 0 AND (conv_id < 'b' OR conv_id >= 'c')"
    ).count()
    assert got.count() == want


def test_tombstone_with_block_filter_and_projection(spark, state):
    paths, sd, src = state
    delete_where(spark, sd, "tool = 't2'")
    bf = ("conv_id", "b", "bzzz")
    dec_all = decode_state(spark, sd, block_filter=bf)
    assert dec_all.filter("tool = 't2'").count() == 0
    dec_proj = decode_state(spark, sd, columns=["conv_id"], block_filter=bf)
    assert dec_proj.columns == ["conv_id"]
    assert dec_proj.count() == dec_all.count()


def test_resume_appends_with_pending_tombstones_are_scoped(
    spark, state, tmp_path
):
    """Round 5: appends while SCOPED tombstones pend are legal (Iceberg
    sequence semantics — the new files' add record postdates the delete
    record, so the tombstone never touches them); only tombstones with no
    snapshot record (legacy dirs) still refuse."""
    import json

    paths, sd, src = state
    pred = "conv_id >= 'c0100' AND conv_id < 'c0150'"
    delete_where(spark, sd, pred)
    # re-running over the SAME inputs is fine — nothing new to encode
    rep = encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    assert rep["already_complete"]
    extra = _mk_files(tmp_path / "extra", prefixes=("d",))[0]
    s = encode_resume(
        spark, paths + [extra], sd, order_cols=("conv_id", "turn_idx")
    )
    assert s["encoded"] > 0
    want = sorted(
        _rows(src.filter(f"NOT coalesce(({pred}), false)"))
        + _rows(spark.read.parquet(extra))
    )
    assert _rows(decode_state(spark, sd)) == want
    # legacy dirs (tombstones with no snapshot record) still refuse: strip
    # the delete records from the log to simulate one
    sp = os.path.join(sd, "snapshots.jsonl")
    recs = [json.loads(x) for x in open(sp).read().splitlines()]
    with open(sp, "w") as f:
        for r in recs:
            if r["op"] != "delete":
                f.write(json.dumps(r) + "\n")
    extra2 = _mk_files(tmp_path / "extra2", prefixes=("e",))[0]
    with pytest.raises(ValueError, match="no snapshot record"):
        encode_resume(
            spark, paths + [extra, extra2], sd,
            order_cols=("conv_id", "turn_idx"),
        )


def test_purge_rewrites_only_zone_affected_files(spark, state, tmp_path):
    paths, sd, src = state
    pred = "conv_id >= 'c0100' AND conv_id < 'c0150'"
    delete_where(spark, sd, pred)
    before_files = set(glob.glob(os.path.join(sd, "blocks", "*.parquet")))
    rep = purge_deletes(spark, sd)
    assert rep["matched"] == src.filter(pred).count()
    # only the 'c'-prefix file's blocks can match — targeted, not full
    assert 0 < rep["files_rewritten"] < rep["files_scanned"]
    after_files = set(glob.glob(os.path.join(sd, "blocks", "*.parquet")))
    assert before_files & after_files, "untouched files must survive as-is"
    assert load_deletes(sd) == []
    assert not os.path.exists(os.path.join(sd, "purge_commit.json"))
    assert not os.path.exists(os.path.join(sd, "blocks.purge"))
    want = _rows(src.filter(f"NOT coalesce(({pred}), false)"))
    assert _rows(decode_state(spark, sd)) == want
    # purge again: clean no-op
    rep2 = purge_deletes(spark, sd)
    assert rep2["tombstones"] == 0 and rep2["files_rewritten"] == 0
    # resume over the SAME inputs must NOT resurrect the purged rows
    rep3 = encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    assert rep3["already_complete"]
    assert _rows(decode_state(spark, sd)) == want
    # appending genuinely new data works after the purge
    extra = _mk_files(tmp_path / "extra", prefixes=("d",), n=600)[0]
    encode_resume(
        spark, paths + [extra], sd, order_cols=("conv_id", "turn_idx")
    )
    want_all = sorted(want + _rows(spark.read.parquet(extra)))
    assert _rows(decode_state(spark, sd)) == want_all


def test_purge_whole_file_delete(spark, tmp_path):
    # staged appends: one resume job per source file, so block files never
    # mix prefixes and deleting a whole prefix leaves NOTHING to re-encode
    # (exercises the empty-replacement commit path: adopt list is empty)
    paths = _mk_files(tmp_path)
    sd = str(tmp_path / "state")
    for i in range(len(paths)):
        encode_resume(
            spark, paths[: i + 1], sd, order_cols=("conv_id", "turn_idx")
        )
    src = spark.read.parquet(*paths)
    delete_where(spark, sd, "conv_id >= 'c'")
    rep = purge_deletes(spark, sd)
    assert rep["matched"] == src.filter("conv_id >= 'c'").count()
    assert rep["blocks_written"] == 0  # nothing kept from affected files
    assert _rows(decode_state(spark, sd)) == _rows(src.filter("conv_id < 'c'"))


def test_purge_unprunable_predicate_degrades_to_full_rewrite(spark, state):
    paths, sd, src = state
    # turn_idx = 5 exists in every file: every file is zone-affected
    delete_where(spark, sd, "turn_idx = 5")
    rep = purge_deletes(spark, sd)
    assert rep["files_rewritten"] == rep["files_scanned"]
    assert _rows(decode_state(spark, sd)) == _rows(src.filter("turn_idx <> 5"))


@pytest.mark.parametrize("after_adopts", [0, 1])
def test_purge_crash_drill_journal_replay(spark, state, after_adopts):
    paths, sd, src = state
    # strict subset of the 'b' range: affected blocks always keep some
    # rows, so the rewrite always has replacement files to adopt (an
    # empty adopt list would skip the drill hook regardless of layout)
    pred = "conv_id >= 'b0050' AND conv_id < 'b0150'"
    delete_where(spark, sd, pred)
    maintenance._TEST_CRASH_AFTER_ADOPTS = after_adopts
    try:
        with pytest.raises(RuntimeError, match="crash drill"):
            purge_deletes(spark, sd)
    finally:
        maintenance._TEST_CRASH_AFTER_ADOPTS = None
    # journal is the commit point: readers refuse rather than guess
    assert os.path.exists(os.path.join(sd, "purge_commit.json"))
    with pytest.raises(RuntimeError, match="in-flight purge commit"):
        decode_state(spark, sd)
    # any writer entry point rolls the commit forward
    rep = purge_deletes(spark, sd)
    assert rep["replayed_journal"] and rep["tombstones"] == 0
    want = _rows(src.filter(f"NOT coalesce(({pred}), false)"))
    assert _rows(decode_state(spark, sd)) == want
    assert load_deletes(sd) == []
    # and resume still treats the rewritten splits as complete
    rep2 = encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    assert rep2["already_complete"]


def test_delete_everything_leaves_valid_empty_state(spark, state):
    paths, sd, src = state
    delete_where(spark, sd, "turn_idx >= 0")  # matches every row
    purge_deletes(spark, sd)
    dec = decode_state(spark, sd)
    assert dec.count() == 0
    assert dec.columns == src.columns  # schema survives the empty table
    assert decode_state(spark, sd, columns=["text"]).columns == ["text"]


def test_two_purge_generations_ids_stay_disjoint(spark, state):
    paths, sd, src = state
    delete_where(spark, sd, "conv_id = 'a0001'")
    purge_deletes(spark, sd)
    delete_where(spark, sd, "conv_id = 'a0002'")
    purge_deletes(spark, sd)
    blocks = spark.read.parquet(os.path.join(sd, "blocks"))
    assert (
        blocks.select("block_id", "column").distinct().count()
        == blocks.count()
    ), "rewritten ids collided across purge generations"
    want = _rows(src.filter("conv_id NOT IN ('a0001', 'a0002')"))
    assert _rows(decode_state(spark, sd)) == want


def _rewritten_blocks(spark, sd):
    """``{block_id: n_rows}`` of the blocks a rewrite wrote (bit-61 ids)."""
    return {
        r[0]: r[1]
        for r in spark.read.parquet(os.path.join(sd, "blocks"))
        .filter(F.col("block_id") >= maintenance._REWRITE_ID_BIT)
        .groupBy("block_id")
        .agg(F.max("n_rows"))
        .collect()
    }


def _purge_seq(sd):
    try:
        with open(_purge_seq_path(sd)) as f:
            return json.load(f)["next"]
    except FileNotFoundError:
        return 0


def test_purge_encodes_kept_slice_once(spark, state, local_encode_rows):
    paths, sd, src = state
    delete_where(spark, sd, "conv_id >= 'b0050' AND conv_id < 'b0150'")
    rep = purge_deletes(spark, sd)
    n_kept = sum(_rewritten_blocks(spark, sd).values())
    assert rep["matched"] == 600 and n_kept > 0
    assert local_encode_rows.value == n_kept


def test_purge_matching_nothing_clears_tombstones_without_rewrite(
    spark, state
):
    paths, sd, src = state
    # inside the 'b' file's zone range, but no conv_id has this suffix
    delete_where(spark, sd, "conv_id = 'b0050x'", count_matches=False)
    assert load_deletes(sd)
    listing = sorted(os.listdir(os.path.join(sd, "blocks")))
    rep = purge_deletes(spark, sd)
    assert rep["matched"] == 0 and rep["files_rewritten"] == 0
    assert load_deletes(sd) == []
    assert sorted(os.listdir(os.path.join(sd, "blocks"))) == listing
    assert _rows(decode_state(spark, sd)) == _rows(src)


def test_purge_rewrite_ids_dense_and_counter_advances(spark, state):
    paths, sd, src = state

    def dense(lo, hi):
        return [
            maintenance._REWRITE_ID_BIT + (i << SUB_BLOCK_BITS)
            for i in range(lo + 1, hi + 1)
        ]

    assert _purge_seq(sd) == 0
    delete_where(spark, sd, "conv_id >= 'b0050' AND conv_id < 'b0150'")
    n1 = purge_deletes(spark, sd)["blocks_written"]
    assert n1 > 0
    assert _purge_seq(sd) == n1
    assert sorted(_rewritten_blocks(spark, sd)) == dense(0, n1)
    # the 'c' range never overlaps the first rewrite's 'b' blocks, so
    # both generations stay live and together fill 1..n1+n2
    delete_where(spark, sd, "conv_id >= 'c0050' AND conv_id < 'c0150'")
    n2 = purge_deletes(spark, sd)["blocks_written"]
    assert n2 > 0
    assert _purge_seq(sd) == n1 + n2
    assert sorted(_rewritten_blocks(spark, sd)) == dense(0, n1 + n2)
    # replacement files keep block_id REQUIRED, like the encoder's own
    for f in glob.glob(os.path.join(sd, "blocks", "*.parquet")):
        assert not pq.read_schema(f).field("block_id").nullable, f


def test_purge_parity_failure_leaves_state_untouched(
    spark, state, monkeypatch
):
    paths, sd, src = state
    delete_where(spark, sd, "conv_id >= 'b0050' AND conv_id < 'b0150'")
    bd = os.path.join(sd, "blocks")
    listing = sorted(os.listdir(bd))
    before = _rows(decode_state(spark, sd))
    write_blocks = sinks.write_blocks
    first_id = maintenance._REWRITE_ID_BIT + (1 << SUB_BLOCK_BITS)

    def drop_one_block(blocks, path, *args, **kwargs):
        write_blocks(
            blocks.filter(F.col("block_id") != first_id), path, *args, **kwargs
        )

    monkeypatch.setattr(sinks, "write_blocks", drop_one_block)
    with pytest.raises(RuntimeError, match="parity check failed"):
        purge_deletes(spark, sd)
    assert sorted(os.listdir(bd)) == listing
    assert not os.path.exists(bd + ".purge")
    assert not os.path.exists(os.path.join(sd, "purge_commit.json"))
    assert _purge_seq(sd) == 0
    assert load_deletes(sd)  # tombstone still pending, still applied
    assert _rows(decode_state(spark, sd)) == before


# --------------------------------------------------------------- property
# The full delete lifecycle vs DuckDB DELETE semantics over the same
# predicate grammar the zone-pruning property test uses (comparisons,
# BETWEEN, IN, IS [NOT] NULL, prefix LIKE, AND/OR/NOT chains): after
# delete_where the merge-on-read decode — and after purge_deletes the
# physically rewritten state — must both equal SELECT * WHERE the
# predicate is not TRUE.

import shutil
import tempfile

import numpy as np
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as hst

from test_zonemap import _predicate  # noqa: E402  (shared grammar)


@pytest.fixture(scope="module")
def zstate(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("delstate")
    n = 20_000
    rng = np.random.default_rng(7)
    tbl = pa.table(
        {
            "k": pa.array(np.arange(n, dtype=np.int64)),
            "grp": pa.array([f"g{(i // 5000):02d}" for i in range(n)]),
            "val": pa.array(rng.random(n)),
        }
    )
    src = str(d / "src.parquet")
    pq.write_table(tbl, src, row_group_size=1000)
    sd = str(d / "state")
    encode_resume(spark, [src], sd, order_cols=("k",))
    return src, sd


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=_predicate())
def test_delete_lifecycle_matches_duckdb_delete(spark, zstate, where):
    src, template = zstate
    root = tempfile.mkdtemp()
    sd = os.path.join(root, "state")
    shutil.copytree(template, sd)
    try:
        delete_where(spark, sd, where, count_matches=False)
        want = sorted(
            r[0]
            for r in _dd_con().sql(
                f"SELECT k FROM read_parquet('{src}') "
                f"WHERE NOT coalesce(({where}), false)"
            ).fetchall()
        )
        got = sorted(
            r.k for r in decode_state(spark, sd).select("k").collect()
        )
        assert got == want, f"tombstone decode mismatch for WHERE {where}"
        purge_deletes(spark, sd, order_cols=("k",))
        got2 = sorted(
            r.k for r in decode_state(spark, sd).select("k").collect()
        )
        assert got2 == want, f"post-purge decode mismatch for WHERE {where}"
        assert load_deletes(sd) == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_state_info_reports_lifecycle(spark, state):
    from d6tstack_spark.plans.metrics import state_info

    paths, sd, src = state
    info = state_info(spark, sd)
    assert info["format"]["id_scheme"] == "subblock8"
    assert info["columns"] == ["conv_id", "turn_idx", "text", "tool"]
    assert info["n_files"] > 0 and info["n_blocks"] > 0
    assert info["ratio"] and "lease" not in info
    assert info["pending_tombstones"] == []
    delete_where(spark, sd, "conv_id >= 'c0100' AND conv_id < 'c0150'")
    info2 = state_info(spark, sd)
    assert len(info2["pending_tombstones"]) == 1
    assert not info2["purge_in_flight"]
    purge_deletes(spark, sd)
    info3 = state_info(spark, sd)
    assert info3["pending_tombstones"] == []
    assert info3["has_rewritten_bases"]
    assert info3["rewritten_blocks_allocated"] > 0


# ------------------------------------------------------- equality deletes
def test_delete_keys_merge_on_read_and_purge(spark, state):
    from d6tstack_spark.plans.checkpoint import delete_keys

    paths, sd, src = state
    keys = spark.createDataFrame(
        [("c0010",), ("c0020",), ("zzz-nope",)], "conv_id string"
    )
    rep = delete_keys(spark, sd, keys, key_cols=("conv_id",))
    assert rep["recorded"] and rep["n_keys"] == 3
    assert rep["matched"] == src.filter(
        "conv_id IN ('c0010', 'c0020')"
    ).count()
    want = _rows(src.filter("conv_id NOT IN ('c0010', 'c0020')"))
    assert _rows(decode_state(spark, sd)) == want
    # projection that excludes the key column still applies the delete
    texts = decode_state(spark, sd, columns=["text"])
    assert texts.columns == ["text"] and texts.count() == len(want)
    # purge: keys cluster in the 'c' file → targeted rewrite
    rep2 = purge_deletes(spark, sd)
    assert rep2["matched"] == rep["matched"]
    assert 0 < rep2["files_rewritten"] < rep2["files_scanned"]
    assert _rows(decode_state(spark, sd)) == want
    assert load_deletes(sd) == []
    assert not os.path.isdir(os.path.join(sd, "delete_keys", "1"))


def test_delete_keys_matching_nothing_not_recorded(spark, state):
    from d6tstack_spark.plans.checkpoint import delete_keys

    paths, sd, _ = state
    keys = spark.createDataFrame([("zzz-nope",)], "conv_id string")
    rep = delete_keys(spark, sd, keys)
    assert not rep["recorded"] and rep["matched"] == 0
    assert load_deletes(sd) == []
    assert not os.path.isdir(os.path.join(sd, "delete_keys", "1"))


def test_delete_keys_composes_with_predicate_tombstones(spark, state):
    from d6tstack_spark.plans.checkpoint import delete_keys

    paths, sd, src = state
    delete_where(spark, sd, "tool = 't1'")
    keys = spark.createDataFrame([("a0001",), ("b0002",)], "conv_id string")
    rep = delete_keys(spark, sd, keys)
    # matched counts only rows not already predicate-deleted
    assert rep["matched"] == src.filter(
        "conv_id IN ('a0001', 'b0002') AND NOT coalesce(tool = 't1', false)"
    ).count()
    want = _rows(
        src.filter(
            "NOT coalesce(tool = 't1', false) "
            "AND conv_id NOT IN ('a0001', 'b0002')"
        )
    )
    assert _rows(decode_state(spark, sd)) == want
    # user where= composes with BOTH tombstone kinds
    n0 = decode_state(spark, sd, where="turn_idx = 0").count()
    assert n0 == sum(1 for r in want if r[1] == 0)
    purge_deletes(spark, sd)
    assert _rows(decode_state(spark, sd)) == want
    assert load_deletes(sd) == []


def test_upsert_files_replaces_by_key(spark, state, tmp_path):
    from d6tstack_spark.plans.maintenance import upsert_files

    paths, sd, src = state
    # re-deliver two 'b' conversations with corrected text + one new conv
    upd = pa.table(
        {
            "conv_id": pa.array(
                ["b0003"] * 4 + ["b0007"] * 2 + ["new01"] * 3
            ),
            "turn_idx": pa.array([0, 1, 2, 3, 0, 1, 0, 1, 2], pa.int32()),
            "text": pa.array([f"fixed {i}" for i in range(9)]),
            "tool": pa.array([None, "t9", None, "t9", "t9", None, "t9",
                              None, "t9"]),
        }
    )
    upath = str(tmp_path / "upsert_batch.parquet")
    pq.write_table(upd, upath)
    rep = upsert_files(spark, sd, [upath], key_cols=("conv_id",))
    assert rep["n_keys"] == 3
    assert rep["replaced"]["matched"] == src.filter(
        "conv_id IN ('b0003', 'b0007')"
    ).count()
    assert rep["appended"]["encoded"] > 0
    want = sorted(
        _rows(src.filter("conv_id NOT IN ('b0003', 'b0007')"))
        + _rows(spark.read.parquet(upath))
    )
    assert _rows(decode_state(spark, sd)) == want
    # re-delivering under an already-recorded path is refused
    with pytest.raises(ValueError, match="NEW paths"):
        upsert_files(spark, sd, [upath])
    # idempotent-ish: a second upsert with another new path but the same
    # content replaces its own previous delivery
    upath2 = str(tmp_path / "upsert_batch2.parquet")
    pq.write_table(upd, upath2)
    rep2 = upsert_files(spark, sd, [upath2], key_cols=("conv_id",))
    assert rep2["replaced"]["matched"] == 9  # the first delivery's rows
    assert _rows(decode_state(spark, sd)) == want


@settings(
    max_examples=5,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    ks=hst.lists(
        hst.integers(min_value=-5, max_value=20_010),
        min_size=1,
        max_size=40,
        unique=True,
    )
)
def test_delete_keys_lifecycle_matches_duckdb(spark, zstate, ks):
    import duckdb

    from d6tstack_spark.plans.checkpoint import delete_keys

    src, template = zstate
    root = tempfile.mkdtemp()
    sd = os.path.join(root, "state")
    shutil.copytree(template, sd)
    try:
        keys = spark.createDataFrame([(int(k),) for k in ks], "k long")
        delete_keys(spark, sd, keys, key_cols=("k",), count_matches=False)
        inlist = ", ".join(str(k) for k in ks)
        want = sorted(
            r[0]
            for r in _dd_con().sql(
                f"SELECT k FROM read_parquet('{src}') "
                f"WHERE k NOT IN ({inlist})"
            ).fetchall()
        )
        got = sorted(
            r.k for r in decode_state(spark, sd).select("k").collect()
        )
        assert got == want, f"keys tombstone decode mismatch for {ks}"
        purge_deletes(spark, sd, order_cols=("k",))
        got2 = sorted(
            r.k for r in decode_state(spark, sd).select("k").collect()
        )
        assert got2 == want, f"post-purge decode mismatch for {ks}"
        assert load_deletes(sd) == []
    finally:
        shutil.rmtree(root, ignore_errors=True)


def test_keys_antijoin_broadcasts_small_key_sets(spark, state):
    # the equality-delete anti-join must broadcast the (small) key set —
    # a shuffle of the DECODED side would move the whole table at scale.
    # No hint in the code: Spark's static size estimate of the key
    # parquet picks broadcast under the threshold and correctly falls
    # back to a shuffle join for key sets too big to broadcast.
    from d6tstack_spark.plans.checkpoint import delete_keys

    paths, sd, _ = state
    keys = spark.createDataFrame([("c0010",)], "conv_id string")
    delete_keys(spark, sd, keys, count_matches=False)
    plan = (
        decode_state(spark, sd)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_purge_then_compact_then_decode(spark, state):
    # cross-feature: rewritten blocks (reserved-bit ids) survive a
    # subsequent compaction — repartitionByRange handles the id-space gap
    # and the decoded table stays exact
    from d6tstack_spark.plans.maintenance import compact_blocks

    paths, sd, src = state
    pred = "conv_id >= 'b0100' AND conv_id < 'b0200'"
    delete_where(spark, sd, pred)
    purge_deletes(spark, sd)
    rep = compact_blocks(
        spark, os.path.join(sd, "blocks"), target_file_bytes=1 << 40
    )
    assert rep["files_after"] <= rep["files_before"]
    want = _rows(src.filter(f"NOT coalesce(({pred}), false)"))
    assert _rows(decode_state(spark, sd)) == want
    # and resume still sees everything as complete afterwards
    assert encode_resume(
        spark, paths, sd, order_cols=("conv_id", "turn_idx")
    )["already_complete"]


def test_delete_where_counts_net_of_prior_keys_tombstone(spark, state):
    from d6tstack_spark.plans.checkpoint import delete_keys

    paths, sd, src = state
    delete_keys(
        spark,
        sd,
        spark.createDataFrame([("a0001",)], "conv_id string"),
    )
    # counting must not crash on the keys tombstone, and must not count
    # its already-deleted rows again
    rep = delete_where(spark, sd, "conv_id IN ('a0001', 'a0002')")
    assert rep["matched"] == src.filter("conv_id = 'a0002'").count()
    want = _rows(src.filter("conv_id NOT IN ('a0001', 'a0002')"))
    assert _rows(decode_state(spark, sd)) == want


def test_tombstone_ids_never_reused_after_purge(spark, state):
    """Regression: delete → purge → delete used to reuse tombstone id 1
    (allocated from deletes.json's max alone), and the earlier rewrite's
    clear then masked the NEW tombstone in _visible_tombstones — decode
    silently ignored the pending delete. Ids are now allocated above
    everything the snapshot log ever recorded, and _visible_tombstones
    is an event-sourced walk (a rewrite clears only earlier records'
    tombstones), so even legacy logs with reused ids read correctly."""
    from d6tstack_spark.plans.checkpoint import delete_keys, load_snapshots

    paths, sd, src = state
    r1 = delete_where(spark, sd, "turn_idx = 0")
    purge_deletes(spark, sd)
    n_after_purge = decode_state(spark, sd).count()
    assert n_after_purge == src.filter("turn_idx <> 0").count()

    r2 = delete_where(spark, sd, "turn_idx = 1")
    assert r2["tombstone_id"] > r1["tombstone_id"]
    want = _rows(src.filter("turn_idx NOT IN (0, 1)"))
    assert _rows(decode_state(spark, sd)) == want  # pending delete applies

    # keys kind: the retired/keys/<id> slot must stay unique per owner
    purge_deletes(spark, sd)
    keys = spark.createDataFrame([("a0005",)], "conv_id string")
    r3 = delete_keys(spark, sd, keys)
    assert r3["tombstone_id"] > r2["tombstone_id"]
    snap = load_snapshots(sd)[-1]["id"]
    purge_deletes(spark, sd)
    want_keys = _rows(
        src.filter("turn_idx NOT IN (0, 1) AND conv_id <> 'a0005'")
    )
    assert _rows(decode_state(spark, sd)) == want_keys
    # time travel AT the keys-tombstone snapshot resolves ITS key set
    # (not a previous owner of a reused retired/keys slot)
    assert _rows(decode_state(spark, sd, snapshot=snap)) == want_keys


def test_mixed_scoped_and_unscoped_tombstones_keep_scoping(spark, state):
    """Review regression: an unscoped tombstone (crash between
    deletes.json and the snapshot record) used to globalize EVERY
    pending tombstone on live reads — rows legally appended after a
    scoped delete vanished until purge. The unscoped one applies
    globally; the scoped one keeps its sequence scope."""
    import json
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    paths, sd, src = state
    delete_where(spark, sd, "turn_idx = 0")  # scoped (snapshot record)
    # append a file whose turn_idx=0 rows postdate the delete (exempt)
    n = 60
    tbl = pa.table(
        {
            "conv_id": pa.array([f"z{j // 6:04d}" for j in range(n)]),
            "turn_idx": pa.array([j % 6 for j in range(n)], pa.int32()),
            "text": pa.array([f"late {j}" for j in range(n)]),
            "tool": pa.array(["tz"] * n),
        }
    )
    late = os.path.join(os.path.dirname(paths[0]), "late.parquet")
    pq.write_table(tbl, late)
    encode_resume(spark, paths + [late], sd, order_cols=("conv_id", "turn_idx"))
    # plant an UNSCOPED tombstone (no snapshot record)
    dp = os.path.join(sd, "deletes.json")
    items = json.load(open(dp))
    items.append({"id": 999, "where": "tool = 't2'", "ts": 0})
    json.dump(items, open(dp, "w"))

    got = _rows(decode_state(spark, sd))
    late_src = spark.read.parquet(late)
    want = _rows(
        src.filter("NOT coalesce(turn_idx = 0, false)")
        .filter("NOT coalesce(tool = 't2', false)")
    ) + _rows(late_src)  # late rows: exempt from scoped, tool='tz' != 't2'
    want.sort()
    assert got == want
