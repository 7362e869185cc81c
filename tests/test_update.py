"""Row-level UPDATE over encoded state dirs (plans.maintenance.update_where):
SQL semantics (TRUE-only matching, simultaneous SET evaluation against the
pre-update row), zone-targeted file rewrite, journaled crash recovery, and
time-travel / changelog interplay.

Reference analog: d6tstack mutates stacked output only by re-running the
whole ingest (combine_csv.py); update_where is the targeted-rewrite version
of that contract at block granularity."""

from __future__ import annotations

import glob
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import d6tstack_spark.plans.maintenance as maintenance
from d6tstack_spark.plans.checkpoint import (
    decode_state,
    decode_state_diff,
    delete_where,
    encode_resume,
    load_snapshots,
)
from d6tstack_spark.plans.maintenance import update_where
from test_deletes import _rewritten_blocks

pytestmark = pytest.mark.usefixtures("no_persisted_rdds")


def _mk_files(tmp_path, prefixes=("a", "b", "c"), n=1200):
    """One sorted parquet file per conv-id prefix → disjoint zone ranges,
    so a prefix-targeted update affects exactly one file's blocks."""
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


def _expected(src, set_sql: str, where: str):
    """Oracle: the same UPDATE expressed as a SELECT over the source."""
    return src.selectExpr(
        *[
            f"CASE WHEN coalesce(({where}), false) THEN ({e}) "
            f"ELSE {c} END AS {c}"
            if (e := set_sql.get(c)) is not None
            else c
            for c in src.columns
        ]
    )


def test_update_targets_only_qualifying_files(spark, state):
    paths, sd, src = state
    pred = "conv_id >= 'b0050' AND conv_id < 'b0100'"
    rep = update_where(
        spark, sd, {"text": "upper(text)"}, pred
    )
    assert rep["matched"] == src.filter(pred).count() > 0
    # zone targeting: only the 'b' file's blocks qualify
    assert 0 < rep["files_rewritten"] < rep["files_scanned"]
    want = _rows(_expected(src, {"text": "upper(text)"}, pred))
    assert _rows(decode_state(spark, sd)) == want


def test_update_encodes_rewritten_slice_once(spark, state, local_encode_rows):
    paths, sd, src = state
    pred = "conv_id >= 'b0050' AND conv_id < 'b0100'"
    rep = update_where(spark, sd, {"text": "upper(text)"}, pred)
    n_rewritten = sum(_rewritten_blocks(spark, sd).values())
    assert rep["matched"] < n_rewritten < src.count()
    assert local_encode_rows.value == n_rewritten


def test_update_null_predicate_rows_unchanged(spark, state):
    paths, sd, src = state
    # tool IS NULL on 1/5 of rows: WHERE tool='t1' is NULL there → no-op
    pred = "tool = 't1'"
    update_where(spark, sd, {"text": "'redacted'"}, pred)
    dec = decode_state(spark, sd)
    assert dec.filter("tool IS NULL AND text = 'redacted'").count() == 0
    assert (
        dec.filter("text = 'redacted'").count()
        == src.filter(pred).count()
    )


def test_update_set_is_simultaneous(spark, state):
    paths, sd, src = state
    pred = "conv_id < 'a0010'"
    # SET text = tool, tool = text must SWAP (evaluate pre-update row)
    update_where(spark, sd, {"text": "tool", "tool": "text"}, pred)
    got = _rows(decode_state(spark, sd))
    want = _rows(_expected(src, {"text": "tool", "tool": "text"}, pred))
    assert got == want


def test_update_casts_to_stored_type(spark, state):
    paths, sd, src = state
    pred = "turn_idx = 5"
    # int32 column updated with an int arithmetic expr stays int32
    rep = update_where(spark, sd, {"turn_idx": "turn_idx * 10"}, pred)
    assert rep["matched"] == src.filter(pred).count()
    dec = decode_state(spark, sd)
    assert dict(dec.dtypes)["turn_idx"] == "int"
    assert dec.filter("turn_idx = 50").count() == src.filter(pred).count()
    assert dec.filter("turn_idx = 5").count() == 0


def test_update_matching_nothing_rewrites_nothing(spark, state):
    paths, sd, src = state
    before = sorted(glob.glob(os.path.join(sd, "blocks", "*.parquet")))
    rep = update_where(
        spark, sd, {"text": "'x'"}, "conv_id = 'zzz-nope'"
    )
    assert rep["matched"] == 0 and rep["files_rewritten"] == 0
    after = sorted(glob.glob(os.path.join(sd, "blocks", "*.parquet")))
    assert before == after
    assert _rows(decode_state(spark, sd)) == _rows(src)


def test_update_validates_eagerly(spark, state):
    paths, sd, _ = state
    with pytest.raises(ValueError, match="SET columns"):
        update_where(spark, sd, {"nope": "1"}, "turn_idx = 0")
    with pytest.raises(Exception, match="no_such_column|UNRESOLVED"):
        update_where(spark, sd, {"text": "'x'"}, "no_such_column = 1")
    with pytest.raises(Exception, match="bad_ref|UNRESOLVED"):
        update_where(spark, sd, {"text": "bad_ref"}, "turn_idx = 0")
    with pytest.raises(ValueError, match="empty"):
        update_where(spark, sd, {}, "turn_idx = 0")


def test_update_refuses_pending_tombstones(spark, state):
    paths, sd, _ = state
    delete_where(spark, sd, "conv_id < 'a0005'")
    with pytest.raises(ValueError, match="pending delete tombstones"):
        update_where(spark, sd, {"text": "'x'"}, "turn_idx = 0")


def test_update_records_rewrite_snapshot_and_time_travel(spark, state):
    paths, sd, src = state
    pre = load_snapshots(sd)[-1]["id"]
    pred = "conv_id >= 'c' "
    update_where(spark, sd, {"text": "concat(text, '!')"}, pred)
    recs = load_snapshots(sd)
    assert recs[-1]["op"] == "rewrite" and recs[-1]["id"] > pre
    # time travel: the pre-update snapshot still reads original values
    assert _rows(decode_state(spark, sd, snapshot=pre)) == _rows(src)
    # changelog across the update: each updated row is delete+insert
    diff = decode_state_diff(spark, sd, since=pre, changelog=True)
    n = src.filter(pred).count()
    assert diff.filter("_change = 'delete'").count() == n
    assert diff.filter("_change = 'insert'").count() == n
    assert (
        diff.filter("_change = 'insert' AND text LIKE '%!'").count() == n
    )


def test_update_crash_mid_commit_rolls_forward(spark, state):
    paths, sd, src = state
    pred = "conv_id >= 'b' AND conv_id < 'c'"
    maintenance._TEST_CRASH_AFTER_ADOPTS = 0
    try:
        with pytest.raises(RuntimeError, match="crash drill"):
            update_where(spark, sd, {"text": "upper(text)"}, pred)
    finally:
        maintenance._TEST_CRASH_AFTER_ADOPTS = None
    # journal is the commit point: readers refuse rather than guess
    assert os.path.exists(os.path.join(sd, "purge_commit.json"))
    with pytest.raises(RuntimeError, match="in-flight purge commit"):
        decode_state(spark, sd)
    # any writer entry point rolls the commit forward — the journaled
    # update is already decided, so the replayed state shows it applied
    rep = maintenance.purge_deletes(spark, sd)
    assert rep["replayed_journal"]
    want = _rows(_expected(src, {"text": "upper(text)"}, pred))
    assert _rows(decode_state(spark, sd)) == want
    # and resume still treats the rewritten splits as complete
    rep2 = encode_resume(spark, paths, sd, order_cols=("conv_id", "turn_idx"))
    assert rep2["already_complete"]


def test_upsert_frame_replaces_and_inserts(spark, state):
    from pyspark.sql import functions as F

    from d6tstack_spark.plans.maintenance import upsert_frame

    paths, sd, src = state
    # re-deliver conv a0003 with different text + a brand-new conv
    delivery = src.filter("conv_id = 'a0003'").withColumn(
        "text", F.lit("v2")
    )
    new_rows = src.filter("conv_id = 'a0001'").withColumn(
        "conv_id", F.lit("z9999")
    )
    rep = upsert_frame(spark, sd, delivery.unionByName(new_rows))
    assert rep["n_keys"] == 2
    assert os.path.isdir(rep["staged"])
    dec = decode_state(spark, sd)
    n_after_first = dec.count()  # materialize BEFORE the next rewrite
    assert n_after_first == src.count() + new_rows.count()
    assert dec.filter("conv_id = 'a0003'").count() == 6
    assert dec.filter("conv_id = 'a0003' AND text = 'v2'").count() == 6
    assert dec.filter("conv_id = 'z9999'").count() == 6
    # second delivery replaces again (fresh staging path each time)
    rep2 = upsert_frame(
        spark, sd, delivery.withColumn("text", F.lit("v3"))
    )
    assert rep2["staged"] != rep["staged"]
    dec2 = decode_state(spark, sd)
    assert dec2.filter("conv_id = 'a0003' AND text = 'v3'").count() == 6
    assert dec2.count() == n_after_first


def test_update_then_append_then_update(spark, state, tmp_path):
    """Updates interleave with appends; later updates see appended rows."""
    paths, sd, src = state
    update_where(spark, sd, {"text": "upper(text)"}, "conv_id < 'a0002'")
    extra = _mk_files(tmp_path / "more", prefixes=("d",), n=600)
    encode_resume(spark, paths + extra, sd, order_cols=("conv_id", "turn_idx"))
    rep = update_where(
        spark, sd, {"text": "'seen'"}, "conv_id >= 'd' AND turn_idx = 0"
    )
    d_src = spark.read.parquet(*extra)
    assert rep["matched"] == d_src.filter("turn_idx = 0").count() > 0
    dec = decode_state(spark, sd)
    assert (
        dec.filter("conv_id >= 'd' AND text = 'seen'").count()
        == rep["matched"]
    )
    assert dec.count() == src.count() + d_src.count()
