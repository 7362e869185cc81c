"""cluster_blocks: the OPTIMIZE/sort-rewrite maintenance action. A state
dir ingested in time order re-sorts on a different key; zone maps become
selective on that key, decode stays bit-equal, resume bookkeeping still
treats every source split as complete, and the journaled commit recovers
from a mid-apply crash. Mirrors Iceberg's rewrite_data_files(sort) for
the reference's ingest output (combine_csv.py one-parquet-per-CSV)."""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

import d6tstack_spark.plans.maintenance as maintenance
from d6tstack_spark.operators.encode import _hadoop_list_files
from d6tstack_spark.plans.checkpoint import (
    decode_state,
    delete_where,
    encode_resume,
    load_manifest,
)
from d6tstack_spark.plans.maintenance import cluster_blocks, purge_deletes

pytestmark = pytest.mark.usefixtures("no_persisted_rdds")


def _mk_time_ordered(tmp_path, n_files=3, n=1200):
    """Files ordered by ts; conv_ids cycle across the whole range, so
    every file's conv_id zone range spans everything (worst case for
    conv_id pruning before clustering)."""
    paths = []
    for i in range(n_files):
        rows = range(i * n, (i + 1) * n)
        tbl = pa.table(
            {
                "ts": pa.array([j * 1000 for j in rows], pa.int64()),
                "conv_id": pa.array([f"c{j % 40:03d}" for j in rows]),
                "turn_idx": pa.array([j for j in rows], pa.int32()),
                "text": pa.array([f"msg {j}" for j in rows]),
            }
        )
        p = str(tmp_path / f"src_{i}.parquet")
        pq.write_table(tbl, p, row_group_size=300)
        paths.append(p)
    return paths


def _key(df):
    return sorted(
        (r.ts, r.conv_id, r.turn_idx, r.text)
        for r in df.select("ts", "conv_id", "turn_idx", "text").collect()
    )


@pytest.fixture()
def state(spark, tmp_path):
    paths = _mk_time_ordered(tmp_path)
    sd = str(tmp_path / "state")
    encode_resume(
        spark, paths, sd, order_cols=("ts",), checkpoint_every=1
    )  # one commit per split → many files
    return sd, paths


def _qualifying_files(spark, sd, conv):
    """Files whose conv_id zone range could contain ``conv`` (the
    driver-level pruning decision)."""
    bd = os.path.join(sd, "blocks")
    stats = spark.read.parquet(*_hadoop_list_files(spark, bd, ".parquet"))
    key = conv.encode()
    return (
        stats.filter(F.col("column") == "conv_id")
        .filter(
            (F.col("vmin_str") <= F.lit(key))
            & (F.coalesce(F.col("vmax_str") >= F.lit(key), F.lit(True)))
        )
        .select(F.input_file_name())
        .distinct()
        .count()
    )


def test_cluster_preserves_rows_and_improves_pruning(spark, state):
    sd, paths = state
    before = _key(decode_state(spark, sd))
    n_files_before = len(
        _hadoop_list_files(spark, os.path.join(sd, "blocks"), ".parquet")
    )
    assert _qualifying_files(spark, sd, "c007") == n_files_before  # worst case
    rep = cluster_blocks(spark, sd, cluster_by=("conv_id", "turn_idx"))
    assert rep["rows"] == len(before)
    assert _key(decode_state(spark, sd)) == before
    # after range-clustering a point conv_id lives in few files
    assert _qualifying_files(spark, sd, "c007") < n_files_before / 2
    got = decode_state(spark, sd, where="conv_id = 'c007'")
    assert _key(got) == [t for t in before if t[1] == "c007"]


def test_cluster_encodes_every_row_once(spark, state, local_encode_rows):
    sd, paths = state
    rep = cluster_blocks(spark, sd, cluster_by=("conv_id", "turn_idx"))
    assert rep["rows"] == 3600
    assert local_encode_rows.value == rep["rows"]


def test_cluster_refuses_pending_tombstones(spark, state):
    sd, _ = state
    delete_where(spark, sd, "conv_id = 'c001'", count_matches=False)
    with pytest.raises(ValueError, match="pending delete tombstones"):
        cluster_blocks(spark, sd, cluster_by=("conv_id",))
    purge_deletes(spark, sd, order_cols=("ts",))
    rep = cluster_blocks(spark, sd, cluster_by=("conv_id", "turn_idx"))
    assert rep["rows"] > 0


def test_resume_skips_all_sources_after_cluster(spark, state, tmp_path):
    sd, paths = state
    before = _key(decode_state(spark, sd))
    cluster_blocks(spark, sd, cluster_by=("conv_id", "turn_idx"))
    # re-passing the originals: everything skips, nothing resurrects
    s = encode_resume(spark, paths, sd, order_cols=("ts",))
    assert s["already_complete"]
    assert _key(decode_state(spark, sd)) == before
    # a genuinely new append lands (unclustered) and decodes alongside
    extra = str(tmp_path / "late.parquet")
    pq.write_table(
        pa.table(
            {
                "ts": pa.array([10**9], pa.int64()),
                "conv_id": pa.array(["zzz"]),
                "turn_idx": pa.array([0], pa.int32()),
                "text": pa.array(["late"]),
            }
        ),
        extra,
    )
    encode_resume(spark, paths + [extra], sd, order_cols=("ts",))
    got = decode_state(spark, sd)
    assert got.count() == len(before) + 1
    assert got.filter("conv_id = 'zzz'").count() == 1


def test_cluster_crash_mid_apply_replays_forward(spark, state, monkeypatch):
    sd, paths = state
    before = _key(decode_state(spark, sd))
    monkeypatch.setattr(maintenance, "_TEST_CRASH_AFTER_ADOPTS", 1)
    with pytest.raises(RuntimeError, match="crash drill"):
        cluster_blocks(spark, sd, cluster_by=("conv_id", "turn_idx"))
    monkeypatch.setattr(maintenance, "_TEST_CRASH_AFTER_ADOPTS", None)
    # decode refuses mid-commit; any writer entry replays the journal
    with pytest.raises(RuntimeError, match="purge commit journal"):
        decode_state(spark, sd).collect()
    purge_deletes(spark, sd)  # replays the journal, no tombstones pending
    assert _key(decode_state(spark, sd)) == before


def test_cluster_clears_evolved_markers(spark, tmp_path):
    p1 = str(tmp_path / "g1.parquet")
    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array([f"a{j:04d}" for j in range(600)]),
                "turn_idx": pa.array([0] * 600, pa.int32()),
            }
        ),
        p1,
        row_group_size=200,
    )
    p2 = str(tmp_path / "g2.parquet")
    pq.write_table(
        pa.table(
            {
                "conv_id": pa.array([f"b{j:04d}" for j in range(600)]),
                "turn_idx": pa.array([1] * 600, pa.int32()),
                "score": pa.array([float(j % 9) for j in range(600)]),
            }
        ),
        p2,
        row_group_size=200,
    )
    sd = str(tmp_path / "state_e")
    encode_resume(spark, [p1], sd, order_cols=("conv_id",), checkpoint_every=0)
    encode_resume(
        spark, [p1, p2], sd, order_cols=("conv_id",), checkpoint_every=0
    )
    assert load_manifest(sd)["score"].get("evolved") is True
    exp = sorted(
        (r.conv_id, r.turn_idx, r.score)
        for r in decode_state(spark, sd).collect()
    )
    rep = cluster_blocks(spark, sd, cluster_by=("conv_id",))
    assert rep["evolved_markers_cleared"] == 1
    assert "evolved" not in load_manifest(sd)["score"]
    got = sorted(
        (r.conv_id, r.turn_idx, r.score)
        for r in decode_state(spark, sd).collect()
    )
    assert got == exp
    # with markers gone, IS NULL pruning is live again and still exact
    assert (
        decode_state(spark, sd, where="score IS NULL").count()
        == sum(1 for t in exp if t[2] is None)
    )


def _qualifying_files_num(spark, sd, col, v):
    """Files whose numeric zone range could contain ``v``."""
    bd = os.path.join(sd, "blocks")
    stats = spark.read.parquet(*_hadoop_list_files(spark, bd, ".parquet"))
    return (
        stats.filter(F.col("column") == col)
        .filter(
            (F.col("vmin_num") <= F.lit(float(v)))
            & (F.col("vmax_num") >= F.lit(float(v)))
        )
        .select(F.input_file_name())
        .distinct()
        .count()
    )


def test_zorder_clusters_prune_on_both_keys(spark, tmp_path):
    """Z-order (bit-interleave) layout: a 2-key workload prunes files on
    EITHER key — lexicographic sort only serves the first. Keys are
    independent (conv_id cycles, score random), the adversarial case for
    linear clustering."""
    import numpy as np

    n = 20_000
    rng = np.random.default_rng(11)
    tbl = pa.table(
        {
            "ts": pa.array(np.arange(n) * 1000, pa.int64()),
            "conv_id": pa.array([f"c{j % 64:03d}" for j in range(n)]),
            "score": pa.array(rng.permutation(n).astype("int64")),
            "text": pa.array([f"m{j}" for j in range(n)]),
        }
    )
    p = str(tmp_path / "src.parquet")
    pq.write_table(tbl, p, row_group_size=500)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p], sd, order_cols=("ts",), checkpoint_every=1)
    before = _key_z(spark, sd)
    rep = cluster_blocks(
        spark, sd, cluster_by=("conv_id", "score"), method="zorder",
        target_block_rows=1024, partitions=16,
    )
    assert rep["method"] == "zorder" and rep["rows"] == n
    assert _key_z(spark, sd) == before  # bit-equal rows, new layout
    n_files = len(
        _hadoop_list_files(spark, os.path.join(sd, "blocks"), ".parquet")
    )
    assert n_files >= 8
    # BOTH keys prune: a point slice on either key touches a minority of
    # files (lexicographic would leave the second key at 100%)
    qf_conv = _qualifying_files(spark, sd, "c007")
    qf_score = _qualifying_files_num(spark, sd, "score", 12345)
    assert qf_conv < n_files, (qf_conv, n_files)
    assert qf_score < n_files, (qf_score, n_files)
    assert qf_conv <= n_files * 0.75 and qf_score <= n_files * 0.75
    # and the user-facing slice decodes exactly
    got = decode_state(spark, sd, where="score = 12345")
    assert got.count() == 1


def _key_z(spark, sd):
    return sorted(
        (r.ts, r.conv_id, int(r.score), r.text)
        for r in decode_state(spark, sd).collect()
    )


def test_zorder_with_all_null_and_sparse_null_key(spark, tmp_path):
    """Review regression: approxQuantile returns an EMPTY list for an
    all-null cluster key (a just-evolved column), which crashed the
    (lo, hi) unpack; and per-row nulls fell into the TOP bucket because
    least/greatest skip nulls, against the NULLS-FIRST contract. The
    all-null key now contributes nothing, per-row nulls clamp to lo,
    and the clustered dir stays bit-equal."""
    n = 900
    tbl = pa.table(
        {
            "ts": pa.array([j * 1000 for j in range(n)], pa.int64()),
            "conv_id": pa.array([f"c{j % 40:03d}" for j in range(n)]),
            "turn_idx": pa.array(
                [None if j % 7 == 0 else j for j in range(n)],
                pa.int32(),
            ),
            "dead_col": pa.array([None] * n, pa.string()),
            "text": pa.array([f"msg {j}" for j in range(n)]),
        }
    )
    p = str(tmp_path / "src.parquet")
    pq.write_table(tbl, p, row_group_size=300)
    sd = str(tmp_path / "state")
    encode_resume(spark, [p], sd, order_cols=("ts",))
    src = spark.read.parquet(p)
    rep = cluster_blocks(
        spark, sd, cluster_by=("conv_id", "dead_col", "turn_idx"),
        method="zorder",
    )
    assert rep["files_after"] > 0
    got = decode_state(spark, sd)
    assert (
        got.exceptAll(src).count() + src.exceptAll(got).count() == 0
    )
