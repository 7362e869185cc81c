"""Traced-run probes of the layers that run inside executors (codec kernels,
selector, block framing), timed single-threaded in the driver on the first
splits of the workload's input, plus the read-only plan probes
(explain_decode, compression_rollup) and purge accounting."""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from d6tstack_spark.codecs import blocks as blk
from d6tstack_spark.codecs import kernels, selector
from d6tstack_spark.plans import explain
from d6tstack_spark.plans import metrics as plan_metrics

from harness import median
from workloads import COLUMNS, tree_bytes

STR_CODECS = ("plain", "dict", "rle", "fsst", "fsst2", "zstd")
INT_CODECS = ("plain", "dict", "rle", "for", "bitpack", "delta")
KERNEL_CODECS = ("plain", "dict", "rle", "for", "bitpack", "delta", "fsst", "fsst2", "zstd")
SPLITS = 3  # first splits probed (two row groups each, as the encoder plans)
REPEATS = 3


def _splits(src: str) -> list[dict]:
    """First SPLITS splits of ``src`` as physical columns:
    name -> (ptype, arrow array with nulls)."""
    f = pq.ParquetFile(src)
    out = []
    for i in range(0, min(2 * SPLITS, f.metadata.num_row_groups), 2):
        t = f.read_row_groups(range(i, min(i + 2, f.metadata.num_row_groups)))
        cols = {}
        for name in COLUMNS:
            arr = t.column(name).combine_chunks()
            if pa.types.is_timestamp(arr.type):
                cols[name] = ("i64", arr.cast(pa.timestamp("us")).cast(pa.int64()))
            elif pa.types.is_integer(arr.type):
                cols[name] = ("i32" if arr.type == pa.int32() else "i64", arr)
            else:
                cols[name] = ("str", arr.cast(pa.binary()))
        out.append(cols)
    return out


def _timed(fn, *args):
    ts, res = [], None
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        res = fn(*args)
        ts.append(time.perf_counter() - t0)
    return median(ts), res


def codec_probes(ctx, src: str) -> None:
    splits = _splits(src)
    out = ctx.layer

    # codecs.kernels: MB/s of raw column bytes, per codec, on the first split
    enc_t = {c: 0.0 for c in KERNEL_CODECS}
    dec_t = {c: 0.0 for c in KERNEL_CODECS}
    mb = {c: 0.0 for c in KERNEL_CODECS}
    for name, (ptype, arr) in splits[0].items():
        nn = arr.drop_null()
        if ptype == "str":
            for c in STR_CODECS:
                te, (payload, params) = _timed(kernels.encode_values_arrow, nn, ptype, c)
                td, _ = _timed(kernels.decode_values_arrow, payload, params, len(nn), ptype, c)
                enc_t[c] += te
                dec_t[c] += td
                mb[c] += nn.nbytes / 1e6
        else:
            vals = nn.to_numpy(zero_copy_only=False)
            for c in INT_CODECS:
                te, (payload, params) = _timed(kernels.encode_values, vals, ptype, c)
                td, _ = _timed(kernels.decode_values, payload, params, len(vals), ptype, c)
                enc_t[c] += te
                dec_t[c] += td
                mb[c] += vals.nbytes / 1e6
    for c in KERNEL_CODECS:
        out[f"kernels.{c}.enc_mb_s"] = mb[c] / enc_t[c] if enc_t[c] else 0.0
        out[f"kernels.{c}.dec_mb_s"] = mb[c] / dec_t[c] if dec_t[c] else 0.0

    # codecs.selector: decision time, and how often the pick is the smallest
    # encoding among valid_codecs
    choose_s, best, n = 0.0, 0, 0
    for cols in splits:
        for name, (ptype, arr) in cols.items():
            nn = arr.drop_null()
            if len(nn) == 0:
                continue
            vals = nn.to_numpy(zero_copy_only=False)
            t, pick = _timed(selector.choose_codec, vals, ptype)
            choose_s += t
            sizes = {}
            for c in kernels.valid_codecs(ptype):
                if ptype == "str":
                    payload, _ = kernels.encode_values_arrow(nn, ptype, c)
                else:
                    payload, _ = kernels.encode_values(vals, ptype, c)
                sizes[c] = len(payload)
            best += int(sizes.get(pick, float("inf")) <= min(sizes.values()))
            n += 1
    out["selector.choose_ms_per_colblock"] = 1e3 * choose_s / max(n, 1)
    out["selector.best_choice_frac"] = best / max(n, 1)

    # codecs.blocks: whole-block (all six columns) encode/decode, framing
    # and null bitmaps included
    enc_ms, dec_ms = [], []
    for cols in splits:
        te_sum = td_sum = 0.0
        for name, (ptype, arr) in cols.items():
            if ptype == "str":
                te, b = _timed(blk.encode_block_arrow, arr, ptype)
                td, _ = _timed(blk.decode_block_arrow, b.payload, b.params, b.codec,
                               b.n_rows, b.null_count, ptype)
            else:
                valid = np.asarray(arr.is_valid()) if arr.null_count else None
                vals = arr.fill_null(0).to_numpy(zero_copy_only=False)
                te, b = _timed(blk.encode_block, vals, valid, ptype)
                td, _ = _timed(blk.decode_block, b.payload, b.params, b.codec,
                               b.n_rows, b.null_count, ptype)
            te_sum += te
            td_sum += td
        enc_ms.append(1e3 * te_sum)
        dec_ms.append(1e3 * td_sum)
    out["blocks.encode_ms_per_block"] = median(enc_ms)
    out["blocks.decode_ms_per_block"] = median(dec_ms)


def blocks_ratios(ctx, blocks_df) -> None:
    """blocks.<column>.ratio (raw / encoded bytes) from compression_rollup."""
    raw: dict[str, int] = {}
    enc: dict[str, int] = {}
    for r in plan_metrics.compression_rollup(blocks_df).collect():
        raw[r["column"]] = raw.get(r["column"], 0) + int(r["raw_bytes"] or 0)
        enc[r["column"]] = enc.get(r["column"], 0) + int(r["enc_bytes"] or 0)
    for c in COLUMNS:
        ctx.layer[f"blocks.{c}.ratio"] = raw.get(c, 0) / enc[c] if enc.get(c) else 0.0


def state_probes(ctx, state_dir: str) -> None:
    bdir = os.path.join(state_dir, "blocks")
    blocks_ratios(ctx, ctx.spark.read.parquet(bdir))
    files, nbytes = tree_bytes(bdir, ".parquet")
    ctx.layer["sinks.files_written"] = files
    ctx.layer["sinks.bytes_written"] = nbytes


def zone_probes(ctx, state_dir: str, reads: list[tuple]) -> None:
    """zone.files_kept_frac.<cls> and zone.rows_scanned_per_row_returned.<cls>
    from explain_decode, averaged over the distinct reads of each class."""
    per: dict[str, list[tuple[float, float]]] = {}
    seen = set()
    for cls, where, cols, returned in reads:
        if (where, tuple(cols or ())) in seen:
            continue
        seen.add((where, tuple(cols or ())))
        e = explain.explain_decode(ctx.spark, state_dir, where=where, columns=cols)
        kept = e["files_after_zone"] / max(e["files_total"], 1)
        per.setdefault(cls, []).append((kept, e["est_rows_scanned"] / max(returned, 1)))
        ctx.report.setdefault("zone_dnf", {})[where] = e["zone_dnf"] is not None
    for cls, xs in per.items():
        ctx.layer[f"zone.files_kept_frac.{cls}"] = sum(k for k, _ in xs) / len(xs)
        ctx.layer[f"zone.rows_scanned_per_row_returned.{cls}"] = sum(r for _, r in xs) / len(xs)


def purge_metrics(ctx, purges: list[dict]) -> None:
    before = sum(p["files_before"] for p in purges)
    rewritten = sum(p["files_rewritten"] for p in purges)
    deleted = sum(p["purged_rows"] for p in purges)
    ctx.layer["maintenance.files_rewritten_frac"] = rewritten / before if before else 0.0
    ctx.layer["maintenance.rows_rewritten_per_row_deleted"] = (
        sum(p["rows_rewritten"] for p in purges) / deleted if deleted else 0.0
    )
    ctx.report["purges"] = purges
