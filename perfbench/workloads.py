"""The benchmark's workloads. Each one makes its inputs from the seed
(``prepare_inputs``, cached, outside set-up), builds what its operations
start from (``setup``, inside ``setup_s``), lists the closed loop's steps
(``once``, run first, then ``steps``, cycled; each step times one or more
operations through ``ctx.op``; classes are ``WRITES`` and ``READS``),
checks every output against a model built from the raw inputs outside the
timed region (``verify``) and, in the traced run only, takes the per-layer
probes (``trace_extras``).

Engine calls go through the module objects (``checkpoint.decode_state``,
not a from-import) so that the traced run's spans see them.
"""

from __future__ import annotations

import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from d6tstack_spark import datagen
from d6tstack_spark.operators import encode as enc_ops
from d6tstack_spark.operators import sinks
from d6tstack_spark.plans import checkpoint, maintenance

from harness import Context, median

COLUMNS = ("conv_id", "turn_idx", "role", "text", "tool", "ts")
# parquet layout of every generated input, as datagen.write_transcripts
ROW_GROUP_ROWS = 8192
CACHE_KEEP = 24  # cached input files kept (oldest evicted)


# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------


def write_table(tbl: pa.Table, path: str) -> str:
    pq.write_table(tbl, path, compression="snappy", row_group_size=ROW_GROUP_ROWS)
    return path


def cached_transcripts(ctx: Context, n_turns: int, seed: int) -> str:
    """datagen transcripts of ``n_turns`` for ``seed``, cached by
    (size, seed); written under a temporary name and renamed, so a killed
    run never leaves a truncated input behind."""
    os.makedirs(ctx.cache, exist_ok=True)
    path = os.path.join(ctx.cache, f"transcripts_n{n_turns}_seed{seed}.parquet")
    if os.path.exists(path):
        os.utime(path)
        return path
    tmp = f"{path}.{os.getpid()}.tmp"
    write_table(datagen.gen_transcripts(n_turns, seed), tmp)
    os.replace(tmp, path)
    cached = sorted(
        (os.path.join(ctx.cache, f) for f in os.listdir(ctx.cache)
         if f.endswith(".parquet")),
        key=os.path.getmtime,
    )
    for old in cached[:-CACHE_KEEP]:
        os.remove(old)
    return path


def checksum(df, cols) -> tuple[int, int | None]:
    """(row count, order-independent checksum) of ``df`` over ``cols``:
    sum of xxhash64 of the string forms, so both sides of a comparison may
    carry different but equivalent physical types."""
    h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
    r = df.agg(F.count(F.lit(1)).alias("n"),
               F.sum(h.cast("decimal(38,0)")).alias("h")).first()
    return int(r["n"]), (None if r["h"] is None else int(r["h"]))


def tree_bytes(root: str, suffix: str = "") -> tuple[int, int]:
    """(files, bytes) under ``root``, skipping Hadoop's local ``.crc``
    sidecars (an artefact of the local file system, absent on HDFS/S3)."""
    n = b = 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".crc") or not f.endswith(suffix):
                continue
            n += 1
            b += os.path.getsize(os.path.join(d, f))
    return n, b


def _state_files(state_dir: str) -> dict[str, int]:
    """blocks file -> table rows it holds (trace-mode purge accounting)."""
    out = {}
    bdir = os.path.join(state_dir, "blocks")
    for f in os.listdir(bdir):
        if f.endswith(".parquet"):
            t = pq.read_table(os.path.join(bdir, f), columns=["column", "n_rows"])
            cols = len(set(t.column("column").to_pylist())) or 1
            out[f] = int(pc.sum(t.column("n_rows")).as_py() or 0) // cols
    return out


# ---------------------------------------------------------------------------
# bulk_ingest
# ---------------------------------------------------------------------------


class BulkIngest:
    """Scan-fused encode -> write_blocks, then a full bulk-decode scan."""

    WRITES = ("encode",)
    READS = ("decode",)
    N_TURNS = 120_000

    def prepare_inputs(self, ctx: Context) -> None:
        self.src = cached_transcripts(ctx, self.N_TURNS, ctx.seed)
        self.out = ctx.path("blocks")
        self.decoded_counts: list[tuple[int, int]] = []

    def _encode(self) -> dict:
        blocks, manifest = enc_ops.encode_parquet_files(self.spark, [self.src])
        sinks.write_blocks(blocks, self.out)
        return manifest

    def _decode(self) -> int:
        return enc_ops.decode_parquet_blocks(self.spark, self.out, self.manifest).count()

    def setup(self, ctx: Context) -> None:
        self.spark = ctx.spark
        # untimed warm-up passes: after only one, the first timed pass still
        # ran about 15 % slower than the rest
        for _ in range(2):
            self.manifest = self._encode()
            self._decode()

    def _pass(self, ctx: Context) -> None:
        _, m = ctx.op("encode", self._encode)
        if m is not None:
            self.manifest = m
        op_id, n = ctx.op("decode", self._decode)
        if n is not None:
            self.decoded_counts.append((op_id, n))

    def once(self, ctx: Context) -> list:
        return []

    def steps(self, ctx: Context) -> list:
        return [lambda: self._pass(ctx)]

    def verify(self, ctx: Context) -> None:
        n_src = pq.ParquetFile(self.src).metadata.num_rows
        for op_id, n in self.decoded_counts:
            ctx.check(op_id, n == n_src, f"decode returned {n} rows, source has {n_src}")
        want = checksum(ctx.spark.read.parquet(self.src), COLUMNS)
        got = checksum(
            enc_ops.decode_parquet_blocks(ctx.spark, self.out, self.manifest), COLUMNS
        )
        last = max((o["id"] for o in ctx.ops if o["cls"] == "decode"), default=0)
        ctx.check(last, got == want, f"decoded checksum {got} != source {want}")
        _, blocks_bytes = tree_bytes(self.out, ".parquet")
        src_bytes = os.path.getsize(self.src)
        ctx.size_ratio = blocks_bytes / src_bytes
        ctx.report.update({
            "n_turns": n_src,
            "size_vs_parquet": ctx.size_ratio,
            "encode_turns_per_s": n_src / _class_median(ctx, "encode"),
            "decode_turns_per_s": n_src / _class_median(ctx, "decode"),
        })

    def trace_extras(self, ctx: Context) -> None:
        import probes

        # encode to a sink that writes nothing: the encode job alone
        noop = []
        for _ in range(2):
            t0 = time.perf_counter()
            blocks, _ = enc_ops.encode_parquet_files(ctx.spark, [self.src])
            blocks.write.format("noop").mode("overwrite").save()
            noop.append(time.perf_counter() - t0)
        job_s = median(noop)
        files, nbytes = tree_bytes(self.out, ".parquet")
        ctx.layer.update({
            "encode.job_s": job_s,
            "sinks.write_s": max(_class_median(ctx, "encode") - job_s, 0.0),
            "sinks.files_written": files,
            "sinks.bytes_written": nbytes,
        })
        probes.blocks_ratios(ctx, ctx.spark.read.parquet(self.out))
        probes.codec_probes(ctx, self.src)


def _class_median(ctx: Context, cls: str) -> float:
    xs = ctx.samples.get(cls)
    return median(xs) if xs else float("nan")


# ---------------------------------------------------------------------------
# table_ops
# ---------------------------------------------------------------------------

_RANGE_SPELLINGS = (
    "TIMESTAMP '{}'",
    "timestamp'{}'",
    "CAST('{}' AS TIMESTAMP)",
)


class TableOps:
    """One write round (append, upsert, delete+purge) on a state dir, then
    point, range and scan reads of the state it left, every read checked
    against a model of the writes."""

    WRITES = ("append", "upsert", "delete")
    READS = ("point", "range", "scan")
    BASE_TURNS = 60_000
    FILE_TURNS = 5_000  # turns in the appended and in the upserted file
    POOL = 3  # reads of each class in one rotation
    HOT = 3  # datagen's hot conversations: its three lowest ids, ~10% of turns

    def prepare_inputs(self, ctx: Context) -> None:
        self.base = cached_transcripts(ctx, self.BASE_TURNS, ctx.seed)
        self.models = [pq.read_table(self.base)]  # one per write applied
        self.state = ctx.path("state")
        self.inputs = ctx.path("inputs")
        os.makedirs(self.inputs)
        self.rng = np.random.default_rng([ctx.seed, 2])
        ids = sorted(pc.unique(self.model.column("conv_id")).to_pylist())
        self.hot, self.cold = ids[:self.HOT], ids[self.HOT:]
        self._round_inputs(ctx)
        self.reads = self._read_pool()
        # (op id, read index, model version read, result)
        self.results: list[tuple[int, int, int, tuple]] = []
        self.purges: list[dict] = []

    # -- inputs (generated outside every timed op) --------------------------
    def _read_pool(self) -> list[tuple]:
        """POOL reads of each class, interleaved. Point reads go to base
        conversations the writes leave alone: the first to one of datagen's
        hot ones (Zipf, clipped to the three), the others to Zipf-ranked
        keys over a seeded shuffle of the rest. Every base file's conv_id
        bounds span nearly the whole id range (the base is in ts order), so
        those keys keep nearly every base file. The hot ones are the lowest
        ids and keep one to three base files, depending on the seed; with
        one of the three reads on them, the class median is still a
        full-footprint read."""
        rng = self.rng
        rest = [c for c in self.cold if c not in self.touched]
        order = rng.permutation(len(rest))
        ranks = np.minimum(rng.zipf(1.3, size=self.POOL) - 1, len(rest) - 1)
        ranks[0] = min(ranks[0], self.HOT - 1)
        keys = [self.hot[ranks[0]]] + [rest[order[r]] for r in ranks[1:]]
        hours = rng.integers(0, 30 * 24, size=self.POOL)
        reads = []
        for i in range(self.POOL):
            reads.append(("point", f"conv_id = '{keys[i]}'", None))
            lo = np.datetime64("2026-01-01T00:00:00") + np.timedelta64(int(hours[i]), "h")
            lo_s, hi_s = (str(x).replace("T", " ") for x in (lo, lo + np.timedelta64(1, "h")))
            spell = _RANGE_SPELLINGS[i % len(_RANGE_SPELLINGS)]
            reads.append(("range", f"ts >= {spell.format(lo_s)} AND ts < {spell.format(hi_s)}", None))
            reads.append(("scan", "role = 'tool'", ["conv_id", "turn_idx", "ts"]))
        return reads

    def _round_inputs(self, ctx: Context) -> None:
        """An append file with fresh conv ids, an upsert file whose
        conversations take the ids of base conversations (never a hot one),
        and the delete's victim, another such base conversation. Like
        every base conversation, the victim lies within nearly every base
        file's conv_id bounds."""
        rng = self.rng
        app = datagen.gen_transcripts(self.FILE_TURNS, seed=int(rng.integers(1 << 31)))
        self.app = app.set_column(
            0, "conv_id", pc.replace_substring(app.column("conv_id"), "conv-", "a000-")
        )
        ups = datagen.gen_transcripts(self.FILE_TURNS, seed=int(rng.integers(1 << 31)))
        new_ids = pc.unique(ups.column("conv_id"))
        picks = rng.choice(len(self.cold), size=len(new_ids) + 1, replace=False)
        self.targets = pa.array(sorted(self.cold[i] for i in picks[1:]))
        self.ups = ups.set_column(
            0, "conv_id", pc.take(self.targets, pc.index_in(ups.column("conv_id"), new_ids))
        )
        self.victim = self.cold[picks[0]]
        self.touched = set(self.targets.to_pylist()) | {self.victim}
        self.app_path = write_table(self.app, os.path.join(self.inputs, "append.parquet"))
        self.ups_path = write_table(self.ups, os.path.join(self.inputs, "upsert.parquet"))

    # -- operations ---------------------------------------------------------
    def _read(self, where: str, cols):
        df = checkpoint.decode_state(self.spark, self.state, columns=cols, where=where)
        return checksum(df, cols or COLUMNS)

    def _delete(self, where: str) -> dict:
        checkpoint.delete_where(self.spark, self.state, where)
        return maintenance.purge_deletes(self.spark, self.state)

    def setup(self, ctx: Context) -> None:
        self.spark = ctx.spark
        ctx.report["state_build"] = checkpoint.encode_resume(ctx.spark, [self.base], self.state)
        for cls in self.READS:  # untimed warm-up read of each class
            _, where, cols = next(r for r in self.reads if r[0] == cls)
            self._read(where, cols)

    def _append(self, ctx: Context) -> None:
        ctx.op("append", checkpoint.encode_resume, self.spark,
               [self.base, self.app_path], self.state)
        self.models.append(pa.concat_tables([self.model, self.app]))

    def _upsert(self, ctx: Context) -> None:
        before = _state_files(self.state) if ctx.trace else None
        _, rep = ctx.op("upsert", maintenance.upsert_files, self.spark, self.state,
                        [self.ups_path])
        if ctx.trace and rep is not None:
            self._purge_account(before, rep["replaced"])
        keep = pc.invert(pc.is_in(self.model.column("conv_id"), value_set=self.targets))
        self.models.append(pa.concat_tables([self.model.filter(keep), self.ups]))

    def _delete_victim(self, ctx: Context) -> None:
        before = _state_files(self.state) if ctx.trace else None
        _, rep = ctx.op("delete", self._delete, f"conv_id = '{self.victim}'")
        if ctx.trace and rep is not None:
            self._purge_account(before, rep)
        self.models.append(
            self.model.filter(pc.not_equal(self.model.column("conv_id"), self.victim)))

    @property
    def model(self) -> pa.Table:
        """The model of the table as the writes so far have left it."""
        return self.models[-1]

    def _purge_account(self, before: dict, rep: dict) -> None:
        after = set(_state_files(self.state))
        self.purges.append({
            "files_before": len(before),
            "files_rewritten": int(rep.get("files_rewritten", 0)),
            "files_scanned": int(rep.get("files_scanned", 0)),
            "rows_rewritten": sum(n for f, n in before.items() if f not in after),
            "purged_rows": int(rep.get("purged_rows", 0)),
        })

    def _read_step(self, ctx: Context, i: int) -> None:
        cls, where, cols = self.reads[i]
        op_id, res = ctx.op(cls, self._read, where, cols)
        if res is not None:
            self.results.append((op_id, i, len(self.models) - 1, res))

    def once(self, ctx: Context) -> list:
        """The write round, each write followed by one read of each class
        of the state it left. Spreading every class's samples over the
        whole round, rather than bunching the reads after it, keeps a
        burst of host contention (seconds to tens of seconds on a shared
        machine) from landing on all of them."""
        out, n = [], len(self.READS)
        for k, write in enumerate((self._append, self._upsert, self._delete_victim)):
            out.append(lambda write=write: write(ctx))
            out += [lambda i=i: self._read_step(ctx, i) for i in range(k * n, (k + 1) * n)]
        return out

    def steps(self, ctx: Context) -> list:
        """Further reads of the final state, while run time remains."""
        return [lambda i=i: self._read_step(ctx, i) for i in range(len(self.reads))]

    # -- checks -------------------------------------------------------------
    def verify(self, ctx: Context) -> None:
        last_v = len(self.models) - 1
        paths = {v: write_table(self.models[v], ctx.path(f"model-{v}.parquet"))
                 for v in {v for _, _, v, _ in self.results} | {last_v}}
        reads = {(i, v) for _, i, v, _ in self.results}
        if ctx.trace:  # the zone probes explain every read on the final state
            reads |= {(i, last_v) for i in range(len(self.reads))}
        want = self._expected(ctx, paths, sorted(reads))
        self.final_rows = {i: n for (i, v), (n, _) in want.items()
                           if v == last_v and i is not None}
        for op_id, i, v, got in self.results:
            where = self.reads[i][1]
            ctx.check(op_id, got == want[i, v],
                      f"read {where!r} after {v} writes: {got} != model {want[i, v]}")
        got = checksum(checkpoint.decode_state(ctx.spark, self.state), COLUMNS)
        final = want[None, last_v]
        last = max((o["id"] for o in ctx.ops if o["cls"] in self.WRITES), default=0)
        ctx.check(last, got == final, f"table after writes {got} != model {final}")
        _, state_bytes = tree_bytes(self.state)
        ctx.size_ratio = state_bytes / os.path.getsize(paths[last_v])
        ctx.report.update({f"{c}_s": _class_median(ctx, c) for c in self.WRITES})
        ctx.report.update({f"{c}_read_s": _class_median(ctx, c) for c in self.READS})
        ctx.report.update({
            "live_rows": self.model.num_rows,
            "stored_bytes_per_live_byte": state_bytes / self.model.nbytes,
            "rows_returned": {self.reads[i][1]: res[0] for _, i, _, res in self.results},
        })

    def _expected(self, ctx: Context, paths: dict, reads: list[tuple[int, int]]) -> dict:
        """checksum() of each (read, model version)'s predicate and
        projection, and (key (None, last version)) of the whole final
        table, in one Spark job."""
        def hashed(df, cols, key: int):
            h = F.xxhash64(*[F.col(c).cast("string") for c in cols])
            return df.select(F.lit(key).alias("q"), h.alias("h"))

        last_v = max(paths)
        raw = {v: ctx.spark.read.parquet(p) for v, p in paths.items()}
        keys = {-1: (None, last_v)}
        u = hashed(raw[last_v], COLUMNS, -1)
        for k, (i, v) in enumerate(reads):
            _, where, cols = self.reads[i]
            keys[k] = (i, v)
            u = u.unionAll(hashed(raw[v].where(where), cols or COLUMNS, k))
        rows = u.groupBy("q").agg(
            F.count(F.lit(1)).alias("n"), F.sum(F.col("h").cast("decimal(38,0)")).alias("h")
        ).collect()
        out = {key: (0, None) for key in keys.values()}
        out.update({keys[r["q"]]: (int(r["n"]), int(r["h"])) for r in rows})
        return out

    def trace_extras(self, ctx: Context) -> None:
        import probes

        probes.zone_probes(ctx, self.state, [
            (cls, where, cols, self.final_rows.get(i, 0))
            for i, (cls, where, cols) in enumerate(self.reads)
        ])
        probes.state_probes(ctx, self.state)
        probes.purge_metrics(ctx, self.purges)
        probes.codec_probes(ctx, self.base)


WORKLOADS = {"bulk_ingest": BulkIngest, "table_ops": TableOps}
