"""The benchmark workloads: ``ingest`` (the write path) and ``serve`` (reads,
streaming appends and model predictions against a warehouse built in
set-up).

Each workload generates its inputs from the seed, calls only the engine's
public entry points, checks every operation's output against a reference made
during set-up, and returns one sample per timed operation. Sizes are scaled by
``ctx.scale`` (1.0 = the benchmark's size; the self-test uses a tiny scale).
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import shutil
import statistics
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field, replace

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

import inputs
from mpnsm_spark.operators.rollup import TIER_COLUMNS
from tracing import (
    COUNTERS,
    first_job_delay,
    jobs_under,
    median0,
    per_op_counters,
    progress_dicts,
)

TIERS = ("1m", "1h", "1d")
TIER_COLS = sorted(TIER_COLUMNS)
READ_KINDS = ("tier_read", "chunk_decode", "retained_read", "predict")
# Stage names in run_pipeline's returned summary.
PIPELINE_STAGES = (
    "tier_1m", "tier_1h", "tier_1d", "gapfill_1h", "gapfill_1d",
    "chunks_1m", "chunks_1h", "chunks_1d", "retention",
)


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    scale: float
    tracer: object
    nproc: int


@dataclass
class Sample:
    kind: str
    seconds: float
    ok: bool
    items: float = 0.0  # work units the operation covered (turns, rows)
    bytes: float = 0.0  # bytes the operation left in storage
    extra: dict = field(default_factory=dict)


# ------------------------------------------------------------------ helpers


def scaled(ctx: Ctx, n: int, floor: int) -> int:
    return max(floor, int(round(n * ctx.scale)))


def digests(parts: dict[str, tuple[DataFrame, list[str]]]) -> dict[str, tuple]:
    """Order-independent (rows, hash-sum, hash-sum) per named frame, all in
    one action tagged ``perfbench:check`` so no engine job group counts it."""
    rows = None
    for tag, (df, cols) in parts.items():
        r = df.agg(
            F.lit(tag).alias("tag"),
            F.count(F.lit(1)).alias("n"),
            F.sum(F.pmod(F.xxhash64(*cols), F.lit(2_147_483_647))).alias("h1"),
            F.sum(F.pmod(F.hash(*cols).cast("long"), F.lit(2_147_483_647))).alias("h2"),
        )
        rows = r if rows is None else rows.unionByName(r)
    sc = rows.sparkSession.sparkContext
    sc.setJobDescription("perfbench:check")
    try:
        return {r["tag"]: (r["n"], r["h1"], r["h2"]) for r in rows.collect()}
    finally:
        sc.setJobDescription(None)


def canon(rows, cols: list[str]) -> list[tuple]:
    """Collected rows → sorted tuples over ``cols`` (arrays become tuples)."""

    def val(v):
        return tuple(v) if isinstance(v, list) else v

    return sorted((tuple(val(r[c]) for c in cols) for r in rows), key=repr)


def dir_bytes(path: str) -> int:
    total = 0
    for d, _dirs, files in os.walk(path):
        for f in files:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                total += os.path.getsize(p)
    return total


def write_bronze(ctx: Ctx, path: str, n_turns: int, n_convs: int) -> tuple[int, str, int]:
    """Seeded transcripts written sorted by ts into 16 files, so file-level
    retention drops, adopts and rewrites whole files. Returns (distinct
    turns, retention cutoff at the 30th ts percentile, turns at or after
    the cutoff)."""
    table = inputs.transcripts(ctx.seed, n_convs, n_turns)
    inputs.write_files(table, path, 16)
    secs = inputs.ts_seconds(table)
    cut = int(np.sort(secs)[int(0.3 * len(secs))])
    cutoff = dt.datetime.fromtimestamp(cut, dt.timezone.utc).strftime("%Y-%m-%d %H:%M:%S")
    keys = table.select(["conv_id", "turn_idx"]).group_by(["conv_id", "turn_idx"]).aggregate([])
    return keys.num_rows, cutoff, int((secs >= cut).sum())


def pipeline_config(ctx: Ctx, cutoff: str | None):
    from mpnsm_spark.plans.pipeline import PipelineConfig

    return PipelineConfig(
        num_buckets=max(ctx.nproc, 8),
        gapfill_tiers=("1h", "1d"),
        retention_cutoff=cutoff,
        kernel_stages=(),
    )


def manifest_stats(root: str) -> dict:
    """Snapshot and file counts from the manifests a warehouse holds, plus the
    retention outcome recorded in the ``raw_retained`` manifest meta."""
    out = {"snapshots": 0, "files": 0, "dropped": 0, "adopted": 0, "rewritten": 0}
    for table in os.listdir(root) if os.path.isdir(root) else []:
        mdir = os.path.join(root, table, "_manifests")
        if not os.path.isdir(mdir):
            continue
        for f in os.listdir(mdir):
            if not (f.startswith("v") and f.endswith(".json")):
                continue
            with open(os.path.join(mdir, f)) as fh:
                m = json.load(fh)
            meta = m.get("meta", {})
            out["snapshots"] += 1
            if not meta.get("external"):
                out["files"] += len(m["files"])
            if table == "raw_retained":
                out["dropped"] += int(meta.get("dropped", 0))
                out["rewritten"] += int(meta.get("rewrote", 0))
                if meta.get("external"):
                    out["adopted"] += len(m["files"])
    return out


def counter_metrics(prefix: str, ctr: dict) -> dict:
    return {f"{prefix}.{k}": ctr[k] for k, _ in COUNTERS}


class Workload:
    name = ""
    min_ops = 1  # operations the measured loop runs however long they take

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.input_s = 0.0

    @property
    def spark(self):
        return self.ctx.spark

    @property
    def tr(self):
        return self.ctx.tracer

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work, *parts)

    def setup(self) -> None:
        """Generate the inputs (timed into ``input_s``), build what the
        operations need, and warm up."""

    def trace_setup(self) -> None:
        """Replay, under tracing, set-up work whose layers are reported."""

    def finish(self) -> list[Sample]:
        return []


# ------------------------------------------------------------------- ingest


class Ingest(Workload):
    """One operation: a cold ``run_pipeline`` into a fresh warehouse (timed
    as ``write_s``), then a read-back of everything it wrote through the
    public read helpers (timed as ``read_s``), which is also the check."""

    name = "ingest"

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.bronze_path = self.path("bronze")
        self.n_turns, self.cutoff, self.n_retained = write_bronze(
            self.ctx, self.bronze_path, scaled(self.ctx, 24_000, 400), scaled(self.ctx, 1_200, 20)
        )
        # The warm-up runs the same stages on a small input of its own.
        self.warm_path = self.path("bronze_warmup")
        _, self.warm_cutoff, _ = write_bronze(
            self.ctx, self.warm_path, scaled(self.ctx, 2_000, 100), scaled(self.ctx, 100, 5)
        )
        self.input_s = time.perf_counter() - t0
        self.bronze = self.spark.read.parquet(self.bronze_path)
        self.n = 0
        # The reference is made while the warm-up runs.
        with ThreadPoolExecutor(max_workers=1) as pool:
            ref = pool.submit(digests, self._ref_parts())
            self.warmup()
            self.ref = ref.result()

    def _ref_parts(self) -> dict:
        from mpnsm_spark.generator import with_value
        from mpnsm_spark.operators.rollup import rollup_tiers

        tiers = rollup_tiers(with_value(self.bronze))
        return {
            "tier_1h": (tiers["1h"], TIER_COLS),
            "tier_1d": (tiers["1d"], TIER_COLS),
            "points_1m": (tiers["1m"], ["conv_id", "bucket_start", "value_avg"]),
        }

    def warmup(self) -> None:
        """An untimed run and read-back on the warm-up input: the first run of
        the pipeline in a JVM is markedly slower than later ones."""
        from mpnsm_spark.plans.pipeline import run_pipeline
        from mpnsm_spark.sources.tableio import TableIO

        root = self.path("wh_warmup")
        io = TableIO(root)
        raw = self.spark.read.parquet(self.warm_path)
        run_pipeline(self.spark, raw, io, pipeline_config(self.ctx, self.warm_cutoff))
        digests(self._read_parts(io))
        shutil.rmtree(root, ignore_errors=True)

    def _read_parts(self, io) -> dict:
        """The cold run's outputs through the public read helpers."""
        from mpnsm_spark.operators.gorilla import decode_chunks
        from mpnsm_spark.plans.pipeline import read_chunks, read_raw_retained, read_tier

        s = self.spark
        return {
            "tier_1h": (read_tier(s, io, "1h"), TIER_COLS),
            "tier_1d": (read_tier(s, io, "1d"), TIER_COLS),
            "points_1m": (decode_chunks(read_chunks(s, io, "1m")), ["conv_id", "bucket_start", "value"]),
            "retained": (read_raw_retained(s, io), ["turn_idx"]),
        }

    def step(self) -> list[Sample]:
        from mpnsm_spark.plans.pipeline import run_pipeline
        from mpnsm_spark.sources.tableio import TableIO

        self.n += 1
        root = self.path(f"wh_{self.n}")
        try:
            io = TableIO(root)
            with self.tr.span("run_pipeline") as sp:
                t0 = time.perf_counter()
                summary = run_pipeline(
                    self.spark, self.bronze, io, pipeline_config(self.ctx, self.cutoff)
                )
                write_s = time.perf_counter() - t0
            if sp is not None:
                sp["summary"] = summary
            stored = dir_bytes(root)
            with self.tr.span("read_back"):
                t0 = time.perf_counter()
                d = digests(self._read_parts(io))
                read_s = time.perf_counter() - t0
            ok = (
                summary["integrity_ok"] is True
                and summary["input_turns"] == self.n_turns
                and all(d[k] == self.ref[k] for k in self.ref)
                and d["retained"][0] == self.n_retained
            )
            extra = {"read_s": read_s, "manifests": manifest_stats(root)}
            if self.tr.enabled:
                extra["bytes_per_point"] = self._bytes_per_point(io)
            return [Sample("cold", write_s, ok, items=self.n_turns, bytes=stored, extra=extra)]
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not retried
            print(f"perfbench: ingest operation failed: {e!r}", flush=True)
            return [Sample("cold", 0.0, False)]
        finally:
            shutil.rmtree(root, ignore_errors=True)

    def _bytes_per_point(self, io) -> float:
        lin = io.read(self.spark, "lineage", merge_schema=True).filter(
            F.col("stage").startswith("chunks_") & (F.col("status") == "ok")
        )
        r = lin.agg(F.sum("encode_bytes"), F.sum("input_rows")).collect()[0]
        return float(r[0]) / float(r[1]) if r[1] else 0.0

    def e2e(self, samples: list[Sample]) -> dict:
        ok = [s for s in samples if s.ok]
        return {
            "write_s": median0([s.seconds for s in ok]),
            "read_s": median0([s.extra["read_s"] for s in ok]),
            "bytes_per_item": median0([s.bytes / s.items for s in ok]),
        }

    def named(self, samples: list[Sample]) -> dict:
        e = self.e2e(samples)
        return {
            "ingest_turns_per_s": (self.n_turns / e["write_s"] if e["write_s"] else 0.0, "turns/s"),
            "read_back_s": (e["read_s"], "s"),
            "stored_bytes_per_turn": (e["bytes_per_item"], "B/turn"),
        }

    def layers(self, tracer, jobs, samples) -> dict:
        runs = tracer.measured("run_pipeline")
        ok = [s for s in samples if s.ok]

        def grouped(pred) -> dict:
            return per_op_counters(tracer, jobs, runs, lambda d: pred(d or ""))

        out = {}
        for prefix, pred in (
            ("pipeline.plan", lambda d: d == "mpnsm:plan"),
            ("pipeline.lineage", lambda d: d == "mpnsm:lineage"),
            ("pipeline.retention", lambda d: d == "mpnsm:retention"),
            ("rollup", lambda d: d.startswith("mpnsm:tier_")),
            ("gapfill", lambda d: d.startswith("mpnsm:gapfill_")),
            ("gorilla.encode", lambda d: d.startswith("mpnsm:chunks_")),
        ):
            out.update(counter_metrics(prefix, grouped(pred)))
        summaries = [s["summary"] for s in runs if "summary" in s]
        out["pipeline.plan_vocab_s"] = median0([s["phase_seconds"]["plan_vocab"] for s in summaries])
        out["pipeline.stage_dag_s"] = median0([s["phase_seconds"]["stage_dag"] for s in summaries])
        for st in PIPELINE_STAGES:
            out[f"pipeline.stage.{st}_s"] = median0([s["stage_seconds"].get(st) for s in summaries])
        out["pipeline.first_job_delay_s"] = median0([first_job_delay(tracer, jobs, s) for s in runs])
        out["gorilla.bytes_per_point"] = median0([s.extra["bytes_per_point"] for s in ok])
        ms = [s.extra["manifests"] for s in ok]
        out["tableio.snapshots"] = median0([m["snapshots"] for m in ms])
        out["tableio.files_written"] = median0([m["files"] for m in ms])
        out["tableio.bytes_written_mb"] = median0([s.bytes / 1e6 for s in ok])
        out["tableio.retention_dropped_files"] = median0([m["dropped"] for m in ms])
        out["tableio.retention_adopted_files"] = median0([m["adopted"] for m in ms])
        out["tableio.retention_rewritten_files"] = median0([m["rewritten"] for m in ms])
        return out


# -------------------------------------------------------------------- serve


class Serve(Workload):
    """One closed-loop client with no think time: per-conversation reads of a
    warehouse built during set-up, with a streaming append and a read of the
    stream table before every four reads. One operation of the measured loop
    is one such cycle of six requests."""

    name = "serve"
    # Two cycles, so each per-kind median has two samples even when the host
    # is slow.
    min_ops = 2
    HORIZON = 12
    WATERMARK_S = 600  # stream_to_tableio's default "10 minutes"
    N_SLICES = 24
    MANAGER_CONFIG = [
        {"unit": {}, "horizon": 12,
         "targets": [{"target_col": "value", "model": {"n_changepoints": 2}}]},
    ]

    def setup(self) -> None:
        from mpnsm_spark.functions.model_store import (
            fit_model_states,
            predict_from_states,
            save_model_states,
        )
        from mpnsm_spark.generator import with_value
        from mpnsm_spark.operators.rollup import distinct_tool_vocab, rollup_tiers
        from mpnsm_spark.plans.pipeline import run_pipeline
        from mpnsm_spark.sources.tableio import TableIO
        from mpnsm_spark.streaming.rollup_stream import batch_equivalent

        s = self.spark
        t0 = time.perf_counter()
        self.bronze_path = self.path("bronze")
        _, self.cutoff, _ = write_bronze(
            self.ctx, self.bronze_path, scaled(self.ctx, 12_000, 400), scaled(self.ctx, 600, 20)
        )
        # Stream corpus: a second seeded corpus landed one time slice (one
        # parquet file) per append.
        corpus = inputs.transcripts(
            self.ctx.seed + 7919, scaled(self.ctx, 200, 10), scaled(self.ctx, 4_000, 400), prefix="s"
        )
        self.slices = inputs.time_slices(corpus, self.N_SLICES)
        self.slice_max = [int(inputs.ts_seconds(t).max()) for t in self.slices]
        inputs.write_files(corpus, self.path("stream_all"), 1)
        self.input_s = time.perf_counter() - t0

        raw = with_value(s.read.parquet(self.bronze_path))
        all_rows = with_value(s.read.parquet(self.path("stream_all")))
        self.io = TableIO(self.path("warehouse"))
        self.sio = TableIO(self.path("stream_wh"))
        self.src = self.path("stream_src")
        os.makedirs(self.src, exist_ok=True)
        self.ckpt = self.path("stream_ckpt")
        self.appended = self.cycles = 0
        self.fit = None
        self.stream_vocab = distinct_tool_vocab(all_rows)

        # The warehouse build (no gap-fill tables: the client never reads
        # them) and the warm-up append run while the references are made.
        with ThreadPoolExecutor(max_workers=4) as pool:
            build = pool.submit(
                run_pipeline, s, raw, self.io,
                replace(pipeline_config(self.ctx, self.cutoff), gapfill_tiers=()),
            )
            warm = pool.submit(self.warmup)

            # Conversations the client asks for: half from the top 1% by
            # size, half uniform over a seeded sample of all conversations.
            self.rng = random.Random(self.ctx.seed)
            sizes = raw.groupBy("conv_id").count().orderBy(F.desc("count"), "conv_id").collect()
            ids = [r[0] for r in sizes]
            self.hot = ids[: max(1, len(ids) // 100)]
            self.uniform = sorted(self.rng.sample(ids, min(len(ids), 40)))
            self.pool = sorted(set(self.hot) | set(self.uniform))
            pick = F.col("conv_id").isin(self.pool)
            states = fit_model_states(raw.filter(pick), model_kwargs={"n_changepoints": 2})
            save_model_states(self.io, states, "models")

            tiers = rollup_tiers(raw)
            self.cols = {
                "tier_read": TIER_COLS,
                "chunk_decode": ["conv_id", "bucket_start", "value"],
                "retained_read": sorted(raw.columns),
                "predict": ["conv_id", "target", "step", "yhat"],
            }
            refs = {
                "tier_read": tiers["1h"].filter(pick),
                "chunk_decode": tiers["1m"].filter(pick).select(
                    "conv_id", "bucket_start", F.col("value_avg").alias("value")
                ),
                "retained_read": raw.filter(pick & (F.col("ts") >= F.lit(self.cutoff))),
                "predict": predict_from_states(self._states().filter(pick), self.HORIZON),
            }
            want = batch_equivalent(all_rows, self.stream_vocab)
            collected = dict(zip([*refs, "stream"], pool.map(lambda df: df.collect(), [*refs.values(), want])))
            build.result()
            warm.result()
        # First calls of the read paths are markedly slower; make them here.
        for kind in READ_KINDS:
            self._read(kind, self.hot[0])

        self.ref = {}
        for kind in refs:
            by_conv: dict[str, list] = {}
            for r in collected[kind]:
                by_conv.setdefault(r["conv_id"], []).append(r)
            self.ref[kind] = {c: canon(rs, self.cols[kind]) for c, rs in by_conv.items()}
        self.stream_cols = sorted(c for c in want.columns if c not in ("tools", "distinct_tools"))
        self.stream_ref = {
            (r["conv_id"], r["bucket_start"]): canon([r], self.stream_cols)[0]
            for r in collected["stream"]
        }
        self.stream_convs = sorted({k[0] for k in self.stream_ref})

    def _fit(self, io) -> dict:
        """Fit the client's conversations through ``run_manager(run_mode=
        "fit")`` (the manager and its kernel runner; traced runs only)."""
        from mpnsm_spark.generator import with_value
        from mpnsm_spark.plans.manager import run_manager

        series = (
            with_value(self.spark.read.parquet(self.bronze_path))
            .filter(F.col("conv_id").isin(self.pool))
            .select("conv_id", "turn_idx", "value")
        )
        with self.tr.span("run_manager") as sp:
            t0 = time.perf_counter()
            res = run_manager(
                self.spark, series, io, self.MANAGER_CONFIG, ["conv_id"],
                order_col="turn_idx", run_mode="fit", cfg=pipeline_config(self.ctx, None),
            )
            secs = time.perf_counter() - t0
        out = {
            "seconds": secs,
            "series": sum(st.get("output_rows", 0) for st in res.stages),
            "errored": sum(st.get("errored_series", 0) for st in res.stages),
            "kernel_wall_s": sum(st.get("wall_seconds", 0) for st in res.stages),
        }
        if sp is not None:
            sp.update(out)
        if out["errored"]:
            raise RuntimeError(f"model fit errored on {out['errored']} series")
        return out

    def _states(self):
        from mpnsm_spark.functions.model_store import load_model_states

        return load_model_states(self.spark, self.io, "models")

    def _cycle(self) -> list[tuple[str, str]]:
        """One cycle of requests: an append, a read of the stream table, one
        read of each kind. The order of kinds is fixed so every run weighs
        them alike; the conversations are seeded, alternating between the hot
        and the uniform pool from cycle to cycle."""
        i = self.cycles
        self.cycles += 1
        return [
            ("stream_append", ""),
            ("stream_read", self.rng.choice(self.stream_convs)),
            *(
                (kind, self.rng.choice(self.hot if (i + j) % 2 == 0 else self.uniform))
                for j, kind in enumerate(READ_KINDS)
            ),
        ]

    def warmup(self) -> None:
        """Two untimed stream appends (the first streaming queries of a
        session are markedly slower than later ones)."""
        self._op("stream_append", "")
        self._op("stream_append", "")

    def trace_setup(self) -> None:
        """Fit the client's conversations through the manager, under tracing,
        into a scratch store."""
        from mpnsm_spark.sources.tableio import TableIO

        root = self.path("fit_replay")
        self.fit = self._fit(TableIO(root))
        shutil.rmtree(root, ignore_errors=True)

    def step(self) -> list[Sample]:
        """One cycle, so every run measures whole cycles."""
        return [self._op(kind, conv) for kind, conv in self._cycle()]

    # --- operations ---------------------------------------------------------

    def _read(self, kind: str, conv: str):
        from mpnsm_spark.functions.model_store import predict_from_states
        from mpnsm_spark.operators.gorilla import decode_chunks
        from mpnsm_spark.plans.pipeline import read_chunks, read_raw_retained, read_tier
        from mpnsm_spark.streaming.rollup_stream import read_stream_tier

        s, io, c = self.spark, self.io, F.col("conv_id") == conv
        if kind == "tier_read":
            with self.tr.span("read_tier"):
                df = read_tier(s, io, "1h").filter(c)
        elif kind == "chunk_decode":
            with self.tr.span("read_chunks"):
                ch = read_chunks(s, io, "1m").filter(c)
            df = decode_chunks(ch)
        elif kind == "retained_read":
            with self.tr.span("read_raw_retained"):
                df = read_raw_retained(s, io).filter(c)
        elif kind == "predict":
            with self.tr.span("load_model_states"):
                st = self._states().filter(c)
            df = predict_from_states(st, self.HORIZON)
        else:
            with self.tr.span("read_stream_tier"):
                df = read_stream_tier(s, self.sio, "stream_1m").filter(c)
        with self.tr.span("collect"):
            return df.collect()

    def _op(self, kind: str, conv: str) -> Sample:
        try:
            if kind == "stream_append":
                return self._append()
            with self.tr.span(kind, conv=conv):
                t0 = time.perf_counter()
                rows = self._read(kind, conv)
                secs = time.perf_counter() - t0
            if kind == "stream_read":
                ok = self._stream_ok(conv, rows)
            else:
                ok = canon(rows, self.cols[kind]) == self.ref[kind].get(conv, [])
            return Sample(kind, secs, ok, items=len(rows))
        except Exception as e:  # noqa: BLE001 - counted as failed, never retried
            print(f"perfbench: serve {kind} failed: {e!r}", flush=True)
            return Sample(kind, 0.0, False)

    def _append(self) -> Sample:
        import pyarrow.parquet as pq

        from mpnsm_spark.generator import with_value
        from mpnsm_spark.schema import TRANSCRIPT_SCHEMA
        from mpnsm_spark.streaming.rollup_stream import stream_to_tableio

        k = self.appended
        if k >= len(self.slices):
            raise RuntimeError("stream corpus exhausted")
        before = dir_bytes(self.sio.root) + dir_bytes(self.ckpt)
        with self.tr.span("stream_append", slice=k) as sp:
            t0 = time.perf_counter()
            tmp = os.path.join(self.src, f".slice_{k:05d}.parquet")
            pq.write_table(self.slices[k], tmp)
            os.rename(tmp, os.path.join(self.src, f"slice_{k:05d}.parquet"))
            stream = self.spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(self.src)
            with self.tr.span("stream_to_tableio"):
                q = (
                    stream_to_tableio(
                        self.spark, with_value(stream), self.sio, table="stream_1m",
                        tool_vocab=self.stream_vocab, checkpoint_dir=self.ckpt,
                        num_buckets=max(self.ctx.nproc, 8),
                    )
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            secs = time.perf_counter() - t0
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        self.appended += 1
        if sp is not None:
            sp["progress"] = progress_dicts(q)
        written = dir_bytes(self.sio.root) + dir_bytes(self.ckpt) - before
        return Sample("stream_append", secs, True, items=self.slices[k].num_rows, bytes=written)

    def _stream_ok(self, conv: str | None, rows) -> bool:
        """Every stored window equals ``batch_equivalent``'s row, and every
        window closed by the watermark in force during the latest append is
        present."""
        got = {(r["conv_id"], r["bucket_start"]): canon([r], self.stream_cols)[0] for r in rows}
        if len(got) != len(rows) or any(self.stream_ref.get(k) != v for k, v in got.items()):
            return False
        if self.appended < 2:
            return True
        closed = self.slice_max[self.appended - 2] - self.WATERMARK_S
        return all(
            k in got
            for k in self.stream_ref
            if (conv is None or k[0] == conv)
            and k[1].replace(tzinfo=dt.timezone.utc).timestamp() + 60 <= closed
        )

    def finish(self) -> list[Sample]:
        """Untimed end-of-run check of the whole stream table."""
        from mpnsm_spark.streaming.rollup_stream import read_stream_tier

        with self.tr.span("check"):
            try:
                ok = self._stream_ok(None, read_stream_tier(self.spark, self.sio, "stream_1m").collect())
            except Exception as e:  # noqa: BLE001
                print(f"perfbench: stream table check failed: {e!r}", flush=True)
                ok = False
        return [Sample("stream_table_check", 0.0, ok)]

    def _medians(self, samples) -> dict[str, float]:
        """Median latency per request kind (checked requests only)."""
        kinds = (*READ_KINDS, "stream_read", "stream_append")
        return {k: median0([s.seconds for s in samples if s.ok and s.kind == k]) for k in kinds}

    def e2e(self, samples: list[Sample]) -> dict:
        # A run holds only a few cycles and the kinds' latencies differ
        # severalfold, so a pooled median would jump between kinds from run
        # to run; the mean of per-kind medians does not.
        med = self._medians(samples)
        appends = [s for s in samples if s.ok and s.kind == "stream_append"]
        return {
            "write_s": med["stream_append"],
            "read_s": statistics.mean(med[k] for k in (*READ_KINDS, "stream_read")),
            "bytes_per_item": median0([s.bytes / s.items for s in appends if s.items]),
        }

    def named(self, samples: list[Sample]) -> dict:
        med = self._medians(samples)
        out = {f"{k}_p50_s": (v, "s") for k, v in med.items()}
        reads = [s.seconds for s in samples if s.ok and s.kind in (*READ_KINDS, "stream_read")]
        if len(reads) >= 2:
            out["read_p90_s"] = (statistics.quantiles(reads, n=10)[-1], "s")
        out["reads"] = (len(reads), "count")
        if all(med.values()):
            # One request of each kind per cycle.
            out["requests_per_s"] = (len(med) / sum(med.values()), "1/s")
        if self.fit:
            out["manager_fit_series_per_s"] = (self.fit["series"] / self.fit["seconds"], "series/s")
        return out

    def layers(self, tracer, jobs, samples) -> dict:
        out = {}
        ops = {k: tracer.measured(k) for k in (*READ_KINDS, "stream_read")}
        out.update(counter_metrics("gorilla.decode", per_op_counters(tracer, jobs, ops["chunk_decode"])))
        out.update(counter_metrics("model_store.predict", per_op_counters(tracer, jobs, ops["predict"])))
        out["chunk_decode.self_s"] = median0([tracer.self_time(s) for s in ops["chunk_decode"]])
        for k, spans in ops.items():
            out[f"{k}.first_job_delay_s"] = median0([first_job_delay(tracer, jobs, s) for s in spans])
        out["tableio.read_input_mb"] = median0(
            [sum(j["input_mb"] for j in jobs_under(tracer, jobs, s)) for k in READ_KINDS for s in ops[k]]
        )

        fits = tracer.named("run_manager")
        is_kernel = lambda d: (d or "").startswith("mpnsm:mgr_")  # noqa: E731
        out.update(counter_metrics("manager.kernel", per_op_counters(tracer, jobs, fits, is_kernel)))
        out.update(counter_metrics(
            "manager.untagged", per_op_counters(tracer, jobs, fits, lambda d: not is_kernel(d))
        ))
        if self.fit:
            out["manager.kernel_wall_s"] = self.fit["kernel_wall_s"]
            out["manager.series"] = float(self.fit["series"])
            out["manager.errored_series"] = float(self.fit["errored"])

        apps = [s for s in tracer.measured("stream_append") if "progress" in s]

        def dur(p, key):
            return (p.get("durationMs") or {}).get(key, 0)

        def state(p, key):
            return sum(o.get(key, 0) for o in p.get("stateOperators") or [])

        def per_append(fn):
            return median0([sum(fn(p) for p in s["progress"]) for s in apps])

        last = [s["progress"][-1] for s in apps if s["progress"]]
        out["stream.batches"] = median0([len(s["progress"]) for s in apps])
        out["stream.trigger_ms"] = per_append(lambda p: dur(p, "triggerExecution"))
        out["stream.add_batch_ms"] = per_append(lambda p: dur(p, "addBatch"))
        out["stream.wal_commit_ms"] = per_append(lambda p: dur(p, "walCommit"))
        out["stream.commit_offsets_ms"] = per_append(lambda p: dur(p, "commitOffsets"))
        out["stream.query_planning_ms"] = per_append(lambda p: dur(p, "queryPlanning"))
        out["stream.start_overhead_ms"] = median0(
            [(s["end"] - s["start"]) * 1e3 - sum(dur(p, "triggerExecution") for p in s["progress"])
             for s in apps]
        )
        out["stream.state_rows"] = median0([state(p, "numRowsTotal") for p in last])
        out["stream.state_mem_mb"] = median0([state(p, "memoryUsedBytes") / 1e6 for p in last])
        out["stream.state_commit_ms"] = per_append(lambda p: state(p, "commitTimeMs"))
        out["stream.table_snapshots"] = float(self.sio.snapshot_version("stream_1m"))
        return out


WORKLOADS = {w.name: w for w in (Ingest, Serve)}
