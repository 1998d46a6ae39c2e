"""The benchmark's workloads: ``tail`` and ``backfill``.

Both are closed loops with one client: the WAL is the client, and the
next micro-batch starts when the previous one has committed. Inputs come
from ``odibel_spark.cdc.datagen`` with the run's seed. The WAL is
generated once, then released into the live WAL directory the pipeline
tails in three parts:

1. set-up: the first part, as one stream run (``backfill``'s pre-load;
   for ``tail`` simply the first epochs of the stream);
2. warm-up: the next part, in micro-batches of the measured shape;
3. measured: the rest, in micro-batches of the same shape, as one more
   run of the same stream (restarted from its checkpoint).

Every output is then checked against the batch oracle
``odibel_spark.cdc.replay.current_state``.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace
from urllib.parse import urlparse

from pyspark.sql import functions as F

from odibel_spark.cdc import (
    PipelineConfig,
    TranscriptCdcPipeline,
    WalConfig,
    current_state,
    gen_events,
    split_dead_letters,
    write_wal_files,
)
from odibel_spark.cdc.replay import EVENT_ID_COLS, KEY_COLS
from odibel_spark.lake.table import LakeTable

#: columns the table check compares (the transcript plus the column
#: schema evolution adds and the applied LSN)
TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts", "meta", "_lsn"]


@dataclass(frozen=True)
class Shape:
    """One workload's WAL and how it is released to the pipeline."""

    events_per_segment: int
    preload: int  # segments released in set-up, as one stream run
    warmup: int  # segments released for the warm-up
    measured: int  # segments released for the measured phase
    files_per_trigger: int | None  # micro-batch size after the pre-load
    pipeline: dict = field(default_factory=dict)  # PipelineConfig settings
    wal: dict = field(default_factory=dict)  # WalConfig settings

    @property
    def segments(self) -> int:
        return self.preload + self.warmup + self.measured


SHAPES = {
    # a live WAL tail: one small segment per micro-batch into a
    # merge-on-read table compacted every 8 epochs (the default); the
    # warm-up is epochs 0-3, the measured epochs 4-13 include the
    # compaction epoch 8
    "tail": Shape(
        events_per_segment=1500, preload=0, warmup=4, measured=9, files_per_trigger=1,
        pipeline={"merge_mode": "mor"},
    ),
    # catch-up after downtime into a copy-on-write table (the
    # PipelineConfig default) pre-loaded with the first 4 segments;
    # the rest arrives two segments per micro-batch. skew=6 puts ~28%
    # of events on the hottest conversation, so its bucket holds >4x
    # the mean and write_salt="auto" engages. The schema evolves inside
    # the pre-load (evolve_after), so every measured batch has one
    # shape.
    "backfill": Shape(
        events_per_segment=3000, preload=4, warmup=2, measured=6, files_per_trigger=2,
        wal={"skew": 6.0, "evolve_after": 0.2},
    ),
}

#: small shapes for the smoke tests
TINY = {
    "tail": Shape(events_per_segment=300, preload=0, warmup=2, measured=8, files_per_trigger=1,
                  pipeline={"merge_mode": "mor"}),
    "backfill": Shape(events_per_segment=600, preload=2, warmup=1, measured=2, files_per_trigger=1,
                      wal={"skew": 6.0, "evolve_after": 0.2}),
}


@dataclass
class Ctx:
    spark: object
    scratch: object
    seed: int
    progress: object
    fault: bool = False
    timings: dict = field(default_factory=dict)


# ------------------------------------------------------------ oracle
def checksum(df) -> tuple[int, int]:
    row = df.agg(
        F.count("*").alias("n"),
        F.coalesce(F.sum(F.pmod(F.xxhash64(*TABLE_COLS), F.lit(2**31))), F.lit(0)).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def oracle_state(events):
    """``current_state`` of the generated events, plus the ``meta``
    column the table gains through schema evolution."""
    meta = events.select("lsn", "meta").dropDuplicates(["lsn"])
    return (
        current_state(events)
        .join(meta, F.col("_lsn") == F.col("lsn"), "left")
        .drop("lsn")
        .select(*TABLE_COLS)
    )


def oracle_dead(events) -> int:
    """Dead letters the pipeline must route: distinct poison events (the
    in-stream dedup drops exact duplicates)."""
    _ok, dead = split_dead_letters(events)
    return dead.dropDuplicates(EVENT_ID_COLS).count()


def drop_one_row(df):
    """Fault mode: lose one row of an output before it is checked."""
    first = df.orderBy(*KEY_COLS).select(*KEY_COLS).first()
    return df.filter(~((F.col("conv_id") == first["conv_id"]) & (F.col("turn_idx") == first["turn_idx"])))


# ---------------------------------------------------------- workload
class Ingest:
    """One WAL released in parts into one pipeline (see module doc)."""

    def __init__(self, name: str, shape: Shape, ctx: Ctx):
        self.name = name
        self.shape = shape
        self.ctx = ctx
        self.failures: list[str] = []
        self.wal_cfg = WalConfig(
            n_events=shape.segments * shape.events_per_segment, seed=ctx.seed, **shape.wal
        )
        self.staged = ctx.scratch.sub("wal-staged")
        self.live = ctx.scratch.sub("wal-live")
        self.released = 0

    def _pipeline(self, files_per_trigger: int | None) -> TranscriptCdcPipeline:
        cfg = PipelineConfig(
            wal_dirs=[self.live],
            table_root=self.ctx.scratch.sub("tables", self.name),
            checkpoint_dir=self.ctx.scratch.sub("checkpoint"),
            max_files_per_trigger=files_per_trigger,
            **self.shape.pipeline,
        )
        return TranscriptCdcPipeline(self.ctx.spark, cfg)

    def _release(self, n: int) -> None:
        """Hard-link the next ``n`` WAL segments into the live WAL dir.
        Links keep the generator's mtimes, so the file source orders the
        segments as written."""
        chunks = range(self.released, self.released + n)
        for dirpath, _dirs, names in os.walk(self.staged):
            base = os.path.basename(dirpath)
            if not base.startswith("wal_chunk=") or int(base.split("=", 1)[1]) not in chunks:
                continue
            dst = os.path.join(self.live, os.path.relpath(dirpath, self.staged))
            os.makedirs(dst, exist_ok=True)
            for name in names:
                os.link(os.path.join(dirpath, name), os.path.join(dst, name))
        self.released += n

    def _run(self, pipe: TranscriptCdcPipeline) -> None:
        done = self.ctx.progress.terminated()
        pipe.run_available()
        self.ctx.progress.wait_terminated(done + 1)

    def setup(self) -> None:
        t = time.perf_counter()
        write_wal_files(self.ctx.spark, self.wal_cfg, self.staged, n_files=self.shape.segments)
        self.ctx.timings["datagen.wal_s"] = time.perf_counter() - t
        os.makedirs(self.live)
        if self.shape.preload:
            self._release(self.shape.preload)
            t = time.perf_counter()
            self._run(self._pipeline(None))
            self.ctx.timings["preload_s"] = time.perf_counter() - t

    def warmup(self) -> None:
        self._release(self.shape.warmup)
        self._run(self._pipeline(self.shape.files_per_trigger))

    def measure(self) -> list[dict]:
        """Release the rest and tail it; one op per micro-batch."""
        self.pipe = self._pipeline(self.shape.files_per_trigger)
        self._release(self.shape.measured)
        self.before = self._versions()
        t0 = time.perf_counter()
        try:
            self._run(self.pipe)
        except Exception as e:  # a failed stream fails every epoch it did not finish
            self.failures.append(f"stream raised {type(e).__name__}: {e}")
        batches = self.ctx.progress.since(t0)
        self.batch_ids = [b["batch"] for b in batches]
        return [{"s": b["dur_ms"]["triggerExecution"] / 1e3} for b in batches]

    # ------------------------------------------------------ results
    def applied(self) -> tuple[int, int]:
        """(applied events, dead letters) of the measured epochs, from
        the pipeline's own metrics table."""
        row = (
            self.pipe.metrics()
            .filter(F.col("epoch").isin(self.batch_ids))
            .agg(F.sum("n_events"), F.sum("n_dead"))
            .collect()[0]
        )
        return int(row[0] or 0), int(row[1] or 0)

    def check(self) -> None:
        events = gen_events(self.ctx.spark, self.wal_cfg).drop("_feed_order").cache()
        try:
            want_table, want_dead = checksum(oracle_state(events)), oracle_dead(events)
        finally:
            events.unpersist()
        got = self.pipe.table().read().select(*TABLE_COLS)
        if self.ctx.fault:
            got = drop_one_row(got)
        if checksum(got) != want_table:
            self.failures.append("table differs from current_state")
        dead = self.pipe.dead_letters().count()
        if dead != want_dead:
            self.failures.append(f"dead letters {dead} != {want_dead}")
        if len(self.batch_ids) < self.shape.measured // (self.shape.files_per_trigger or 1):
            self.failures.append(f"only {len(self.batch_ids)} measured micro-batches")

    def _roots(self) -> list[str]:
        p = self.pipe
        return [p.table_root, p.dead_root, p.lineage_root, p.metrics_root]

    def _versions(self) -> dict[str, int]:
        return {r: LakeTable(self.ctx.spark, r).current_version() or 0 for r in self._roots()}

    def layer_counts(self, n_ops: int, read_dfs: list) -> dict:
        """Per-layer counts read from the tables' manifests after the
        measured phase (no cost inside it)."""
        spark = self.ctx.spark
        events, dead = self.applied()
        files = size = 0
        for root, v0 in self.before.items():
            t = LakeTable(spark, root)
            prev = {f["path"] for f in t.manifest(v0)["files"]} if v0 else set()
            for v in range(v0 + 1, (t.current_version() or 0) + 1):
                cur = t.manifest(v)["files"]
                added = [f for f in cur if f["path"] not in prev]
                files += len(added)
                size += sum(f["bytes"] for f in added)
                prev = {f["path"] for f in cur}
        table = self.pipe.table()
        rows_by_path = {
            os.path.join(table.root, f["path"]): f["rows"] for m in table.history() for f in m["files"]
        }
        planned = [urlparse(p).path for df in read_dfs for p in df.inputFiles()]
        return {
            "sink.events": events / n_ops,
            "sink.dead": dead / n_ops,
            "lake.files_written": files / n_ops,
            "lake.bytes_written_per_event": size / max(events, 1),
            "lake.delta_files_per_bucket": len(table.files()) / table.bucket_spec().buckets,
            "read.files_planned": len(planned) / n_ops,
            "read.rows_scanned_per_event": sum(rows_by_path.get(p, 0) for p in planned) / max(events, 1),
        }


def make(name: str, ctx: Ctx, scale: float | None) -> Ingest:
    """The workload ``name`` with its measured segments scaled by
    ``scale``; ``None`` gives the tiny smoke-test shape."""
    if scale is None:
        return Ingest(name, TINY[name], ctx)
    shape = SHAPES[name]
    return Ingest(name, replace(shape, measured=max(1, round(shape.measured * scale))), ctx)
