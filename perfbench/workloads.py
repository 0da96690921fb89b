"""The workloads: what one timed repetition does, and its warm-up.

``pipeline_full`` (closed loop): ``run_pipeline`` end to end over the
seeded transcripts into a fresh output dir — parse, encode, ST1 flags,
slim checkpoint, four concurrent route sinks.

``stream_tail`` (open loop): ``build_slim_stream`` + ``start_router``
tail a watched directory for the whole run, as a long-running query
does. Set-up lands warm-up bursts one at a time; then a repetition
drops bursts of files into it on a fixed schedule that does not wait
for the query. Each burst is one directory renamed into place, so it
lands atomically and the reader (``maxFilesPerTrigger`` = files per
burst) takes it as one micro-batch.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

BATCH_ROWS = 50_000
STREAM_WARMUP_BURSTS = 2
STREAM_BURSTS = 2  # per repetition: one at its start, one --seconds later
STREAM_FILES_PER_BURST = 4
STREAM_ROWS_PER_FILE = 750  # a warm micro-batch takes ~3-5 s on a 4-core VM


@dataclass
class Rep:
    """One timed repetition."""

    wall_s: float
    turns: int
    lags_s: list[float]  # input due → output committed, one per output
    out: str
    input: str  # every row the outputs under ``out`` must hold
    extra: dict = field(default_factory=dict)


class Watch:
    """Polls directory ``path`` from a thread and keeps, on the
    monotonic clock, when each entry that ``keep`` accepts was first
    seen. Output times are taken this way, not from file mtimes or
    ``time.time()``: a VM's wall clock can step by tens of seconds."""

    EVERY_S = 0.01

    def __init__(self, path: str, keep):
        self.path, self.keep = path, keep
        self.seen: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self) -> None:
        try:
            names = os.listdir(self.path)
        except FileNotFoundError:  # not created yet
            return
        now = time.perf_counter()
        for n in names:
            if n not in self.seen and self.keep(n):
                self.seen[n] = now

    def _run(self) -> None:
        while True:
            self._poll()
            if self._stop.wait(self.EVERY_S):
                return

    def __enter__(self) -> "Watch":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._poll()


def pipeline_rep(spark, input_path: str, out: str, run_id: str = "bench") -> Rep:
    from s3_log_parser_spark.plans.pipeline import run_pipeline

    shutil.rmtree(out, ignore_errors=True)
    transcripts = spark.read.parquet(input_path)
    turns = _count_rows(input_path)
    # every table is committed before its manifest entry appears, so
    # that is when the output became available
    mdir = os.path.join(out, "_manifest", run_id)
    t0 = time.perf_counter()
    with Watch(mdir, lambda n: n.endswith(".json")) as entries:
        res = run_pipeline(spark, transcripts, out, run_id=run_id)
    wall = time.perf_counter() - t0
    lags = [entries.seen[n] - t0 for n in sorted(entries.seen)]
    return Rep(wall, turns, lags, out, input_path, {"timings": res.timings})


def pipeline_resume(spark, input_path: str, out: str, run_id: str = "bench") -> None:
    """Re-run a completed run: every stage is skipped by its manifest entry."""
    from s3_log_parser_spark.plans.pipeline import run_pipeline

    run_pipeline(spark, spark.read.parquet(input_path), out, run_id=run_id)


def output_size(out: str) -> tuple[int, int]:
    """(bytes, files) of parquet data committed under ``out``."""
    size = files = 0
    for d, _, names in os.walk(out):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(d, n))
                files += 1
    return size, files


def pipeline_warmup(spark, input_path: str, work: str) -> None:
    """One full run over the run's own input before the timed ones:
    starts Python workers, compiles the plans' code and lets the JIT
    compile the hot loops (a first full run takes ~2-3x a warm one)."""
    pipeline_rep(spark, input_path, os.path.join(work, "warmup"), run_id="warmup")


def _stream_reader(spark, inbox: str, files_per_trigger: int):
    from s3_log_parser_spark.schemas import TRANSCRIPT_SCHEMA

    return (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(os.path.join(inbox, "*"))
    )


def _batch_files(checkpoint: str) -> dict[int, list[str]]:
    """batchId → input file paths, from the file source's offset log."""
    src = os.path.join(checkpoint, "sources", "0")
    out = {}
    for name in os.listdir(src):
        if name.isdigit():
            with open(os.path.join(src, name)) as f:
                lines = f.read().splitlines()[1:]  # first line is the version
            out[int(name)] = [json.loads(ln)["path"] for ln in lines if ln]
    return out


def _count_rows(path: str) -> int:
    import duckdb

    return duckdb.sql(f"SELECT count(*) FROM read_parquet('{path}/**/*.parquet')").fetchone()[0]


class Tail:
    """One streaming query over a watched directory, started at set-up
    and fed bursts from ``bursts_dir`` (``b0``, ``b1``, …) in order."""

    def __init__(self, spark, bursts_dir: str, work: str):
        from s3_log_parser_spark.streaming.stream import build_slim_stream, start_router

        root = os.path.join(work, "stream")
        shutil.rmtree(root, ignore_errors=True)
        self.stage, self.inbox, self.out, self.ck = (
            os.path.join(root, d) for d in ("stage", "inbox", "out", "ck")
        )
        os.makedirs(self.stage)
        os.makedirs(self.inbox)
        self.names = sorted(os.listdir(bursts_dir), key=lambda n: int(n[1:]))
        most = 0
        for n in self.names:  # hard links: the input stays intact
            files = os.listdir(os.path.join(bursts_dir, n))
            os.makedirs(os.path.join(self.stage, n))
            for f in files:
                os.link(os.path.join(bursts_dir, n, f), os.path.join(self.stage, n, f))
            most = max(most, len(files))
        self.query = start_router(
            build_slim_stream(_stream_reader(spark, self.inbox, most)),
            self.out,
            self.ck,
            trigger_once=False,
        )
        self.landed = 0

    def _land(self) -> str:
        n = self.names[self.landed]
        self.landed += 1
        os.rename(os.path.join(self.stage, n), os.path.join(self.inbox, n))
        return n

    def warm_up(self, bursts: int) -> None:
        """Land ``bursts`` bursts one at a time, each once the query has
        committed the one before (a first micro-batch takes ~5x a warm one)."""
        for _ in range(bursts):
            self._land()
            self.query.processAllAvailable()

    def rep(self, bursts: int, interval_s: float, deadline_s: float) -> Rep:
        """The next ``bursts`` bursts, one every ``interval_s``."""
        if self.landed + bursts > len(self.names):
            raise RuntimeError("the stream input has no bursts left")
        names = self.names[self.landed : self.landed + bursts]
        turns = sum(_count_rows(os.path.join(self.stage, n)) for n in names)
        commits_dir = os.path.join(self.ck, "commits")
        done = {int(n) for n in os.listdir(commits_dir) if n.isdigit()}
        expired = threading.Event()

        def kill() -> None:
            expired.set()
            self.query.stop()

        with Watch(commits_dir, str.isdigit) as seen:
            t0 = time.perf_counter()
            due = [t0 + k * interval_s for k in range(bursts)]
            late: list[float] = []
            # the mover: bursts land on schedule whatever the query is doing
            for d in due:
                time.sleep(max(0.0, d - time.perf_counter()))
                self._land()
                late.append(time.perf_counter() - d)
            watchdog = threading.Timer(max(1.0, deadline_s - (time.perf_counter() - t0)), kill)
            watchdog.start()
            try:
                self.query.processAllAvailable()
            finally:
                watchdog.cancel()
        if expired.is_set():
            raise TimeoutError(f"stream did not drain within {deadline_s:.0f} s")

        commits = {int(n): t for n, t in seen.seen.items()}
        landed: dict[str, float] = {}
        for batch, paths in _batch_files(self.ck).items():
            if batch in done:
                continue
            if batch not in commits:
                raise TimeoutError(f"micro-batch {batch} never committed")
            for p in paths:
                burst = p.rstrip("/").split("/")[-2]
                landed[burst] = max(landed.get(burst, 0.0), commits[batch])
        if sorted(landed) != sorted(names):
            raise RuntimeError(f"bursts committed {sorted(landed)} != offered {names}")
        lags = [landed[n] - d for n, d in zip(names, due)]
        wall = max(landed.values()) - t0
        progress = [p for p in self.query.recentProgress if p["batchId"] not in done]
        return Rep(wall, turns, lags, self.out, self.inbox, {"late_s": late, "progress": progress})

    def stop(self) -> None:
        self.query.stop()
