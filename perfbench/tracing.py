"""The traced run: per-layer metrics, taken apart from the gated runs.

A ``--trace 1`` run starts its session with Spark's event log switched
on (``get_spark(extra_conf=…)``), sets up and makes one gated
repetition as a ``--trace 0`` run does, then:

1. One repetition of the workload runs with the package's layer
   functions wrapped from outside (call counts, and the time window of
   ``route_and_write``). Its jobs are folded from the event log: route
   sinks by output path inside the route window — router threads do not
   inherit job groups — and the slim checkpoint by its path.
2. On ``pipeline_full``, noop-sink prefixes of the batch slim plan run
   under the benchmark's own job groups: scan, + Arrow parse, + encode
   and classify, + ST1 flags window, ``build_slim`` itself (+ enrich),
   + the slim parquet write. A layer's self time is its prefix's wall
   minus the previous prefix's. A second ``run_pipeline`` with the same
   ``run_id`` times the manifest skip on resume.
3. On ``pipeline_full``, the N-vs-1 scaling record (not a gated metric):
   a slice of the input at ``local[n]``, then at ``local[1]`` in a fresh
   context of the same warm JVM pinned to one CPU of the affinity set.

A layer whose functions the traced repetition never called reports
zero: that is the measured fact, e.g. no router work on ``stream_tail``.
"""

from __future__ import annotations

import contextlib
import importlib
import os
import shutil
import statistics
import time

from perfbench import checks, eventlog, procstat, session, workloads

GROUP = "perfbench:"
# (module, attribute, layer): the public functions each layer is entered by
LAYER_FUNCTIONS = [
    ("s3_log_parser_spark.functions.parsing_arrow", "parse_text_arrow", "parsing_arrow"),
    ("s3_log_parser_spark.functions.encode", "encode_slim_flat", "encode"),
    ("s3_log_parser_spark.plans.pipeline", "classify_when", "encode"),
    ("s3_log_parser_spark.plans.pipeline", "with_flags", "flags"),
    ("s3_log_parser_spark.plans.pipeline", "enrich_role_tool", "enrich"),
    ("s3_log_parser_spark.plans.pipeline", "route_and_write", "router"),
    ("s3_log_parser_spark.streaming.stream", "parse_text_pandas", "parsing_pandas"),
    ("s3_log_parser_spark.streaming.stream", "encode_slim", "encode"),
    ("s3_log_parser_spark.streaming.stream", "classify_when", "encode"),
    ("s3_log_parser_spark.streaming.stream", "enrich_role_tool", "enrich"),
]
PREFIX_SAMPLES = 1
SCALING_FILES = 1  # of the input's eight parquet files
SCALING_MIN_CORES = 4
SCALING_MIN_LEFT_S = 35  # both legs take ~15-30 s on a 4-core VM
SCALING_RESERVE_S = 8  # kept for shutdown and printing after the legs


class Calls:
    """Call counts per layer and the (start, end) epoch-ms windows of
    the eager calls (``route_and_write``)."""

    def __init__(self):
        self.count: dict[str, int] = {}
        self.windows: dict[str, list[tuple[float, float]]] = {}

    def wrap(self, fn, layer: str):
        def wrapper(*args, **kwargs):
            self.count[layer] = self.count.get(layer, 0) + 1
            t0 = time.time() * 1e3
            try:
                return fn(*args, **kwargs)
            finally:
                self.windows.setdefault(layer, []).append((t0, time.time() * 1e3))

        return wrapper

    def busy_s(self, layer: str) -> float:
        return sum(b - a for a, b in self.windows.get(layer, ())) / 1e3

    @contextlib.contextmanager
    def installed(self):
        saved = []
        for mod_name, attr, layer in LAYER_FUNCTIONS:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr, None)
            if fn is not None:  # a later tree may have removed it
                saved.append((mod, attr, fn))
                setattr(mod, attr, self.wrap(fn, layer))
        try:
            yield self
        finally:
            for mod, attr, fn in saved:
                setattr(mod, attr, fn)


def _group(spark, name: str | None) -> None:
    sc = spark.sparkContext
    if name is None:
        sc.setLocalProperty("spark.jobGroup.id", None)
    else:
        sc.setJobGroup(GROUP + name, name)


def _prefixes(spark, input_path: str, scratch: str, pid: int) -> dict[str, tuple[float, float]]:
    """Median (wall s, process-tree CPU s) of each cumulative prefix of
    the batch slim plan, each written to a noop sink (the last to
    parquet), over PREFIX_SAMPLES rounds."""
    from s3_log_parser_spark.functions.encode import encode_slim_flat
    from s3_log_parser_spark.functions.parsing_arrow import parse_text_arrow
    from s3_log_parser_spark.operators.enrich import classify_when
    from s3_log_parser_spark.operators.flags import with_flags
    from s3_log_parser_spark.plans.pipeline import build_slim
    from s3_log_parser_spark.sources.catalog import Catalog

    t = spark.read.parquet(input_path).select("conv_id", "turn_idx", "role", "tool", "text", "ts")
    parsed = parse_text_arrow(t, "text", "conv_id")
    encoded = classify_when(encode_slim_flat(parsed)).drop("user_agent")
    chain = [
        ("sources", t),
        ("parsing_arrow", parsed),
        ("encode", encoded),
        ("flags", with_flags(encoded)),
        ("enrich", build_slim(t)),
        ("pipeline", None),
    ]
    samples: dict[str, list[tuple[float, float]]] = {}
    for _ in range(PREFIX_SAMPLES):
        for layer, df in chain:
            _group(spark, f"prefix:{layer}")
            cpu0 = procstat.tree_usage(pid)[0]
            t0 = time.perf_counter()
            if df is None:
                Catalog(spark, scratch).write(build_slim(t), "slim", mode="overwrite")
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.setdefault(layer, []).append(
                (time.perf_counter() - t0, procstat.tree_usage(pid)[0] - cpu0)
            )
    _group(spark, None)
    return {
        layer: (statistics.median(w for w, _ in xs), statistics.median(c for _, c in xs))
        for layer, xs in samples.items()
    }


def _slim_ok_frac(out: str) -> float:
    import duckdb

    ok, total = duckdb.sql(
        "SELECT count(*) FILTER (WHERE parse_status = 'ok'), count(*) "
        f"FROM read_parquet('{out}/slim/**/*.parquet')"
    ).fetchone()
    return ok / total if total else 0.0


def _route_layers(jobs: dict, calls: Calls) -> dict[str, list]:
    """Router jobs: submitted inside a ``route_and_write`` window. A
    sink's jobs are those writing ``<sink>`` or ``<sink>_counts``."""
    layers: dict[str, list] = {"router": [], **{f"router.{s}": [] for s in checks.SINKS}}
    windows = calls.windows.get("router", [])
    for job in jobs.values():
        if job.group.startswith(GROUP + "prefix:"):
            continue
        if not any(a <= job.submit_ms <= b for a, b in windows):
            continue
        layers["router"].append(job)
        table = (job.path or "").rstrip("/").rsplit("/", 1)[-1]
        sink = table[: -len("_counts")] if table.endswith("_counts") else table
        if sink in checks.SINKS:
            layers[f"router.{sink}"].append(job)
    return layers


def _stream_layer(progress: list) -> dict[str, float]:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    med = lambda xs: statistics.median(xs) if xs else 0.0  # noqa: E731
    d = [p["durationMs"] for p in batches]
    return {
        "stream.batches": len(batches),
        "stream.batch_s.p50": med([x.get("triggerExecution", 0) / 1e3 for x in d]),
        "stream.add_batch_s.p50": med([x.get("addBatch", 0) / 1e3 for x in d]),
        "stream.commit_s.p50": med([x.get("commitOffsets", 0) / 1e3 for x in d]),
        "stream.rows_per_batch": med([p["numInputRows"] for p in batches]),
    }


def per_layer(bench, rep, calls: Calls, jobs: dict, prefixes: dict, resume_s: float, gated_wall) -> dict:
    batch = bench.args.workload == "pipeline_full"
    setup = bench.record["setup"]
    m: dict[str, float] = {"session.start_s": setup["start_s"], "session.warmup_s": setup["warmup_s"]}

    walls = {k: w for k, (w, _) in prefixes.items()}
    order = ["sources", "parsing_arrow", "encode", "flags", "enrich", "pipeline"]
    selfs = {k: walls[k] - walls[p] for p, k in zip(order, order[1:]) if k in walls and p in walls}
    m["sources.scan_s"] = walls.get("sources", 0.0)
    parsed = calls.count.get("parsing_arrow", 0) > 0
    m["parsing_arrow.self_s"] = selfs.get("parsing_arrow", 0.0)
    m["parsing_arrow.cpu_s"] = prefixes["parsing_arrow"][1] - prefixes["sources"][1] if prefixes else 0.0
    m["parsing_arrow.ok_frac"] = _slim_ok_frac(rep.out) if parsed else 0.0
    m["encode.self_s"] = selfs.get("encode", 0.0)
    m["enrich.self_s"] = selfs.get("enrich", 0.0)

    flags_jobs = [j for j in jobs.values() if j.group == GROUP + "prefix:flags"]
    f = eventlog.summarize(flags_jobs)
    m["flags.self_s"] = selfs.get("flags", 0.0)
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes"):
        m[f"flags.{k}"] = f[k]
    # skew of the window itself: the stage reading the ST1 exchange
    m["flags.task_skew"] = eventlog.task_skew(
        [t for j in flags_jobs for t in j.tasks if t.shuffle_read > 0]
    )

    slim_bytes, slim_files = workloads.output_size(os.path.join(rep.out, "slim"))
    m["pipeline.slim_write_s"] = selfs.get("pipeline", 0.0)
    m["pipeline.slim_bytes"] = slim_bytes
    m["pipeline.slim_files"] = slim_files

    routes = _route_layers(jobs, calls)
    r = eventlog.summarize(routes["router"])
    m["router.wall_s"] = calls.busy_s("router")
    m["router.cpu_s"] = r["cpu_s"]
    m["router.gc_s"] = r["gc_s"]
    m["router.task_skew"] = r["task_skew"]
    # how many times the route stage reads slim end to end
    slim_rows = rep.turns if batch else 0
    m["router.scan_amplification"] = r["input_records"] / slim_rows if slim_rows and routes["router"] else 0.0
    for s in checks.SINKS:
        sj = routes[f"router.{s}"]
        data_jobs = [j for j in sj if not (j.path or "").rstrip("/").endswith("_counts")]
        size, files = workloads.output_size(os.path.join(rep.out, s)) if sj else (0, 0)
        summary = eventlog.summarize(sj)
        m[f"router.{s}.wall_s"] = summary["wall_s"]
        m[f"router.{s}.cpu_s"] = summary["cpu_s"]
        m[f"router.{s}.rows"] = eventlog.summarize(data_jobs)["output_records"]
        m[f"router.{s}.bytes"] = size
        m[f"router.{s}.files"] = files

    m["lineage.resume_skip_s"] = resume_s
    m.update(_stream_layer(rep.extra.get("progress", [])))
    m["gen.late_s.max"] = max(rep.extra.get("late_s", [0.0]))
    m["trace.overhead_s"] = rep.wall_s - gated_wall if gated_wall is not None else 0.0
    return m


UNITS = {
    "_s": "s", "_s.p50": "s", "_s.max": "s", "_bytes": "B", ".bytes": "B",
    "_files": "count", ".files": "count", ".rows": "count", ".batches": "count",
    ".rows_per_batch": "count", "_frac": "ratio", "_skew": "ratio", "_amplification": "ratio",
}


def _unit(name: str) -> str:
    return next(u for suffix, u in sorted(UNITS.items(), key=lambda kv: -len(kv[0])) if name.endswith(suffix))


def event_log_conf(work: str) -> dict:
    """Session conf that writes an uncompressed event log to a fresh
    directory under ``work``."""
    log_dir = os.path.join(work, "eventlog")
    shutil.rmtree(log_dir, ignore_errors=True)
    os.makedirs(log_dir)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
    }


def traced_run(bench, inp: str, gated_wall):
    """Returns (per-layer metrics, detail); shuts the session down."""
    spark = bench.spark
    pid = session.jvm_pid()
    batch = bench.batch
    _group(spark, "rep")
    calls = Calls()
    i = len(bench.record["reps"])
    with calls.installed():
        rep = bench.rep(inp, i)
    _group(spark, None)
    bad = bench.check(rep)
    bench.record["reps"].append({"rep": i, "traced": True, "wall_s": rep.wall_s, "mismatches": bad})
    bench.record["mismatches"] += bad
    prefixes, resume_s = {}, 0.0
    scaling_record = {"skipped": "recorded on pipeline_full only"}
    if not batch:
        bench.tail.stop()
        bench.tail = None
    else:
        _group(spark, "resume")
        resume_s, _ = session.timed(workloads.pipeline_resume, spark, inp, rep.out)
        prefixes = _prefixes(spark, inp, os.path.join(bench.work, "prefix_out"), pid)
        _group(spark, "scaling")
        scaling_record = scaling(bench, spark, inp)
    session.shutdown(spark)  # no-op when the 1-core leg already did

    jobs = eventlog.jobs(eventlog.read_events(os.path.join(bench.work, "eventlog")))
    metrics = per_layer(bench, rep, calls, jobs, prefixes, resume_s, gated_wall)
    detail = {
        "traced_wall_s": rep.wall_s,
        "gated_median_wall_s": gated_wall,
        "calls": calls.count,
        "prefix_wall_s": {k: w for k, (w, _) in prefixes.items()},
        "jobs": len(jobs),
        "scaling": scaling_record,
    }
    return {k: {"value": v, "unit": _unit(k)} for k, v in metrics.items()}, detail


def scaling(bench, spark, inp: str) -> dict:
    """The paper's N-vs-1 scaling efficiency, (T1 / TN) / N, on the
    first SCALING_FILES files of the input: TN one repetition at
    ``local[N]`` in the warm session, T1 one at ``local[1]`` in a fresh
    context of the same JVM, with the JVM and its workers pinned to one
    CPU of the affinity set. Stops ``spark`` (flushing its event log)."""
    n = bench.cores
    left = bench.deadline - time.monotonic()
    if n < SCALING_MIN_CORES:
        spark.stop()
        return {"skipped": f"{n} cores in the affinity set; needs {SCALING_MIN_CORES}"}
    if left < SCALING_MIN_LEFT_S:
        spark.stop()
        return {"skipped": f"{left:.0f} s of the run's time budget left; the legs need ~{SCALING_MIN_LEFT_S} s"}
    part = os.path.join(bench.work, "scaling_in")
    shutil.rmtree(part, ignore_errors=True)
    os.makedirs(part)
    files = sorted(f for f in os.listdir(inp) if f.endswith(".parquet"))[:SCALING_FILES]
    for f in files:
        os.link(os.path.join(inp, f), os.path.join(part, f))
    out = os.path.join(bench.work, "scaling")
    walls = {}
    for cores in (n, 1):
        if cores == 1:
            spark.stop()  # flushes the event log; the JVM stays
            spark = session.start(1)
            cpu = min(os.sched_getaffinity(0))
            procstat.pin_tree(session.jvm_pid(), cpu)
        left = bench.deadline - time.monotonic()
        timer, fired = session.cancel_after(spark, left - SCALING_RESERVE_S)
        try:
            walls[cores] = workloads.pipeline_rep(spark, part, out, run_id=f"scaling{cores}").wall_s
        except Exception as e:
            reason = "deadline" if fired.is_set() else f"{type(e).__name__}: {e}"
            session.shutdown(spark)
            return {"skipped": f"{cores}-core leg failed: {reason}"}
        finally:
            timer.cancel()
    session.shutdown(spark)
    return {
        "cores": [1, n], "cpu": cpu, "files": len(files), "wall_s": [walls[1], walls[n]],
        "speedup": walls[1] / walls[n], "efficiency": walls[1] / walls[n] / n,
    }
