"""Benchmark of the transcript pipeline through its public API.

    python3 perfbench/run.py --workload pipeline_full --seed 1 --seconds 6 --trace 0

Runs one workload (see workloads.py) in this process against a
``local[n]`` session, ``n`` = the CPUs in this process's affinity set.
The seed draws the run's input from a pool of generated transcripts
(inputs.py), outside both set-up and timing. Every repetition's output
is checked with DuckDB (checks.py), including its sink counts against
a build over the zero-Python ``parse_text_sql`` parser.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs in an
event-logged session, makes one gated and one traced repetition and
prints the per-layer metrics (tracing.py). Before the last line a
``# record`` line carries the full record: host cores, seed, versions,
every repetition, and the lag percentile with its sample count. The
last line of stdout is the result:
``{"correct", "attempted", "failed", "metrics"}``.

End-to-end metrics (one value per run; medians over its repetitions):
  setup_s          session start + the workload's warm-up over its input
  turns_per_s      input turns ÷ timed wall (stream: ÷ first due → last commit)
  lag_s.p50/.hi    input due → output committed; batch: run start → each
                   table's manifest commit; stream: burst due → commit of
                   its micro-batch. ``.hi``: see ``high_percentile``
  cpu_s_per_mturn  CPU s of the JVM and its Python workers per 1M turns
  output_bytes/_files  parquet committed to slim and the sinks
  ok_frac          repetitions that succeeded and checked correct ÷ attempted
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:  # run as a script: make ``perfbench`` importable
    sys.path.insert(0, ROOT)

from perfbench import checks, inputs, procstat, session, tracing  # noqa: E402
from perfbench import workloads as w  # noqa: E402
WORKLOADS = ("pipeline_full", "stream_tail")
POOL_DEADLINE_S = 600  # the first run in a checkout also builds the input pool
HARD_DEADLINE_S = 150  # a run once the pool exists, set-up and checks included
REP_DEADLINE_S = 75  # one repetition; a hung job is cancelled at this point


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _versions() -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "python": sys.version.split()[0],
    }


def high_percentile(values: list[float]) -> tuple[float, str]:
    """The highest percentile with at least ten samples beyond it, and
    its label. Below 100 samples that percentile is under p90 (under the
    median below 20 samples), so the maximum is reported instead and
    labelled "max"; the record states the label and the sample count."""
    s = sorted(values)
    n = len(s)
    if n < 100:
        return s[-1], "max"
    return s[n - 11], f"p{100 * (n - 10) / n:.1f}"


class Bench:
    def __init__(self, args):
        self.args = args
        self.batch = args.workload == "pipeline_full"
        self.deadline = time.monotonic() + HARD_DEADLINE_S
        self.work = os.path.join(ROOT, ".perfbench_work")
        self.cores = len(os.sched_getaffinity(0))
        self.spark = None
        self.tail = None  # stream_tail's query, from set-up on
        self.ref = ""  # the parse_text_sql reference rows (checks.py)
        self.record: dict = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "host_cores": self.cores,
            "versions": _versions(),
            "phases_s": {},
            "reps": [],
            "mismatches": [],
            "errors": [],
        }

    # -- inputs, untimed ------------------------------------------------
    def prepare(self) -> str:
        """The seeded input; builds the pool first if this checkout has
        none."""
        a, phases = self.args, self.record["phases_s"]
        pool, phases["pool_build"] = inputs.ensure_pool(self.work, self.cores)
        self.ref = os.path.join(pool, "sql_ref")
        t = time.perf_counter()
        out = os.path.join(self.work, "input", a.workload)
        if self.batch:
            inp = inputs.batch_input(pool, out, a.seed, w.BATCH_ROWS)
        else:
            # a traced run makes a gated and a traced repetition
            bursts = w.STREAM_WARMUP_BURSTS + w.STREAM_BURSTS * (2 if a.trace else 1)
            inp = inputs.stream_input(
                pool, out, a.seed, bursts, w.STREAM_FILES_PER_BURST, w.STREAM_ROWS_PER_FILE
            )
        phases["input"] = time.perf_counter() - t
        return inp

    # -- set-up -------------------------------------------------------
    def setup(self, inp: str) -> float:
        """Session start and one warm-up over the run's own input, timed.
        A traced run starts its session with the event log on."""
        conf = tracing.event_log_conf(self.work) if self.args.trace else None
        start_s, self.spark = session.timed(session.start, self.cores, conf)
        t = time.perf_counter()
        if self.batch:
            w.pipeline_warmup(self.spark, inp, self.work)
        else:
            self.tail = w.Tail(self.spark, inp, self.work)
            self.tail.warm_up(w.STREAM_WARMUP_BURSTS)
        warm_s = time.perf_counter() - t
        self.record["setup"] = {"start_s": start_s, "warmup_s": warm_s}
        return start_s + warm_s

    # -- one repetition ---------------------------------------------------
    def rep(self, inp: str, i: int):
        out = os.path.join(self.work, "out")
        if self.batch:
            timer, fired = session.cancel_after(self.spark, REP_DEADLINE_S)
            try:
                return w.pipeline_rep(self.spark, inp, out)
            except Exception:
                if fired.is_set():
                    raise TimeoutError(f"repetition {i} cancelled after {REP_DEADLINE_S} s")
                raise
            finally:
                timer.cancel()
        interval_s = self.args.seconds / (w.STREAM_BURSTS - 1)
        return self.tail.rep(w.STREAM_BURSTS, interval_s, REP_DEADLINE_S)

    def check(self, rep) -> list[str]:
        expected = checks.reference_groups(self.ref, rep.input)
        return checks.check_sinks(rep.out, rep.input, self.batch, expected)

    def measure(self, inp: str) -> list:
        pid = session.jvm_pid()
        done, timed_s = [], 0.0
        while True:
            i = len(self.record["reps"])
            cpu0 = procstat.tree_usage(pid)[0]
            entry: dict = {"rep": i}
            self.record["reps"].append(entry)
            try:
                with procstat.PeakRss(pid) as rss:
                    rep = self.rep(inp, i)
                cpu = procstat.tree_usage(pid)[0] - cpu0
                t = time.perf_counter()
                bad = self.check(rep)
                entry["check_s"] = time.perf_counter() - t
            except Exception as e:  # a failed repetition is counted, not fatal
                entry["error"] = f"{type(e).__name__}: {e}"
                self.record["errors"].append(traceback.format_exc(limit=3))
                break  # the session may be unusable after a failure
            size, files = w.output_size(rep.out)
            entry.update(
                wall_s=rep.wall_s, turns=rep.turns, lags_s=rep.lags_s, cpu_s=cpu,
                jvm_rss_mb=rss.peak_root / 2**20, worker_rss_mb=rss.peak_children / 2**20,
                output_bytes=size, output_files=files, mismatches=bad,
                **{k: v for k, v in rep.extra.items() if k != "progress"},
            )
            self.record["mismatches"] += bad
            if not bad:
                done.append((rep, entry))
            timed_s += rep.wall_s
            # a traced run needs one gated repetition, as the overhead base
            if self.args.trace or timed_s >= self.args.seconds:
                break
        return done

    # -- result ---------------------------------------------------------------
    def end_to_end(self, setup_s: float, done: list) -> dict:
        reps = self.record["reps"]
        ok = [e for _, e in done]
        med = lambda k: statistics.median(e[k] for e in ok) if ok else 0.0  # noqa: E731
        lags = [x for e in ok for x in e["lags_s"]]
        hi, label = high_percentile(lags) if lags else (0.0, "none")
        self.record["lag"] = {"samples": len(lags), "hi_percentile": label}
        m = {
            "setup_s": (setup_s, "s"),
            "turns_per_s": (statistics.median(e["turns"] / e["wall_s"] for e in ok) if ok else 0.0, "turns/s"),
            "lag_s.p50": (statistics.median(lags) if lags else 0.0, "s"),
            "lag_s.hi": (hi, "s"),
            "cpu_s_per_mturn": (statistics.median(e["cpu_s"] / (e["turns"] / 1e6) for e in ok) if ok else 0.0, "s"),
            "output_bytes": (med("output_bytes"), "B"),
            "output_files": (med("output_files"), "count"),
            "ok_frac": (len(ok) / len(reps) if reps else 0.0, "ratio"),
        }
        return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}

    def run(self, inp: str) -> dict:
        phases = self.record["phases_s"]
        t = time.perf_counter()
        setup_s = self.setup(inp)
        phases["setup"] = time.perf_counter() - t
        t = time.perf_counter()
        done = self.measure(inp)
        phases["measure"] = time.perf_counter() - t
        metrics = self.end_to_end(setup_s, done)
        self.record["end_to_end"] = metrics
        if self.args.trace:
            t = time.perf_counter()
            gated_wall = statistics.median(r.wall_s for r, _ in done) if done else None
            per_layer, self.record["trace"] = tracing.traced_run(self, inp, gated_wall)
            self.spark = None  # the traced run shut the session down
            phases["trace"] = time.perf_counter() - t
            metrics = per_layer
        reps = self.record["reps"]  # measure() always attempts one
        failed = sum(1 for e in reps if "error" in e or e.get("mismatches"))
        return {"correct": failed == 0, "attempted": len(reps), "failed": failed, "metrics": metrics}

    def close(self) -> None:
        if self.tail is not None:
            with contextlib.suppress(Exception):  # a watchdog may have stopped it
                self.tail.stop()
            self.tail = None
        if self.spark is not None:
            session.shutdown(self.spark)
            self.spark = None


def _abort_at(deadline_s: float) -> threading.Timer:
    """Last resort for a run that hangs outside a repetition's own
    watchdog: kill the JVM and exit without a result."""

    def fire() -> None:
        print(f"perfbench: run exceeded {deadline_s:.0f} s; aborting", file=sys.stderr)
        try:
            from pyspark import SparkContext

            proc = SparkContext._gateway.proc
            proc.kill()
            proc.wait()
        except Exception:
            pass
        os._exit(3)

    t = threading.Timer(deadline_s, fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isdir(os.path.join(ROOT, "s3_log_parser_spark")):
        print("perfbench: the s3_log_parser_spark package is not in this checkout", file=sys.stderr)
        return 2
    session.prepare_env(ROOT, os.path.join(ROOT, ".perfbench_work"))
    bench = Bench(args)
    try:
        abort = _abort_at(POOL_DEADLINE_S)
        inp = bench.prepare()
        abort.cancel()
        bench.deadline = time.monotonic() + HARD_DEADLINE_S
        _abort_at(HARD_DEADLINE_S)
        result = bench.run(inp)
    finally:
        bench.close()
    rec_dir = os.path.join(bench.work, "records")
    os.makedirs(rec_dir, exist_ok=True)
    with open(os.path.join(rec_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w") as f:
        json.dump(bench.record, f, indent=1, default=str)
    print("# record " + json.dumps(bench.record, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
