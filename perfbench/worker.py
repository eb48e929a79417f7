"""Run one benchmark workload in this process; started by ``run.py``.

Each workload is one closed-loop client on ``local[--cpus]``:

1. set-up: start the session and load the program once, then prepare
   the inputs three times (generate them from the seed into a new
   directory, then the program's own input step: binlog recording, or
   scan registration) and keep the median;
2. one cold pass (or catch-up): the first in this process;
3. ``WARMUP`` untimed warm passes (or catch-ups), then timed ones until
   ``--seconds`` have passed, and at least ``MIN_WARM`` of them;
4. output checks against DuckDB, outside every timed region.

With ``--trace 1`` one warm pass, between untraced ones, is traced; the
per-layer metrics come from it, and its time minus the median untraced
pass is reported as the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import resource
import shutil
import statistics
import sys
import time
from collections import Counter, defaultdict
from contextlib import nullcontext
from datetime import datetime

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import tracing as trace  # noqa: E402
from run import parse_args as _run_args  # noqa: E402

#: 19 of the 32 keys of bench.py's frozen HEADLINE, one to three per
#: operator family (scan, agg, join, window, CDC/FINAL, TPC-H, dedup, sim,
#: text): all 32 do not fit the time budget of a comparison.  Frozen here
#: so the benchmark does not move with bench.py.
HEADLINE_KEYS = (
    "scan_projection_pushdown", "filter_conjunctive",
    "agg_groupby_multi", "agg_percentiles",
    "join_inner_equi", "join_asof", "join_skew_salted",
    "win_ranking", "topk_per_group", "sessionize_batch",
    "cdc_apply_upsert", "cdc_scd2_history",
    "tpch_q5_shape", "tpch_q18_shape",
    "dedup_exact_text", "dedup_minhash",
    "sim_cosine_topk",
    "text_tfidf_terms", "text_quality",
)

SIZES = {
    "full": {
        "replicate": {"events": 24_000, "keys": 4_800, "batch": 4_000},
        "headline": {"sf": 0.005, "docs": 400, "vectors": 300},
    },
    "tiny": {
        "replicate": {"events": 3_000, "keys": 600, "batch": 1_000},
        "headline": {"sf": 0.002, "docs": 400, "vectors": 100},
    },
}
PREPARATIONS = 3
MIN_WARM = {"replicate": 2, "headline": 2}
#: untimed passes (catch-ups) between the cold one and the timed ones:
#: the first after the cold one still runs up to 40% (headline) or 6-17%
#: (replicate) slow, by an amount that differs from run to run, while
#: the JIT compiles the query paths
WARMUP = 1
CATCHUP_TIMEOUT_S = 120.0


def family(key: str) -> str:
    """Layer metric a key's execute time is reported under."""
    for prefix, fam in (
        ("cdc_", "plans.cdc"), ("tpch_", "operators.tpch"), ("join_", "operators.join"),
        ("agg_", "operators.agg"), ("win_", "operators.win"), ("topk_", "operators.win"),
        ("sessionize_", "operators.win"), ("scan_", "operators.scan"),
        ("filter_", "operators.scan"), ("dedup_", "functions.dedup"),
        ("sim_", "functions.sim"), ("text_", "functions.text"),
    ):
        if key.startswith(prefix):
            return fam
    raise KeyError(key)


#: every per-layer metric: name -> unit.  A workload that does not
#: exercise a layer reports 0 for it.
PER_LAYER = {
    "sources.decode_rows_per_s": "1/s", "sources.decode_s": "s",
    "sources.binlog_bytes_per_event": "bytes", "sources.tx_per_event": "ratio",
    "sources.encode_rows_per_s": "1/s", "sources.wire_bytes_per_row": "bytes",
    "sources.sink_bytes_per_event": "bytes",
    "streaming.batches": "count", "streaming.events_per_s": "1/s",
    "streaming.latest_offset_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.wal_commit_ms": "ms", "streaming.commit_offsets_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.idle_ms": "ms",
    "plans.compact_rows_in": "count", "plans.compact_rows_out": "count",
    "plans.compact_keep_ratio": "ratio", "plans.batch_action_ms": "ms",
    "plans.cdc_execute_ms": "ms",
    "registry.construct_ms_cold": "ms", "registry.construct_ms_warm": "ms",
    "spark.construct_jobs": "count", "session.get_spark_s": "s",
    "session.table_ms_cold": "ms", "session.table_ms_warm": "ms",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "operators.agg_execute_ms": "ms", "operators.join_execute_ms": "ms",
    "operators.win_execute_ms": "ms", "operators.tpch_execute_ms": "ms",
    "operators.scan_execute_ms": "ms",
    "plan.exchanges": "count", "plan.smj": "count", "plan.bnlj": "count",
    "plan.python_evals": "count",
    "functions.dedup_execute_ms": "ms", "functions.sim_execute_ms": "ms",
    "functions.text_execute_ms": "ms",
    "spark.action_jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.input_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.spill_bytes": "bytes",
    "spark.executor_run_ms": "ms", "spark.executor_cpu_ms": "ms",
    "spark.gc_ms": "ms", "spark.task_skew": "ratio",
    "process.peak_rss_mb": "MB",
    "trace.overhead_ms": "ms",
}


def pct(samples: list[float], q: int) -> float:
    """q-th percentile, Harrell-Davis estimate: a Beta-weighted average of
    every order statistic.  The samples of a pass are different queries,
    so two of them near the percentile can swap places between runs; a
    one- or two-point percentile then jumps by their gap, this one does
    not.  Fewer than 5 samples fall back to linear interpolation."""
    x = np.sort(np.asarray(samples, dtype=float))
    n, p = len(x), q / 100.0
    if n < 5:
        return float(np.quantile(x, p))
    a, b = (n + 1) * p, (n + 1) * (1 - p)
    t = np.linspace(0.0, 1.0, 20001)
    pdf = t ** (a - 1) * (1 - t) ** (b - 1)
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    weights = np.diff(np.interp(np.arange(n + 1) / n, t, cdf / cdf[-1]))
    return float(weights @ x)


class Run:
    """State shared by every workload: session, inputs, metrics, checks."""

    def __init__(self, args: argparse.Namespace) -> None:
        self.args = args
        self.size = SIZES[args.size]
        self.inputs_root = os.path.join(args.work, "inputs")
        os.makedirs(self.inputs_root, exist_ok=True)
        self.tracer = trace.Tracer() if args.trace else None
        # a traced run puts its one traced pass between untraced ones
        self.min_warm = MIN_WARM[args.workload] + bool(self.tracer)
        self.e2e: dict[str, tuple[float, str, int]] = {}
        self.layer: dict[str, float] = dict.fromkeys(PER_LAYER, 0.0)
        self.stats: dict = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    # --- set-up -------------------------------------------------------
    def start_session(self) -> None:
        if self.tracer:
            trace.patch_table(self.tracer)
        from mysql_clickhouse_replication_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        self.sc = self.spark.sparkContext
        self.layer["session.get_spark_s"] = self.session_s

    def load_program(self) -> None:
        """Import what the workload calls (subclasses)."""

    def setup(self) -> None:
        t0 = time.perf_counter()
        self.start_session()
        self.load_program()
        once = time.perf_counter() - t0
        times = []
        dirs = []
        for _ in range(PREPARATIONS):
            t0 = time.perf_counter()
            dirs.append(self.prepare())
            times.append(time.perf_counter() - t0)
        for d in dirs[:-1]:
            shutil.rmtree(d, ignore_errors=True)
        self.input_dir = dirs[-1]
        self.e2e["setup_s"] = (once + statistics.median(times), "s", PREPARATIONS)

    def fail(self, n: int, what: str) -> None:
        self.failed += n
        self.problems.append(what)

    # --- results ------------------------------------------------------
    def peak_rss_mb(self) -> float:
        py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
        jvm = 0.0
        pid = self.sc._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    jvm = int(line.split()[1]) / 1024.0
        return py + jvm

    def report(self) -> dict:
        print(f"workload {self.args.workload} seed {self.args.seed} trace {self.args.trace}")
        print("inputs " + json.dumps(self.stats, sort_keys=True))
        frac = self.failed / max(1, self.attempted)
        print(f"metric ops_failed_frac = {frac:.6f} ratio (n={self.attempted})")
        for name, (value, unit, n) in self.e2e.items():
            print(f"metric {name} = {value:.6g} {unit} (n={n})")
        for p in self.problems[:20]:
            print(f"problem {p}")
        if self.args.trace:
            for name, unit in PER_LAYER.items():
                print(f"layer {name} = {self.layer[name]:.6g} {unit}")
            metrics = {k: {"value": float(self.layer[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u, _) in self.e2e.items()}
        return {
            "correct": self.failed == 0,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": metrics,
        }


class Replicate(Run):
    """binlog -> decode -> per-batch FINAL -> RowBinary -> landed payloads."""

    def __init__(self, args: argparse.Namespace) -> None:
        super().__init__(args)
        self.binlogs: list[str] = []

    def load_program(self) -> None:
        # imported here so that their import cost counts in set-up
        from mysql_clickhouse_replication_spark.plans import cdc  # noqa: F401
        from mysql_clickhouse_replication_spark.sources import binlog, binlog_wire, rowbinary  # noqa: F401

        self.spark.dataSource.register(binlog.BinlogReplaySource)

    def prepare(self) -> str:
        from mysql_clickhouse_replication_spark.sources.binlog_wire import record_changelog

        cfg = self.size["replicate"]
        d = gen.new_dir(self.inputs_root, "changelog")
        self.stats = gen.changelog(d, self.args.seed, cfg["events"], cfg["keys"])
        self.binlog = record_changelog(os.path.join(d, "events.parquet"))
        self.binlogs.append(self.binlog)
        return d

    def setup(self) -> None:
        super().setup()
        self.events = os.path.join(self.input_dir, "events.parquet")
        self.log_end = os.path.getsize(self.binlog)

    def catch_up(self, n: int, traced: bool) -> dict:
        """Replay the whole binlog into a new sink and checkpoint with a
        processingTime trigger; stop once the last offset is committed."""
        from mysql_clickhouse_replication_spark.plans.cdc import compact
        from mysql_clickhouse_replication_spark.sources.rowbinary import encode_batches

        sink = os.path.join(self.args.work, f"sink-{n}")
        ckpt = os.path.join(self.args.work, f"ckpt-{n}")
        tracer = self.tracer if traced else None
        tid = f"catchup-{n}"

        def body(bdf, batch_id):
            if tracer is None:
                encode_batches(compact(bdf), check.WIRE_TYPES).write.mode(
                    "overwrite").parquet(f"{sink}/batch_id={batch_id}")
                return
            with tracer.span("streaming.batch_body", tid, batch=batch_id):
                with tracer.span("plans.compact", tid):
                    compacted = compact(bdf)
                with tracer.span("sources.encode_batches", tid):
                    payloads = encode_batches(compacted, check.WIRE_TYPES)
                with tracer.span("catalyst.plan", tid) as sp:
                    sp["phases"], sp["plan"] = trace.catalyst_phases(payloads)
                with tracer.span("plans.batch_action", tid):
                    payloads.write.mode("overwrite").parquet(f"{sink}/batch_id={batch_id}")

        src = (
            self.spark.readStream.format("binlog_replay")
            .option("path", self.events)
            .option("batchsize", str(self.size["replicate"]["batch"]))
            .load()
        )
        t0 = time.perf_counter()
        started = time.time()
        q = (
            src.writeStream.foreachBatch(body)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        error = None
        try:
            # poll slowly: each poll is a py4j round trip that would compete
            # with the batches for the CPU; the wall comes from the progress
            while True:
                lp = q.lastProgress
                end = lp and lp["sources"][0].get("endOffset")
                if end and int(re.search(r"\d+", str(end)).group()) >= self.log_end:
                    break
                if not q.isActive:
                    error = str(q.exception())
                    break
                if time.perf_counter() - t0 > CATCHUP_TIMEOUT_S:
                    error = "catch-up timed out"
                    break
                time.sleep(0.1)
        finally:
            q.stop()
        progress = [p for p in q.recentProgress if p["numInputRows"] > 0]
        wall = time.perf_counter() - t0
        if progress:
            last = progress[-1]
            done = datetime.fromisoformat(last["timestamp"]).timestamp()
            wall = done + last["durationMs"]["triggerExecution"] / 1000.0 - started
        return {"n": n, "wall": wall, "progress": progress, "sink": sink,
                "error": error, "run_id": str(q.runId)}

    def verify(self, cu: dict) -> None:
        batches = [(p["batchId"], p["numInputRows"]) for p in cu["progress"]]
        self.attempted += max(1, len(batches))
        if cu["error"]:
            self.fail(max(1, len(batches)), f"catch-up {cu['n']}: {cu['error']}")
            return
        total = sum(n for _, n in batches)
        if total != self.stats["events"]:
            self.fail(len(batches), f"catch-up {cu['n']}: {total} rows read, "
                      f"{self.stats['events']} generated")
            return
        batch = self.size["replicate"]["batch"]
        short = [b for b, n in batches[:-1] if n < batch]
        if short:
            self.fail(len(short), f"catch-up {cu['n']}: batches {short} cut below batchsize")
        if self.args.corrupt and cu["n"] == 0:
            last = os.path.join(cu["sink"], f"batch_id={batches[-1][0]}")
            shutil.rmtree(last)
        landed, nbytes, declared = check.landed_rows(cu["sink"])
        bad, final_ok = check.check_replication(self.events, batches, landed)
        if declared != landed.num_rows:
            self.fail(len(batches), f"catch-up {cu['n']}: payload row counts "
                      f"{declared} != decoded {landed.num_rows}")
        elif bad:
            self.fail(len(bad), f"catch-up {cu['n']}: batches {sorted(bad)[:5]} differ "
                      "from their FINAL")
        elif not final_ok:
            self.fail(len(batches), f"catch-up {cu['n']}: cross-batch FINAL differs")
        cu["landed_rows"] = landed.num_rows
        cu["sink_bytes"] = nbytes

    def execute(self) -> None:
        cold = self.catch_up(0, traced=False)
        warmup = [self.catch_up(1 + i, traced=False) for i in range(WARMUP)]
        warm, traced = [], []
        t0 = time.perf_counter()
        n = 1 + WARMUP
        while len(warm) < self.min_warm or time.perf_counter() - t0 < self.args.seconds:
            is_traced = bool(self.tracer) and not traced and len(warm) >= 1
            cu = self.catch_up(n, traced=is_traced)
            (traced if is_traced else warm).append(cu)
            n += 1
        events = self.stats["events"]
        lat = [p["durationMs"]["triggerExecution"] for cu in warm for p in cu["progress"]]
        warm_s = statistics.median(cu["wall"] for cu in warm)
        self.e2e["cold_s"] = (cold["wall"], "s", 1)
        self.e2e["warm_s"] = (warm_s, "s", len(warm))
        self.e2e["op_p50_ms"] = (pct(lat, 50), "ms", len(lat))
        self.e2e["op_p80_ms"] = (pct(lat, 80), "ms", len(lat))
        self.layer["process.peak_rss_mb"] = self.peak_rss_mb()
        for cu in [cold, *warmup, *warm, *traced]:
            self.verify(cu)
            shutil.rmtree(cu["sink"], ignore_errors=True)
        self.stats["batches_per_catchup"] = len(cold["progress"])
        self.stats["events_per_s"] = round(events / warm_s, 1)
        self.stats["sink_bytes_per_event"] = round(cold.get("sink_bytes", 0) / events, 3)
        if self.tracer:
            self.trace_layers(warm, traced)

    def trace_layers(self, warm: list[dict], traced: list[dict]) -> None:
        from mysql_clickhouse_replication_spark.sources import binlog_wire, rowbinary

        L = self.layer
        cu = traced[-1]
        events = self.stats["events"]
        prog = cu["progress"]
        med = lambda k: statistics.median(p["durationMs"].get(k, 0) for p in prog)  # noqa: E731
        L["streaming.batches"] = len(prog)
        L["streaming.events_per_s"] = events / statistics.median(c["wall"] for c in warm)
        L["streaming.latest_offset_ms"] = med("latestOffset")
        L["streaming.add_batch_ms"] = med("addBatch")
        L["streaming.wal_commit_ms"] = med("walCommit")
        L["streaming.commit_offsets_ms"] = med("commitOffsets")
        L["streaming.query_planning_ms"] = med("queryPlanning")
        L["streaming.idle_ms"] = statistics.median(
            c["wall"] * 1000.0 - sum(p["durationMs"]["triggerExecution"] for p in c["progress"])
            for c in warm
        )
        L["plans.compact_rows_in"] = sum(p["numInputRows"] for p in prog)
        L["plans.compact_rows_out"] = cu.get("landed_rows", 0)
        L["plans.compact_keep_ratio"] = cu.get("landed_rows", 0) / events
        L["plans.batch_action_ms"] = statistics.median(
            self.tracer.durations("plans.batch_action", trace=f"catchup-{cu['n']}"))
        L["sources.sink_bytes_per_event"] = cu.get("sink_bytes", 0) / events
        phases: Counter = Counter()
        plans: Counter = Counter()
        for s in self.tracer.spans:
            if s["name"] == "catalyst.plan" and s["trace"] == f"catchup-{cu['n']}":
                phases.update(s["phases"])
                plans.update(trace.plan_counts(s.pop("plan")))
        L.update(phases)
        L.update(plans)
        jobs, skew = trace.job_metrics(self.sc, trace.job_ids(self.sc, cu["run_id"]))
        L.update(jobs)
        L["spark.task_skew"] = skew
        L["trace.overhead_ms"] = 1000.0 * (
            statistics.median(c["wall"] for c in traced)
            - statistics.median(c["wall"] for c in warm))
        with open(self.binlog, "rb") as fh:
            buf = fh.read()
        t0 = time.perf_counter()
        rows = [r for r, _ in binlog_wire.decode(buf)]
        decode_s = time.perf_counter() - t0
        L["sources.decode_s"] = decode_s
        L["sources.decode_rows_per_s"] = len(rows) / decode_s
        L["sources.binlog_bytes_per_event"] = len(buf) / events
        L["sources.tx_per_event"] = len(binlog_wire.tx_boundaries(buf)) / events
        sample = rows[:20_000]
        t0 = time.perf_counter()
        payload = rowbinary.encode_rows(check.WIRE_TYPES, sample)
        L["sources.encode_rows_per_s"] = len(sample) / (time.perf_counter() - t0)
        L["sources.wire_bytes_per_row"] = len(payload) / len(sample)

    def cleanup(self) -> None:
        for path in self.binlogs:
            try:
                os.remove(path)
            except OSError:
                pass


class Headline(Run):
    """HEADLINE_KEYS over the generated fixture."""

    def __init__(self, args: argparse.Namespace) -> None:
        super().__init__(args)
        self.collected: dict[str, tuple[list[str], list[tuple]]] = {}

    def prepare(self) -> str:
        from mysql_clickhouse_replication_spark.session import TABLES, table

        cfg = self.size["headline"]
        d = gen.new_dir(self.inputs_root, "fixture")
        self.stats = gen.fixture(d, self.args.seed, cfg["sf"], cfg["docs"], cfg["vectors"])
        for name in TABLES:
            table(self.spark, d, name)
        return d

    def load_program(self) -> None:
        import __spark_entry__ as entry

        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()

    def verify(self) -> None:
        """Check every collected cold-pass result against its oracle."""
        self.oracle = check.HeadlineOracle(self.input_dir, self.oracle_sql)
        for i, (key, (cols, rows)) in enumerate(self.collected.items()):
            if self.args.corrupt and i == 0:
                rows = rows[:-1]
            try:
                problem = self.oracle.verify(key, cols, rows)
            except Exception as exc:  # an oracle that cannot run is a failed check
                problem = f"oracle error {type(exc).__name__}: {str(exc)[:200]}"
            if problem:
                self.fail(1, f"cold {key}: {problem}")

    def run_key(self, key: str, tid: str, collect: bool, traced: bool) -> tuple[float, object]:
        """Construct and execute one key; return (seconds, result).

        ``collect`` (the cold pass) brings the rows to the driver for the
        check; otherwise the noop writer executes the plan in full and
        sends nothing back.  ``traced`` adds spans and, on warm passes,
        job groups, Catalyst phase times and plan node counts."""
        tr, sc = (self.tracer if traced else None), self.sc

        def span(name, **attrs):
            return tr.span(name, tid, key=key, **attrs) if tr else nullcontext({})

        t0 = time.perf_counter()
        with span("query"):
            if tr:
                sc.setJobGroup(f"{tid}-{key}-c", "construct")
            with span("registry.construct"):
                df = self.queries[key](self.spark, self.input_dir)
            if tr and not collect:
                sc.setJobGroup(f"{tid}-{key}-a", "action")
                with span("catalyst.plan") as sp:
                    sp["phases"], plan = trace.catalyst_phases(df)
                    sp["counts"] = dict(trace.plan_counts(plan))
            with span("execute", family=family(key)):
                if collect:
                    out = (df.columns, [tuple(r) for r in df.collect()])
                else:
                    df.write.mode("overwrite").format("noop").save()
                    out = None
            if tr:
                sc.setLocalProperty("spark.jobGroup.id", None)
        return time.perf_counter() - t0, out

    def run_pass(self, tid: str, collect: bool, traced: bool) -> tuple[float, dict[str, float]]:
        """Run every key once; return the pass time (the sum of the keys'
        times) and per-key times.  Collected results are kept for verify()."""
        if self.tracer:
            self.tracer.current = tid
        per_key: dict[str, float] = {}
        for key in HEADLINE_KEYS:
            self.attempted += 1
            try:
                dt, out = self.run_key(key, tid, collect, traced)
            except Exception as exc:  # a failing key is counted, the pass goes on
                self.fail(1, f"{tid} {key}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            finally:
                # keys cache intermediates (dedup_minhash's shingles) and
                # leave their release to the caller, as
                # tools/verify_local.py does; without this a later pass
                # would read them instead of recomputing
                self.spark.catalog.clearCache()
            per_key[key] = dt
            if out is not None:
                self.collected[key] = out
        return sum(per_key.values()), per_key

    def execute(self) -> None:
        cold_s, _ = self.run_pass("cold", collect=True, traced=bool(self.tracer))
        for n in range(WARMUP):
            self.run_pass(f"warmup-{n}", collect=False, traced=False)
        warm: list[float] = []
        traced: list[float] = []
        traced_tid = ""
        lat: list[float] = []
        t0 = time.perf_counter()
        n = 0
        while len(warm) < self.min_warm or time.perf_counter() - t0 < self.args.seconds:
            is_traced = bool(self.tracer) and not traced and len(warm) >= 1
            wall, per_key = self.run_pass(f"warm-{n}", collect=False, traced=is_traced)
            if is_traced:
                traced.append(wall)
                traced_tid = f"warm-{n}"
            else:
                warm.append(wall)
                lat.extend(1000.0 * v for v in per_key.values())
            n += 1
        self.e2e["cold_s"] = (cold_s, "s", 1)
        self.e2e["warm_s"] = (statistics.median(warm), "s", len(warm))
        self.e2e["op_p50_ms"] = (pct(lat, 50), "ms", len(lat))
        self.e2e["op_p80_ms"] = (pct(lat, 80), "ms", len(lat))
        self.layer["process.peak_rss_mb"] = self.peak_rss_mb()
        self.verify()
        if self.tracer:
            self.trace_layers(warm, traced, traced_tid)

    def trace_layers(self, warm: list[float], traced: list[float], tid: str) -> None:
        L, tr = self.layer, self.tracer
        L["trace.overhead_ms"] = 1000.0 * (statistics.median(traced) - statistics.median(warm))
        L["session.table_ms_cold"] = statistics.median(
            tr.durations("session.table", kind="cold") or [0.0])
        L["session.table_ms_warm"] = statistics.median(
            tr.durations("session.table", kind="warm") or [0.0])
        L["registry.construct_ms_cold"] = sum(tr.durations("registry.construct", trace="cold"))
        L["registry.construct_ms_warm"] = sum(tr.durations("registry.construct", trace=tid))
        execs: dict[str, float] = defaultdict(float)
        phases: Counter = Counter()
        counts: Counter = Counter()
        construct_jobs = 0
        action_jobs: list[int] = []
        for s in tr.spans:
            if s["trace"] != tid:
                continue
            if s["name"] == "execute":
                execs[s["family"]] += (s["end"] - s["start"]) * 1000.0
            elif s["name"] == "catalyst.plan":
                phases.update(s["phases"])
                counts.update(s["counts"])
            elif s["name"] == "query":
                construct_jobs += len(trace.job_ids(self.sc, f"{tid}-{s['key']}-c"))
                action_jobs += trace.job_ids(self.sc, f"{tid}-{s['key']}-a")
        for fam, ms in execs.items():
            L[f"{fam}_execute_ms"] = ms
        L.update(phases)
        L.update(counts)
        L["spark.construct_jobs"] = construct_jobs
        jobs, skew = trace.job_metrics(self.sc, action_jobs)
        L.update(jobs)
        L["spark.task_skew"] = skew

    def cleanup(self) -> None:
        if hasattr(self, "oracle"):
            self.oracle.close()


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--work", required=True)
    known, rest = p.parse_known_args(argv)
    args = _run_args(rest)
    args.work = known.work
    if args.workload == "replicate":
        run: Run = Replicate(args)
    else:
        run = Headline(args)
    t_start = time.perf_counter()
    try:
        run.setup()
        print(f"phase setup done at {time.perf_counter() - t_start:.1f}s", flush=True)
        run.execute()
        print(f"phase measured and checked at {time.perf_counter() - t_start:.1f}s", flush=True)
        result = run.report()
        if run.tracer:
            out = os.path.join(os.path.dirname(HERE), ".perfbench_out",
                               f"spans-{args.workload}-{args.seed}.json")
            run.tracer.dump(out)
            print(f"spans written to {os.path.relpath(out, os.path.dirname(HERE))}")
    finally:
        run.cleanup()
        if hasattr(run, "spark"):
            run.spark.stop()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
