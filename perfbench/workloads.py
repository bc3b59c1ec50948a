"""The three workloads, each a closed loop with one client: the next
operation is sent only after the previous one returned.

- ``store_ingest``: append one closed 2-hour window of every series to a
  fresh Gorilla block store (encode_blocks -> write_gorilla_store).
- ``store_query``: a seeded point / range / rollup mix against a store
  built during set-up from the same generator.
- ``registry_mix``: registered queries from a family-stratified slice of
  the ``@query`` registry, in a seeded order, each built and collected.

Set-up (session start, input generation, warm-up and, for store_query,
the store build) runs ``SETUP_REPS`` times and ``setup_s`` is the
median, so work moved into set-up shows. Every output is checked
outside the timed region; a wrong answer or an exception fails the
operation.

The host is shared, and its speed changes by up to 2x over minutes.
A fixed CPU probe, run after every set-up and operation, measures that
speed, and ``setup_s`` and ``cycle_norm_s`` are scaled to a host of
reference speed; the traced run reports the raw wall times and the
probe too.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import sys
import time
import traceback

import numpy as np

from perfbench import checks, inputs
from perfbench.trace import SparkCounters, Tracer, tree_rss_mb

CORES = 4
SETUP_REPS = 3

# store_ingest: one operation appends one 2-hour window of every series
INGEST_SERIES = 200
INGEST_MIN_OPS = 10
WRITE_PASS_WINDOWS = 3  # traced run: windows re-written with the write timed alone
WARM_WINDOW = 10_000  # set-up warms up on windows far from the timed ones
# store_query: the store built in set-up
QUERY_SERIES = 50
QUERY_WINDOWS = 8  # 16 hours
QUERY_MIN_DECKS = 2  # so each shape's median has at least 4 samples
# registry_mix: tables generated by tools/gen_scale_data.py at this scale
REGISTRY_SF = 0.01

#: name -> unit of every metric a run prints; BENCHMARK.json lists the same
END_TO_END = {
    "setup_s": "s", "success_rate": "ratio", "cycle_norm_s": "s",
}
#: a host_probe median of this 4-core box; setup_s and cycle_norm_s are
#: scaled to a host on which the probe takes this long
PROBE_REF_S = 0.025
LAYER_SELF = ("bench", "codec", "sources", "operators", "queries")
_SPARK_UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "executor_run_ms": "ms", "executor_cpu_ms": "ms", "gc_ms": "ms",
    "shuffle_write_bytes": "bytes", "spill_bytes": "bytes",
    "codegen_compiles": "count", "codegen_compile_ms": "ms",
}
#: per-layer metrics; one a workload does not exercise reads 0
PER_LAYER = {
    "session.start_s": "s",
    "codec.encode_points_per_s": "1/s",
    "codec.decode_points_per_s": "1/s",
    "codec.bits_per_point": "bits",
    "sources.write_s": "s",
    "sources.files_written": "count",
    "sources.bytes_per_point": "bytes",
    "sources.blocks_read": "count",
    "sources.blocks_read_per_block_needed": "ratio",
    "operators.agg_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "streaming.build_s": "s",
    "spark.exec_s": "s",
    **{f"spark.{k}": u for k, u in _SPARK_UNITS.items()},
    "spark.cpu_busy_share": "ratio",
    "spark.analysis_ms": "ms",
    "process.peak_rss_mb": "MB",
    **{f"self.{layer}_s": "s" for layer in LAYER_SELF},
    "store.point_p50_s": "s",
    "store.range_p50_s": "s",
    "store.rollup_p50_s": "s",
    "wall.cycle_s": "s",
    "wall.setup_s": "s",
    "host.probe_ms": "ms",
    "trace.spans": "count",
    "trace.overhead_share": "ratio",
}


_T0 = time.perf_counter()


_PROBE_DATA = np.random.default_rng(0).random(400_000)
PROBES_PER_STEP = 2  # host probes after every set-up and every operation


def host_probe() -> float:
    """Seconds for a fixed single-threaded CPU task that shares no code
    with the engine: a pure-Python loop and a numpy sort. It runs in the
    driver process between operations, while Spark is idle, and tracks
    how fast the shared host is at the moment."""
    t0 = time.perf_counter()
    x = 0
    for i in range(150_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    np.sort(_PROBE_DATA)
    return time.perf_counter() - t0


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


class Run:
    """One benchmark run: the session, the tracer and every operation's record."""

    def __init__(self, seed: int, seconds: float, trace: bool, scratch: str) -> None:
        self.seed = seed
        self.seconds = seconds
        self.scratch = scratch
        self.tracer = Tracer(trace)
        self.spark = None
        self.counters: SparkCounters | None = None
        self.setup_s: list[float] = []
        self.session_start_s: list[float] = []
        self.ops: list[dict] = []
        self.layer: dict[str, float] = {}
        self._groups: list[str] = []
        self._seen: dict[str, int] = {}
        self.probes: list[float] = []

    # -- session ---------------------------------------------------------

    def spark_conf(self) -> dict[str, str]:
        return {
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(self.scratch, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def start_session(self) -> None:
        from gibbon_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=self.spark_conf())
        self.session_start_s.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.counters = SparkCounters(self.spark) if self.tracer.enabled else None

    def stop_session(self, *, shutdown: bool = False) -> None:
        """Stop the SparkContext; with ``shutdown`` also end the JVM and
        wait for it."""
        if self.spark is None:
            return
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        self.spark = None
        if shutdown and gateway is not None:
            from pyspark import SparkContext

            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None

    def setup(self, one_setup) -> None:
        """Run the set-up ``SETUP_REPS`` times in a row, a fresh session
        each time; the last session stays up for the timed loop."""
        for rep in range(SETUP_REPS):
            if rep:
                self.stop_session()
            t0 = time.perf_counter()
            self.tracer.active = False  # set-up is not an operation
            self.start_session()
            one_setup(rep)
            self.tracer.active = self.tracer.enabled
            self.setup_s.append(time.perf_counter() - t0)
            self.probes += [host_probe() for _ in range(PROBES_PER_STEP)]
            log(f"set-up {rep + 1}/{SETUP_REPS}: {self.setup_s[-1]:.2f}s")

    # -- tracing ---------------------------------------------------------

    def span(self, name: str):
        return self.tracer.span(name)

    def phase(self, name: str) -> None:
        """Run the following Spark jobs of a traced operation under the
        job group ``<op>-<name>``."""
        if self.counters is not None and self.tracer.active:
            group = f"{self.tracer.op}-{name}"
            self._groups.append(group)
            self.counters.set_group(group)

    def add(self, key: str, value: float) -> None:
        self.layer[key] = self.layer.get(key, 0.0) + value

    def note_analysis(self, df) -> None:
        if self.tracer.active:
            self.add("analysis_ms", SparkCounters.analysis_ms(df))

    def _traced(self, kind: str, parity: int) -> bool:
        """In a traced run, alternate traced and untraced operations of
        each kind, so the tracing overhead is measured within the run.
        ``parity`` picks which of the two comes first."""
        if not self.tracer.enabled:
            return False
        n = self._seen.get(kind, 0)
        self._seen[kind] = n + 1
        return (n + parity) % 2 == 0

    # -- the closed loop -------------------------------------------------

    def op(self, kind: str, fn, check, parity: int = 0) -> None:
        """Time one operation ``fn()``, then check its result with
        ``check(result) -> list of problems`` outside the timed region."""
        traced = self._traced(kind, parity)
        rec = {"kind": kind, "traced": traced}
        self.tracer.active = traced
        self.tracer.op = f"op{len(self.ops)}"
        self._groups = []
        if traced:
            compiles0, compile_ms0 = self.counters.codegen()
        result, error = None, None
        t0 = time.perf_counter()
        try:
            with self.span("bench.op"):
                self.phase("run")
                result = fn()
        except Exception:  # an operation that raises counts as failed
            error = traceback.format_exc()
        rec["latency"] = time.perf_counter() - t0
        if traced:
            self.counters.clear_group()
            compiles1, compile_ms1 = self.counters.codegen()
            rec["codegen_compiles"] = compiles1 - compiles0
            rec["codegen_compile_ms"] = compile_ms1 - compile_ms0
            for group in self._groups:
                for k, v in self.counters.jobs(group).items():
                    rec[k] = rec.get(k, 0.0) + v
                    if group.endswith("-build") and k == "jobs":
                        rec["build_jobs"] = v
        self.tracer.active = self.tracer.enabled
        self.tracer.op = None
        if error is None:
            try:
                problems = check(result)
            except Exception:
                problems = [traceback.format_exc()]
            if problems:
                error = f"wrong answer: {problems[:3]}"
        rec["ok"] = error is None
        self.probes += [host_probe() for _ in range(PROBES_PER_STEP)]
        log(f"op {len(self.ops)} {kind}: {rec['latency']:.3f}s" + ("" if rec["ok"] else f" FAILED {error}"))
        self.ops.append(rec)

    def measuring(self, min_ops: int) -> bool:
        """Keep going until the operations' own time reaches ``seconds``
        and at least ``min_ops`` ran (whole decks of operation kinds)."""
        measured = sum(o["latency"] for o in self.ops)
        return measured < self.seconds or len(self.ops) < min_ops

    # -- results ---------------------------------------------------------

    def result(self, deck: dict[str, int], trace_layer) -> dict:
        ops = self.ops
        failed = sum(not o["ok"] for o in ops)
        probe_s = statistics.median(self.probes)
        log(f"host probe: median {probe_s * 1000:.2f} ms over {len(self.probes)} samples")
        if self.tracer.enabled:
            values = {**dict.fromkeys(PER_LAYER, 0.0), **self.layer_metrics(trace_layer)}
            values["wall.cycle_s"] = cycle_seconds([o for o in ops if not o["traced"]], deck)
            values["wall.setup_s"] = statistics.median(self.setup_s)
            values["host.probe_ms"] = probe_s * 1000.0
            units = PER_LAYER
        else:
            values = {
                "setup_s": statistics.median(self.setup_s) * PROBE_REF_S / probe_s,
                "success_rate": (len(ops) - failed) / len(ops),
                "cycle_norm_s": cycle_seconds(ops, deck) * PROBE_REF_S / probe_s,
            }
            units = END_TO_END
        if set(values) != set(units):
            raise RuntimeError(f"metrics {sorted(set(values) ^ set(units))} not declared")
        return {
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units},
        }

    def layer_metrics(self, trace_layer) -> dict[str, float]:
        traced = [o for o in self.ops if o["traced"]]
        n = max(1, len(traced))
        m = {f"spark.{k}": sum(o.get(k, 0.0) for o in traced) / n for k in _SPARK_UNITS}
        wall_ms = sum(o["latency"] for o in traced) * 1000.0
        if wall_ms:
            m["spark.cpu_busy_share"] = sum(o.get("executor_cpu_ms", 0.0) for o in traced) / (wall_ms * CORES)
        m["spark.analysis_ms"] = self.layer.get("analysis_ms", 0.0) / n
        m["session.start_s"] = self.session_start_s[0]
        m["process.peak_rss_mb"] = tree_rss_mb()
        self_s = self.tracer.self_seconds()
        m["spark.exec_s"] = self_s.get("spark", 0.0) / n  # spark.* spans have no children
        for layer in LAYER_SELF:
            m[f"self.{layer}_s"] = self_s.get(layer, 0.0) / n
        m["trace.spans"] = len(self.tracer.spans)
        m["trace.overhead_share"] = self._overhead()
        m.update(trace_layer())
        return m

    def _overhead(self) -> float:
        """Median over operation kinds of (traced median latency /
        untraced median latency - 1)."""
        ratios = []
        for kind in {o["kind"] for o in self.ops}:
            t = [o["latency"] for o in self.ops if o["kind"] == kind and o["traced"]]
            u = [o["latency"] for o in self.ops if o["kind"] == kind and not o["traced"]]
            if t and u:
                ratios.append(statistics.median(t) / statistics.median(u) - 1.0)
        return statistics.median(ratios) if ratios else 0.0


def cycle_seconds(ops: list[dict], deck: dict[str, int]) -> float:
    """Wall time of one deck: each kind's median latency times its count
    in the deck."""
    by_kind: dict[str, list[float]] = {}
    for o in ops:
        by_kind.setdefault(o["kind"], []).append(o["latency"])
    return sum(n * statistics.median(by_kind[k]) for k, n in deck.items())


# ---------------------------------------------------------------------------
# codec rates, measured in-process on the run's own generated points
# ---------------------------------------------------------------------------


def codec_rates(points: dict[str, np.ndarray], decode_blocks: int = 40) -> dict:
    from gibbon_spark.codec.gorilla import decode_block, encode_blocks_vectorized

    ht = points["ts"] - points["ts"] % inputs.BLOCK_S
    is_start = np.ones(len(ht), dtype=bool)
    is_start[1:] = (points["sid"][1:] != points["sid"][:-1]) | (ht[1:] != ht[:-1])
    enc = []
    for _ in range(3):
        t0 = time.perf_counter()
        payloads, nbits, starts = encode_blocks_vectorized(points["ts"], points["value"], ht, is_start)
        enc.append(time.perf_counter() - t0)
    # decode a spread of blocks so every series kind is represented
    pick = np.linspace(0, len(payloads) - 1, min(decode_blocks, len(payloads))).astype(int)
    t0 = time.perf_counter()
    decoded = sum(len(decode_block(payloads[i], int(nbits[i]), int(ht[starts[i]]))[0]) for i in pick)
    dec_s = time.perf_counter() - t0
    return {
        "codec.encode_points_per_s": len(ht) / statistics.median(enc),
        "codec.decode_points_per_s": decoded / dec_s,
        "codec.bits_per_point": float(nbits.sum()) / len(ht),
    }


def land(points: dict[str, np.ndarray], names: np.ndarray, path: str) -> str:
    """Write generated points as the parquet file an ingest client lands."""
    import pyarrow.parquet as pq

    pq.write_table(inputs.to_arrow(points, names), path)
    return path


def decode_store(spark, store: str):
    """Every point in a store, as numpy arrays, via the engine's decoder."""
    from gibbon_spark.codec.spark_ops import decode_timeseries
    from gibbon_spark.sources.bucketed import read_gorilla_store

    pdf = decode_timeseries(read_gorilla_store(spark, store)).toPandas()
    return pdf["series_id"].to_numpy(), pdf["ts"].to_numpy(np.int64), pdf["value"].to_numpy(np.float64)


def _parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


# ---------------------------------------------------------------------------
# store_ingest
# ---------------------------------------------------------------------------


def store_ingest(run: Run) -> dict:
    from gibbon_spark.engine import GibbonSpark
    from gibbon_spark.sources.bucketed import storage_bytes, write_gorilla_store

    names = inputs.series_names(INGEST_SERIES)
    land_dir = os.path.join(run.scratch, "landed")
    os.makedirs(land_dir, exist_ok=True)

    def ingest(window: int, store: str):
        path = os.path.join(land_dir, f"w{window}.parquet")
        with run.span("bench.land"):
            land(inputs.make_window(run.seed, INGEST_SERIES, window), names, path)

        def fn():
            with run.span("sources.read_parquet"):
                df = run.spark.read.parquet(path)
            with run.span("codec.encode_blocks"):
                blocks = GibbonSpark(run.spark).encode_blocks(df, series=["series_id"])
            with run.span("sources.write_gorilla_store"):
                write_gorilla_store(blocks, store, mode="append")

        return fn

    def write_pass() -> tuple[float, float]:
        """sources alone, outside the timed loop: blocks of already landed
        windows are materialised first, then appended to a side store with
        only the write timed. Median write time and files per append."""
        side = os.path.join(run.scratch, "write_pass")
        write_s, files = [], []
        for w in range(WRITE_PASS_WINDOWS):
            df = run.spark.read.parquet(os.path.join(land_dir, f"w{w}.parquet"))
            blocks = GibbonSpark(run.spark).encode_blocks(df, series=["series_id"]).localCheckpoint(eager=True)
            files0 = _parquet_files(side) if os.path.isdir(side) else 0
            t0 = time.perf_counter()
            write_gorilla_store(blocks, side, mode="append")
            write_s.append(time.perf_counter() - t0)
            files.append(_parquet_files(side) - files0)
        return statistics.median(write_s), statistics.median(files)

    def one_setup(rep: int) -> None:
        # warm-up: JVM, codegen and Python workers, on a throwaway store
        warm = os.path.join(run.scratch, f"warm{rep}")
        ingest(WARM_WINDOW + rep, warm)()

    run.setup(one_setup)

    store = os.path.join(run.scratch, "store")
    window = 0
    while run.measuring(INGEST_MIN_OPS):
        run.op("batch", ingest(window, store), lambda _: [])
        window += 1

    # round trip: the store must hold exactly the generated points,
    # window by window; a window that does not counts its batch failed
    with run.span("bench.check"):
        sid, ts, value = decode_store(run.spark, store)
        sid_idx = np.searchsorted(names, sid) if len(sid) else np.zeros(0, np.int64)
        got_w = (ts - inputs.T0) // inputs.BLOCK_S
        for w, rec in enumerate(run.ops):
            m = got_w == w
            problems = checks.multiset_problems(
                sid_idx[m], ts[m], value[m], inputs.make_window(run.seed, INGEST_SERIES, w)
            )
            if problems and rec["ok"]:
                rec["ok"] = False
                print(f"perfbench: batch {w} round trip: {problems}", file=sys.stderr)
        stray = int(((got_w < 0) | (got_w >= len(run.ops))).sum())
        if stray:
            run.ops[-1]["ok"] = False
            print(f"perfbench: {stray} decoded points outside ingested windows", file=sys.stderr)
    points = INGEST_SERIES * inputs.POINTS_PER_BLOCK * len(run.ops)
    bytes_per_point = storage_bytes(store) / points

    def trace_layer():
        write_s, files_written = write_pass()
        return {
            **codec_rates(inputs.make_window(run.seed, INGEST_SERIES, 0)),
            "sources.write_s": write_s,
            "sources.files_written": files_written,
            "sources.bytes_per_point": bytes_per_point,
        }

    return run.result({"batch": 1}, trace_layer)


# ---------------------------------------------------------------------------
# store_query
# ---------------------------------------------------------------------------


def store_query(run: Run) -> dict:
    from pyspark.sql import functions as F

    from gibbon_spark.engine import GibbonSpark
    from gibbon_spark.operators import timeseries as ts_ops
    from gibbon_spark.sources.bucketed import storage_bytes, write_gorilla_store

    names = inputs.series_names(QUERY_SERIES)
    points = inputs.make_windows(run.seed, QUERY_SERIES, range(QUERY_WINDOWS))
    store = os.path.join(run.scratch, "store")
    rollup_want = checks.rollup_ref(points, names)

    def point(op):
        eng = GibbonSpark(run.spark)
        with run.span("sources.read_gorilla_store"):
            blocks = eng.read_gorilla_store(store, start_epoch=op["start"], end_epoch=op["end"])
            blocks = blocks.filter(F.col("series_id") == names[op["sid"]])
        with run.span("codec.decode_blocks"):
            rows = eng.decode_blocks(blocks)
        with run.span("operators.summary"):
            out = ts_ops.summary(ts_ops.range_scan(rows, start=op["start"], end=op["end"]))
        run.note_analysis(out)
        with run.span("spark.collect"):
            r = out.collect()[0]
        return blocks, {"n_samples": r["n_samples"], "min_value": r["min_value"], "max_value": r["max_value"]}

    def range_(op):
        eng = GibbonSpark(run.spark)
        with run.span("sources.read_gorilla_store"):
            blocks = eng.read_gorilla_store(store, start_epoch=op["start"], end_epoch=op["end"])
        with run.span("codec.decode_blocks"):
            rows = eng.decode_blocks(blocks)
        with run.span("operators.range_scan"):
            out = ts_ops.range_scan(rows, start=op["start"], end=op["end"]).groupBy("series_id").agg(
                F.min("value").alias("min_value"), F.max("value").alias("max_value"),
                F.count(F.lit(1)).alias("n_samples"), F.max_by("value", "ts").alias("last_value"),
            )
        run.note_analysis(out)
        with run.span("spark.collect"):
            return blocks, out.toPandas()

    def rollup_plan(rows):
        hourly = ts_ops.resample(rows.withColumn("ts", F.timestamp_seconds("ts")), ["series_id"],
                                 every="1 hour")
        return hourly.select("series_id", F.unix_timestamp("bucket_start").alias("hour"),
                             "min_value", "max_value", "avg_value", "n_samples")

    def rollup(op):
        eng = GibbonSpark(run.spark)
        with run.span("sources.read_gorilla_store"):
            blocks = eng.read_gorilla_store(store)
        with run.span("codec.decode_blocks"):
            rows = eng.decode_blocks(blocks)
        with run.span("operators.resample"):
            out = rollup_plan(rows)
        run.note_analysis(out)
        with run.span("spark.collect"):
            return blocks, out.toPandas()

    def check(op, answer) -> list[str]:
        if op["shape"] == "point":
            return checks.dict_problems(answer, checks.point_ref(points, op["sid"], op["start"], op["end"]))
        if op["shape"] == "range":
            want = checks.range_ref(points, names, op["start"], op["end"])
            return checks.frame_problems(answer, want, ["series_id"])
        return checks.frame_problems(answer, rollup_want, ["series_id", "hour"], approx=("avg_value",))

    shapes = {"point": point, "range": range_, "rollup": rollup}
    needed = {"point": 1, "range": QUERY_SERIES * inputs.RANGE_BLOCKS,
              "rollup": QUERY_SERIES * QUERY_WINDOWS}

    def run_op(op):
        blocks_box = []

        def fn():
            blocks, answer = shapes[op["shape"]](op)
            blocks_box.append(blocks)
            return answer

        run.op(op["shape"], fn, lambda answer: check(op, answer))
        rec = run.ops[-1]
        if rec["traced"] and blocks_box and op["shape"] != "rollup":
            rec["blocks_read"] = blocks_box[0].count()
            rec["blocks_needed"] = needed[op["shape"]]

    def one_setup(rep: int) -> None:
        with run.span("bench.land"):
            landed = land(points, names, os.path.join(run.scratch, f"landed{rep}.parquet"))
        eng = GibbonSpark(run.spark)
        with run.span("codec.encode_blocks"):
            blocks = eng.encode_blocks(run.spark.read.parquet(landed), series=["series_id"])
        with run.span("sources.write_gorilla_store"):
            write_gorilla_store(blocks, store, mode="overwrite")
        point({"sid": rep, "start": inputs.T0, "end": inputs.T0 + inputs.BLOCK_S})  # warm-up

    run.setup(one_setup)

    deck = {s: int(share * 10) for s, share in inputs.SHAPE_SHARES.items()}
    for op in inputs.query_sequence(run.seed, QUERY_SERIES, QUERY_WINDOWS, 10_000):
        if not run.measuring(QUERY_MIN_DECKS * sum(deck.values())):
            break
        run_op(op)

    def trace_layer():
        from gibbon_spark.codec.spark_ops import decode_timeseries
        from gibbon_spark.sources.bucketed import read_gorilla_store

        traced = [o for o in run.ops if o["traced"]]
        read = sum(o.get("blocks_read", 0) for o in traced)
        need = sum(o.get("blocks_needed", 0) for o in traced)
        n_pr = max(1, sum("blocks_read" in o for o in traced))
        # operators alone: the rollup over pre-decoded, cached rows
        rows = decode_timeseries(read_gorilla_store(run.spark, store)).cache()
        rows.count()
        agg = []
        for _ in range(3):
            t0 = time.perf_counter()
            rollup_plan(rows).toPandas()
            agg.append(time.perf_counter() - t0)
        rows.unpersist()
        p50 = {s: [o["latency"] for o in run.ops if o["kind"] == s] for s in shapes}
        first = inputs.make_windows(run.seed, QUERY_SERIES, range(1))
        return {
            **codec_rates(first),
            "sources.bytes_per_point": storage_bytes(store) / len(points["ts"]),
            "sources.blocks_read": read / n_pr,
            "sources.blocks_read_per_block_needed": read / need if need else 0.0,
            "operators.agg_s": statistics.median(agg),
            **{f"store.{s}_p50_s": statistics.median(v) if v else 0.0 for s, v in p50.items()},
        }

    return run.result(deck, trace_layer)


# ---------------------------------------------------------------------------
# registry_mix
# ---------------------------------------------------------------------------


def registry_mix(run: Run) -> dict:
    import __spark_entry__ as entry
    from tools.gen_scale_data import gen_all
    from tools.oracle_check import compare, duck_connection

    data = os.path.join(run.scratch, "tables")
    qs = entry.queries()
    oracles = entry.oracle_sql()
    names = inputs.registry_order(run.seed)

    def one_setup(rep: int) -> None:
        with run.span("bench.generate"), contextlib.redirect_stdout(sys.stderr):
            gen_all(REGISTRY_SF, data, seed=run.seed)

        def identity(batches):
            yield from batches

        # warm-up: one Python worker per core, then a first query and collect
        run.spark.range(0, CORES, 1, CORES).mapInPandas(identity, "id long").write.format(
            "noop").mode("overwrite").save()
        qs["ts_summary"](run.spark, data).toPandas()

    run.setup(one_setup)

    def query_op(name: str):
        def fn():
            run.phase("build")
            t0 = time.perf_counter()
            with run.span("queries.build"):
                df = qs[name](run.spark, data)
            build_s[name].append(time.perf_counter() - t0)
            run.note_analysis(df)
            run.phase("exec")
            with run.span("spark.exec"):
                return df.toPandas()

        return fn

    expected: dict[str, object] = {}

    def check(name: str, got) -> list[str]:
        """The query's output against its DuckDB oracle (run once per
        query); a rows-only query must return rows."""
        if name not in oracles:
            return [] if len(got) else ["rows-only query returned no rows"]
        if name not in expected:
            with run.span("bench.oracle"):
                con = duck_connection(data)
                try:
                    expected[name] = con.execute(oracles[name]).fetchdf()
                finally:
                    con.close()
        return compare(name, got, expected[name])

    # a traced run makes two passes, each query traced in one of them
    build_s: dict[str, list[float]] = {name: [] for name in names}
    i = 0
    while run.measuring(len(names) * (2 if run.tracer.enabled else 1)):
        slot = i % len(names)
        name = names[slot]
        run.op(name, query_op(name), lambda got, name=name: check(name, got), parity=slot)
        i += 1

    def trace_layer():
        traced = [o for o in run.ops if o["traced"]]
        n = max(1, len(traced))
        streaming = [t for name, ts in build_s.items() if name.startswith("streaming_") for t in ts]
        return {
            "queries.build_s": sum(map(sum, build_s.values())) / len(run.ops),
            "queries.build_jobs": sum(o.get("build_jobs", 0.0) for o in traced) / n,
            "streaming.build_s": statistics.mean(streaming) if streaming else 0.0,
        }

    return run.result(dict.fromkeys(names, 1), trace_layer)


WORKLOADS = {"store_ingest": store_ingest, "store_query": store_query, "registry_mix": registry_mix}


def run(workload: str, *, seed: int, seconds: float, trace: bool, scratch: str,
        spans_path: str | None = None) -> dict:
    bench = Run(seed, seconds, trace, scratch)
    try:
        result = WORKLOADS[workload](bench)
        log(f"{len(bench.ops)} operations done and checked")
    finally:
        bench.stop_session(shutdown=True)
        log("session stopped")
    if spans_path:
        bench.tracer.write(spans_path)
    return result
