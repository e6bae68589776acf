"""The three benchmark workloads.

Each drives the engine only through its public functions and times
those calls from outside. Each puts most of its work on different
layers (see README.md in this directory), so an optimisation of one
layer shows on one workload and is predicted flat on another.

A workload returns a :class:`Result`: the samples its end-to-end
metrics are computed from, the per-layer counters of its traced
calls, and the outcome of its correctness checks, which run outside
the timed region.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

import datagen
import memory
from harvest import Harvester, summarize
from spans import Tracer

WAREHOUSE_ROWS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_regional_revenue",
    "j1_dim_fact_join", "a3_ohlcv", "a4_rolling_24h", "w1_top1_per_key",
)
CURATION_ROWS = ("x2_minhash_lsh", "x7_near_dup_lsh", "x59_semdedup")

# Input scale per workload (lineitem rows = 6M x scale). At these sizes
# the engine's fixed cost per query (planning, job scheduling, Python
# worker start) is most of a call's time, so larger inputs would
# lengthen each run without changing which layers the workload loads;
# the run budget of the whole benchmark is what sets them.
WAREHOUSE_SCALE = 0.05
CURATION_SCALE = 0.02
STREAM_SCALE = 0.05  # an event pool of 50,000: 45 s of events at the offered rate

# stream_ingest: offered load and the shares of injected faults
STREAM_RATE = 1000          # events per second
STREAM_TICK_S = 0.25        # one source file per tick
STREAM_DUP_SHARE = 0.02     # replays of an earlier event
STREAM_CORRUPT_SHARE = 0.01  # extra lines whose payload is not JSON
STREAM_LATE_SHARE = 0.05    # event times moved back by up to 30 minutes

SETUP_REPS = 3
# A closed loop runs whole passes until the window closes, and at least
# this many, so its median is never a single sample.
MIN_PASSES = 2
STREAM_WARM_S = 3.0  # the generator runs this long before the window opens


@dataclass
class Context:
    root: str        # checkout root (holds streaming_data_spark/)
    work: str        # scratch directory of this run, inside the checkout
    seed: int
    seconds: float
    tracer: Tracer

    @property
    def trace(self) -> bool:
        return self.tracer.enabled


@dataclass
class Result:
    setup_s: list[float] = field(default_factory=list)
    passes: list[float] = field(default_factory=list)       # pass / micro-batch seconds
    latencies: list[float] = field(default_factory=list)    # per call or per event, seconds
    ops: float = 0.0                                         # completed operations per second
    mem_mb: float = 0.0                                      # memory.in_use_mb after the window
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    layers: dict[str, float] = field(default_factory=dict)
    config: dict[str, object] = field(default_factory=dict)
    executions: list[dict] = field(default_factory=list)     # traced: what each call ran

    def check(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def attempt(self, what: str, fn):
        """Run one timed operation; one that raises is counted as failed
        and the loop goes on. Returns ``fn()``, or None if it raised."""
        self.attempted += 1
        try:
            return fn()
        except Exception as exc:  # noqa: BLE001 — counted, reported at the end
            self.failed += 1
            self.problems.append(f"{what}: {exc!r}"[:300])
            return None


# --------------------------------------------------------------------------
# shared set-up
# --------------------------------------------------------------------------

def _session(ctx: Context):
    from streaming_data_spark.session import get_session

    return get_session(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(ctx.work, "warehouse"),
            # the JVM's temporary files stay in the checkout; its perf
            # counters would go to /tmp, so they are off
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={ctx.work}/tmp -XX:-UsePerfData",
        },
    )


def start(ctx: Context, res: Result, tables, scale: float, warm_table: str):
    """Start the engine and generate the inputs, ``SETUP_REPS`` times.

    Each repetition starts a session, writes the seeded tables and
    warms the engine with one scan; all but the last session are
    stopped again. The first repetition also launches the JVM. The
    median over repetitions is the run's ``setup_s``; the first
    session start alone is ``session.start_s``.
    """
    from streaming_data_spark.schemas import load_table

    data = os.path.join(ctx.work, "data")
    spark = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with ctx.tracer.span("session.get_session"):
            spark = _session(ctx)
        if rep == 0:
            res.layers["session.start_s"] = time.perf_counter() - t0
        with ctx.tracer.span("bench.generate"):
            sizes = datagen.write_tables(data, ctx.seed, scale, tables)
        with ctx.tracer.span("bench.warm_up"):
            load_table(spark, data, warm_table).write.format("noop").mode("overwrite").save()
        res.setup_s.append(time.perf_counter() - t0)
        if rep < SETUP_REPS - 1:
            spark.stop()
    res.config.update(_config(spark, ctx, scale))
    return spark, data, sizes


def _config(spark, ctx: Context, scale: float) -> dict[str, object]:
    """The configuration that actually ran, read from the live session."""
    import pyspark

    conf = spark.sparkContext.getConf()
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "effective_cores": spark.sparkContext.defaultParallelism,
        "master": spark.sparkContext.master,
        "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
        "jvm_heap": conf.get("spark.driver.memory", "1g"),
        "nproc": len(os.sched_getaffinity(0)),
        "host_mem_gb": round(mem_kb / (1 << 20), 1),
        "pyspark": pyspark.__version__,
        "seed": ctx.seed,
        "scale": scale,
        "seconds": ctx.seconds,
    }


def _oracle_conn(data: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def check_oracles(spark, ctx: Context, res: Result, data: str, tables, rows) -> None:
    """Each registry row once against its DuckDB oracle (outside the
    timed region; it also warms the rows' plans)."""
    import __spark_entry__ as entry
    from oracle import compare, run_oracle

    con = _oracle_conn(data, tables)
    queries, oracles = entry.queries(), entry.oracle_sql()
    for name in rows:
        try:
            with ctx.tracer.span("bench.oracle_check"):
                compare(queries[name](spark, data), run_oracle(con, oracles[name], name), name)
            res.check(True, name)
        except AssertionError as exc:
            res.check(False, f"oracle mismatch: {exc}")
    con.close()


# --------------------------------------------------------------------------
# traced calls
# --------------------------------------------------------------------------

class CallTracer:
    """Times public calls from outside and, when tracing, attributes to
    each every SQL execution it started.

    ``overhead_s`` is the time the tracing itself spends (reading the
    status stores, forcing a plan to read its phases), so a traced run
    can report its own overhead.
    """

    def __init__(self, spark, ctx: Context, res: Result) -> None:
        self.ctx = ctx
        self.res = res
        self.harvester = Harvester(spark) if ctx.trace else None
        self.totals: dict[str, float] = defaultdict(float)
        self.overhead_s = 0.0

    def query(self, spark, fn, data: str, name: str) -> float:
        """Build a registry row and run it into the noop sink; returns
        the wall time of build, plan and action."""
        from streaming_data_spark.plans.checks import shuffle_count

        if not self.ctx.trace:
            t0 = time.perf_counter()
            fn(spark, data).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        tr, h = self.ctx.tracer, self.harvester
        mark = self._timed(h.mark)
        t0 = time.perf_counter()
        with tr.span(f"query:{name}"):
            with tr.span("queries.build"):
                df = fn(spark, data)
            build_mark = self._timed(h.mark)
            with tr.span("plans.plan"):
                # the action plans again; forcing the plan here is what
                # makes its phases readable, and is tracing overhead
                qe = df._jdf.queryExecution()
                self._timed(qe.executedPlan)
            with tr.span("operators.action"):
                df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        for phase, seconds in _phases(qe).items():
            self.totals[f"plans.{phase}_s"] += seconds
        self.totals["plans.exchanges"] += self._timed(shuffle_count, df)
        execs = self._timed(h.since, mark)
        self.totals["queries.build_sql_execs"] += sum(1 for e in execs if e.id <= build_mark)
        self._add(name, execs)
        return wall

    def call(self, name: str, fn):
        """Run ``fn()``; when tracing, under a span, adding the counters
        of the executions it started. Returns (result, those counters)."""
        if not self.ctx.trace:
            return fn(), {}
        mark = self._timed(self.harvester.mark)
        with self.ctx.tracer.span(name):
            out = fn()
        return out, self._add(name, self._timed(self.harvester.since, mark))

    def _timed(self, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        finally:
            self.overhead_s += time.perf_counter() - t0

    def _add(self, call: str, execs) -> dict[str, float]:
        counters = summarize(execs)
        for k, v in counters.items():
            self.totals[k] += v
        self.res.executions.extend(
            {"call": call, "id": e.id, "description": e.description[:120], "jobs": e.jobs,
             "stages": len(e.stages), "tasks": sum(st["tasks"] for st in e.stages)}
            for e in execs)
        return counters


def _phases(qe) -> dict[str, float]:
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1e3
    return out


def closed_loop_layers(ctx: Context, res: Result, calls: CallTracer, wall_s: float,
                       self_time_names: dict[str, str]) -> None:
    """Per-pass layer counters of a traced closed loop: every counter
    is divided by the number of passes, so runs with more passes in
    their window report the same deterministic counts."""
    from spans import self_times

    n = max(1, len(res.passes))
    res.layers.update({k: v / n for k, v in calls.totals.items()})
    st = self_times(ctx.tracer.spans)
    for span_name, metric in self_time_names.items():
        res.layers[metric] = st.get(span_name, 0.0) / n
    res.layers["operators.slot_busy_ratio"] = (
        calls.totals.get("operators.task_run_s", 0.0) / (wall_s * res.config["effective_cores"]))
    res.layers["bench.trace_overhead_ratio"] = wall_s / (wall_s - calls.overhead_s)


# --------------------------------------------------------------------------
# warehouse_sql — closed loop, one client, JVM-only relational rows
# --------------------------------------------------------------------------

WAREHOUSE_TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events")


def warehouse_sql(ctx: Context) -> Result:
    import __spark_entry__ as entry
    from streaming_data_spark.schemas import load_table

    res = Result()
    spark, data, _ = start(ctx, res, WAREHOUSE_TABLES, WAREHOUSE_SCALE, "lineitem")
    with ctx.tracer.span("bench.check"):
        check_oracles(spark, ctx, res, data, WAREHOUSE_TABLES, WAREHOUSE_ROWS)
    queries = entry.queries()
    calls = CallTracer(spark, ctx, res)
    rng = random.Random(ctx.seed)
    t_start = time.perf_counter()
    while len(res.passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        if ctx.trace:
            for t in WAREHOUSE_TABLES:
                with ctx.tracer.span("schemas.load_table"):
                    load_table(spark, data, t)
        p0 = time.perf_counter()
        for name in rng.sample(WAREHOUSE_ROWS, len(WAREHOUSE_ROWS)):
            took = res.attempt(name, lambda: calls.query(spark, queries[name], data, name))
            if took is not None:
                res.latencies.append(took)
        res.passes.append(time.perf_counter() - p0)
    wall = time.perf_counter() - t_start
    res.ops = len(res.latencies) / wall
    res.mem_mb = memory.in_use_mb(spark)
    if ctx.trace:
        closed_loop_layers(ctx, res, calls, wall, {
            "schemas.load_table": "schemas.load_s",
            "queries.build": "queries.build_s",
        })
    spark.stop()
    return res


# --------------------------------------------------------------------------
# llm_curation — closed loop, one client, Python-kernel operators + job
# --------------------------------------------------------------------------

CURATION_TABLES = ("documents", "embeddings")
STAGE_ORDER = ("input", "quality_gate", "exact_dedup", "near_dedup", "decontaminated")


def llm_curation(ctx: Context) -> Result:
    import __spark_entry__ as entry
    from pyspark.sql import functions as F
    from streaming_data_spark.jobs import corpus_curation_job
    from streaming_data_spark.schemas import load_table

    res = Result()
    spark, data, sizes = start(ctx, res, CURATION_TABLES, CURATION_SCALE, "documents")
    out_dir = os.path.join(ctx.work, "curated")
    holdout = random.Random(ctx.seed).randrange(50)

    def job(docs=None):
        if docs is None:
            with ctx.tracer.span("schemas.load_table"):
                docs = load_table(spark, data, "documents")
        bench = docs.filter(F.pmod(F.xxhash64("doc_id"), F.lit(50)) == holdout)
        return corpus_curation_job(spark, docs, benchmark=bench, out_dir=out_dir)

    with ctx.tracer.span("bench.check"):
        check_oracles(spark, ctx, res, data, CURATION_TABLES, CURATION_ROWS)
    # the oracle checks warmed the three rows; the job's first call is
    # half again slower than the next, so it runs once before the window
    # (loading its input outside the load_table span, which counts per pass)
    with ctx.tracer.span("bench.warm_up"):
        summaries = [job(load_table(spark, data, "documents"))["summary"]]
    queries = entry.queries()
    calls = CallTracer(spark, ctx, res)
    job_counters: dict[str, float] = defaultdict(float)
    t_start = time.perf_counter()
    while len(res.passes) < MIN_PASSES or time.perf_counter() - t_start < ctx.seconds:
        p0 = time.perf_counter()
        for name in CURATION_ROWS:
            took = res.attempt(name, lambda: calls.query(spark, queries[name], data, name))
            if took is not None:
                res.latencies.append(took)
        t0 = time.perf_counter()
        got = res.attempt("corpus_curation_job", lambda: calls.call("jobs.corpus_curation_job", job))
        if got is not None:
            res.latencies.append(time.perf_counter() - t0)
            out, counters = got
            summaries.append(out["summary"])
            for k, v in counters.items():
                job_counters[k] += v
        res.passes.append(time.perf_counter() - p0)
    wall = time.perf_counter() - t_start
    res.ops = len(res.latencies) / wall
    res.mem_mb = memory.in_use_mb(spark)
    with ctx.tracer.span("bench.check"):
        _check_summary(spark, res, summaries, out_dir)
    if ctx.trace:
        closed_loop_layers(ctx, res, calls, wall, {
            "schemas.load_table": "schemas.load_s",
            "queries.build": "queries.build_s",
            "jobs.corpus_curation_job": "jobs.job_s",
        })
        n = len(res.passes)
        res.layers["jobs.sql_execs"] = job_counters["operators.sql_execs"] / n
        res.layers["jobs.read_amplification"] = (
            job_counters["schemas.files_bytes_read"] / n / sizes["documents"])
    spark.stop()
    return res


def _check_summary(spark, res: Result, summaries, out_dir: str) -> None:
    """The survivor counts only shrink from stage to stage, every run
    of the job reports the same counts, and the clean corpus it wrote
    holds as many rows as its summary says."""
    if not summaries:
        res.check(False, "corpus_curation_job never completed")
        return
    counts = dict(summaries[0])
    chain = [counts[s] for s in STAGE_ORDER]
    res.check(all(a >= b for a, b in zip(chain, chain[1:])) and chain[-1] > 0,
              f"curation summary not monotone: {summaries[0]}")
    res.check(all(s == summaries[0] for s in summaries),
              f"curation summary changed between runs: {summaries}")
    written = spark.read.parquet(f"{out_dir}/clean_docs").count()
    res.check(written == counts["decontaminated"],
              f"clean_docs holds {written} rows, summary says {counts['decontaminated']}")


# --------------------------------------------------------------------------
# stream_ingest — open loop at a fixed offered rate
# --------------------------------------------------------------------------

def _payload_schema():
    """The event payload. The events' ``value`` column travels as
    ``amount``: ``dead_letter_split`` drops the raw ``value`` column of
    the envelope by name, and a payload field of the same name would be
    dropped with it."""
    from pyspark.sql.types import StructType

    return (StructType().add("event_id", "long").add("ts", "timestamp")
            .add("user_id", "long").add("event_type", "string")
            .add("amount", "double").add("due_us", "long"))


class Generator(threading.Thread):
    """Writes one JSON-lines file per tick into the source directory,
    on a fixed schedule that does not slow down when the engine does.

    Events are the seeded ``events`` rows in order; each is stamped
    with the time it was due. Seeded shares of events are replayed
    (same id and payload), sent with an event time up to 30 minutes
    early (out of order), or followed by a corrupt line.
    """

    def __init__(self, events, src: str, staging: str, seed: int, tracer: Tracer) -> None:
        super().__init__(daemon=True)
        self.events = events
        self.src, self.staging = src, staging
        self.rng = random.Random(seed)
        self.tracer = tracer
        self.next_event = 0
        self.file_due_us: list[int] = []   # due time of each file written
        self.sent_ids: set[int] = set()
        self.corrupt = 0
        self.late_s: list[float] = []
        self.t0 = 0.0
        self.stop_event = threading.Event()
        self.error: BaseException | None = None

    def write_tick(self, n_events: int, t_due: float) -> None:
        ev, rng = self.events, self.rng
        due_us = int(t_due * 1e6)
        lines, event_lines = [], []
        for _ in range(n_events):
            i = self.next_event
            self.next_event += 1
            ts = int(ev["ts"][i])
            if rng.random() < STREAM_LATE_SHARE:
                ts -= rng.randrange(1, 1800) * 1_000_000
            payload = {
                "event_id": int(ev["event_id"][i]),
                "ts": _fmt_ts(ts),
                "user_id": int(ev["user_id"][i]),
                "event_type": ev["event_type"][i],
                "amount": float(ev["value"][i]),
                "due_us": due_us,
            }
            event_lines.append(json.dumps({"key": str(payload["event_id"]),
                                           "value": json.dumps(payload)}))
            lines.append(event_lines[-1])
            self.sent_ids.add(payload["event_id"])
            r = rng.random()
            if r < STREAM_DUP_SHARE:
                lines.append(event_lines[rng.randrange(max(0, len(event_lines) - 50), len(event_lines))])
            elif r < STREAM_DUP_SHARE + STREAM_CORRUPT_SHARE:
                lines.append(json.dumps({"key": "corrupt", "value": '{"event_id": %d, "ts": ' % i}))
                self.corrupt += 1
        name = f"part-{len(self.file_due_us):06d}.json"
        tmp = os.path.join(self.staging, name)
        with open(tmp, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        os.rename(tmp, os.path.join(self.src, name))  # the source never sees a partial file
        self.file_due_us.append(due_us)

    def run(self) -> None:
        try:
            per_tick = STREAM_RATE * STREAM_TICK_S
            k = 0
            while True:
                due = self.t0 + k * STREAM_TICK_S
                if self.stop_event.wait(max(0.0, due - time.time())):
                    break
                self.late_s.append(time.time() - due)
                with self.tracer.span("bench.generator_tick"):
                    self.write_tick(int(per_tick * (k + 1)) - int(per_tick * k), due)
                k += 1
        except Exception as exc:  # noqa: BLE001 — reported by the main thread
            self.error = exc


def _fmt_ts(ts_us: int) -> str:
    import datetime as dt

    return (dt.datetime(1970, 1, 1) + dt.timedelta(microseconds=ts_us)).strftime(
        "%Y-%m-%d %H:%M:%S.%f")


def _events(data: str) -> dict:
    import pyarrow.parquet as pq

    table = pq.read_table(os.path.join(data, "events.parquet"))
    return {
        "event_id": table["event_id"].to_numpy(),
        "ts": table["ts"].cast("int64").to_numpy(),
        "user_id": table["user_id"].to_numpy(),
        "event_type": table["event_type"].to_pylist(),
        "value": table["value"].to_numpy(),
    }


def stream_ingest(ctx: Context) -> Result:
    from streaming_data_spark.sinks.writers import write_if_absent
    from streaming_data_spark.streaming import pipeline as sp

    res = Result()
    spark, data, _ = start(ctx, res, ("events",), STREAM_SCALE, "events")
    res.config["offered_rate_per_s"] = STREAM_RATE
    root = os.path.join(ctx.work, "stream")
    src, staging, target = (os.path.join(root, d) for d in ("in", "staging", "sink"))
    os.makedirs(src)
    os.makedirs(staging)
    gen = Generator(_events(data), src, staging, ctx.seed, ctx.tracer)
    commits: list[tuple[float, list[int]]] = []
    dead = [0]
    errors: list[str] = []

    def sink(batch, epoch_id):
        """The Logstash->index step: an idempotent keyed append. The
        commit time is taken when the append returns."""
        try:
            with ctx.tracer.span("sinks.write_if_absent"):
                write_if_absent(batch, target, ["event_id"])
            t_commit = time.time()
            commits.append((t_commit, batch.select("due_us").toPandas()["due_us"].tolist()))
        except Exception as exc:  # noqa: BLE001 — recorded, then re-raised to fail the query
            errors.append(f"sink: {exc!r}"[:300])
            raise

    def count_dead(batch, epoch_id):
        dead[0] += batch.count()

    # the queries start on one tick of events, outside the window
    t0 = time.perf_counter()
    gen.write_tick(int(STREAM_RATE * STREAM_TICK_S), time.time())
    good, dead_letters = sp.dead_letter_split(sp.file_json_source(spark, src), _payload_schema())
    deduped = sp.dedup_stream(good, ["event_id"], "ts")
    queries = (
        sp.fanout_sink(deduped, [sink], os.path.join(root, "ckpt_ingest")).start(),
        dead_letters.writeStream.foreachBatch(count_dead)
        .option("checkpointLocation", os.path.join(root, "ckpt_dead")).start(),
    )
    for q in queries:
        q.processAllAvailable()
    # starting the queries is set-up too: it adds to every repetition
    started = time.perf_counter() - t0
    res.setup_s = [s + started for s in res.setup_s]

    gen.t0 = time.time()
    gen.start()
    time.sleep(STREAM_WARM_S)  # the queries settle into steady micro-batches
    harvester = Harvester(spark) if ctx.trace else None
    mark = harvester.mark() if harvester else -1
    warm_batches = [len(q.recentProgress) for q in queries]
    window_start = time.time()
    with ctx.tracer.span("bench.window"):
        time.sleep(ctx.seconds)
    window_end = time.time()
    gen.stop_event.set()
    gen.join()
    newest_commit_due = max((max(d) for _, d in commits if d), default=0)
    lag_files = sum(1 for d in gen.file_due_us if d > newest_commit_due)
    for q in queries:
        q.processAllAvailable()
    drained = time.time()
    progress = [[json.loads(p.json) for p in q.recentProgress[w:]]
                for q, w in zip(queries, warm_batches)]
    res.mem_mb = memory.in_use_mb(spark)  # every event is committed; the queries are idle
    for q in queries:
        q.stop()
    if harvester is not None:
        t_h = time.perf_counter()
        res.layers.update(summarize(harvester.since(mark)))
        res.layers["operators.slot_busy_ratio"] = (
            res.layers["operators.task_run_s"]
            / ((drained - window_start) * res.config["effective_cores"]))
        # inside the window the only tracing is the spans; the stores
        # are read after it
        window = window_end - window_start
        res.layers["bench.trace_overhead_ratio"] = (window + time.perf_counter() - t_h) / window
    if gen.error is not None:
        errors.append(f"generator: {gen.error!r}")

    # latency of each event due inside the window, up to its commit
    w0_us, w1_us = window_start * 1e6, window_end * 1e6
    for t_commit, dues in commits:
        res.latencies.extend(t_commit - d / 1e6 for d in dues if w0_us <= d < w1_us)
    batches = [p for p in progress[0] if p["numInputRows"] > 0]
    res.passes = [p["batchDuration"] / 1e3 for p in batches]
    busy = sum(res.passes)
    res.ops = sum(p["numInputRows"] for p in batches) / busy if busy else 0.0
    if not batches or not res.latencies:
        errors.append("no micro-batch committed an event due inside the window")

    # the sink holds exactly the unique well-formed ids; every corrupt
    # line was dead-lettered
    got = spark.read.parquet(target).select("event_id").toPandas()["event_id"]
    res.attempted += len(gen.sent_ids) + gen.corrupt
    missing = len(gen.sent_ids - set(got))
    extra = len(set(got) - gen.sent_ids) + (len(got) - got.nunique())
    res.failed += missing + extra + abs(dead[0] - gen.corrupt) + len(errors)
    if missing or extra:
        res.problems.append(f"sink: {missing} ids missing, {extra} unexpected or duplicate rows")
    if dead[0] != gen.corrupt:
        res.problems.append(f"dead letters: {dead[0]} routed, {gen.corrupt} injected")
    res.problems.extend(errors)

    res.layers["bench.generator_late_s"] = max(gen.late_s, default=0.0)
    res.layers["streaming.source_lag_files"] = float(lag_files)
    res.layers.update(_streaming_layers(progress[0]))
    spark.stop()
    return res


def _streaming_layers(progress: list[dict]) -> dict[str, float]:
    """Per-batch medians, and the state after the last batch, from the
    ingest query's ``recentProgress``."""
    batch, add, plan, wal, commit = [], [], [], [], []
    dropped = 0.0
    last_state: list[dict] = []
    for p in progress:
        if p["numInputRows"] == 0:
            continue
        d = p.get("durationMs", {})
        batch.append(p["batchDuration"] / 1e3)
        add.append(d.get("addBatch", 0) / 1e3)
        plan.append(d.get("queryPlanning", 0) / 1e3)
        wal.append(d.get("walCommit", 0) / 1e3)
        ops = p.get("stateOperators", [])
        if ops:
            commit.append(sum(o.get("commitTimeMs", 0) for o in ops) / 1e3)
            dropped += sum(o.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                           for o in ops)
            last_state = ops

    def med(xs):
        return statistics.median(xs) if xs else 0.0

    return {
        "streaming.batch_s": med(batch),
        "streaming.add_batch_s": med(add),
        "streaming.planning_s": med(plan),
        "streaming.wal_commit_s": med(wal),
        "streaming.state_commit_s": med(commit),
        "streaming.state_rows": sum(o.get("numRowsTotal", 0) for o in last_state),
        "streaming.state_bytes": sum(o.get("memoryUsedBytes", 0) for o in last_state),
        "streaming.state_instances": sum(o.get("numStateStoreInstances", 0) for o in last_state),
        "streaming.dropped_duplicates": dropped,
    }


WORKLOADS = {
    "warehouse_sql": warehouse_sql,
    "llm_curation": llm_curation,
    "stream_ingest": stream_ingest,
}

# every per-layer metric a traced run reports, with its unit; a layer
# the workload does not touch reads 0
LAYER_UNITS = {
    "session.start_s": "s",
    "schemas.load_s": "s", "schemas.scan_s": "s",
    "schemas.files_bytes_read": "bytes", "schemas.scan_rows": "count",
    "queries.build_s": "s", "queries.build_sql_execs": "count",
    "plans.analysis_s": "s", "plans.optimization_s": "s", "plans.planning_s": "s",
    "plans.exchanges": "count", "plans.broadcast_joins": "count",
    "operators.sql_execs": "count",
    "operators.jobs": "count", "operators.stages": "count", "operators.tasks": "count",
    "operators.task_run_s": "s", "operators.task_cpu_s": "s", "operators.gc_s": "s",
    "operators.slot_busy_ratio": "ratio",
    "operators.shuffle_write_bytes": "bytes", "operators.spill_bytes": "bytes",
    "operators.broadcast_bytes": "bytes", "operators.broadcast_build_s": "s",
    "operators.codegen_s": "s",
    "operators.python.boot_s": "s", "operators.python.init_s": "s",
    "operators.python.run_s": "s",
    "operators.python.bytes_sent": "bytes", "operators.python.bytes_received": "bytes",
    "sinks.write_s": "s", "sinks.bytes_written": "bytes", "sinks.files_written": "count",
    "jobs.job_s": "s", "jobs.sql_execs": "count", "jobs.read_amplification": "ratio",
    "streaming.batch_s": "s", "streaming.add_batch_s": "s", "streaming.planning_s": "s",
    "streaming.wal_commit_s": "s", "streaming.state_commit_s": "s",
    "streaming.state_rows": "count", "streaming.state_bytes": "bytes",
    "streaming.state_instances": "count", "streaming.dropped_duplicates": "count",
    "streaming.source_lag_files": "count",
    "bench.generator_late_s": "s", "bench.trace_overhead_ratio": "ratio",
    "bench.failed_ratio": "ratio", "bench.peak_rss_mb": "MB",
}
