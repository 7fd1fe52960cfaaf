"""The two benchmark workloads.

Each workload receives a ``Ctx`` holding the session, the seed, the
measuring time and (in a traced run) the tracer. It records the wall
and CPU time of each operation, counts attempted and failed
operations, and reports its workload-specific metrics with
``ctx.report``.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

from lakebench import checks, gen, harness, stats
from lakebench.trace import Tracer

SETUP_REPEATS = 3


@dataclass
class Ctx:
    spark: object
    run_dir: str
    seed: int
    seconds: float
    tracer: Tracer | None
    # set-up cost in CPU seconds of the process tree, and in wall time
    setup_s: float = 0.0
    setup_wall_s: float = 0.0
    samples: list[float] = field(default_factory=list)
    cpu_samples: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    reported: dict[str, tuple[float, str]] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run_dir, *parts)

    def report(self, name: str, value: float, unit: str) -> None:
        self.reported[name] = (float(value), unit)

    def repeat_setup(self, fn):
        """Run a set-up step ``SETUP_REPEATS`` times (``fn(i)``), add the
        median cost to the set-up figures and return the first result."""
        cpus, walls, first = [], [], None
        for i in range(SETUP_REPEATS):
            c0, t0 = harness.tree_cpu_s(), time.perf_counter()
            out = fn(i)
            walls.append(time.perf_counter() - t0)
            cpus.append(harness.tree_cpu_s() - c0)
            if i == 0:
                first = out
        self.setup_s += stats.median(cpus)
        self.setup_wall_s += stats.median(walls)
        return first

    @contextmanager
    def setup_step(self):
        c0, t0 = harness.tree_cpu_s(), time.perf_counter()
        yield
        self.setup_wall_s += time.perf_counter() - t0
        self.setup_s += harness.tree_cpu_s() - c0

    @contextmanager
    def measured(self):
        """Time one operation: wall seconds into ``samples``, CPU
        seconds of the process tree into ``cpu_samples``."""
        c0, t0 = harness.tree_cpu_s(), time.perf_counter()
        yield
        self.samples.append(time.perf_counter() - t0)
        self.cpu_samples.append(harness.tree_cpu_s() - c0)

    def op(self, name: str, label: str = ""):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, label, new_op=True)

    def span(self, name: str, label: str = ""):
        if self.tracer is None:
            return nullcontext()
        return self.tracer.span(name, label)

    def busy(self) -> float:
        return sum(self.samples)

    def room_for(self, next_s: float) -> bool:
        """Whether one more operation expected to take ``next_s`` still
        ends inside the measuring time."""
        return self.busy() + next_s <= self.seconds


def _dir_bytes(path: str) -> int:
    total = 0
    for base, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith("_")]
        total += sum(os.path.getsize(os.path.join(base, f)) for f in files
                     if not f.startswith((".", "_")))
    return total


# ---------------------------------------------------------------------------
# daily_batch
# ---------------------------------------------------------------------------


def daily_batch(ctx: Ctx) -> None:
    """Closed loop, one orchestrator: each trading day's three CSVs go
    through one ``run_pipeline`` call. Set-up ingests day 0 into an
    empty store, untimed, so the cold start stays out of the samples
    and every measured day (from day 1) carries SCD2 churn into a
    growing history. After the last measured day the dashboard
    statements run over the grown star."""
    from lambda_lakehouse_spark.plans.stock_pipeline import run_pipeline
    from lambda_lakehouse_spark.sources import readers

    feed = gen.StockFeed(ctx.seed)
    store = ctx.path("store")
    raw_bytes = valid_rows = 0

    def ingest(files):
        nonlocal raw_bytes, valid_rows
        batches = [(f.country, readers.read_csv_raw(ctx.spark, f.path), f.batch_date)
                   for f in files]
        tables = run_pipeline(ctx.spark, batches, store)
        raw_bytes += sum(f.raw_bytes for f in files)
        valid_rows += sum(f.valid_rows for f in files)
        return tables

    day0 = ctx.repeat_setup(lambda i: feed.write_day(ctx.path(f"raw{i}"), 0))
    with ctx.setup_step():
        tables = ingest(day0)
    raw_rows = measured_bytes = 0
    day = 1
    while day == 1 or ctx.room_for(ctx.samples[-1]):
        files = feed.write_day(ctx.path("raw0"), day)
        with ctx.measured(), ctx.op("daily_batch.day", files[0].batch_date):
            tables = ingest(files)
        ctx.attempted += 1
        raw_rows += sum(f.valid_rows + 2 for f in files)  # two dropped-symbol rows each
        measured_bytes += sum(f.raw_bytes for f in files)
        day += 1
    dash_lat = refresh_dashboards(ctx, tables, store, files[0].batch_date)
    problems = checks.stock_invariants(ctx.spark, tables, valid_rows)
    if problems:
        print("daily_batch check failed: " + "; ".join(problems))
        ctx.failed += day - 1
    p, value, n = stats.tail(ctx.samples)
    ctx.report("batch_p50_s", stats.median(ctx.samples), "s")
    ctx.report("batch_tail_s", value, f"s@p{p:.3g}/n={n}")
    ctx.report("ingest_rows_per_s", raw_rows / ctx.busy(), "1/s")
    ctx.report("stored_bytes_per_raw_byte", _dir_bytes(store) / raw_bytes, "ratio")
    ctx.report("dashboard_p50_s", stats.median(dash_lat), "s")
    ctx.report("days_ingested", day, "days")
    ctx.layers["raw_bytes"] = measured_bytes


def refresh_dashboards(ctx: Ctx, tables: dict, store: str, as_of: str) -> list[float]:
    """Run every dashboard statement over the star as it stands, collect
    each result to the client and check it against DuckDB over the same
    parquet files. Returns the statement latencies."""
    for view, table in gen.STAR_VIEWS.items():
        tables[table].createOrReplaceTempView(view)
    latencies, results = [], {}
    for name, sql in gen.dashboard_sql(as_of).items():
        t0 = time.perf_counter()
        with ctx.op("daily_batch.dash", name), ctx.span("plans.star", name):
            df = ctx.spark.sql(sql)
            rows = df.collect()
        latencies.append(time.perf_counter() - t0)
        results[name] = (checks.canon(df.columns, rows), sql)
    con = checks.duck()
    checks.register_star(con, store)
    for name, (got, sql) in results.items():
        ctx.attempted += 1
        want = checks.oracle(con, sql)
        if got != want:
            print(f"daily_batch dashboard mismatch: {name} as of {as_of}: "
                  + checks.describe_diff(got, want))
            ctx.failed += 1
    con.close()
    return latencies


# ---------------------------------------------------------------------------
# serving
# ---------------------------------------------------------------------------

# One training-data operator per operator module, written to the noop sink.
CURATION_OPS = (
    "text_lang_id", "quality_lm_surprisal", "dedup_minhash_lsh",
    "ann_cosine_topk_brute", "search_bm25_topk", "embed_pq_codes",
)
TPCH_SF, N_DOCS, N_VECS = 0.005, 500, 500
# run once on tiny tables in set-up: the session's first Spark job
WARMUP_OPS = ("q1_pricing_summary",)
# Speed-layer operations per pass: one events file each, dropped into
# the running stream and timed to the commit of its micro-batch.
STREAM_OPS = 2


def tpch_queries(registry: dict) -> list[str]:
    return sorted(n for n in registry
                  if n[0] == "q" and n[1:].split("_")[0].isdigit())


def serving(ctx: Ctx) -> None:
    """Closed loop, one client: passes, each in a seed-shuffled order,
    over the 22 registry TPC-H queries (each result collected to the
    client), six training-data operators (each written to the noop
    sink) and two speed-layer micro-batches (each an events file
    dropped into the stream that runs for the whole workload). Another
    pass starts only while the median pass still fits in the measuring
    time."""
    import threading

    from lambda_lakehouse_spark.registry import load_all

    reg = load_all()
    sf_dir = ctx.path("tables")
    ctx.repeat_setup(lambda i: gen.write_tables(
        ctx.path("tables" if i == 0 else f"tables{i}"), ctx.seed, sf=TPCH_SF,
        n_docs=N_DOCS, n_vecs=N_VECS, n_events=1000))
    # a pass takes well over a second, so this many files always suffice
    n_files = STREAM_OPS * max(1, int(ctx.seconds))
    chunks = ctx.repeat_setup(lambda i: gen.event_chunks(
        ctx.seed, STREAM_WARMUP_FILES + n_files, ROWS_PER_FILE,
        span_days=max(1, round((STREAM_WARMUP_FILES + n_files) / 4))))
    with ctx.setup_step():
        # warm the planner and code generator on small tables
        warm_dir = ctx.path("warmup_tables")
        gen.write_tables(warm_dir, ctx.seed, sf=0.0005, n_docs=50, n_vecs=50, n_events=100)
        for name in WARMUP_OPS:
            reg[name].spark(ctx.spark, warm_dir).write.format("noop").mode("overwrite").save()
        speed = SpeedLayer(ctx, chunks)
    kinds = {**{n: "query" for n in tpch_queries(reg)},
             **{n: "curation" for n in CURATION_OPS},
             **{f"stream_{i}": "stream" for i in range(STREAM_OPS)}}
    rng = np.random.default_rng([ctx.seed, 50])
    fetched: dict[str, list] = {n: [] for n in kinds if kinds[n] != "stream"}
    last_df, lat_of = {}, {n: [] for n in kinds}
    passes: list[float] = []
    pushed = 0
    while not passes or ctx.room_for(stats.median(passes)):
        busy = ctx.busy()
        for name in map(str, rng.permutation(sorted(kinds))):
            ctx.attempted += 1
            if kinds[name] == "stream":
                pushed += 1
                c0 = harness.tree_cpu_s()
                lat = speed.push()
                if lat is None:
                    ctx.failed += 1
                    continue
                ctx.samples.append(lat)
                ctx.cpu_samples.append(harness.tree_cpu_s() - c0)
            else:
                q = reg[name]
                layer = q.spark.__module__.removeprefix("lambda_lakehouse_spark.")
                with ctx.measured(), ctx.op(f"serving.{kinds[name]}", name):
                    with ctx.span("registry", name):
                        df = q.spark(ctx.spark, sf_dir)
                    with ctx.span(layer, name):
                        if kinds[name] == "curation":
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            rows = df.collect()
                if kinds[name] == "curation":
                    last_df[name] = df
                else:
                    fetched[name].append(checks.canon(df.columns, rows))
            lat_of[name].append(ctx.samples[-1])
        passes.append(ctx.busy() - busy)
    if not speed.finish():
        print("serving mismatch: stream sink differs from batch tumbling_counts")
        ctx.failed += pushed

    # Oracles run in DuckDB on a thread while Spark collects the last
    # plan of every operator whose output the client did not fetch.
    want: dict[str, object] = {}

    def run_oracles():
        con = checks.duck()
        checks.register_tables(con, sf_dir)
        for name in fetched:
            want[name] = checks.oracle(con, reg[name].oracle)
        con.close()

    th = threading.Thread(target=run_oracles)
    th.start()
    for name, df in last_df.items():
        fetched[name] = [checks.canon_df(df)] * len(lat_of[name])
    th.join()
    for name, got in fetched.items():
        bad = [r for r in got if r != want[name]]
        if bad:
            print(f"serving mismatch: {name} ({len(bad)} of {len(got)}): "
                  + checks.describe_diff(bad[0], want[name]))
        ctx.failed += len(bad)

    def of_kind(kind):
        return [x for n, k in kinds.items() if k == kind for x in lat_of[n]]

    queries, curation, stream = of_kind("query"), of_kind("curation"), of_kind("stream")
    p, value, n = stats.tail(queries)
    ctx.report("query_p50_s", stats.median(queries), "s")
    ctx.report("query_tail_s", value, f"s@p{p:.3g}/n={n}")
    ctx.report("queries_per_s", len(queries) / sum(queries), "1/s")
    ctx.report("curation_op_p50_s", stats.median(curation), "s")
    ctx.report("curation_pass_s", sum(curation) / len(passes), "s")
    if stream:
        p, value, n = stats.tail(stream)
        ctx.report("commit_latency_p50_s", stats.median(stream), "s")
        ctx.report("commit_latency_tail_s", value, f"s@p{p:.3g}/n={n}")
    ctx.report("pass_s", stats.median(passes), "s")
    for name in sorted(lat_of):
        if kinds[name] != "stream":
            ctx.report(f"op.{name}", stats.median(lat_of[name]), "s")
    ctx.layers.update(speed.layers)


# ---------------------------------------------------------------------------
# speed layer
# ---------------------------------------------------------------------------

ROWS_PER_FILE = 500
# Files the stream processes one micro-batch each during set-up, so the
# measured files do not meet a cold planner and code generator.
STREAM_WARMUP_FILES = 1
COMMIT_TIMEOUT_S = 60.0
TRIGGER = "500 milliseconds"


def _source_log(checkpoint: str) -> dict[str, int]:
    """file name -> the file source's own batch id, from its log."""
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        # every tenth log file is a ".compact" holding all earlier entries
        name = os.path.basename(p).removesuffix(".compact")
        if not name.isdigit():
            continue
        with open(p) as f:
            for line in f.read().splitlines()[1:]:
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def _query_batches(checkpoint: str) -> list[tuple[int, int]]:
    """Sorted ``(query batch id, source log offset)`` pairs from the
    offset log. The source's batch ids drift from the query's once the
    query runs a batch without new data, so files are mapped through
    the offset each query batch read up to."""
    out = []
    for p in glob.glob(os.path.join(checkpoint, "offsets", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            with open(p) as f:
                out.append((int(name), json.loads(f.read().splitlines()[-1])["logOffset"]))
    return sorted(out)


def _commit_times(checkpoint: str) -> dict[int, float]:
    out = {}
    for p in glob.glob(os.path.join(checkpoint, "commits", "*")):
        name = os.path.basename(p)
        if name.isdigit():
            out[int(name)] = os.stat(p).st_mtime
    return out


def _batch_of(source_batch: int, query_batches: list[tuple[int, int]]) -> int | None:
    return next((q for q, off in query_batches if off >= source_batch), None)


def _commit_time(checkpoint: str, name: str) -> float | None:
    """When the micro-batch holding file ``name`` committed, if it has."""
    source_batch = _source_log(checkpoint).get(name)
    if source_batch is None:
        return None
    return _commit_times(checkpoint).get(_batch_of(source_batch, _query_batches(checkpoint)))


class SpeedLayer:
    """The speed layer, running for the whole workload: events files
    dropped into ``streaming.sources.file_stream`` →
    ``streaming.jobs.tumbling_counts`` (update mode) →
    ``streaming.jobs.foreach_batch_overwrite``. Starting it processes
    the warm-up files, one micro-batch each."""

    def __init__(self, ctx: Ctx, chunks: list):
        from pyspark.sql import types as T

        from lambda_lakehouse_spark.streaming import jobs, sources

        schema = T.StructType([
            T.StructField("event_id", T.LongType()), T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()), T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()), T.StructField("props", T.StringType()),
        ])
        self.ctx, self.chunks, self.dropped = ctx, chunks, 0
        self.drop_dir, self.sink_dir = ctx.path("drop"), ctx.path("sink")
        self.checkpoint = ctx.path("checkpoint")
        self.measuring = False
        self.layers: dict[str, float] = {}
        os.makedirs(self.drop_dir)
        stream = sources.file_stream(ctx.spark, self.drop_dir, schema,
                                     max_files_per_trigger=1000)
        sink = jobs.foreach_batch_overwrite(self.sink_dir, ("window_start", "event_type"))
        if ctx.tracer is not None:
            inner = sink

            def sink(batch_df, epoch_id):
                if not self.measuring:
                    return inner(batch_df, epoch_id)
                with ctx.tracer.span("streaming.jobs", f"batch {epoch_id}", new_op=True):
                    inner(batch_df, epoch_id)

        # Idle, the default trigger lists the drop directory every 10 ms,
        # CPU that every query of the pass would absorb in proportion
        # to its wall time.
        self.query = (jobs.tumbling_counts(stream).writeStream.outputMode("update")
                      .trigger(processingTime=TRIGGER)
                      .foreachBatch(sink).option("checkpointLocation", self.checkpoint)
                      .start())
        for _ in range(STREAM_WARMUP_FILES):
            self.push()
        self.warmup_files = set(os.listdir(self.drop_dir))
        self.measuring = True

    def push(self) -> float | None:
        """Drop the next file and wait for the commit of the micro-batch
        that holds it; returns the seconds from the drop to that commit,
        or None if it did not commit in time. Then waits, untimed, until
        the stream is idle again (a batch without new data may follow
        to advance the watermark)."""
        name = f"part-{self.dropped:05d}.parquet"
        table, self.dropped = self.chunks[self.dropped], self.dropped + 1
        tmp = os.path.join(self.drop_dir, "." + name)  # hidden until renamed
        t0 = time.time()
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.drop_dir, name))
        deadline = t0 + COMMIT_TIMEOUT_S
        while (committed := _commit_time(self.checkpoint, name)) is None:
            if time.time() > deadline:
                return None
            time.sleep(0.005)
        self.query.processAllAvailable()
        return committed - t0

    def finish(self) -> bool:
        """Stop the stream, keep its progress figures in ``layers`` and
        check the sink against batch ``tumbling_counts`` over every
        dropped file."""
        from pyspark.sql import functions as F

        from lambda_lakehouse_spark.streaming import jobs

        self.query.processAllAvailable()
        progress = [p if isinstance(p, dict) else json.loads(p.json)
                    for p in self.query.recentProgress]
        self.query.stop()

        query_batches = _query_batches(self.checkpoint)
        # warm-up batches, and batches that only advance the watermark,
        # are left out
        files_per_batch: dict[int, int] = {}
        for name, sb in _source_log(self.checkpoint).items():
            if name not in self.warmup_files:
                b = _batch_of(sb, query_batches)
                files_per_batch[b] = files_per_batch.get(b, 0) + 1
        data = [p for p in progress
                if p["batchId"] in files_per_batch and p.get("numInputRows", 0) > 0]
        if data:
            dur = lambda key: [p["durationMs"].get(key, 0) / 1000.0 for p in data]
            state = [p["stateOperators"][0] for p in data if p.get("stateOperators")]
            self.layers.update({
                "streaming.jobs.batch_s": stats.median(dur("triggerExecution")),
                "streaming.jobs.query_planning_s": stats.median(dur("queryPlanning")),
                "streaming.jobs.add_batch_s": stats.median(dur("addBatch")),
                "streaming.jobs.wal_commit_s": stats.median(dur("walCommit")),
                "streaming.jobs.state_rows": max(s.get("numRowsTotal", 0) for s in state),
                "streaming.jobs.state_bytes": max(s.get("memoryUsedBytes", 0) for s in state),
                "streaming.sources.files_per_batch":
                    stats.median(list(files_per_batch.values())),
            })

        spark = self.ctx.spark
        want = jobs.tumbling_counts(spark.read.parquet(self.drop_dir))
        got = spark.read.parquet(self.sink_dir)
        cols = ["window_start", "window_end", "event_type", "n_events", "total_value"]

        def canon(df):
            return checks.canon_df(df.select(*[F.col(c).cast("string").alias(c)
                                               for c in cols]))

        ok = canon(got) == canon(want)
        shutil.rmtree(self.drop_dir, ignore_errors=True)
        return ok


WORKLOADS = {
    "daily_batch": daily_batch,
    "serving": serving,
}
