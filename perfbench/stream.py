"""postings_stream: the reference realtime path under an open-loop load.

One generator thread appends small seeded posting files on a fixed
schedule, stamping each event with the time its file was due. The query
is streaming.pipeline.file_stream -> streaming.stateful.
dedup_within_watermark -> domain.enrich_postings -> streaming.pipeline.
fan_out_foreach_batch. Its two sinks are the lake's: the detail rows go
through sources.lake.upsert_by_key (keyed by job_id, the document upsert
of the reference) and the windowed category/salary aggregates
(streaming.windows.windowed_agg) through sources.lake.write_partitioned.
After the open-loop window, BURSTS fixed-size files, each in its own
micro-batch, measure the query's capacity and the bytes its sinks write.

Event time is synthetic: file i covers [i*TICK_S, (i+1)*TICK_S). Some
events arrive out of order within the watermark delay (kept), some
re-send an earlier event (deduplicated), and some are LATE_S behind
(dropped: a batch spans at most MAX_FILES files, so the watermark is
always past them). After the stream stops, lake.read_upserted reads the
detail table back READBACKS times (timed). The checks: it returns exactly
the accepted events, and the summed per-batch window partials equal a
batch windowed_agg over the accepted events.
"""

from __future__ import annotations

import os
import threading
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen
import harness

FILE_INTERVAL_S = 0.25      # 4 files/s
ROWS_PER_FILE = 50          # 200 events/s, below the query's capacity
MAX_FILES = 40              # per micro-batch
BURSTS, BURST_ROWS = 2, 2000
READBACKS = 3               # timed reads of the detail table's latest-wins view
TICK_S = 10                 # event time covered by one file
DELAY = "1 minute"
WINDOW = "1 minute"
LATE_S = 600
T0_S = 1_700_000_000
EVENT_DATE = "2024-03-01"

SCHEMA = pa.schema([
    ("job_id", pa.string()), ("title", pa.string()),
    ("company_name", pa.string()), ("location_country", pa.string()),
    ("salary_min", pa.float64()), ("salary_max", pa.float64()),
    ("salary_currency", pa.string()), ("experience_level", pa.string()),
    ("listed_time", pa.int64()), ("views", pa.int32()),
    ("applies", pa.int32()), ("event_ts", pa.timestamp("us", tz="UTC")),
    ("created_s", pa.float64()),
])
WINDOW_KEYS = ["window_start", "job_category", "salary_category"]


def _spark_schema():
    from pyspark.sql.types import (DoubleType, IntegerType, LongType,
                                   StringType, StructField, StructType,
                                   TimestampType)

    types = {pa.string(): StringType(), pa.float64(): DoubleType(),
             pa.int64(): LongType(), pa.int32(): IntegerType()}
    return StructType([
        StructField(f.name, types.get(f.type, TimestampType()), True)
        for f in SCHEMA
    ])


def _windowed(df, with_created: bool):
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.streaming import windows

    measures = {"n": F.count(F.lit(1)), "salary_sum": F.sum("salary_avg")}
    if with_created:
        measures["created_max"] = F.max("created_s")
    return windows.windowed_agg(df, "event_ts", WINDOW, measures,
                                dims=["job_category", "salary_category"])


class Generator(threading.Thread):
    """Open loop: file i is due at start + i * FILE_INTERVAL_S whether or
    not the query kept up. Remembers what it wrote, for the checks."""

    def __init__(self, src: str, seed: int):
        super().__init__(daemon=True)
        self.src, self.seed, self.i = src, seed, 0
        self.stop_flag = threading.Event()
        self.rows = 0
        self.lateness: list[float] = []
        self.events: dict[str, dict] = {}   # accepted: one per job_id
        self.late_ids: set[str] = set()
        self.by_file: dict[int, list[dict]] = {}
        self.error: Exception | None = None
        self.start_s = self.stop_s = 0.0

    def _rows(self, i: int, n: int, created: float) -> list[dict]:
        rng = np.random.default_rng([self.seed, i])
        rows = []
        for j in range(n):
            jid = f"E{self.seed}-{i}-{j}"
            r = rng.random()
            if r < 0.05 and i >= 1:  # file 0 sets the first watermark
                ts = i * TICK_S - LATE_S      # behind the watermark: dropped
                self.late_ids.add(jid)
            elif r < 0.15:
                ts = i * TICK_S - 20          # out of order: kept
            else:
                ts = i * TICK_S
            ts += j * TICK_S / n
            lo = float(rng.integers(30, 150)) * 1000.0
            rows.append({
                "job_id": jid,
                "title": gen.TITLES[int(rng.integers(0, len(gen.TITLES)))],
                "company_name": gen.zipf_company(rng),
                "location_country": gen.COUNTRIES[int(rng.integers(0, len(gen.COUNTRIES)))],
                "salary_min": lo if rng.random() < 0.9 else None,
                "salary_max": lo + float(rng.integers(0, 60)) * 1000.0,
                "salary_currency": "GBP" if rng.random() < 0.15 else "USD",
                "experience_level": gen.LEVELS[int(rng.integers(0, len(gen.LEVELS)))],
                "listed_time": int((T0_S + ts) * 1000) - 86_400_000,
                "views": int(rng.integers(1, 300)),
                "applies": int(rng.integers(0, 50)),
                "event_ts": int((T0_S + ts) * 1e6),
                "created_s": created,
            })
        fresh = [r for r in rows if r["job_id"] not in self.late_ids]
        rows.extend(dict(e) for e in self.by_file.pop(i - 2, [])[:3])  # re-sent
        self.by_file[i] = fresh
        for r in fresh:
            self.events[r["job_id"]] = r
        return rows

    def write(self, created: float, n: int = ROWS_PER_FILE) -> int:
        """Write the next file atomically; returns its row count."""
        i = self.i
        rows = self._rows(i, n, created)
        table = pa.table({f.name: [r[f.name] for r in rows] for f in SCHEMA},
                         schema=SCHEMA)
        tmp = os.path.join(self.src, f".f{i:06d}.parquet")  # hidden from the source
        pq.write_table(table, tmp)
        os.rename(tmp, os.path.join(self.src, f"f{i:06d}.parquet"))
        self.i += 1
        return len(rows)

    def run(self) -> None:
        try:
            self.start_s = time.time()
            k = 0
            while not self.stop_flag.is_set():
                due = self.start_s + k * FILE_INTERVAL_S
                wait = due - time.time()
                if wait > 0 and self.stop_flag.wait(wait):
                    break
                self.lateness.append(max(0.0, time.time() - due))
                self.rows += self.write(due)
                k += 1
        except Exception as exc:  # surfaced by the caller after join
            self.error = exc
        finally:
            self.stop_s = time.time()


class Pipeline:
    """The streaming query plus the benchmark's sink callbacks, which time
    each micro-batch's sink writes."""

    def __init__(self, run: harness.Run, root: str, fault: bool):
        self.run, self.spark, self.fault = run, run.spark, fault
        self.src = os.path.join(root, "src")
        self.detail = os.path.join(root, "detail")
        self.windows = os.path.join(root, "windows")
        self.ckpt = os.path.join(root, "ckpt")
        os.makedirs(self.src)
        self.sink_start: dict[int, float] = {}
        self.sink_end: dict[int, float] = {}
        self.upsert_s: dict[int, float] = {}
        self.write_s: dict[int, float] = {}
        self.cache_mb: dict[int, float] = {}
        self.readback_s: list[float] = []
        self.construct_s = 0.0
        self.query = None

    def start(self) -> None:
        from pyspark.sql import functions as F

        from bigdata_storage_and_proccess_job_data_spark.domain import pipeline
        from bigdata_storage_and_proccess_job_data_spark.sources import lake
        from bigdata_storage_and_proccess_job_data_spark.streaming import (
            pipeline as sp,
            stateful,
        )

        run, tr = self.run, self.run.tracer
        with tr.span("streaming.construct", op="start"):
            src = sp.file_stream(self.spark, self.src, _spark_schema(),
                                 max_files_per_trigger=MAX_FILES)
            deduped = stateful.dedup_within_watermark(src, ["job_id"], "event_ts", DELAY)
            t0 = time.perf_counter()
            with tr.span("domain.construct"):
                enriched = pipeline.enrich_postings(deduped, EVENT_DATE)
            self.construct_s = time.perf_counter() - t0

        def detail_writer(df, batch_id):
            self.sink_start[batch_id] = time.time()
            t = time.perf_counter()
            # the sink callbacks run on the query's callback thread while
            # the main thread only waits, so spans never interleave
            with tr.span("sources.lake.upsert", op=f"batch{batch_id}"):
                lake.upsert_by_key(
                    self.spark,
                    df.select("job_id", "created_s", "event_ts", "job_category",
                              "salary_avg", F.lit(batch_id).alias("batch_id")),
                    self.detail, "job_id", "batch_id")
            self.upsert_s[batch_id] = time.perf_counter() - t
            if run.tracer.enabled:  # the persisted micro-batch, now filled
                infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
                self.cache_mb[batch_id] = sum(
                    x.memSize() + x.diskSize() for x in infos) / harness.MB

        def window_writer(df, batch_id):
            t = time.perf_counter()
            if not (self.fault and batch_id == 2):  # planted: a lost write
                with tr.span("sources.lake.write", op=f"batch{batch_id}"):
                    lake.write_partitioned(
                        df.withColumn("report_date", F.to_date("window_start"))
                        .withColumn("batch_id", F.lit(batch_id)),
                        self.windows, ["report_date"])
            self.write_s[batch_id] = time.perf_counter() - t
            self.sink_end[batch_id] = time.time()

        self.query = sp.fan_out_foreach_batch(
            enriched, detail_writer,
            {"windows": lambda df: _windowed(df, with_created=True)},
            {"windows": window_writer}, self.ckpt)

    def progress(self) -> list[dict]:
        return list(self.query.recentProgress)

    def input_rows(self) -> int:
        return sum(p["numInputRows"] for p in self.progress())

    def wait_rows(self, rows: int, timeout: float) -> bool:
        """Wait until the query has taken ``rows`` input rows and is idle."""
        end = time.perf_counter() + timeout
        while time.perf_counter() < end:
            if self.query.exception() is not None:
                raise RuntimeError(str(self.query.exception()))
            if self.input_rows() >= rows and not self.query.status["isTriggerActive"]:
                return True
            time.sleep(0.05)
        return False


def execute(run: harness.Run, seconds: float, tiny: bool, fault: bool) -> dict:
    run.spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "1000")
    stats = harness.SparkStats(run.spark)
    traced = run.tracer.enabled

    # --- set-up: fresh roots, query start, first file through every sink
    t0 = time.perf_counter()
    pipe = Pipeline(run, run.path("stream"), fault)
    g = Generator(pipe.src, run.seed)
    rows = g.write(time.time())
    with stats.tagged("stream"):  # the query thread inherits the job tag
        pipe.start()
    run.check("setup.first_batch", pipe.wait_rows(rows, 90),
              "first micro-batch did not complete")
    setup_s = time.perf_counter() - t0
    run.phase("setup")

    # --- open-loop window ------------------------------------------------
    n_setup = len(pipe.progress())
    spark_before = stats.totals("stream") if traced else None
    rows_before = pipe.input_rows()
    g.start()
    try:
        time.sleep(seconds)
    finally:
        g.stop_flag.set()
        g.join(30)
    if g.error is not None:
        raise g.error
    backlog = rows_before + g.rows - pipe.input_rows()
    run.check("stream.drained", pipe.wait_rows(rows_before + g.rows, 60),
              "backlog did not drain in 60 s")
    window = pipe.progress()[n_setup:]
    spark_window = None
    if traced:
        after = stats.totals("stream")
        spark_window = {k: after[k] - spark_before[k] for k in harness.SPARK_KEYS}
    written = _written(pipe)

    # --- fixed-size bursts, each in its own micro-batch: capacity and
    # the bytes the sinks write for a known input ------------------------
    capacity, burst_mb = [], []
    for _ in range(BURSTS):
        n_before, mb_before = len(pipe.progress()), _written(pipe)[1]
        want = pipe.input_rows() + g.write(time.time(), 400 if tiny else BURST_ROWS)
        if not run.check("stream.burst", pipe.wait_rows(want, 60), "burst not processed"):
            break
        capacity += [p["processedRowsPerSecond"] for p in pipe.progress()[n_before:]
                     if p["numInputRows"] > 0]
        burst_mb.append((_written(pipe)[1] - mb_before) / harness.MB)
    pipe.query.stop()
    run.phase("measure")
    _verify(run, pipe, g)
    return _summarize(run, pipe, g, window, backlog, setup_s, capacity,
                      burst_mb, written, spark_window)


def _written(pipe) -> list[int]:
    """[data files, bytes] the two sinks hold."""
    return [a + b for a, b in zip(harness.dir_bytes(pipe.detail),
                                  harness.dir_bytes(pipe.windows))]


def _verify(run, pipe, g) -> None:
    from pyspark.sql import functions as F

    from bigdata_storage_and_proccess_job_data_spark.domain import pipeline
    from bigdata_storage_and_proccess_job_data_spark.sources import lake

    spark = run.spark
    for k in range(READBACKS):
        t0 = time.perf_counter()
        with run.tracer.span("sources.lake.readback", op=f"readback{k}"):
            ids = [r.job_id for r in lake.read_upserted(
                spark, pipe.detail, "job_id", "batch_id").select("job_id").collect()]
        pipe.readback_s.append(time.perf_counter() - t0)
    accepted = set(g.events)
    run.attempted += len(accepted) + len(g.late_ids)
    missing = accepted - set(ids)
    late_kept = g.late_ids & set(ids)
    extra = set(ids) - accepted - g.late_ids
    run.failed += len(missing) + len(late_kept) + len(extra)
    run.check("stream.accepted_exactly", not missing and not extra,
              f"{len(missing)} accepted events missing, {len(extra)} unknown")
    run.check("stream.late_dropped", not late_kept,
              f"{len(late_kept)} events behind the watermark were kept")
    stored = pq.read_table(pipe.detail, columns=["job_id"]).num_rows
    run.check("stream.no_duplicates", stored == len(set(ids)),
              f"{stored} detail rows for {len(set(ids))} job_ids")
    run.failed += stored - len(set(ids))

    # summed per-batch window partials == batch windowed_agg over accepted
    parts = pq.read_table(pipe.windows).to_pandas()
    got = parts.groupby(WINDOW_KEYS, dropna=False)[["n", "salary_sum"]].sum().reset_index()
    static = spark.createDataFrame(
        pa.Table.from_pylist(list(g.events.values()), schema=SCHEMA).to_pandas(),
        schema=_spark_schema())
    want = _windowed(pipeline.enrich_postings(static, EVENT_DATE), with_created=False) \
        .select(*WINDOW_KEYS, "n", F.col("salary_sum")).toPandas()

    def canon(df):
        return sorted((str(r.window_start), str(r.job_category), str(r.salary_category),
                       int(r.n), round(float(r.salary_sum or 0.0), 2))
                      for r in df.itertuples())

    run.attempted += 1
    if not run.check("stream.windows", canon(got) == canon(want),
                     f"{len(got)} window rows vs {len(want)} expected"):
        run.failed += 1


def _summarize(run, pipe, g, window, backlog, setup_s, capacity, burst_mb,
               written, spark_window) -> dict:
    med, pct = harness.median, harness.percentile
    live = [p for p in window if p["numInputRows"] > 0]
    live_ids = {p["batchId"] for p in live}
    sink = {b: pipe.sink_end[b] - pipe.sink_start[b] for b in live_ids
            if b in pipe.sink_end and b in pipe.sink_start}
    detail = pq.read_table(pipe.detail, columns=["created_s", "batch_id"]).to_pylist()
    lag = [pipe.sink_end[r["batch_id"]] - r["created_s"] for r in detail
           if r["batch_id"] in live_ids and g.start_s <= r["created_s"] <= g.stop_s]
    trig = [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in live]
    rest = [p["durationMs"].get("triggerExecution", 0) / 1e3 - sink.get(p["batchId"], 0.0)
            for p in live]
    f = {
        "latency": med(lag),
        "read": med(pipe.readback_s),
        "write": med(sink.values()),
        "mb": med(burst_mb),
    }
    run.facts["stream"] = {"batches": len(window), "live_batches": len(live),
                           "events": len(lag), "generated_rows": g.rows}
    out = {
        "setup_s": setup_s,
        "setup_n": 1,
        "e2e": {
            "latency_s": (f["latency"], len(lag)),
            "read_s": (f["read"], len(pipe.readback_s)),
            "write_s": (f["write"], len(sink)),
            "mb_written": (f["mb"], len(burst_mb)),
        },
        "layers": {},
        "untraced": f,
    }
    if spark_window is None:
        return out
    # the traced window runs the same query code as the untraced one; the
    # status store and progress are read after it closes
    out["traced"] = f
    out["traced_units"] = len(live)
    layers = harness.zero_layers()

    def dur(key):
        return med(p["durationMs"].get(key, 0) / 1e3 for p in live)

    state = [p["stateOperators"][0] for p in window if p.get("stateOperators")]
    layers.update({f"spark.{k}": v for k, v in spark_window.items()})
    layers.update({
        "streaming.trigger_p50_s": pct(trig, 50),
        "streaming.trigger_p90_s": pct(trig, 90),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.plan_s": dur("queryPlanning"),
        "streaming.wal_s": dur("walCommit"),
        "streaming.offset_s": dur("latestOffset"),
        "streaming.sink_s": f["write"],
        "streaming.batches": len(window),
        "streaming.empty_batch_ratio": 1 - len(live) / max(1, len(window)),
        "streaming.state_rows": state[-1]["numRowsTotal"] if state else 0,
        "streaming.state_mb": state[-1]["memoryUsedBytes"] / harness.MB if state else 0,
        "streaming.late_dropped": sum(s.get("numRowsDroppedByWatermark", 0) for s in state),
        "streaming.emit_lag_p50_s": pct(lag, 50),
        "streaming.emit_lag_p90_s": pct(lag, 90),
        "streaming.backlog_rows": backlog,
        "streaming.generator_late_s": pct(g.lateness, 90),
        "sources.lake.upsert_s": med(v for b, v in pipe.upsert_s.items() if b in live_ids),
        "sources.lake.write_s": med(v for b, v in pipe.write_s.items() if b in live_ids),
        "sources.lake.readback_s": f["read"],
        "streaming.non_sink_s": med(rest),
        "sources.lake.files_written": written[0],
        "sources.lake.mb_written": written[1] / harness.MB,
        "streaming.capacity_rows_per_s": med(capacity),
        "domain.construct_s": pipe.construct_s,
        "domain.cache_mb": med(v for b, v in pipe.cache_mb.items() if b in live_ids),
    })
    out["layers"] = layers
    return out
