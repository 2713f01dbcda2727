"""The benchmark's workloads, run inside one fresh child process.

Each workload gets a :class:`Context` (the live session, the tracer,
the generated input files and an empty output directory) and returns a
:class:`Outcome`: the hourly rows it committed, the latency of each of
its steps, and a ``check`` callable that verifies the committed outputs
after the timed region has ended.

Tracing adds one action per layer so each layer's execution can be
counted on its own: traced runs evaluate the daily frame, the
calibration tables and each operator's output once more (to the no-op
sink) before the real sink writes them. Untraced runs do only the
workflow itself.
"""

from __future__ import annotations

import dataclasses
import os
import shutil
import time

from pyspark.sql import functions as F

from melodist_spark.api import Stations
from melodist_spark.functions.stats import skill_scores
from melodist_spark.operators.aggregations import daily_from_hourly
from melodist_spark.operators.cascade import CascadeStatistics, disagg_prec_cascade
from melodist_spark.streaming.daily_agg import streaming_daily_from_hourly

from perfbench import checks

# one method per variable, as in the paper's workflow
PAPER_METHODS = {
    "temp": ("operators.temperature", "sine_min_max/sun_loc"),
    "hum": ("operators.humidity", "linear_dewpoint_variation"),
    "wind": ("operators.wind", "cosine"),
    "glob": ("operators.radiation", "pot_rad_via_ssd"),
    "precip": ("operators.cascade", "cascade"),
}
# parameter-free methods: no calibration
FLEET_METHODS = {
    "temp": ("operators.temperature", "sine_min_max/sun_loc"),
    "hum": ("operators.humidity", "minimal"),
    "wind": ("operators.wind", "random"),
    "glob": ("operators.radiation", "pot_rad"),
    "precip": ("operators.cascade", "cascade/sample_stats"),
}
STREAM_DDL = ("station_id string, ts timestamp, temp double, precip double, "
              "glob double, hum double, wind double, ssd double")
BATCH_TIMEOUT_S = 60.0


@dataclasses.dataclass
class Context:
    spark: object
    tracer: object
    inputs: dict
    out_dir: str
    seed: int


@dataclasses.dataclass
class Outcome:
    rows: int
    steps: list
    check: object
    skill: dict = dataclasses.field(default_factory=dict)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _disaggregate(ctx: Context, st: Stations, var: str, method: str):
    """One public dispatcher call of the Stations API per variable; the
    fleet's cascade with the sample statistics calls the operator
    directly, since the API's cascade route needs calibrated ones."""
    if var == "temp":
        return st.disaggregate_temperature("sine_min_max", min_max_time="sun_loc")
    if var == "hum":
        return st.disaggregate_humidity(method)
    if var == "wind":
        return st.disaggregate_wind(method, seed=ctx.seed)
    if var == "glob":
        return st.disaggregate_radiation(method)
    if method == "cascade":
        return st.disaggregate_precipitation("cascade", seed=ctx.seed)
    stats = CascadeStatistics()
    stats.fill_with_sample_data()
    return disagg_prec_cascade(st.data_daily, stats, seed=ctx.seed)


def _disaggregate_and_sink(ctx: Context, st: Stations, methods: dict) -> tuple[list, dict]:
    t = ctx.tracer
    steps, paths = [], {}
    for var, (layer, method) in methods.items():
        paths[var] = os.path.join(ctx.out_dir, var)
        with t.span(f"step:{var}") as step:
            out = t.build(layer, _disaggregate, ctx, st, var, method)
            if t.traced:
                t.action(layer, lambda: _noop(out), [out])
            t.action("sink", lambda: out.write.parquet(paths[var]))
        steps.append((var, step["end"] - step["start"]))
    return steps, paths


def paper_workflow(ctx: Context) -> Outcome:
    """Hourly parquet → daily → calibrate on the leading years → one
    method per variable → parquet sink → skill against the held-out
    year, read back from the sink."""
    spark, t, inp = ctx.spark, ctx.tracer, ctx.inputs
    with t.span("ingest"):
        meta = spark.read.parquet(inp["meta"])
        hourly = spark.read.parquet(inp["hourly"])
        daily = t.build("aggregations", daily_from_hourly, hourly)
        if t.traced:
            t.action("aggregations", lambda: _noop(daily), [daily])
    with t.span("calibrate"):
        calib = spark.read.parquet(inp["hourly_calib"])
        st = Stations(meta, daily)
        stats = t.build("statistics", st.calibrate, calib)
        if t.traced:
            tables = [getattr(stats, a) for a in stats._FRAME_SPECS]
            t.action("statistics", lambda: [df.collect() for df in tables], tables)
    steps, paths = _disaggregate_and_sink(ctx, st, PAPER_METHODS)
    skill = {}
    with t.span("skill") as step:
        holdout = spark.read.parquet(inp["hourly_holdout"])
        for var, (_layer, method) in PAPER_METHODS.items():
            sim = spark.read.parquet(paths[var]).withColumnRenamed(var, "sim")
            joined = holdout.select("station_id", "ts", F.col(var).alias("obs")).join(
                sim, ["station_id", "ts"])
            scores = t.build("functions.stats", skill_scores, joined)
            means = scores.agg(*[F.avg(m).alias(m) for m in ("r", "rmse", "nse")])
            row = t.action("functions.stats", means.collect, [means])[0]
            skill[f"{var}:{method}"] = row.asDict()
    steps.append(("skill", step["end"] - step["start"]))
    n = checks.expected_rows(inp)
    return Outcome(
        rows=n * len(PAPER_METHODS),
        steps=steps,
        skill=skill,
        check=lambda: checks.check_disagg(
            "paper_workflow", inp, paths, PAPER_METHODS, program_skill=skill,
            conserve={"precip": "sum"}),
    )


def fleet_disagg(ctx: Context) -> Outcome:
    """Daily parquet → all five variables with parameter-free methods →
    parquet sink. Humidity is fused with the temperature."""
    spark, t, inp = ctx.spark, ctx.tracer, ctx.inputs
    with t.span("ingest"):
        st = Stations(spark.read.parquet(inp["meta"]), spark.read.parquet(inp["daily"]))
    steps, paths = _disaggregate_and_sink(ctx, st, FLEET_METHODS)
    n = checks.expected_rows(inp)
    return Outcome(
        rows=n * len(FLEET_METHODS),
        steps=steps,
        check=lambda: checks.check_disagg(
            "fleet_disagg", inp, paths, FLEET_METHODS, program_skill=None,
            conserve={"precip": "sum", "glob": "mean"}),
    )


def stream_ingest(ctx: Context) -> Outcome:
    """A closed loop with one client: land one file of a day's hourly
    observations of all stations, wait until the micro-batch that read
    it has committed, then land the next. Each batch runs the
    watermarked ``streaming_daily_from_hourly`` in append mode into a
    parquet file sink."""
    spark, t, inp = ctx.spark, ctx.tracer, ctx.inputs
    src = os.path.join(ctx.out_dir, "stream_src")
    sink = os.path.join(ctx.out_dir, "stream_daily")
    os.makedirs(src)
    files = inp["stream_files"]
    rows_per_file = inp["stream_rows_per_file"]
    steps = []
    with t.span("stream"):
        stream = spark.readStream.schema(STREAM_DDL).option("maxFilesPerTrigger", 1).parquet(src)
        daily = t.build("streaming", streaming_daily_from_hourly, stream, watermark="1 hour")
        with t.exec_span("streaming") as rec:
            query = (daily.writeStream.format("parquet")
                     .option("path", sink)
                     .option("checkpointLocation", os.path.join(ctx.out_dir, "stream_ckpt"))
                     .outputMode("append").start())
            try:
                # the stream thread's jobs run under its run id as group
                rec.setdefault("groups", []).append(str(query.runId))
                done = _BatchLog(query, t.py4j)
                for i, f in enumerate(files):
                    # land atomically: copy beside the source dir, rename in
                    tmp = os.path.join(ctx.out_dir, os.path.basename(f))
                    shutil.copyfile(f, tmp)
                    landed = time.perf_counter()
                    os.rename(tmp, os.path.join(src, os.path.basename(f)))
                    done.wait_rows((i + 1) * rows_per_file)
                    steps.append((f"batch{i}", time.perf_counter() - landed))
                # the last full day is emitted by the batch that runs
                # after the watermark has passed it
                done.wait_idle_batch()
                rec["phases"] = {"planning": done.planning_s()}
            finally:
                query.stop()
                if not query.awaitTermination(30):
                    raise TimeoutError("stream query did not stop within 30 s")
    return Outcome(
        rows=rows_per_file * len(files),
        steps=steps,
        check=lambda: checks.check_stream(inp, sink),
    )


class _BatchLog:
    """Follows a query's progress reports: rows read per committed
    batch, keyed by batch id."""

    def __init__(self, query, py4j):
        self.query = query
        self.py4j = py4j
        self.batches: dict[int, dict] = {}

    def _poll(self) -> None:
        # polling is the benchmark's work, not the stream's: its py4j
        # commands, and the release of the Java handles the progress
        # reports hold, stay uncounted
        with self.py4j.pause():
            exc = self.query.exception()
            self.batches.update({
                p.batchId: dict(rows=p.numInputRows,
                                planning_ms=p.durationMs.get("queryPlanning", 0))
                for p in self.query.recentProgress})
        if exc is not None:
            raise RuntimeError(f"stream query failed: {exc}")

    def _until(self, cond, what: str) -> None:
        deadline = time.perf_counter() + BATCH_TIMEOUT_S
        while True:
            self._poll()
            if cond():
                return
            if time.perf_counter() > deadline:
                raise TimeoutError(f"stream: {what} not committed within {BATCH_TIMEOUT_S} s")
            time.sleep(0.01)

    def wait_rows(self, rows: int) -> None:
        self._until(lambda: sum(b["rows"] for b in self.batches.values()) >= rows,
                    f"{rows} input rows")

    def wait_idle_batch(self) -> None:
        last_data = max(i for i, b in self.batches.items() if b["rows"] > 0)
        self._until(lambda: any(i > last_data for i in self.batches), "watermark batch")

    def planning_s(self) -> float:
        return sum(b["planning_ms"] for b in self.batches.values()) / 1000.0


WORKLOADS = {
    "paper_workflow": paper_workflow,
    "fleet_disagg": fleet_disagg,
    "stream_ingest": stream_ingest,
}
