"""The benchmark's workloads, run against the engine's public entry points.

* ``cdc_upsert``: Debezium envelopes through ``streaming.pipeline.
  transform`` into ``operators.upsert.foreach_batch_upsert`` over a
  pre-filled state -- a capacity drain, then an open loop at a fixed
  offered rate.
* ``click_queries``: a closed loop of one client; one operation is one
  dashboard refresh, seven catalog lanes built with ``q.fn(spark, dir)``
  and executed through the noop sink.

Each workload generates its inputs (untimed), sets up (timed as
``setup_s``), measures for the run's seconds and then checks its
outputs against DuckDB (untimed).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
import traceback

from . import gen
from .trace import FAILED, Tracer, percentile, self_times, sum_stages, tail

#: micro-batch size of the staged drains, in envelope files
FILES_PER_TRIGGER = 10
#: dashboard refreshes run as warm-up before the measured loop
WARM_REFRESHES = 4

CLICK_LANES = (
    "doc_views",
    "hll_sketch_views",
    "window_tumbling",
    "window_session",
    "latest_event_per_user",
    "session_funnel_stats",
    "top_events_per_type",
)

#: all per-layer metrics the workloads produce, 0 where a workload
#: does not touch the layer
LAYER_KEYS = (
    "session.get_spark_s",
    "sources.load_table_s",
    "streaming.batches",
    "streaming.batch_rows_p50",
    "streaming.trigger_s_p50",
    "streaming.add_batch_s_p50",
    "streaming.planning_s_p50",
    "streaming.offsets_s_p50",
    "streaming.queue_wait_s_p50",
    "streaming.backlog_files_max",
    "streaming.freshness_p90_s",
    "streaming.transform_s_p50",
    "operators.upsert.call_s_p50",
    "operators.upsert.jobs_per_batch",
    "operators.upsert.bytes_written_per_input_byte",
    "operators.upsert.state_rows",
    "operators.upsert.state_bytes",
    "plans.build_self_s",
    *(f"plans.{lane}.{k}" for lane in CLICK_LANES
      for k in ("build_s", "exec_s", "build_jobs", "exec_jobs")),
    "spark.stages",
    "spark.tasks",
    "spark.executor_cpu_s",
    "spark.executor_run_s",
    "spark.gc_s",
    "spark.shuffle_write_bytes",
    "spark.spill_bytes",
    "spark.input_bytes",
    "spark.python.total_s",
    "spark.python.boot_s",
    "spark.python.sent_bytes",
    "spark.python.received_bytes",
    "trace.latency_p50_s",
)


def _p50(values) -> float:
    return percentile(values, 50) or 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


class Workload:
    """Shared run state: inputs under ``root``, a tracer, and the
    results ``run.py`` prints."""

    name = ""

    def __init__(self, root: str, seed: int, seconds: float, tracer: Tracer):
        self.root, self.seed, self.seconds, self.tracer = root, seed, seconds, tracer
        self.data = os.path.join(root, "data")
        os.makedirs(self.data, exist_ok=True)
        self.latencies: list[float] = []  # per operation, FAILED if failed
        self.throughput = 0.0
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}
        self.host: dict = {}

    def trace_extras(self, spark) -> None:
        """Traced run only: layer timings outside the measured loop."""

    def fail_all(self) -> None:
        self.failed = self.attempted
        self.latencies = [FAILED] * len(self.latencies)

    def spark_metrics(self, jobs, stages, n_ops: int) -> None:
        """Per-operation Spark execution and Python-boundary totals."""
        tot = sum_stages(jobs, stages)
        for k, v in tot.items():
            if k != "output_bytes":
                self.layer[f"spark.{k}"] = v / max(n_ops, 1)


# ---------------------------------------------------------------------------
# cdc_upsert


class CdcUpsert(Workload):
    name = "cdc_upsert"
    KEYS = ["doc_id"]
    ORDER = ["version", "ts_ms"]

    def generate(self) -> None:
        stream = gen.CdcStream(self.seed)
        self.envelopes = stream.prefill()
        self._write_dir("prefill", [self.envelopes])
        n_live = round(gen.OFFERED_FILES_PER_S * self.seconds)
        for name, n in (("warm", gen.WARM_FILES), ("backlog", gen.BACKLOG_FILES)):
            files = stream.files(n)
            self._write_dir(name, files)
            for f in files:
                self.envelopes.extend(f)
        live = stream.files(n_live)
        for f in live:
            self.envelopes.extend(f)
        self.live = [gen.render(f) for f in live]
        self.input_bytes = (
            _dir_bytes(os.path.join(self.data, "warm"))
            + _dir_bytes(os.path.join(self.data, "backlog"))
            + sum(map(len, self.live))
        )

    def _write_dir(self, name: str, files) -> None:
        d = os.path.join(self.data, name)
        os.makedirs(d)
        for i, f in enumerate(files):
            gen.write_file(gen.render(f), os.path.join(d, f"f{i:05d}.json"))

    def _upsert(self):
        """``foreach_batch_upsert`` with each call timed."""
        from click_streaming_data_pipeline_spark.operators.upsert import (
            foreach_batch_upsert,
        )

        apply = foreach_batch_upsert(self.state, self.KEYS, self.ORDER)

        def timed(batch, batch_id):
            start, wall = time.perf_counter(), time.time()
            apply(batch, batch_id)
            end = time.perf_counter()
            self.calls.append((self.phase, batch_id, wall, time.time(), end - start))
            self.tracer.add("operators.upsert", start, end, batch=batch_id,
                            phase=self.phase)

        return timed

    def _stream(self, src: str, ckpt: str, spark, available_now: bool):
        from click_streaming_data_pipeline_spark.streaming.pipeline import transform

        reader = spark.readStream.format("text")
        if available_now:
            reader = reader.option("maxFilesPerTrigger", FILES_PER_TRIGGER)
        w = (
            transform(reader.load(src))
            .writeStream.foreachBatch(self._upsert())
            .option("checkpointLocation", ckpt)
        )
        return (w.trigger(availableNow=True) if available_now else w).start()

    def setup(self, spark) -> None:
        """State pre-filled to the whole key space, then the warm
        backlog drained through the stream."""
        from click_streaming_data_pipeline_spark.streaming.pipeline import transform

        self.state = os.path.join(self.root, "state")
        self.ckpt = os.path.join(self.root, "ckpt")
        self.calls: list[tuple] = []
        self.phase = "prefill"
        prefill = transform(spark.read.text(os.path.join(self.data, "prefill")))
        self._upsert()(prefill, -1)
        self.phase = "warm"
        self._stream(os.path.join(self.data, "warm"),
                     os.path.join(self.ckpt, "warm"), spark, True).awaitTermination()

    def measure(self, spark) -> None:
        self.phase = "backlog"
        q = self._stream(os.path.join(self.data, "backlog"),
                         os.path.join(self.ckpt, "backlog"), spark, True)
        q.awaitTermination()
        progress = [p for p in q.recentProgress if p.numInputRows > 0]
        # capacity: the median drain batch's envelopes per second of
        # trigger time -- one slow batch (a GC pause, a busy neighbour)
        # moves a whole-drain mean but not the median
        self.throughput = _p50([
            p.numInputRows / (p.durationMs["triggerExecution"] / 1e3)
            for p in progress])

        self.phase = "live"
        live = os.path.join(self.root, "live")
        os.makedirs(live)
        live_ckpt = os.path.join(self.ckpt, "live")
        q = self._stream(live, live_ckpt, spark, False)
        due = [0.0] * len(self.live)
        written = [0.0] * len(self.live)
        start = time.time() + 0.5

        # this thread is the load generator: the query runs on Spark's
        # threads, so a slow batch delays no file's drop
        for i, data in enumerate(self.live):
            due[i] = start + i / gen.OFFERED_FILES_PER_S
            delay = due[i] - time.time()
            if delay > 0:
                time.sleep(delay)
            gen.write_file(data, os.path.join(live, f"f{i:05d}.json"))
            written[i] = time.time()
        batch_of = self._wait_committed(q, live_ckpt, len(self.live))
        q.stop()
        progress += list(q.recentProgress)

        commit = {b: end for ph, b, _, end, _ in self.calls if ph == "live"}
        begin = {b: st for ph, b, st, _, _ in self.calls if ph == "live"}
        self.attempted = gen.BACKLOG_FILES + len(self.live)
        self.latencies = []
        waits, per_batch = [], {}
        for i in range(len(self.live)):
            b = batch_of.get(f"f{i:05d}.json")
            if b is None or b not in commit:
                self.failed += 1
                self.latencies.append(FAILED)
                continue
            self.latencies.append(commit[b] - due[i])
            waits.append(begin[b] - due[i])
            per_batch[b] = per_batch.get(b, 0) + 1
        late = [w - d for w, d in zip(written, due)]
        self.host["generator_lateness_p50_s"] = _p50(late)
        self.host["generator_lateness_max_s"] = max(late)
        self.host["offered_files_per_s"] = gen.OFFERED_FILES_PER_S
        self.host["freshness_p25_p75_s"] = [
            percentile(self.latencies, 25), percentile(self.latencies, 75)]

        data = [p for p in progress if p.numInputRows > 0]
        dur = [p.durationMs for p in data]
        self.layer.update({
            "streaming.batches": len(data),
            "streaming.batch_rows_p50": _p50([p.numInputRows for p in data]),
            "streaming.trigger_s_p50": _p50([d.get("triggerExecution", 0) / 1e3 for d in dur]),
            "streaming.add_batch_s_p50": _p50([d.get("addBatch", 0) / 1e3 for d in dur]),
            "streaming.planning_s_p50": _p50([d.get("queryPlanning", 0) / 1e3 for d in dur]),
            "streaming.offsets_s_p50": _p50([
                sum(d.get(k, 0) for k in ("latestOffset", "getBatch", "walCommit",
                                          "commitOffsets")) / 1e3 for d in dur]),
            "streaming.queue_wait_s_p50": _p50(waits),
            "streaming.backlog_files_max": max(per_batch.values(), default=0),
            "streaming.freshness_p90_s": tail(self.latencies, 90) or 0.0,
            "operators.upsert.call_s_p50": _p50(
                [c[4] for c in self.calls if c[0] in ("backlog", "live")]),
        })

    def _wait_committed(self, q, ckpt: str, n: int) -> dict[str, int]:
        """file name -> batch id, once every file's batch has committed
        (or the wait times out, leaving the rest as failed)."""
        log = os.path.join(ckpt, "sources", "0")
        deadline = time.time() + 60
        while True:
            batch_of = {}
            if os.path.isdir(log):
                for name in os.listdir(log):
                    if name.startswith("."):
                        continue
                    with open(os.path.join(log, name)) as f:
                        for line in f.read().splitlines()[1:]:
                            e = json.loads(line)
                            batch_of[os.path.basename(e["path"])] = e["batchId"]
            done = {b for ph, b, *_ in self.calls if ph == "live"}
            if (len(batch_of) >= n and set(batch_of.values()) <= done) \
                    or time.time() > deadline or q.exception() is not None:
                return batch_of
            time.sleep(0.05)

    def trace_extras(self, spark) -> None:
        """Traced run only: ``pipeline.transform`` materialized alone."""
        from click_streaming_data_pipeline_spark.streaming.pipeline import transform

        src = spark.read.text(os.path.join(self.data, "backlog"))
        times = []
        for _ in range(3):
            with self.tracer.span("streaming.transform", spark):
                t0 = time.perf_counter()
                transform(src).write.format("noop").mode("overwrite").save()
                times.append(time.perf_counter() - t0)
        self.layer["streaming.transform_s_p50"] = _p50(times)

    def event_metrics(self, jobs, stages) -> None:
        stream_jobs = [j for j in jobs if j.batch is not None]
        batches = [c for c in self.calls if c[0] != "prefill"]
        out = sum_stages(stream_jobs, stages)["output_bytes"]
        self.layer["operators.upsert.jobs_per_batch"] = len(stream_jobs) / max(len(batches), 1)
        self.layer["operators.upsert.bytes_written_per_input_byte"] = out / self.input_bytes
        self.spark_metrics(stream_jobs, stages, len(batches))

    def check(self, spark) -> list[str]:
        """Final state vs last-write-wins over every generated envelope,
        quality columns included, resolved in DuckDB."""
        import duckdb

        from click_streaming_data_pipeline_spark.functions.quality import (
            quality_oracle_exprs,
        )
        from tools.driver_check import value_hash

        sdf = spark.read.parquet(self.state)
        srows = [tuple(r) for r in sdf.collect()]
        self.layer["operators.upsert.state_rows"] = len(srows)
        self.layer["operators.upsert.state_bytes"] = _dir_bytes(self.state)
        quality = ",\n".join(
            f"({e}) AS {n}" for n, e in quality_oracle_exprs("text", "n_chars").items()
        )
        con = duckdb.connect()
        con.register("envelopes", gen.envelope_rows(self.envelopes))
        cur = con.execute(f"""
            SELECT doc_id, text, lang, source, n_chars, version, op, ts_ms,
                   {quality}
            FROM (
                SELECT *, row_number() OVER (
                    PARTITION BY doc_id ORDER BY version DESC, ts_ms DESC
                ) AS rn
                FROM envelopes WHERE op NOT IN ('r', 'd')
            ) WHERE rn = 1
        """)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
        ok = (
            sorted(sdf.columns) == sorted(ocols)
            and len(srows) == len(orows)
            and value_hash(srows, sdf.columns) == value_hash(orows, ocols)
        )
        return [] if ok else [f"state: {len(srows)} rows vs {len(orows)} oracle rows"]


# ---------------------------------------------------------------------------
# click_queries


class ClickQueries(Workload):
    name = "click_queries"

    def generate(self) -> None:
        gen.write_table(gen.events_table(self.seed),
                        os.path.join(self.data, "events.parquet"))

    def refresh(self, spark) -> float:
        """One dashboard refresh: every lane built and run to the noop sink."""
        from click_streaming_data_pipeline_spark.plans import QUERIES

        t0 = time.perf_counter()
        with self.tracer.span("op"):
            for lane in CLICK_LANES:
                with self.tracer.span(f"plans.{lane}"):
                    with self.tracer.span(f"plans.{lane}.build", spark, lane=lane):
                        df = QUERIES[lane].fn(spark, self.data)
                    with self.tracer.span(f"plans.{lane}.exec", spark, lane=lane):
                        df.write.format("noop").mode("overwrite").save()
        return time.perf_counter() - t0

    def setup(self, spark) -> None:
        """Warm-up: ``WARM_REFRESHES`` refreshes at full input size. On a
        fresh JVM the first takes ~4x a settled one and the next few
        still fall while the JIT compiles."""
        for _ in range(WARM_REFRESHES):
            self.refresh(spark)

    def measure(self, spark) -> None:
        deadline = time.perf_counter() + self.seconds
        while not self.latencies or time.perf_counter() < deadline:
            self.tracer.op = self.attempted
            self.attempted += 1
            try:
                self.latencies.append(self.refresh(spark))
            except Exception:
                traceback.print_exc(file=sys.stderr)
                self.failed += 1
                self.latencies.append(FAILED)
        self.tracer.op = None
        self.host["refreshes_s"] = [round(t, 4) for t in self.latencies]
        # one client in a closed loop: events rows per second of the
        # median refresh, the reciprocal of latency_p50_s
        ok = [t for t in self.latencies if t != FAILED]
        self.throughput = gen.N_EVENTS / statistics.median(ok) if ok else 0.0

    def event_metrics(self, jobs, stages) -> None:
        spans = self.tracer.spans
        ops = sorted({s.op for s in spans if s.op is not None})
        for phase in ("build", "exec"):
            for lane in CLICK_LANES:
                name = f"plans.{lane}.{phase}"
                per_op = {op: 0 for op in ops}
                secs = []
                for s in spans:
                    if s.name == name and s.op is not None:
                        secs.append(s.end - s.start)
                        per_op[s.op] += sum(
                            j.group == f"span-{i}" for j in jobs
                            for i in self._subtree(s.id))
                self.layer[f"{name}_s"] = _p50(secs)
                self.layer[f"{name}_jobs"] = _p50(list(per_op.values()))
        own = {f"span-{s.id}" for s in spans if s.op is not None}
        self.spark_metrics([j for j in jobs if j.group in own], stages, len(ops))
        selfs = self_times(spans)
        load, build = {op: 0.0 for op in ops}, {op: 0.0 for op in ops}
        for s in spans:
            if s.op is None:
                continue
            if s.name == "sources.load_table":
                load[s.op] += s.end - s.start
            elif s.name.endswith(".build"):
                build[s.op] += selfs[s.id]
        self.layer["sources.load_table_s"] = _p50(list(load.values()))
        self.layer["plans.build_self_s"] = _p50(list(build.values()))

    def _subtree(self, sid: int) -> list[int]:
        out, todo = [], [sid]
        while todo:
            cur = todo.pop()
            out.append(cur)
            todo.extend(s.id for s in self.tracer.spans if s.parent == cur)
        return out

    def check(self, spark) -> list[str]:
        """Every lane's output value-hashed against its DuckDB oracle."""
        import duckdb

        from click_streaming_data_pipeline_spark.plans import QUERIES, oracle_dict
        from tools.driver_check import value_hash

        oracles = oracle_dict()
        con = duckdb.connect()
        con.execute(
            "CREATE VIEW events AS SELECT * FROM "
            f"'{os.path.join(self.data, 'events.parquet')}'"
        )
        bad = []
        self.host["lanes_without_oracle"] = [
            lane for lane in CLICK_LANES if lane not in oracles]
        for lane in CLICK_LANES:
            sdf = QUERIES[lane].fn(spark, self.data)
            srows = [tuple(r) for r in sdf.collect()]
            if lane not in oracles:  # rows-only: the lane must not be empty
                bad += [] if srows else [f"{lane}: no rows"]
                continue
            cur = con.execute(oracles[lane])
            ocols = [d[0] for d in cur.description]
            orows = cur.fetchall()
            if not srows or not (
                sorted(sdf.columns) == sorted(ocols)
                and len(srows) == len(orows)
                and value_hash(srows, sdf.columns) == value_hash(orows, ocols)
            ):
                bad.append(f"{lane}: {len(srows)} rows vs {len(orows)} oracle rows")
        return bad


WORKLOADS = {w.name: w for w in (CdcUpsert, ClickQueries)}


def patch_load_table(tracer: Tracer):
    """Traced run: wrap ``sources.load_table`` wherever the engine's
    modules bound it, so each call is a span. Returns an undo."""
    import click_streaming_data_pipeline_spark.plans  # noqa: F401 (binds it)
    from click_streaming_data_pipeline_spark.sources import tables

    orig = tables.load_table

    def load_table(spark, sf_dir, name):
        with tracer.span("sources.load_table", spark, table=name):
            return orig(spark, sf_dir, name)

    patched = [
        m for m in list(sys.modules.values())
        if getattr(m, "__name__", "").startswith("click_streaming_data_pipeline_spark")
        and getattr(m, "load_table", None) is orig
    ]
    for m in patched:
        m.load_table = load_table

    def undo() -> None:
        for m in patched:
            m.load_table = orig

    return undo
