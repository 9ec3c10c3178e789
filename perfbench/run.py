"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload cdc_upsert --seed 1 --seconds 12 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
written under ``.perfbench/`` (removed at the end). One run:

1. generates the workload's inputs (untimed);
2. sets up once, cold -- start a fresh JVM and Spark session, stage,
   pre-fill and warm up at full input size -- timed as ``setup_s``;
3. measures for ``--seconds`` seconds;
4. checks the outputs against DuckDB (untimed); a mismatch fails every
   operation of the run.

End-to-end metrics (``--trace 0``), the same names on every workload:

* ``setup_s``: the cold set-up, from before ``get_spark()`` to the first
  timed operation. It is one set-up, not a median of several: with the
  JVM started afresh each set-up costs 20-45 s on 4 cores, and the
  run's budget holds one.
* ``latency_p50_s``: cdc_upsert -- freshness, from an envelope file's due
  time to the commit of the micro-batch that made it visible in the
  state; click_queries -- one dashboard refresh.
* ``throughput_per_s``: cdc_upsert -- capacity, the median micro-batch's
  envelopes per second of trigger time while draining the staged
  backlog; click_queries -- events table rows per second of the median
  refresh, i.e. ``N_EVENTS / latency_p50_s``: with one client in a
  closed loop it is the reciprocal of the latency, not a measurement
  of its own.

``--trace 1`` records spans around the calls into each engine module,
enables the Spark event log, and prints the per-layer metrics instead
(listed in BENCHMARK.json); the spans go to ``.perfbench/trace-*.json``.
A host record is printed on the line before the result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: reported in place of a percentile that lands on a failed operation
MISSED = 1e9


def _environment(work: str, trace: bool) -> int:
    """Point every temp, warehouse and log path of Python, the JVM and
    Spark inside ``work``; returns the core count the session uses."""
    for d in ("tmp", "local", "events", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    os.environ.update({
        "TZ": "UTC",
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        # every JVM, spark-submit's launcher too; -XX:-UsePerfData: no
        # /tmp/hsperfdata_<user> file
        "JAVA_TOOL_OPTIONS":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        "SPARK_GRAFT_CPUS": str(cpus),
        "CSDP_DRIVER_MEM": "2g",
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "events"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in confs.items()) + " pyspark-shell"
    time.tzset()
    tempfile.tempdir = None
    return cpus


def _stop_jvm(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    sys.path.insert(0, ROOT)
    # the engine and its oracle helper; absent from a tree without the
    # program, which must fail here, before any result
    from click_streaming_data_pipeline_spark.session import get_spark
    import tools.driver_check  # noqa: F401

    work = os.path.join(os.getcwd(), ".perfbench", f"run-{os.getpid()}")
    cpus = _environment(work, trace)

    from perfbench.trace import Tracer, event_log_file, read_event_log
    from perfbench.workloads import LAYER_KEYS, WORKLOADS, patch_load_table

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    tracer = Tracer(trace)
    w = WORKLOADS[workload](work, seed, seconds, tracer)
    spark = None
    try:
        t_gen = time.perf_counter()
        w.generate()
        phase_s = {"generate": time.perf_counter() - t_gen}
        undo = patch_load_table(tracer) if trace else (lambda: None)
        t0 = time.perf_counter()
        with tracer.span("session.get_spark"):
            spark = get_spark("perfbench")
        get_spark_s = time.perf_counter() - t0
        with tracer.span("setup"):
            w.setup(spark)
        setup_s = time.perf_counter() - t0

        t_measure = time.perf_counter()
        w.measure(spark)
        t_check = time.perf_counter()
        mismatches = w.check(spark)
        phase_s.update(measure=t_check - t_measure,
                       check=time.perf_counter() - t_check)
        if mismatches:
            w.fail_all()
        if trace:
            w.trace_extras(spark)
        undo()
        app_id = spark.sparkContext.applicationId
        w.host.update({
            "workload": workload,
            "seed": seed,
            "nproc": os.cpu_count(),
            "cores_used": cpus,
            "master": spark.sparkContext.master,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "spark_version": spark.version,
            "oracle": "MATCH" if not mismatches else mismatches,
        })
        t_stop = time.perf_counter()
        _stop_jvm(spark)
        spark = None
        phase_s["stop"] = time.perf_counter() - t_stop
        w.host["phase_s"] = {k: round(v, 3) for k, v in phase_s.items()}
        if trace:
            path = event_log_file(os.path.join(work, "events"), app_id)
            jobs, stages = read_event_log(path)
            w.event_metrics(jobs, stages)
        from tools.calibrate import py_calibration_ms

        w.host["host_calib_md5_1m_ms"] = py_calibration_ms()

        latency = statistics.median(w.latencies)
        values = {
            "setup_s": setup_s,
            "latency_p50_s": MISSED if latency == float("inf") else latency,
            "throughput_per_s": w.throughput,
        }
        layer = dict.fromkeys(LAYER_KEYS, 0.0)
        layer.update(w.layer)
        layer["session.get_spark_s"] = get_spark_s
        layer["trace.latency_p50_s"] = values["latency_p50_s"]
        if trace:
            tracer.write(
                os.path.join(os.getcwd(), ".perfbench", f"trace-{workload}-{seed}.json"),
                {"host": w.host, "end_to_end": values, "per_layer": layer},
            )
            values = layer
        wanted = spec["per_layer" if trace else "end_to_end"]
        return {
            "host": w.host,
            "result": {
                "correct": not mismatches,
                "attempted": w.attempted,
                "failed": w.failed,
                "metrics": {
                    m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in wanted
                },
            },
        }
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    out = run(a.workload, a.seed, a.seconds, bool(a.trace))
    print("# host " + json.dumps(out["host"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
