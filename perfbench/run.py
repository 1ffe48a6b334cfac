#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {convert,curate} --seed N \\
        --seconds S --trace {0,1}

Run from the root of a checkout: the program under test is the
``raquet_spark`` package next to this directory. One process, one
client, closed loop, on a ``local[4]`` Spark session with
``get_spark``'s own settings. Inputs come from ``--seed`` (and, for
``curate``, the tables in ``data/``) and live in a scratch directory
inside the checkout that is removed on exit.

A run: start the session, prepare the inputs (three times; the median
counts toward ``setup_s``), time the fixed job-floor probe, run one
untimed warm-up pass (its wall time counts toward ``setup_s``), then run
whole passes of the workload until ``--seconds`` have elapsed (at least
one). Output checks run after the timed window; an op that raised or
failed its check, in a timed pass or in the warm-up, counts in
``failed``.

Stdout: the workload's headline metrics by name (``name value unit``,
"n/a" where one does not apply), a line with the window's wall times,
then the result JSON as the last line. With ``--trace 0`` the JSON
carries the end-to-end metrics of BENCHMARK.json. Those gate on
process-tree CPU seconds rather than wall time, which neighbours on a
shared box move more, and on the driver Python process's RSS rather than
the JVM's, whose heap the garbage collector sizes differently from run
to run (README.md has the measured spreads). With ``--trace 1`` — spans
around every layer call plus Spark's event log — the JSON carries the
per-layer metrics; ``traced.*`` repeat the end-to-end CPU figures with
tracing on, so the tracing overhead is their relative difference from
an untraced run of the same seed.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
MASTER = "local[4]"
WORKLOADS = ("convert", "curate")
SYNTH_REPEATS = 3
FLOOR_REPEATS = 3

# the headline metrics printed by name (BENCHMARK.json gates the
# workload-independent subset in END_TO_END)
NAMED = (
    ("setup_s", "s"), ("failed_frac", "ratio"), ("peak_rss_mb", "MB"),
    ("convert_mpx_per_s", "Mpx/s"), ("export_mpx_per_s", "Mpx/s"),
    ("stored_bytes_per_px", "B/px"), ("tile_p50_ms", "ms"), ("tile_tail_ms", "ms"),
    ("point_query_p50_ms", "ms"), ("region_query_p50_ms", "ms"),
    ("curate_docs_per_s", "docs/s"),
)
END_TO_END = (
    ("setup_s", "s"), ("driver_py_peak_rss_mb", "MB"), ("build_cpu_s", "s"), ("exec_cpu_s", "s"),
)

IMPORT_SRCS = ("geotiff4326", "geotiffutm", "netcdf")
CURATE_LINES = (
    "quality_classifier_filter", "semantic_dedup_keep", "dedup_components",
    "dedup_minhash", "ann_lsh",
)
EVENT_PHASES = ("import", "pyramid", "raquet", "geotiff", "point_query", "region_stats", "queries")
EVENT_FIELDS = (
    ("task_run_s", "s"), ("task_cpu_s", "s"), ("gc_s", "s"),
    ("shuffle_bytes", "B"), ("spill_bytes", "B"), ("python_s", "s"),
)


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run reports, with its unit. A
    ``<call>_s`` / ``<call>_jobs`` pair is the wall time and Spark job
    count of the timed call ``<call>``."""
    def timed(*calls):
        return [(f"{c}_{k}", u) for c in calls for k, u in (("s", "s"), ("jobs", "count"))]

    out = []
    for s in IMPORT_SRCS:
        out += timed(f"import.{s}.build", f"import.{s}.exec") + [(f"import.{s}.codegen_fallbacks", "count")]
    out += timed("pyramid.build", "raquet.write") + [("raquet.bytes_written", "B")]
    out += timed("geotiff.export")
    out += [("serve.fetch_s", "s"), ("bands.decode_s", "s"), ("serve.to_uint8_s", "s"),
            ("webp.encode_s", "s"), ("serve.tile_hit_ratio", "ratio")]
    out += timed("point_query.build", "point_query.exec") + [("point_query.records_read", "count")]
    out += timed("region_stats.exec") + [("region_stats.records_read", "count")]
    for line in CURATE_LINES:
        out += timed(f"queries.{line}.build", f"queries.{line}.exec")
    for phase in EVENT_PHASES:
        out += [(f"{phase}.{f}", u) for f, u in EVENT_FIELDS]
    out += [("session.floor_s", "s"), ("driver.peak_rss_mb", "MB"),
            ("workers.peak_rss_mb", "MB"), ("workers.peak_count", "count"),
            ("wall.build_s", "s"), ("wall.exec_s", "s"),
            ("traced.build_cpu_s", "s"), ("traced.exec_cpu_s", "s"),
            ("measure.overhead_cpu_s", "s")]
    return out


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _configure_env(work: str, trace: bool) -> str | None:
    """Keep every file Spark, the JVM and Python workers write inside
    ``work``; returns the event-log directory of a traced run."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_CPUS": "4",
        # the launcher JVM that spark-submit runs first
        "SPARK_LAUNCHER_OPTS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    events = None
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + events,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    args += ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData", "pyspark-shell"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args)
    import tempfile

    tempfile.tempdir = tmp
    return events


def _stop(spark) -> None:
    """Stop the session, then wait until every process it started has
    ended: the gateway JVM (which exits on stdin EOF) and the Python
    daemon and workers it forked."""
    from pyspark import SparkContext

    from perfbench.trace import process_tree

    started = [pid for pid, depth in process_tree(os.getpid()) if depth > 0]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if _running(p)]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        os.kill(pid, signal.SIGKILL)


def _running(pid: int) -> bool:
    """Whether ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (FileNotFoundError, ProcessLookupError):
        return False


def floor_probe(spark) -> float:
    """Median time of a fixed 8-task JVM-only job (after one untimed
    run): the scheduler floor every Spark call pays, and a contention
    sentinel."""
    def job():
        spark.range(0, 2_000_000, 1, 8).selectExpr("sum(id * 2) AS s").collect()

    job()
    runs = []
    for _ in range(FLOOR_REPEATS):
        t0 = time.perf_counter()
        job()
        runs.append(time.perf_counter() - t0)
    return statistics.median(runs)


def _wrap_serve(tracer) -> None:
    """Traced runs only: spans around the kernels ``serve.render_tile``
    calls, by rebinding the names it looks up in its module."""
    from raquet_spark import serve

    def wrap(attr, span):
        fn = getattr(serve, attr)

        def traced(*a, **k):
            with tracer.span(span):
                return fn(*a, **k)

        setattr(serve, attr, traced)

    wrap("fetch_tile", "serve.fetch")
    wrap("decode_block", "bands.decode")
    wrap("band_to_uint8", "serve.to_uint8")
    wrap("vp8l_encode", "webp.encode")


def _split_build_exec(per_name: dict[str, float], passes: int) -> tuple[float, float]:
    """(DataFrame-build, everything-else) totals per pass of a per-call-name
    measure: ``*.build`` calls are Python planning plus the eager jobs
    they launch."""
    build = sum(v for k, v in per_name.items() if k.endswith(".build"))
    return build / passes, (sum(per_name.values()) - build) / passes


def _layer_metrics(bench, wl, passes: int, events: str | None) -> dict[str, float]:
    """Per-layer values per pass; zero for layers this workload does not run."""
    from perfbench import eventlog
    from perfbench.trace import self_times

    m: dict[str, float] = {n: 0.0 for n, _ in per_layer_names()}
    for call, secs in bench.seconds.items():
        for key, v in ((f"{call}_s", sum(secs)), (f"{call}_jobs", bench.jobs[call])):
            if key in m:
                m[key] = v / passes
    for s in IMPORT_SRCS:
        m[f"import.{s}.codegen_fallbacks"] = sum(
            bench.fallbacks.get(f"import.{s}.{p}", 0) for p in ("build", "exec")) / passes
    own = self_times(bench.tracer.spans)
    for span in ("serve.fetch", "bands.decode", "serve.to_uint8", "webp.encode"):
        m[f"{span}_s"] = own.get(span, 0.0) / passes
    folded = None
    if events:
        folded = eventlog.fold(eventlog.read_dir(events), group=lambda d: d.split(".")[0])
        for phase in EVENT_PHASES:
            for f, _ in EVENT_FIELDS:
                m[f"{phase}.{f}"] = folded.get(phase, {}).get(f, 0.0) / passes
    m.update(wl.layer_metrics(folded, passes))
    return m


def run(args, work: str, out=sys.stdout, err=sys.stderr) -> int:
    events = _configure_env(work, bool(args.trace))
    # JVM and worker logs go to a file: a traced run counts codegen
    # fallbacks in it, and stdout stays free for the result
    driver_log = os.path.join(work, "driver.log")
    log_fd = os.open(driver_log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(log_fd, 2)
    os.close(log_fd)

    sys.path.insert(0, ROOT)
    try:
        import raquet_spark
    except ImportError as e:
        print(f"cannot import the program under test from {ROOT}: {e}", file=err)
        return 2
    if not os.path.abspath(raquet_spark.__file__).startswith(ROOT + os.sep):
        print(f"raquet_spark resolves to {raquet_spark.__file__}, not this checkout", file=err)
        return 2
    from perfbench.convert import Convert
    from perfbench.curate import Curate
    from perfbench.harness import Bench
    from perfbench.trace import PeakRss, Tracer
    from raquet_spark.session import get_spark

    tracer = Tracer(enabled=bool(args.trace))
    t0 = time.perf_counter()
    spark = get_spark("perfbench", master=MASTER)
    session_s = time.perf_counter() - t0
    try:
        bench = Bench(spark, tracer, driver_log if args.trace else None, log=err)
        wl = {"convert": Convert, "curate": Curate}[args.workload](bench, work, args.seed)
        synth = []
        for _ in range(SYNTH_REPEATS):
            t0 = time.perf_counter()
            wl.synthesize()
            synth.append(time.perf_counter() - t0)
        floor_s = floor_probe(spark)
        # one untimed warm-up pass: the timed passes run on a warm JVM
        t0 = time.perf_counter()
        bench.warmup = True
        wl.run_pass(0)
        wl.reset()
        bench.reset()
        warmup_s = time.perf_counter() - t0
        if args.trace:
            _wrap_serve(tracer)
        setup_s = session_s + statistics.median(synth) + warmup_s

        passes = 0
        with PeakRss() as rss:
            bench.overhead = lambda: rss.cpu_s
            start = time.perf_counter()
            while True:
                wl.run_pass(passes + 1)
                passes += 1
                if time.perf_counter() - start >= args.seconds:
                    break
        window_s = time.perf_counter() - start
        t0 = time.perf_counter()
        try:
            wl.check()
        except Exception:  # a check that cannot run proves no output right
            print(f"output checks raised:\n{traceback.format_exc()}", file=err)
            for op_id in list(bench.ops):
                bench.fail(op_id, "output checks raised")
        check_s = time.perf_counter() - t0
        build_cpu_s, exec_cpu_s = _split_build_exec(bench.cpu, passes)
        build_s, exec_s = _split_build_exec({k: sum(v) for k, v in bench.seconds.items()}, passes)
        e2e = {"setup_s": setup_s, "driver_py_peak_rss_mb": rss.python_mb,
               "build_cpu_s": build_cpu_s, "exec_cpu_s": exec_cpu_s}
        named = {"setup_s": setup_s, "peak_rss_mb": rss.total_mb,
                 "failed_frac": bench.failed / bench.attempted, **wl.end_to_end()}
    finally:
        _stop(spark)

    layers = None
    if args.trace:
        layers = _layer_metrics(bench, wl, passes, events)
        trace_dir = os.path.join(ROOT, ".perfbench_traces")
        os.makedirs(trace_dir, exist_ok=True)
        spans_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.to_json(), f)
        print(f"spans {spans_path}", file=out)
    for name, unit in NAMED:
        v = named.get(name)
        note = f" (p{named['tile_tail_pct']:g})" if name == "tile_tail_ms" and v is not None else ""
        print(f"{name} {'n/a' if v is None else f'{v:.6g}'} {unit}{note}", file=out)
    print(f"passes {passes} ops {bench.attempted} failed {bench.failed} "
          f"window {window_s:.1f} s (build {build_s:.2f} s, exec {exec_s:.2f} s) "
          f"checks {check_s:.1f} s floor {floor_s:.3f} s "
          f"measuring {bench.overhead_cpu:.2f} cpu-s warmup {warmup_s:.1f} s "
          f"rss py/driver/workers {rss.python_mb:.0f}/{rss.driver_mb:.0f}/{rss.workers_mb:.0f} MB", file=out)
    if layers is not None:
        layers.update({"session.floor_s": floor_s, "driver.peak_rss_mb": rss.driver_mb,
                       "workers.peak_rss_mb": rss.workers_mb, "workers.peak_count": rss.workers_count,
                       "wall.build_s": build_s, "wall.exec_s": exec_s,
                       "traced.build_cpu_s": build_cpu_s, "traced.exec_cpu_s": exec_cpu_s,
                       "measure.overhead_cpu_s": bench.overhead_cpu / passes})
        metrics = {n: {"value": layers[n], "unit": u} for n, u in per_layer_names()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    print(json.dumps({
        "correct": bench.failed == 0, "attempted": bench.attempted,
        "failed": bench.failed, "metrics": metrics,
    }), file=out, flush=True)
    return 0


def _terminate(signum, frame):
    raise SystemExit(128 + signum)  # unwinds through the cleanup below


def main(argv=None) -> int:
    args = _parse(argv)
    signal.signal(signal.SIGTERM, _terminate)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    err = os.fdopen(os.dup(2), "w", buffering=1)
    try:
        return run(args, work, err=err)
    except Exception:
        print(traceback.format_exc(), file=err)
        log = os.path.join(work, "driver.log")
        if os.path.exists(log):
            with open(log, errors="replace") as f:
                print("--- driver log tail ---\n" + "".join(f.readlines()[-40:]), file=err)
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run still uses it


if __name__ == "__main__":
    sys.exit(main())
