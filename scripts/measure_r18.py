#!/usr/bin/env python3
"""r18 measurement harness: per-query wall clock (bench methodology:
3 runs, min, df.count()), Spark JOB COUNT per query (the scheduler-floor
signal the r18 classifier/components work optimized), and optional
.explain("formatted") capture. Usage:

    python scripts/measure_r18.py q1 q2 ...      # named queries
    python scripts/measure_r18.py --plans q1 ... # also write plans to
                                                 # plans/r18/<q>_<tag>.txt
    SPARK_GRAFT_TAG=after python scripts/measure_r18.py --plans q1

Prints one JSON line per query: name, runs, min, jobs and compiles
(steady-state, measured on the LAST run: Spark jobs via the DAG
scheduler's job ids, janino compiles via Spark's codegen metrics — a
warm run that still compiles means the codegen cache is thrashing).
"""
from __future__ import annotations

import json
import os
import sys
import time

# resolve the repo root from THIS file so a copy running inside a
# worktree measures that worktree's code (a hardcoded /root/repo made
# every `cd <worktree> && python scripts/measure_r18.py` leg import
# the main repo — the A/B legs compared the same code)
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    want_plans = "--plans" in sys.argv
    tag = os.environ.get("SPARK_GRAFT_TAG", "probe")
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    import __spark_entry__ as entry_mod

    qs = entry_mod.queries()
    for a in args:
        if a not in qs:
            raise SystemExit(f"unknown query {a}")

    from raquet_spark.queries import register_views
    from raquet_spark.session import get_spark

    spark = get_spark("measure_r18")
    spark.sparkContext.setLogLevel("ERROR")
    register_views(spark, sf_dir)
    spark.range(spark.sparkContext.defaultParallelism * 2).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    ).count()

    sc = spark.sparkContext

    def next_job_id() -> int:
        jid = sc._jsc.sc().dagScheduler().nextJobId()
        return jid if isinstance(jid, int) else jid.get()

    codegen = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def compiles() -> int:
        return codegen.METRIC_COMPILATION_TIME().getCount()

    results = {}
    for name in args:
        spark.sparkContext.setJobDescription(f"measure:{name}")
        runs = []
        jobs_last = compiles_last = None
        for i in range(3):
            before, c0 = next_job_id(), compiles()
            t0 = time.perf_counter()
            df = qs[name](spark, sf_dir)
            df.count()
            runs.append(round(time.perf_counter() - t0, 4))
            jobs_last = next_job_id() - before
            compiles_last = compiles() - c0
        results[name] = {"runs": runs, "min": min(runs), "jobs": jobs_last,
                         "compiles": compiles_last}
        print(json.dumps({"query": name, **results[name]}), flush=True)
        if want_plans:
            try:
                df = qs[name](spark, sf_dir)
                plan = df._jdf.queryExecution().explainString(
                    spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                        "formatted"
                    )
                )
            except Exception:
                import contextlib
                import io

                buf = io.StringIO()
                with contextlib.redirect_stdout(buf):
                    qs[name](spark, sf_dir).explain("formatted")
                plan = buf.getvalue()
            out = os.path.join(ROOT, "plans", "r18", f"{name}_{tag}.txt")
            with open(out, "w") as f:
                f.write(plan)
            print(f"# plan -> {out}", flush=True)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({k: v["min"] for k, v in results.items()}, sort_keys=True))


if __name__ == "__main__":
    main()
