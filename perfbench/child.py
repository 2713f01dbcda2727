"""One cold measurement, in a fresh process.

    python3 perfbench/child.py SPEC.json

SPEC names the workload, its generated inputs, an empty output
directory, the seed, whether to trace, and where to write the result.
The process imports the engine and builds its session (the set-up
time), runs the workload once under a workload span (the wall time),
reads the per-layer counters when tracing, stops the session, and only
then checks the committed outputs.

Only the standard library is imported before the set-up clock starts,
so the set-up time includes every import the engine itself needs.
"""

from __future__ import annotations

import json
import os
import sys
import time


def _proc_kb(pid: int | str, field: str) -> int:
    """A memory field of /proc/<pid>/status (VmHWM, VmRSS), in KiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    raise KeyError(field)


def _memory_mb(spark) -> tuple[float, float]:
    """(peak, retained) memory of the Spark driver, in MB: peak is VmHWM
    of this process plus the JVM; retained is this process's RSS plus the
    JVM heap still in use after a full collection."""
    jvm = spark.sparkContext._jvm
    pid = jvm.ProcessHandle.current().pid()
    peak = _proc_kb("self", "VmHWM") + _proc_kb(pid, "VmHWM")
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap = rt.totalMemory() - rt.freeMemory()
    return peak / 1024.0, _proc_kb("self", "VmRSS") / 1024.0 + heap / 2.0**20


def main(spec_path: str) -> None:
    with open(spec_path) as f:
        spec = json.load(f)
    sys.path.insert(0, spec["repo"])
    from perfbench.ledger import Tracer

    tracer = Tracer(run_id=spec["run_id"], traced=spec["trace"])
    tracer.start()
    with tracer.span("setup") as setup:
        from melodist_spark.session import get_spark

        spark = tracer.build("session", get_spark, app_name="perfbench")
    result = dict(setup_s=setup["end"] - setup["start"])
    try:
        spark.sparkContext.setLogLevel("ERROR")
        result.update(_measure(spec, spark, tracer))
    finally:
        spark.stop()
        tracer.close()
    result["ops"] = result.pop("check")()
    with open(spec["result"], "w") as f:
        json.dump(result, f, default=str)


def _measure(spec: dict, spark, tracer) -> dict:
    from perfbench.workloads import WORKLOADS, Context

    tracer.spark = spark
    ctx = Context(spark=spark, tracer=tracer, inputs=spec["inputs"],
                  out_dir=spec["out_dir"], seed=spec["seed"])
    with tracer.span(f"workload:{spec['workload']}") as root:
        outcome = WORKLOADS[spec["workload"]](ctx)
    wall = root["end"] - root["start"]
    if tracer.traced:
        tracer.collect_counters()
    peak_mb, retained_mb = _memory_mb(spark)
    out = dict(wall_s=wall, rows=outcome.rows, steps=outcome.steps,
               skill=outcome.skill, peak_rss_mb=peak_mb, retained_mb=retained_mb,
               check=outcome.check)
    if tracer.traced:
        out.update(layers=tracer.layer_metrics(),
                   unattributed_s=tracer.unattributed_s(root["id"]),
                   spans=tracer.dump())
    return out


if __name__ == "__main__":
    t0 = time.perf_counter()
    main(sys.argv[1])
    print(f"child done in {time.perf_counter() - t0:.1f} s", file=sys.stderr)
