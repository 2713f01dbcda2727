"""Cold benchmark of the melodist engine's workflow.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from the
seed (outside any timer) into a fresh work directory, then measures in
fresh child processes, one cold process per measurement:

- ``--trace 0``: one workload run. Prints the end-to-end metrics;
  ``setup_s`` is that run's own set-up (import + session build).

A run measures one cold pass of the workload, however long it takes;
``--seconds`` is recorded with the run, and the sizes in ``SIZES`` keep
a pass near 30 s on a 4-core host.
- ``--trace 1``: one untraced and one traced workload run. Prints the
  per-layer metrics of the traced run, the tracing overhead (traced
  minus untraced wall time) and the wall time no layer span covers,
  and writes the traced run's spans under ``.perfbench_out/``.

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``. ``attempted``
counts checked operations (one per disaggregated variable, one per
stream output); an operation fails when any of its checks fails. A
child that crashes or times out (a stream batch not committed in time
included) fails the whole run: the run exits non-zero and prints no
result. Every run appends a record with the seed, host core count,
``SPARK_GRAFT_CPUS``, the load average before and after and the share
of CPU time stolen by the hypervisor to ``.perfbench_out/runs.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

SIZES = {
    "paper_workflow": dict(stations=5, years=2, holdout_years=1),
    "fleet_disagg": dict(stations=60, years=3),
    "stream_ingest": dict(stations=40, days=8),
}
RUN_LIMIT_S = 170.0


def _metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


def _child_env(work: str, repo: str) -> dict:
    env = dict(os.environ)
    # workers of applyInPandas import the engine: they need the checkout
    env["PYTHONPATH"] = os.pathsep.join(p for p in (repo, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["TMPDIR"] = os.path.join(work, "tmp")
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    env.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    # every JVM (the launcher and the Spark driver) keeps its temp files in the
    # work dir, and writes no perf-data file to the system temp dir
    env["JAVA_TOOL_OPTIONS"] = " ".join(
        o for o in (env.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                    f"-Djava.io.tmpdir={env['TMPDIR']}") if o)
    return env


def _reap_group(pgid: int) -> None:
    """Kill every process left in the child's process group (the JVM,
    Python workers) and wait until none is left. The child has written
    its result by then; nothing the group still holds is needed."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        return
    deadline = time.monotonic() + 30.0
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)
    raise RuntimeError(f"processes of group {pgid} did not exit")


class Runner:
    def __init__(self, args, repo: str, work: str):
        self.args = args
        self.repo = repo
        self.work = work
        self.deadline = time.monotonic() + RUN_LIMIT_S
        self.env = _child_env(work, repo)
        self.n = 0

    def child(self, inputs: dict, trace: bool = False) -> dict:
        self.n += 1
        tag = f"c{self.n}"
        base = os.path.join(self.work, tag)
        out_dir, cwd = os.path.join(base, "out"), os.path.join(base, "cwd")
        for d in (out_dir, cwd, self.env["TMPDIR"], self.env["SPARK_LOCAL_DIRS"]):
            os.makedirs(d, exist_ok=True)
        spec = dict(
            repo=self.repo, workload=self.args.workload, seed=self.args.seed,
            trace=trace, inputs=inputs, out_dir=out_dir,
            run_id=f"{self.args.workload}-s{self.args.seed}-{os.getpid()}-{tag}",
            result=os.path.join(base, "result.json"),
        )
        spec_path = os.path.join(base, "spec.json")
        with open(spec_path, "w") as f:
            json.dump(spec, f)
        timeout = self.deadline - time.monotonic()
        if timeout <= 0:
            raise TimeoutError("no time left for another child")
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "child.py"), spec_path],
            cwd=cwd, env=self.env, stdout=sys.stderr, stderr=sys.stderr,
            start_new_session=True,
        )
        try:
            rc = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            rc = None
        finally:
            _reap_group(proc.pid)
            proc.wait()
        if rc != 0:
            raise RuntimeError(f"child {tag} failed (exit {rc}, timeout {timeout:.0f} s)")
        with open(spec["result"]) as f:
            res = json.load(f)
        shutil.rmtree(out_dir, ignore_errors=True)
        return res


def _cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host so far, from /proc/stat."""
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _count_ops(results: list[dict]) -> tuple[int, int, list]:
    attempted = failed = 0
    bad = []
    for res in results:
        for op in res.get("ops", []):
            attempted += 1
            miss = [c for c in op["checks"] if not c[1]]
            if miss:
                failed += 1
                bad.append((op["op"], miss))
    return attempted, failed, bad


def _end_to_end(res: dict) -> dict:
    steps = [s for _, s in res["steps"]]
    # the geometric mean, not the median: a run's 5-8 steps are unlike
    # (one per variable), and a median flips between neighbours
    gmean = math.exp(sum(map(math.log, steps)) / len(steps))
    return {
        "wall_s": _metric(res["wall_s"], "s"),
        "setup_s": _metric(res["setup_s"], "s"),
        "hourly_rows_per_s": _metric(res["rows"] / res["wall_s"], "1/s"),
        "step_gmean_s": _metric(gmean, "s"),
    }


def _per_layer(traced: dict, untraced: dict) -> dict:
    from perfbench.ledger import unit_of

    out = {name: _metric(v, unit_of(name)) for name, v in traced["layers"].items()}
    out["session.peak_rss_mb"] = _metric(traced["peak_rss_mb"], "MB")
    out["session.retained_mb"] = _metric(traced["retained_mb"], "MB")
    out["tracing_overhead_s"] = _metric(traced["wall_s"] - untraced["wall_s"], "s")
    out["unattributed_s"] = _metric(traced["unattributed_s"], "s")
    return out


def measure(args, repo: str, work: str) -> tuple[dict, dict]:
    sys.path.insert(0, repo)
    from perfbench import gen

    t = time.perf_counter()
    inputs = gen.write_inputs(args.workload, os.path.join(work, "inputs"),
                              seed=args.seed, **SIZES[args.workload])
    print(f"inputs generated in {time.perf_counter() - t:.1f} s", file=sys.stderr)

    runner = Runner(args, repo, work)
    res = runner.child(inputs)
    results = [res]
    if args.trace:
        traced = runner.child(inputs, trace=True)
        results.append(traced)
        metrics = _per_layer(traced, res)
        spans_path = os.path.join(repo, ".perfbench_out",
                                  f"spans-{args.workload}-s{args.seed}-{os.getpid()}.json")
        with open(spans_path, "w") as f:
            json.dump(traced["spans"], f, indent=1)
        print(f"spans written to {spans_path}", file=sys.stderr)
    else:
        metrics = _end_to_end(res)
    attempted, failed, bad = _count_ops(results)
    for op, miss in bad:
        print(f"CHECK FAILED {op}: {miss}", file=sys.stderr)
    result = dict(correct=failed == 0, attempted=attempted, failed=failed, metrics=metrics)
    # skill as the checks computed it with pandas, per variable x method;
    # make_reference.py builds the committed bounds from these
    skill = {op["op"]: op["skill"] for op in res["ops"] if "skill" in op}
    detail = dict(skill=skill, program_skill=res["skill"], steps=res["steps"],
                  peak_rss_mb=res["peak_rss_mb"], retained_mb=res["retained_mb"],
                  failed_checks=bad)
    return result, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    repo = os.getcwd()
    if not os.path.isfile(os.path.join(repo, "melodist_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout holding melodist_spark/",
              file=sys.stderr)
        return 2
    out_root = os.path.join(repo, ".perfbench_out")
    os.makedirs(out_root, exist_ok=True)
    work = os.path.join(repo, ".perfbench_work", f"{args.workload}-s{args.seed}-{os.getpid()}")
    os.makedirs(work)
    load_before = os.getloadavg()
    steal0, total0 = _cpu_ticks()
    try:
        result, detail = measure(args, repo, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    record = dict(
        workload=args.workload, seed=args.seed, trace=args.trace, seconds=args.seconds,
        nproc=len(os.sched_getaffinity(0)),
        spark_graft_cpus=os.environ.get("SPARK_GRAFT_CPUS"),
        load_before=load_before, load_after=os.getloadavg(),
        steal_frac=(_cpu_ticks()[0] - steal0) / max(1, _cpu_ticks()[1] - total0),
        time=time.strftime("%Y-%m-%dT%H:%M:%S"), **result, detail=detail,
    )
    with open(os.path.join(out_root, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
