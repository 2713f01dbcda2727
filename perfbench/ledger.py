"""Spans and per-layer counters, read from outside the program.

The benchmark wraps its own calls into the engine's public functions in
spans; nothing inside the package is instrumented. A span records name,
start, end, parent and run id. Spans nest: a workload span holds one
span per workflow step, and a step holds the layer spans of the calls
made in it. A span's self time is its duration minus its children's.

A layer span is one of two kinds:

- ``build``: a public call that returns a DataFrame (or a calibrated
  bundle). Any job it triggers is counted to its layer.
- ``exec``: an action the benchmark runs on a layer's output. Traced
  runs first force the optimized and physical plan, in a ``probe``
  span of its own, so ``queryExecution().tracker()`` gives the
  Catalyst phase times.

With tracing on, every layer span runs under its own job group, so
Spark's status tracker and status store give its jobs, stages, tasks,
executor run time and shuffle bytes, and py4j commands are counted by
wrapping the gateway client classes of this process (the benchmark's
own bookkeeping calls are left out). With tracing off only the
wall-clock bounds of each span are kept.
"""

from __future__ import annotations

import contextlib
import time

QUANTITIES = (
    "build_s",
    "py4j_calls",
    "analysis_s",
    "optimization_s",
    "planning_s",
    "jobs",
    "stages",
    "tasks",
    "exec_s",
    "executor_run_s",
    "shuffle_write_bytes",
)
JOB_QUANTITIES = ("jobs", "stages", "tasks", "executor_run_s", "shuffle_write_bytes")
PHASES = ("analysis", "optimization", "planning")

# the quantities each layer has: the session runs no query; the sink is
# the benchmark's own writer call, so it has no build and its plan is
# the write command's; a stream plans inside its own thread (its
# planning time comes from the query's progress reports)
LAYERS = {
    "session": ("build_s", "py4j_calls"),
    "aggregations": QUANTITIES,
    "statistics": QUANTITIES,
    "operators.temperature": QUANTITIES,
    "operators.humidity": QUANTITIES,
    "operators.wind": QUANTITIES,
    "operators.radiation": QUANTITIES,
    "operators.cascade": QUANTITIES,
    "functions.stats": QUANTITIES,
    "sink": ("py4j_calls", "exec_s", *JOB_QUANTITIES),
    "streaming": ("build_s", "py4j_calls", "planning_s", "exec_s", *JOB_QUANTITIES),
}


def layer_metric_names() -> list[str]:
    return [f"{layer}.{q}" for layer, qs in LAYERS.items() for q in qs]


def unit_of(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    return "bytes" if name.endswith("_bytes") else "count"


class Py4jCounter:
    """Counts py4j commands sent by this process. The wrap is on the
    client base class, so every client the session creates later (the
    pinned-thread ``JavaClient`` included) is counted. Releases of Java
    handles are not counted: py4j sends them from a background thread
    whenever Python frees a handle, so their timing follows the garbage
    collector, not the caller."""

    def __init__(self):
        self.count = 0
        self.paused = False
        self._inner = None

    def install(self) -> None:
        from py4j import protocol
        from py4j.java_gateway import GatewayClient

        release = protocol.MEMORY_COMMAND_NAME + protocol.MEMORY_DEL_SUBCOMMAND_NAME
        inner = self._inner = GatewayClient.send_command

        def counted(client, command, *args, **kw):
            if not self.paused and not command.startswith(release):
                self.count += 1
            return inner(client, command, *args, **kw)

        GatewayClient.send_command = counted

    @contextlib.contextmanager
    def pause(self):
        """Leave the benchmark's own bookkeeping calls uncounted."""
        self.paused = True
        try:
            yield
        finally:
            self.paused = False

    def uninstall(self) -> None:
        if self._inner is not None:
            from py4j.java_gateway import GatewayClient

            GatewayClient.send_command = self._inner
            self._inner = None


class Tracer:
    def __init__(self, run_id: str, traced: bool):
        self.run_id = run_id
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.py4j = Py4jCounter()
        self.spark = None
        self._groups = 0

    def start(self) -> None:
        """Start counting py4j commands (traced runs only). Call before
        the session is built, so its own commands are counted."""
        if self.traced:
            self.py4j.install()

    def close(self) -> None:
        self.py4j.uninstall()

    # -- spans -------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, layer: str | None = None, kind: str | None = None):
        rec = dict(id=len(self.spans), name=name, layer=layer, kind=kind,
                   parent=self._stack[-1] if self._stack else None,
                   run_id=self.run_id)
        py4j0 = self.py4j.count
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        try:
            if self.traced and layer is not None and self.spark is not None:
                with self._job_group(rec):
                    yield rec
            else:
                yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j_calls"] = self.py4j.count - py4j0
            self._stack.pop()

    @contextlib.contextmanager
    def _job_group(self, rec: dict):
        sc = self.spark.sparkContext
        self._groups += 1
        group = f"perfbench-{self._groups}-{rec['layer']}"
        rec["groups"] = [group]
        with self.py4j.pause():
            sc.setJobGroup(group, rec["name"])
        try:
            yield
        finally:
            with self.py4j.pause():
                sc.setJobGroup("perfbench-idle", "")

    def build(self, layer: str, fn, *args, **kw):
        """Time one public call of ``layer``."""
        with self.span(f"{layer}:build", layer, "build"):
            return fn(*args, **kw)

    def action(self, layer: str, run, dfs=()):
        """Run the action ``run()`` as execution of ``layer``; ``dfs``
        are the DataFrames it evaluates (for the Catalyst phases)."""
        phases: dict[str, float] = {}
        if self.traced and dfs:
            # its own span, so the layer's exec_s is the action alone
            with self.span(f"{layer}:plan-probe", kind="probe"), self.py4j.pause():
                for df in dfs:
                    for phase, secs in plan_phases(df).items():
                        phases[phase] = phases.get(phase, 0.0) + secs
        with self.span(f"{layer}:exec", layer, "exec") as rec:
            rec["phases"] = phases
            return run()

    def exec_span(self, layer: str):
        """An execution span whose jobs run elsewhere: the caller adds
        their job groups to ``rec["groups"]`` (a stream's run id)."""
        return self.span(f"{layer}:exec", layer, "exec")

    # -- reports -------------------------------------------------------------

    def self_times(self) -> dict[int, float]:
        child = {s["id"]: 0.0 for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        return {s["id"]: s["end"] - s["start"] - child[s["id"]] for s in self.spans}

    def collect_counters(self) -> None:
        """Read the status tracker and status store for every job group
        of the run. Call once, after the last action."""
        if not self.traced:
            return
        sc = self.spark.sparkContext
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        for rec in self.spans:
            if "groups" not in rec:
                continue
            jobs = [j for g in rec["groups"] for j in tracker.getJobIdsForGroup(g)]
            stages = tasks = run_ms = shuffle = 0
            for jid in jobs:
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = _stage_data(store, sid)
                    if st is None:
                        continue
                    stages += 1
                    tasks += st.numTasks()
                    run_ms += st.executorRunTime()
                    shuffle += st.shuffleWriteBytes()
            rec.update(jobs=len(jobs), stages=stages, tasks=tasks,
                       executor_run_s=run_ms / 1000.0, shuffle_write_bytes=shuffle)

    def layer_metrics(self) -> dict[str, float]:
        """Per-layer totals over the run, as ``<layer>.<quantity>``."""
        vals: dict[str, float] = {}

        def add(key, v):
            vals[key] = vals.get(key, 0.0) + v

        selft = self.self_times()
        for s in self.spans:
            layer = s["layer"]
            if layer is None:
                continue
            add(f"{layer}.py4j_calls", s["py4j_calls"])
            if s["kind"] == "build":
                add(f"{layer}.build_s", selft[s["id"]])
            else:
                add(f"{layer}.exec_s", s["end"] - s["start"])
            for phase, secs in s.get("phases", {}).items():
                add(f"{layer}.{phase}_s", secs)
            for q in JOB_QUANTITIES:
                add(f"{layer}.{q}", s.get(q, 0))
        return {name: vals.get(name, 0.0) for name in layer_metric_names()}

    def unattributed_s(self, root_id: int) -> float:
        """Time inside span ``root_id`` that neither a layer span nor a
        tracing probe covers."""
        selft = self.self_times()
        inside = {root_id}
        total = 0.0
        for s in self.spans:  # parents precede their children
            if s["id"] in inside or s["parent"] in inside:
                inside.add(s["id"])
                if s["layer"] is None and s["kind"] != "probe":
                    total += selft[s["id"]]
        return total

    def dump(self) -> list[dict]:
        selft = self.self_times()
        return [dict(s, self_s=selft[s["id"]]) for s in self.spans]


def plan_phases(df) -> dict[str, float]:
    """Catalyst phase times of ``df``'s query execution, after forcing
    its optimized and physical plan."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in PHASES:
        p = phases.get(name)
        if p.isDefined():
            out[name] = p.get().durationMs() / 1000.0
    return out


def _stage_data(store, stage_id: int):
    """A stage's last attempt, or None if it never ran (skipped because
    its shuffle output was reused)."""
    from py4j.protocol import Py4JJavaError

    try:
        st = store.lastStageAttempt(stage_id)
    except Py4JJavaError:
        return None
    return None if st.status().toString() == "SKIPPED" else st
