"""Per-layer tracing: spans around the benchmark's calls into kglinker
layer modules, and Spark metrics attributed to them from the event log.

While a span is open its id is the Spark job group, so every job the call
runs (and that job's stages and tasks) carries the span id in the event
log. After the session stops, :func:`read_event_log` folds the log into
per-group sums with the standard ``json`` module only.

Work Spark defers is paid by whichever span runs the action, so the
benchmark materialises a layer's output inside that layer's span where
the layer itself does not.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import Counter, defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field
from time import perf_counter

# per-layer metrics every layer reports (BENCHMARK.json ``per_layer``)
BASE_METRICS = ("wall_s", "self_s", "jobs", "executor_run_s",
                "executor_cpu_s", "shuffle_write_bytes",
                "shuffle_read_bytes", "spill_bytes", "output_bytes")

# kglinker modules the benchmark calls into, in pipeline order
LAYERS = ("data.io", "kb.scoring", "kb.names", "automaton.build",
          "graph.canonicalize", "runtime.checkpoint", "extract.stage",
          "graph.triples", "graph.materialize")

_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
_PY_RUN = "time to run Python workers"


@dataclass
class Stage:
    group: str | None = None
    job: int | None = None
    wall_s: float = 0.0
    python_bytes: int = 0
    python_run_s: float = 0.0
    executor_run_s: float = 0.0
    executor_cpu_s: float = 0.0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0


@dataclass
class EventLog:
    stages: dict[int, Stage] = field(default_factory=dict)
    jobs: Counter = field(default_factory=Counter)
    # SQL executions per group that ran an eager localCheckpoint (one
    # execution may run several jobs under adaptive execution): one per
    # round of canonical_map's label-propagation loop
    checkpoints: dict[str, set] = field(
        default_factory=lambda: defaultdict(set))


class Tracer:
    """Spans are recorded only while an iteration is traced; otherwise
    ``span`` is a no-op and jobs carry the current untraced group."""

    def __init__(self, sc):
        self.sc = sc
        self.iteration: int | None = None
        self.spans: list[tuple[int, str, float]] = []
        self._base = "pb:setup"
        sc.setJobGroup(self._base, "benchmark set-up")

    def untraced(self, label: str) -> None:
        self.iteration = None
        self._base = f"pb:{label}"
        self.sc.setJobGroup(self._base, label)

    def traced(self, iteration: int) -> None:
        self.iteration = iteration

    @contextmanager
    def span(self, layer: str):
        if self.iteration is None:
            yield
            return
        self.sc.setJobGroup(group_id(self.iteration, layer), layer)
        t0 = perf_counter()
        try:
            yield
        finally:
            self.spans.append((self.iteration, layer, perf_counter() - t0))
            self.sc.setJobGroup(self._base, "untraced")


def group_id(iteration: int, layer: str) -> str:
    return f"pb:{iteration}:{layer}"


def read_event_log(path: str) -> EventLog:
    """Fold every event file under ``path`` (uncompressed, not rolled)."""
    log = EventLog()

    def stage(sid: int) -> Stage:
        return log.stages.setdefault(sid, Stage())

    for fname in sorted(os.listdir(path)):
        if fname.startswith("."):
            continue
        with open(os.path.join(path, fname), encoding="utf-8") as fh:
            for line in fh:
                kind = line[10:50]
                if kind.startswith("SparkListenerTaskEnd"):
                    e = json.loads(line)
                    m = e.get("Task Metrics")
                    if not m:
                        continue
                    s = stage(e["Stage ID"])
                    s.executor_run_s += m["Executor Run Time"] / 1e3
                    s.executor_cpu_s += m["Executor CPU Time"] / 1e9
                    s.shuffle_write_bytes += \
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    rd = m["Shuffle Read Metrics"]
                    s.shuffle_read_bytes += (rd["Remote Bytes Read"]
                                             + rd["Local Bytes Read"])
                    s.spill_bytes += m["Disk Bytes Spilled"]
                    s.output_bytes += m["Output Metrics"]["Bytes Written"]
                elif kind.startswith("SparkListenerStageSubmitted"):
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    stage(e["Stage Info"]["Stage ID"]).group = \
                        props.get("spark.jobGroup.id")
                elif kind.startswith("SparkListenerStageCompleted"):
                    info = json.loads(line)["Stage Info"]
                    s = stage(info["Stage ID"])
                    s.wall_s += (info["Completion Time"]
                                 - info["Submission Time"]) / 1e3
                    for acc in info.get("Accumulables", []):
                        name = acc.get("Name")
                        if name in (_PY_SENT, _PY_RECV):
                            s.python_bytes += int(acc["Value"])
                        elif name == _PY_RUN:
                            s.python_run_s += int(acc["Value"]) / 1e3
                elif kind.startswith("SparkListenerJobStart"):
                    e = json.loads(line)
                    props = e.get("Properties") or {}
                    group = props.get("spark.jobGroup.id")
                    log.jobs[group] += 1
                    infos = e["Stage Infos"]
                    for info in infos:
                        if stage(info["Stage ID"]).job is None:
                            stage(info["Stage ID"]).job = e["Job ID"]
                    final = max(infos, key=lambda i: i["Stage ID"])
                    if final["Stage Name"].startswith("localCheckpoint"):
                        log.checkpoints[group].add(props.get(
                            "spark.sql.execution.root.id",
                            props.get("spark.sql.execution.id")))
    return log


def _stage_sums(stages: list[Stage]) -> dict[str, float]:
    return {k: float(sum(getattr(s, k) for s in stages))
            for k in ("executor_run_s", "executor_cpu_s",
                      "shuffle_write_bytes", "shuffle_read_bytes",
                      "spill_bytes", "output_bytes")}


def iteration_layers(log: EventLog, spans, iteration: int) -> dict[str, dict]:
    """Per-layer metrics of one traced iteration (absent layer → zeros)."""
    wall: dict[str, float] = defaultdict(float)
    for it, layer, w in spans:
        if it == iteration:
            wall[layer] += w
    by_group: dict[str, list[Stage]] = defaultdict(list)
    for s in log.stages.values():
        if s.group is not None:
            by_group[s.group].append(s)

    out: dict[str, dict] = {}
    for layer in LAYERS:
        g = group_id(iteration, layer)
        out[layer] = {"wall_s": wall[layer], "jobs": log.jobs[g],
                      "checkpoints": len(log.checkpoints[g]),
                      **_stage_sums(by_group[g])}
    # extraction runs inside LineageCheckpointer.run's write job: its
    # share is that job's conv_id shuffle-map stage plus the sort +
    # mapInArrow + write stage, the one with Python-worker metrics
    ckpt = by_group[group_id(iteration, "runtime.checkpoint")]
    matcher = [s for s in ckpt if s.python_bytes]
    exchange = [s for s in ckpt
                if s.shuffle_write_bytes and not s.python_bytes]
    stages = exchange + matcher
    out["extract.stage"] = {
        "wall_s": sum(s.wall_s for s in stages),
        "jobs": len({s.job for s in stages}),
        "exchange_s": sum(s.wall_s for s in exchange),
        "matcher_s": sum(s.wall_s for s in matcher),
        "python_bytes": sum(s.python_bytes for s in matcher),
        "python_run_s": sum(s.python_run_s for s in matcher),
        **_stage_sums(stages)}
    for rec in out.values():
        rec["self_s"] = rec["wall_s"]
    out["runtime.checkpoint"]["self_s"] -= out["extract.stage"]["wall_s"]
    return out


def median_layers(per_iteration: list[dict[str, dict]]) -> dict[str, dict]:
    """Median over traced iterations of every per-layer value."""
    out: dict[str, dict] = {}
    if not per_iteration:
        return out
    for layer in LAYERS:
        keys = per_iteration[0][layer].keys()
        out[layer] = {k: statistics.median(it[layer][k]
                                           for it in per_iteration)
                      for k in keys}
    return out
