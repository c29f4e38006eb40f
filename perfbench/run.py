"""kglinker pipeline benchmark.

    python3 perfbench/run.py --workload corpus|kb-refresh --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

Run from the root of a kglinker checkout. One driver process starts a
``local[<=4]`` Spark session through ``kglinker.runtime.session``,
writes the seed's inputs, compiles what the workload needs (set-up),
runs one untimed reference iteration whose output is checked against
the independent oracles, then times iterations for ``--seconds``. Every
iteration's output counts are checked against the reference outside the
timed region; an iteration that raises or mismatches is failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns on the
Spark event log, alternates traced and untraced iterations, and prints
the per-layer metrics (see ``spans.py``). The last line of stdout is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``. All
files go under ``.perfbench_work/`` in the checkout and are removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import traceback
from time import perf_counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
DRIVER_MEM = "1g"

END_TO_END = {"iteration_s": "s", "iteration_cpu_s": "s", "setup_s": "s",
              "peak_rss_mb": "MB"}


def per_layer_units() -> dict[str, str]:
    from spans import BASE_METRICS, LAYERS
    units = {}
    for layer in LAYERS:
        for m in BASE_METRICS:
            units[f"{layer}.{m}"] = ("count" if m == "jobs" else
                                     "bytes" if m.endswith("_bytes") else "s")
    units.update({
        "extract.stage.exchange_s": "s",
        "extract.stage.matcher_s": "s",
        "extract.stage.python_bytes": "bytes",
        "extract.stage.python_run_s": "s",
        "extract.stage.mentions_per_turn": "mentions/turn",
        "graph.triples.pair_rows": "count",
        "graph.triples.edges": "count",
        "graph.triples.edges_per_pair": "ratio",
        "graph.materialize.files": "count",
        "kb.names.surfaces": "count",
        "automaton.build.payload_bytes": "bytes",
        "graph.canonicalize.rounds": "count",
        "graph.canonicalize.components": "count",
        "runtime.session.wall_s": "s",
        "runtime.cached_bytes_after": "bytes",
        "trace.traced_iteration_s": "s",
        "trace.untraced_iteration_s": "s",
        "trace.overhead_s": "s",
    })
    return units


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def confine_to(work: str) -> None:
    """Point every temp/scratch location of Python, the JVM and the
    Python workers into ``work``, and put the checkout on the workers'
    import path (they are started by the JVM and inherit its env)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # get_spark's heap setting; the 8g default lets the driver JVM grow to
    # several GB on this small input, and a bounded heap keeps peak RSS
    # (and the machine) steady
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)


def start_session(work: str, trace: bool):
    from kglinker.runtime.session import get_spark
    conf = {
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            # heap reserved up front: otherwise how far the JVM happens to
            # grow its heap dominates the run-to-run spread of peak RSS
            f"-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": events,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    cores = min(4, len(os.sched_getaffinity(0)))
    spark = get_spark("kglinker-perfbench", cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def cached_bytes(spark) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos)


def run(workload: str, seed: int, seconds: float, trace: bool,
        size: str) -> dict:
    import procs
    from spans import Tracer, iteration_layers, median_layers, read_event_log
    from workloads import SIZES, WORKLOADS

    t0 = perf_counter()
    spark = start_session(WORK, trace)
    session_s = perf_counter() - t0
    attempted = failed = 0
    walls, cpus, peaks = [], [], []
    walls_by_mode: dict[bool, list[float]] = {True: [], False: []}
    traced_ok: list[int] = []
    extras: dict[str, float] = {}
    cached_after = 0
    try:
        tracer = Tracer(spark.sparkContext)
        wl = WORKLOADS[workload](spark, tracer, WORK, seed,
                                 SIZES[size][workload])
        wl.setup()
        setup_s = perf_counter() - t0
        log(f"set-up {setup_s:.1f}s (session {session_s:.1f}s)")

        # untimed reference iteration: warms the JVM and the Python
        # workers, records the counts every timed iteration must repeat,
        # and is checked once against the independent oracles
        attempted += 1
        tracer.untraced("reference")
        ref = None
        try:
            res = wl.iteration(0)
            ref = wl.counts(res)
            problems = wl.oracle(res)
            wl.release(res)
            log(f"reference {res.wall_s:.1f}s {ref}")
            if problems:
                failed += 1
                log("reference FAILED: " + "; ".join(problems))
        except Exception:
            failed += 1
            log("reference raised:\n" + traceback.format_exc())

        k = 0
        spent = 0.0
        while k < (2 if trace else 1) or spent < seconds:
            k += 1
            attempted += 1
            is_traced = trace and k % 2 == 1
            if is_traced:
                tracer.traced(k)
            else:
                tracer.untraced("timed")
            procs.reset_peak_rss(procs.tree())
            cpu0 = procs.cpu_s(procs.tree())
            t_it = perf_counter()
            try:
                res = wl.iteration(k)
            except Exception:
                spent += perf_counter() - t_it
                failed += 1
                log(f"iteration {k} raised:\n" + traceback.format_exc())
                continue
            spent += res.wall_s
            tree = procs.tree()
            cpu = procs.cpu_s(tree) - cpu0
            peak = procs.peak_rss_mb(tree)
            tracer.untraced("check")
            try:
                counts = wl.counts(res)
                if counts != ref:
                    raise AssertionError(f"counts {counts} != reference")
                if is_traced:
                    extras = wl.extras(res, counts)
                wl.release(res)
                cached_after = cached_bytes(spark)
            except Exception:
                failed += 1
                log(f"iteration {k} check failed:\n" + traceback.format_exc())
                continue
            walls.append(res.wall_s)
            cpus.append(cpu)
            peaks.append(peak)
            walls_by_mode[is_traced].append(res.wall_s)
            if is_traced:
                traced_ok.append(k)
            log(f"iteration {k}{' traced' if is_traced else ''}: "
                f"{res.wall_s:.2f}s wall, {cpu:.1f}s cpu, "
                f"{res.turns} turns, peak rss {peak:.0f} MB")
    finally:
        procs.stop_spark(spark)

    def median(xs: list[float]) -> float:
        return statistics.median(xs) if xs else 0.0

    if not trace:
        units = END_TO_END
        values = {"iteration_s": median(walls),
                  "iteration_cpu_s": median(cpus),
                  "setup_s": setup_s,
                  "peak_rss_mb": max(peaks, default=0.0)}
    else:
        units = per_layer_units()
        events = read_event_log(os.path.join(WORK, "events"))
        layers = median_layers([iteration_layers(events, tracer.spans, i)
                                for i in traced_ok])
        values = {name: 0.0 for name in units}
        for layer, rec in layers.items():
            for m, v in rec.items():
                if f"{layer}.{m}" in values:
                    values[f"{layer}.{m}"] = v
        values["graph.canonicalize.rounds"] = \
            layers.get("graph.canonicalize", {}).get("checkpoints", 0)
        values.update(extras)
        traced_s = median(walls_by_mode[True])
        untraced_s = median(walls_by_mode[False])
        values.update({"runtime.session.wall_s": session_s,
                       "runtime.cached_bytes_after": cached_after,
                       "trace.traced_iteration_s": traced_s,
                       "trace.untraced_iteration_s": untraced_s,
                       "trace.overhead_s": traced_s - untraced_s})
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed,
            "metrics": {n: {"value": float(values[n]), "unit": u}
                        for n, u in units.items()}}


def smoke() -> int:
    """Each workload once at tiny sizes, untraced and traced; every
    metric BENCHMARK.json names must come back with its unit."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    bad = []
    for wl in spec["workloads"]:
        for trace, kind in ((0, "end_to_end"), (1, "per_layer")):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload",
                   wl["name"], "--seed", "1", "--seconds", "1", "--trace",
                   str(trace), "--size", "smoke"]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                                 text=True, timeout=600)
            lines = out.stdout.strip().splitlines()
            result = json.loads(lines[-1]) if lines else {}
            got = result.get("metrics", {})
            for m in spec[kind]:
                if got.get(m["name"], {}).get("unit") != m["unit"]:
                    bad.append(f"{wl['name']} trace={trace}: {m['name']}")
            if out.returncode or not result.get("correct"):
                bad.append(f"{wl['name']} trace={trace}: exit "
                           f"{out.returncode}, correct="
                           f"{result.get('correct')}")
            log(f"smoke {wl['name']} trace={trace}: {len(got)} metrics")
    for b in bad:
        log(f"smoke FAILED: {b}")
    print(json.dumps({"smoke_ok": not bad, "problems": bad}))
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("corpus", "kb-refresh"))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "kglinker", "runtime",
                                       "session.py")):
        log(f"no kglinker package under {ROOT}; run from a checkout")
        return 2
    if args.smoke:
        return smoke()
    if not args.workload:
        ap.error("--workload is required")
    shutil.rmtree(WORK, ignore_errors=True)
    try:
        confine_to(WORK)
        result = run(args.workload, args.seed, args.seconds,
                     bool(args.trace), args.size)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
