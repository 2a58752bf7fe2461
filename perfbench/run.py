#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload archive_query --seed 1 --seconds 10 --trace 0

``--trace 0`` reports the end-to-end metrics of an untraced run. ``--trace 1``
starts the Spark context with an uncompressed event log, measures with every
public call under a layer job group, and reports the per-layer metrics.

A run stops every process it started on every way out, a SIGTERM included,
and gives up (killing the JVM and its Python workers) when it would otherwise
outlive ``RUN_LIMIT_S`` plus the time spent building inputs.

Everything it writes stays under ``perfbench/.work`` of the checkout it runs
in: cached inputs, per-run outputs, Spark scratch space and event logs.
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
import threading
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / "perfbench" / ".work"
MASTER = "local[4]"
PREPARE_REPEATS = 3
#: a run ends within this many seconds, not counting input building
RUN_LIMIT_S = 165.0
_deadline = time.monotonic() + RUN_LIMIT_S
_shutting_down = False

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "units_per_s": "1/s",
}
LAYER_METRICS = {
    "wall_s": "s",
    "build_s": "s",
    "jobs": "count",
    "tasks": "count",
    "cpu_s": "s",
    "task_run_s": "s",
    "gc_s": "s",
    "shuffle_mb": "MB",
    "spill_mb": "MB",
}
LAYER_EXTRAS = {
    "sources.archive.files_read_frac": "fraction",
    "sources.archive.written_mb": "MB",
    "sources.archive.stored_bytes_per_input_byte": "ratio",
    "plans.pipeline.resume_days_skipped_frac": "fraction",
    "operators.gorilla.ratio": "ratio",
    "operators.corpus.admitted_frac": "fraction",
    "operators.dedup.near_dup_pairs": "count",
    "operators.graph.jobs_per_round": "count",
    # the process tree's peak resident set swings by a fifth between runs
    # (JVM heap growth), too much for an end-to-end bound
    "process.peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.workloads import LAYERS

    out = {f"{layer}.{m}": unit for layer in LAYERS for m, unit in LAYER_METRICS.items()}
    out.update(LAYER_EXTRAS)
    return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def set_environment() -> None:
    """Keep the process, the JVM and its Python workers inside the checkout:
    workers import the package from the checkout root, and every temporary
    file lands under perfbench/.work."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(WORK / "spark-local")
    os.environ.pop("SPARK_GRAFT_JAVA_OPTS", None)
    # every JVM, spark-submit's launcher included: no /tmp/hsperfdata files
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def start_session(event_log: Path | None = None):
    from tstore_spark.session import get_spark

    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(WORK / "spark-local"),
        "spark.sql.warehouse.dir": str(WORK / "warehouse"),
    }
    if event_log is not None:
        event_log.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log.as_uri(),
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown() -> None:
    """Stop Spark, the JVM and the Python workers, and wait for all of them."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    from perfbench.stats import descendants, kill_tree, wait_gone

    global _shutting_down
    _shutting_down = True  # a stop signal now lets this finish
    kids = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    try:
        active = SparkSession.getActiveSession()
        if active is not None:
            active.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as e:  # a py4j call cut short by a signal leaves the gateway unusable
        log(f"Spark did not stop cleanly ({type(e).__name__}); stopping its JVM")
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    kill_tree(wait_gone(kids + descendants(os.getpid()), 15))
    _shutting_down = False


def guard() -> None:
    """Stop every process this run started when it is told to stop
    (SIGTERM, SIGINT, SIGHUP) or runs past its deadline."""
    from perfbench.stats import become_subreaper, kill_tree

    become_subreaper()

    def on_signal(signum, _frame):
        for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
            signal.signal(sig, signal.SIG_IGN)  # one clean-up, not several
        log(f"stopping on signal {signum}")
        if not _shutting_down:
            raise SystemExit(128 + signum)  # main's finally shuts Spark down

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, on_signal)

    def watchdog():
        while time.monotonic() < _deadline:
            time.sleep(0.5)
        log(f"run passed its {RUN_LIMIT_S:.0f} s limit; stopping the JVM and its workers")
        kill_tree([])
        os._exit(3)

    threading.Thread(target=watchdog, daemon=True).start()


def extend_deadline(seconds: float) -> None:
    global _deadline
    _deadline += seconds


def measure(wl, seconds: float) -> dict:
    """Closed loop: the next operation starts when the previous one ends.

    Runs the whole rounds that fill ``seconds`` at the workload's nominal
    round time. A fixed count, not a deadline: when a deadline decides
    whether one more round fits, fast runs measure an extra, warmer round and
    the median moves with the round count. An operation's latency is the
    time spent in its public calls; its checks run outside it."""
    lat, units, failed, failures = [], 0, 0, []
    n_ops = wl.round_ops * max(1, round(seconds / wl.round_s))
    while len(lat) < n_ops:
        w0 = wl.t.wall_s
        try:
            u, bad = wl.op()
        except Exception:  # an operation that raises is a failed one; keep going
            u, bad = 0, [traceback.format_exc(limit=4)[-1500:]]
        lat.append(wl.t.wall_s - w0)
        units += u
        if bad:
            failed += 1
            failures.extend(bad)
        if len(lat) % wl.round_ops == 0 and failed == len(lat):
            break  # nothing succeeds: stop early, the result is already wrong
    return {"lat": lat, "units": units, "failed": failed, "failures": failures}


def run_phase(name: str, seed: int, seconds: float, event_log: Path | None) -> dict:
    """Session start, set-up, warmup and one measured window."""
    from perfbench.stats import RssSampler
    from perfbench.workloads import HARNESS, WORKLOADS, Tracer

    run_dir = WORK / "runs" / f"{name}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)

    def open_workload():
        t0 = time.perf_counter()
        spark = start_session(event_log)
        session_s = time.perf_counter() - t0
        tracer = Tracer(spark)
        wl = WORKLOADS[name](spark, seed, tracer, run_dir)
        return wl, tracer, session_s, wl.build_inputs()

    t_open = time.monotonic()
    wl, tracer, session_s, gen_s = open_workload()
    if gen_s:
        log(f"{name}: built inputs for seed {seed} in {gen_s:.1f} s (not part of setup_s)")
    if tracer.sc.statusTracker().getJobIdsForGroup(HARNESS):
        # building ran Spark jobs and warmed this JVM: measure in a cold one
        shutdown()
        extend_deadline(time.monotonic() - t_open)
        wl, tracer, session_s, _ = open_workload()
    elif gen_s:
        extend_deadline(gen_s)
    prepare = []
    for _ in range(PREPARE_REPEATS):
        t0 = time.perf_counter()
        wl.prepare()
        prepare.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    warm_bad = []
    for _ in range(wl.warm_ops):
        warm_bad += wl.op()[1]
    warm_s = time.perf_counter() - t0
    setup_s = session_s + statistics.median(prepare) + warm_s
    tracer.reset()
    since_ms = time.time() * 1000
    with RssSampler() as rss:
        res = measure(wl, seconds)
    t0 = time.perf_counter()
    final_bad = warm_bad + wl.final_checks()
    log(f"{name}: session {session_s:.1f} s, prepare {statistics.median(prepare):.1f} s, "
        f"warmup {warm_s:.1f} s, {len(res['lat'])} ops {sum(res['lat']):.1f} s, "
        f"final checks {time.perf_counter() - t0:.1f} s")
    res.update(
        setup_s=setup_s, session_s=session_s, warm_s=warm_s, peak_rss=rss.peak,
        since_ms=since_ms, spans={k: dict(v) for k, v in tracer.spans.items()},
        final_failures=final_bad, workload=wl,
    )
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def layer_report(res: dict, event_log: Path) -> dict[str, float]:
    from perfbench.eventlog import event_files, layer_totals, read_events
    from perfbench.workloads import LAYERS, classify

    totals = layer_totals(read_events(event_files(str(event_log))), classify, res["since_ms"])
    n = len(res["lat"])
    spans = res["spans"]
    rollup_s = totals.get("operators.rollup", {}).get("job_s", 0.0)
    out = {}
    for layer in LAYERS:
        tot, span = totals.get(layer, {}), spans.get(layer, {})
        wall, build = span.get("wall_s", 0.0), span.get("build_s", 0.0)
        if layer == "operators.rollup":  # the tier-write jobs inside the pipeline call
            wall = build = rollup_s
        elif layer == "plans.pipeline":
            wall, build = max(wall - rollup_s, 0.0), max(build - rollup_s, 0.0)
        vals = {"wall_s": wall, "build_s": build}
        vals.update({m: tot.get(m, 0.0) for m in LAYER_METRICS if m not in vals})
        for m, v in vals.items():
            out[f"{layer}.{m}"] = v / n
    out["sources.archive.written_mb"] = totals.get("sources.archive", {}).get("written_mb", 0.0) / n
    out.update(res["workload"].layer_extras(totals, n))
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "tstore_spark" / "__init__.py").is_file():
        log(f"no tstore_spark package under {ROOT}; run from the root of a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    set_environment()
    from perfbench.stats import percentile, tail_percentile
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    event_log = WORK / "eventlog" / args.workload if args.trace else None
    guard()
    try:
        if event_log is not None:
            shutil.rmtree(event_log, ignore_errors=True)
        res = run_phase(args.workload, args.seed, args.seconds, event_log)
    finally:
        shutdown()

    lat = res["lat"]
    attempted, failed = len(lat), res["failed"]
    failures, final = res["failures"], res["final_failures"]
    for msg in (failures + final)[:20]:
        log(f"FAILED {msg}")
    tail = tail_percentile(len(lat))
    log(f"{args.workload}: {len(lat)} ops, {res['units']} {res['workload'].unit}, "
        f"median {statistics.median(lat):.3f} s"
        + (f", p{tail:g} {percentile(lat, tail):.3f} s" if tail and tail > 50 else ""))

    if event_log is None:
        values = {
            "setup_s": res["setup_s"],
            "op_p50_s": statistics.median(lat),
            "units_per_s": res["units"] / sum(lat),
        }
        units = END_TO_END
    else:
        values = layer_report(res, event_log)
        values["process.peak_rss_mb"] = res["peak_rss"] / 2**20
        units = per_layer_units()
        values = {k: values.get(k, 0.0) for k in units}
    result = {
        "correct": failed == 0 and not final,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
