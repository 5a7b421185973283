"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds its inputs from ``--seed``,
runs one workload (``ohlcv_catchup`` or ``dedup_corpus``), checks the
outputs, prints each metric by name with
its unit, the engine environment, and, as the last line, one JSON
object ``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0``
reports the end-to-end metrics; ``--trace 1`` the per-layer ones, from a
separate traced run. Everything it writes goes under ``.perfbench/`` in
the checkout; the run's own directory is removed at the end, and the
spans of a traced run are kept as ``.perfbench/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv=None) -> argparse.Namespace:
    from perfbench.metrics import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    return args


def confine(work: str, trace: bool) -> None:
    """Point every temp, scratch and log path of this process, the JVM
    it launches and their workers into ``work``, and launch the JVM
    with the event log on when tracing."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    tempfile.tempdir = tmp
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = f"{os.environ.get(var, '')} {jvm_opts}".strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs = " ".join(
            f"--conf {k}={v}"
            for k, v in (
                ("spark.eventLog.enabled", "true"),
                ("spark.eventLog.dir", f"file://{log_dir}"),
                ("spark.eventLog.compress", "false"),
                ("spark.eventLog.rolling.enabled", "false"),
            )
        )
        os.environ["PYSPARK_SUBMIT_ARGS"] = (
            f"{confs} {os.environ.get('PYSPARK_SUBMIT_ARGS', 'pyspark-shell')}"
        )
    os.chdir(work)


def stop_jvm() -> None:
    """Stop the gateway JVM this process launched and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def span_counters(run, folded: dict) -> None:
    """Per-call Spark counters of each traced layer span."""
    from perfbench.metrics import SPAN_COUNTERS, SPANS

    for span in SPANS:
        recs = [s for s in run.tracer.spans if s["name"] == span]
        if not recs:
            continue
        groups = [g for r in recs for g in r.get("groups", {}).items()]
        for counter in SPAN_COUNTERS:
            if counter in ("jobs", "tasks", "failed_tasks"):
                total = sum(g[counter] for _, g in groups)
            else:
                total = sum(folded.get(name, {}).get(counter, 0.0) for name, _ in groups)
            run.metrics[f"{span}.{counter}"] = total / len(recs)
    sessions = [s["end"] - s["start"] for s in run.tracer.spans if s["name"] == "session.get_session"]
    run.metrics["session.get_session_s"] = sum(sessions) / len(sessions)


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "kafka_flink_spark")):
        print("perfbench: the engine package kafka_flink_spark is not in this checkout", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    confine(work, bool(args.trace))

    from perfbench import metrics
    from perfbench.measure import core_count, cpu_steal_s
    from perfbench.trace import fold_event_log
    from perfbench.workloads import WORKLOAD_FNS, Run

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), work, core_count())
    steal0 = cpu_steal_s()
    try:
        WORKLOAD_FNS[args.workload](run)
        # Time other guests took from this machine's CPUs: a run slowed
        # by a busy host shows here, not in the engine's layers.
        run.notes["cpu_steal_s"] = cpu_steal_s() - steal0
        if not args.trace:
            run.extra["peak_rss_mb"] = (run.peak_rss_mb(), "MB")
        run.stop_session()
        stop_jvm()
        if args.trace:
            span_counters(run, fold_event_log(os.path.join(work, "eventlog")))
            run.tracer.write(os.path.join(work_root, f"trace-{args.workload}-{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        run.stop_session()
        stop_jvm()
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)

    bench = metrics.load_spec()
    spec = {m["name"]: m["unit"] for m in bench["per_layer" if args.trace else "end_to_end"]}
    uncalled = metrics.NOT_CALLED[args.workload] if args.trace else ()
    for name in spec:
        if name not in run.metrics and name.startswith(uncalled):
            run.metrics[name] = 0.0
    missing = [name for name in spec if name not in run.metrics]
    if missing:
        print(f"perfbench: no value for {missing}", file=sys.stderr)
        return 1
    out = {name: {"value": float(run.metrics[name]), "unit": unit} for name, unit in spec.items()}
    for name, m in out.items():
        print(f"{name} = {m['value']!r} {m['unit']}")
    for name, (value, unit) in run.extra.items():
        print(f"{name} = {value!r} {unit}")
    print(f"ops_failed_frac = {run.failed / max(1, run.attempted)!r} ({run.failed}/{run.attempted})")
    print(f"notes {json.dumps(run.notes)}")
    print(f"env {json.dumps(run.env)}")
    result = {
        "correct": run.checks_passed > 0 and run.checks_failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": out,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
