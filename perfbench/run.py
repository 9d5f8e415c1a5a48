#!/usr/bin/env python3
"""Closed-loop benchmark of the engine; see perfbench/README.md.

    python3 perfbench/run.py --workload pages_pip --seed 1 --seconds 10 --trace 0

Runs one workload on ``local[<cores>]`` from a single driver thread:
prepares the inputs from the seed, warms up, runs whole rounds of
identical operations until ``--seconds`` have passed (at least one round),
checks every output against a computation made apart from the engine,
and prints the metrics as the last line of stdout, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json, ``--trace
1`` its per-layer metrics and writes the spans and per-operation counters
to ``perfbench/_out/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    let the Python workers import the package from this checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.chdir(work)               # spark-warehouse and friends land here
    sys.path[:0] = [ROOT, HERE]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="sedona_db_spark benchmark")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        return _fail(f"{spec_path} not found")
    if not os.path.isfile(os.path.join(ROOT, "sedona_db_spark", "__init__.py")) \
            or not os.path.isfile(os.path.join(ROOT, "bench.py")):
        return _fail(f"no sedona_db_spark package and bench.py in {ROOT}")
    with open(spec_path) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        return _fail(f"unknown workload {args.workload!r}")

    work = os.path.join(HERE, "_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    _isolate(work)
    # a terminated run still stops Spark and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        return _run(args, spec, work)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


def _run(args, spec, work) -> int:
    from harness import (Jobs, Tracer, host_ticks, median, peak_rss_mb,
                         start_session, stop_session)
    from workloads import WORKLOADS

    trace = bool(args.trace)
    cpus = len(os.sched_getaffinity(0))
    t0 = time.perf_counter()                  # set-up starts here
    tracer = Tracer(trace, t0)
    with tracer.span("session.get_spark") as s_session:
        spark = start_session(cpus)
    try:
        jobs = Jobs(spark) if trace else None
        wl = WORKLOADS[args.workload](spark, args.seed, tracer, jobs, work, cpus)
        with tracer.span("setup"):
            wl.setup()

        t_first = time.perf_counter()
        setup_s = t_first - t0
        steal0 = host_ticks()
        ops, rounds = [], []
        while True:
            r0 = time.perf_counter()
            with tracer.span(f"round-{len(rounds)}"):
                ops += wl.round(len(rounds))
            rounds.append(time.perf_counter() - r0)
            if time.perf_counter() - t_first >= args.seconds:
                break
        t_timed = time.perf_counter()
        steal1 = host_ticks()
        rss = peak_rss_mb()

        ok_ops = [o for o in ops if not o.failed]
        joins = [o for o in ok_ops if o.join_rows is not None]
        values = {
            "setup_s": setup_s,
            "pass_s": median(rounds),
            "latency_s.p50": median([o.latency for o in ok_ops]),
            "joined_rows_per_s": median([o.join_rows / o.join_s for o in joins]),
            "driver_rss_mb": rss,
        }
        if trace:
            from probes import kernel_probes
            values["session.get_spark_s"] = s_session.seconds
            values.update(wl.layer(ops))
            values.update(kernel_probes(args.seed, tracer))
            values["spark.failed_tasks"] = jobs.failed_tasks()

        t_check = time.perf_counter()
        try:
            correct, detail = wl.check(ops)
        except Exception:                              # noqa: BLE001
            correct, detail = False, traceback.format_exc()
        for o in ops:
            if o.failed:
                print(f"# failed {o.name}: {o.output}")
        phases = {"setup": setup_s, "timed": t_timed - t_first,
                  "layers": t_check - t_timed,
                  "check": time.perf_counter() - t_check}
    finally:
        t_stop = time.perf_counter()
        stop_session(spark)
    phases["stop"] = time.perf_counter() - t_stop
    steal = (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1])

    if trace:
        tracer.write(os.path.join(HERE, "_out",
                                  f"trace-{args.workload}-{args.seed}.json"), ops)
    kind = "per_layer" if trace else "end_to_end"
    metrics = {}
    for m in spec[kind]:
        if kind == "end_to_end" and m["name"] not in values:
            raise KeyError(f"workload did not measure {m['name']}")
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0)),
                              "unit": m["unit"]}
    print(f"# {args.workload} seed={args.seed} cpus={cpus} rounds={len(rounds)} "
          f"check: {detail}")
    print("# op latencies (s): " + " ".join(
        f"{o.name}={o.latency:.3f}" for o in ops))
    print("# op join CPU (s): " + " ".join(
        f"{o.name}={o.join_cpu_s:.2f}" for o in ops))
    print("# phase seconds: " + json.dumps(phases))
    print(f"# host steal share in the timed phase: {steal:.1%}")
    print(json.dumps({"correct": bool(correct), "attempted": len(ops),
                      "failed": len(ops) - len(ok_ops), "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
