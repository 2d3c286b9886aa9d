#!/usr/bin/env python3
"""CDC pipeline benchmark: run one workload through the engine.

    python3 perfbench/run.py --workload initial_snapshot --seed 1 --seconds 10 --trace 0

Workloads: initial_snapshot, binlog_catchup, steady_freshness (see
perfbench/README.md).  Run from the repository root.  Everything the run
writes goes under ``.perfbench/`` there; the result and, with ``--trace 1``,
the span file are kept in ``.perfbench/out/``.

Prints one line per metric, then, as the last line, one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0`` and the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

#: input generation runs this many times per run and setup_s takes its
#: median; session start, state seeding and warm-up run once, because
#: repeating the Spark-side set-up would not fit the run-time budget
GENERATE_REPEATS = 3

#: per-layer metrics reported to the JSON line (``--trace 1``); the report
#: lines and the span file carry every per-layer metric
JSON_LAYER_METRICS = (
    "chunking.chunks", "chunking.spark_jobs",
    "source.scan_s", "source.rows_read",
    "hybrid.backfill_rows", "hybrid.stream_pass_ratio", "hybrid.input_rows_per_image_row",
    "changelog.materialize_rows_in",
    "debezium.rows_per_envelope", "debezium.dropped_envelopes",
    "maintain.state_rows", "maintain.delta_rows", "maintain.spark_jobs_per_batch",
    "sink.merge_p50_s", "sink.rows_written", "sink.write_amplification", "sink.spark_jobs_per_batch",
    "stream.input_rows_per_batch",
    "spark.jobs", "spark.tasks", "spark.input_records", "spark.shuffle_write_bytes",
)
UNIT_NAME = {"initial_snapshot": "pass", "binlog_catchup": "batch", "steady_freshness": "batch"}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(UNIT_NAME))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0, help="input size factor (smoke test)")
    return p.parse_args(argv)


def start_session(work: str):
    """The engine's SparkSession at local[nproc], with every scratch path
    inside ``work``."""
    from flink_cdc_2_3_0_src_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = len(os.sched_getaffinity(0))
    spark = get_spark(
        app_name="cdc-perfbench",
        master=f"local[{cpus}]",
        conf={
            # a fixed-size heap: no heap resizing from run to run
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -XX:+UseParallelGC -Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of a run for the per-span counters
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark, cpus


def peak_rss_mb() -> float:
    """Peak RSS (VmHWM) of this process plus all its descendants (the JVM),
    read from /proc."""
    children: dict = {}
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(pid))
    total_kb, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM the session started to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = parse_args(argv)
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(base, "out")
    os.makedirs(out_dir, exist_ok=True)
    # the engine and PySpark take scratch space from these
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    sys.path.insert(0, ROOT)

    import gen
    from report import layer_metrics, trace_report
    from spans import Tracer, median
    from workloads import WORKLOADS

    spark, cpus = start_session(work)
    try:
        session_s = time.perf_counter() - T_START
        tracer = Tracer(spark, f"{args.workload}-s{args.seed}-{os.getpid()}", bool(args.trace), T_START)
        cls = WORKLOADS[args.workload]
        spec = cls.Spec() if args.scale == 1.0 else gen.scaled(cls.Spec(), args.scale)
        wl = cls(spark, os.path.join(work, "data"), args.seed, spec)
        generate = []
        for _ in range(GENERATE_REPEATS):
            t = time.perf_counter()
            wl.generate()
            generate.append(time.perf_counter() - t)
        t = time.perf_counter()
        wl.seed_state()
        seed_s = time.perf_counter() - t
        wl.warm_up(tracer)
        warm_s = time.perf_counter() - t - seed_s
        res = wl.measure(args.seconds, tracer)
        setup = {"session_s": session_s, "generate_s": median(generate), "seed_s": seed_s,
                 "warm_up_s": warm_s + res.lead_in_s}
        setup_s = sum(setup.values())
        wl.close()
        rss = peak_rss_mb()
        tracer.collect_spark_counters()
    finally:
        stop_session(spark)

    lat = res.latencies
    p50, p90 = (res.metrics[n][0] for n in res.latency_names)
    e2e = {
        "setup_s": (setup_s, "s"),
        "latency_p50_s": (p50, "s"),
        "peak_rss_mb": (rss, "MB"),
    }
    error_rate = res.failed / res.attempted
    tag = f"{args.workload}-seed{args.seed}"
    summary = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace, "cpus": cpus,
        "seconds": args.seconds, "scale": args.scale,
        "setup_s": setup_s, "setup_parts_s": setup,
        "latency_name": res.latency_names[0], "latency_p50_s": p50,
        "samples": len(lat), "window": res.window,
        "attempted": res.attempted, "failed": res.failed, "error_rate": error_rate,
        "notes": res.notes,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in {**e2e, **res.metrics}.items()},
    }
    lines = [f"{args.workload} seed={args.seed} trace={args.trace} local[{cpus}] samples={len(lat)}"]
    for name, (v, unit) in {**e2e, "latency_p90_s": (p90, "s"), **res.metrics}.items():
        lines.append(f"  {name} = {v:.6g} {unit}")
    lines.append("  setup parts: " + ", ".join(f"{k} {v:.3f}" for k, v in setup.items()))
    per_unit = [p["trigger_s"] for p in res.progress] or lat
    lines.append(f"  {UNIT_NAME[args.workload]} times (s): " + " ".join(f"{x:.3f}" for x in per_unit[:50]))
    lines.append(f"  error_rate = {error_rate:.6g} ratio ({res.failed} failed of {res.attempted} attempted)")
    lines.extend(f"  NOTE {n}" for n in res.notes)
    if args.trace:
        doc = {
            "workload": args.workload, "seed": args.seed, "run_id": tracer.run_id,
            "window": res.window, "latency_name": res.latency_names[0], "latency_p50_s": p50,
            "progress": res.progress,
        }
        doc = tracer.write(os.path.join(out_dir, f"{tag}-spans.json"), doc)
        untraced_path = os.path.join(out_dir, f"{tag}-trace0.json")
        untraced = None
        if os.path.exists(untraced_path):
            with open(untraced_path) as f:
                untraced = json.load(f)
        lines.extend(trace_report(doc, untraced))
        layer = layer_metrics(doc["spans"], doc["progress"])
        metrics = {k: {"value": layer[k][0], "unit": layer[k][1]} for k in JSON_LAYER_METRICS}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    with open(os.path.join(out_dir, f"{tag}-trace{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    shutil.rmtree(work, ignore_errors=True)
    print("\n".join(lines))
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
