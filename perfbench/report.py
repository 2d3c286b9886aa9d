"""Per-layer metrics and the trace report, computed from a span file.

    python3 perfbench/report.py .perfbench/out/<workload>-seed<n>-spans.json

prints every per-layer metric, each layer's self time, the share of the
measured wall time that no span covers and, when the matching untraced
result file sits beside the span file, the tracing overhead.
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

from spans import median, percentile, self_times, spark_totals, uncovered_share

UNIT_ROOTS = ("bench.pass", "stream.batch")


def _units(spans: list) -> list:
    """Spans grouped by their unit of work (a snapshot pass or a
    micro-batch): one list of spans per root span, root included."""
    by_id = {s["id"]: s for s in spans}
    groups: dict = defaultdict(list)
    for s in spans:
        root = s
        while root["parent"] is not None:
            root = by_id[root["parent"]]
        if root["name"] in UNIT_ROOTS:
            groups[root["id"]].append(s)
    return [groups[k] for k in sorted(groups)]


def _per_unit(units, name, value):
    """Median over units of the sum of ``value(span)`` over spans called
    ``name`` in the unit; 0 when the layer is not on the workload's path."""
    sums = [sum(value(s) for s in u if s["name"] == name) for u in units]
    return median([x for x, u in zip(sums, units) if any(s["name"] == name for s in u)], 0)


def _dur(s):
    return s["end"] - s["start"]


def _attr(key):
    return lambda s: s["attrs"].get(key, 0)


def _jobs(s):
    return s["spark"].get("jobs", 0)


def _ratio(num, den):
    return num / den if den else 0.0


def layer_metrics(spans: list, progress: list) -> dict:
    """Every per-layer metric: name -> (value, unit)."""
    units = _units(spans)
    named = defaultdict(list)
    for s in spans:
        named[s["name"]].append(s)
    total = lambda name, key: sum(s["attrs"].get(key, 0) for s in named[name])  # noqa: E731
    per_unit_spark = [spark_totals(u) for u in units]
    decode = named["debezium.decode"]
    m = {
        "chunking.plan_s": (_per_unit(units, "chunking.plan", _dur), "s"),
        "chunking.chunks": (_per_unit(units, "chunking.plan", _attr("chunks")), "count"),
        "chunking.spark_jobs": (_per_unit(units, "chunking.plan", _jobs), "count"),
        "source.scan_s": (_per_unit(units, "source.scan", _dur), "s"),
        "source.rows_read": (_per_unit(units, "source.scan", _attr("rows_read")), "count"),
        "hybrid.snapshot_phase_s": (_per_unit(units, "hybrid.snapshot_phase", _dur), "s"),
        "hybrid.chunk_p50_s": (median(map(_dur, named["hybrid.chunk"])), "s"),
        "hybrid.chunk_p90_s": (percentile(map(_dur, named["hybrid.chunk"]), 90), "s"),
        "hybrid.backfill_rows": (_per_unit(units, "hybrid.chunk", _attr("backfill_rows")), "count"),
        "hybrid.stream_filter_s": (_per_unit(units, "hybrid.stream_filter", _dur), "s"),
        "hybrid.stream_pass_ratio": (
            _ratio(total("hybrid.stream_filter", "emitted"), total("hybrid.stream_filter", "examined")), "ratio"),
        "hybrid.input_rows_per_image_row": (
            _ratio(total("source.scan", "rows_read"), total("changelog.materialize", "rows_out"))
            if named["changelog.materialize"] else 0.0, "ratio"),
        "changelog.materialize_s": (_per_unit(units, "changelog.materialize", _dur), "s"),
        "changelog.materialize_rows_in": (_per_unit(units, "changelog.materialize", _attr("rows_in")), "count"),
        "debezium.decode_p50_s": (median(map(_dur, decode)), "s"),
        "debezium.rows_per_envelope": (
            _ratio(total("debezium.decode", "rows_out"), total("debezium.decode", "envelopes_kept")), "ratio"),
        "debezium.dropped_envelopes": (
            median([s["attrs"]["records_in"] - s["attrs"]["envelopes_kept"] for s in decode], 0), "count"),
        "maintain.step_p50_s": (median(map(_dur, named["maintain.step"])), "s"),
        "maintain.step_p90_s": (percentile(map(_dur, named["maintain.step"]), 90), "s"),
        "maintain.state_rows": (median([s["attrs"].get("state_rows", 0) for s in named["maintain.step"]], 0), "count"),
        "maintain.delta_rows": (_per_unit(units, "maintain.step", _attr("delta_rows")), "count"),
        "maintain.spark_jobs_per_batch": (_per_unit(units, "maintain.step", _jobs), "count"),
        "sink.merge_p50_s": (_per_unit(units, "sink.merge", _dur), "s"),
        "sink.rows_written": (_per_unit(units, "sink.merge", _attr("rows_written")), "count"),
        "sink.write_amplification": (
            _ratio(total("sink.merge", "rows_written"), total("sink.merge", "rows_changed")), "ratio"),
        "sink.spark_jobs_per_batch": (_per_unit(units, "sink.merge", _jobs), "count"),
        "stream.trigger_p50_s": (median([p["trigger_s"] for p in progress]), "s"),
        "stream.engine_overhead_p50_s": (
            median([p["trigger_s"] - p["add_batch_s"] for p in progress]), "s"),
        "stream.input_rows_per_batch": (median([p["input_rows"] for p in progress], 0), "count"),
        "spark.jobs": (median([t["jobs"] for t in per_unit_spark], 0), "count"),
        "spark.tasks": (median([t["tasks"] for t in per_unit_spark], 0), "count"),
        "spark.input_records": (median([t["input_records"] for t in per_unit_spark], 0), "count"),
        "spark.shuffle_write_bytes": (median([t["shuffle_write_bytes"] for t in per_unit_spark], 0), "bytes"),
    }
    return m


def trace_report(doc: dict, untraced: dict | None = None) -> list:
    """Report lines: per-layer metrics, self time per layer, uncovered
    share of the measured window, tracing overhead."""
    spans, window = doc["spans"], doc["window"]
    wl = doc["workload"]
    lines = [f"{wl} per-layer metrics, traced run"]
    for name, (v, unit) in layer_metrics(spans, doc.get("progress", [])).items():
        lines.append(f"  {name} = {v:.6g} {unit}")
    measured = [s for s in spans if s["start"] >= window[0] and s["end"] <= window[1]]
    wall = window[1] - window[0]
    lines.append(f"{wl} self time per layer over the measured {wall:.3f} s")
    for layer, t in sorted(self_times(measured).items(), key=lambda kv: -kv[1]):
        lines.append(f"  {layer}: {t:.3f} s ({100 * t / wall:.1f}%)")
    lines.append(f"  not covered by any span: {100 * uncovered_share(measured, *window):.1f}%")
    if untraced:
        tr, un = doc["latency_p50_s"], untraced["latency_p50_s"]
        lines.append(
            f"{wl} tracing overhead: {tr - un:+.4f} s on latency_p50_s ({doc['latency_name']}: "
            f"{tr:.4f} traced vs {un:.4f} untraced, {100 * (tr - un) / un:+.1f}%)"
        )
    else:
        lines.append(f"{wl} tracing overhead: no untraced result for this seed yet")
    return lines


def main(argv: list) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    with open(argv[0]) as f:
        doc = json.load(f)
    untraced = None
    path = argv[0].replace("-spans.json", "-trace0.json")
    if os.path.exists(path):
        with open(path) as f:
            untraced = json.load(f)
    print("\n".join(trace_report(doc, untraced)))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
