"""Per-layer metrics of a traced run, from its spans and counters.

Every metric is reported on every workload; a layer a workload never calls
reads 0 there. README.md lists which end-to-end metric each one should
move, and on which workload.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import self_time, union_length

#: layers of the program, most specific first (span names are
#: ``<layer>.<function>``)
LAYERS = [
    "sources.erddap", "sources.csv", "sources.rest", "sinks.geojson", "sinks.kml",
    "client", "operators", "sinks", "osmc", "streaming",
]
REPORT_CALENDARS = ["client.ymd_profiles_calendar", "client.ym_glider_days_calendar",
                    "client.md_deployments_calendar"]
#: metric -> (layer span names, unit); value is the median per-iteration sum
SPAN_METRICS = {
    "client.datasets_s": (["client.datasets"], "s"),
    "client.yearly_counts_s": (["client.yearly_counts"], "s"),
    "client.calendars_s": (REPORT_CALENDARS, "s"),
    "client.merge_with_api_s": (["client.merge_with_api"], "s"),
    "sinks.geojson.export_dataset_daily_tracks_s": (
        ["sinks.geojson.export_dataset_daily_tracks"], "s"),
    "sinks.kml.tracks_to_kml_ms": (["sinks.kml.tracks_to_kml"], "ms"),
    "sources.rest.read_json_records_s": (["sources.rest.read_json_records"], "s"),
    "osmc.get_dataset_profiles_s": (["osmc.get_dataset_profiles"], "s"),
    "osmc.obs_calendar_s": (["osmc.obs_calendar"], "s"),
    "sources.csv.read_dataset_csv_batch_s": (["sources.csv.read_dataset_csv_batch"], "s"),
    "operators.daily_stats_s": (["operators.daily_stats"], "s"),
    "streaming.drain_s": (["streaming.drain"], "s"),
    "sinks.write_s": (["sinks.write_csv", "sinks.write_json"], "s"),
}
#: metric -> layer span name; value is the median (p50) span duration
P50_METRICS = {
    "client.search_datasets_ms": "client.search_datasets",
    "client.dataset_info_card_ms": "client.dataset_info_card",
    "client.get_dataset_track_geojson_ms": "client.get_dataset_track_geojson",
    "client.get_dataset_time_coverage_ms": "client.get_dataset_time_coverage",
    "client.check_dataset_exists_ms": "client.check_dataset_exists",
    "client.get_dataset_ymd_profiles_calendar_ms": "client.get_dataset_ymd_profiles_calendar",
    "sources.erddap.tabledap_ms": "sources.erddap.tabledap",
    "sources.erddap.search_ms": "sources.erddap.search",
}


def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _ratio(num: float, den: float) -> float:
    return num / den if den else 0.0


def layer_of(span_name: str) -> str | None:
    return next((lay for lay in LAYERS if span_name.startswith(lay + ".")), None)


def per_layer(bench, setups: list[dict], untraced: dict, iterations: list[dict]) -> dict:
    spans = bench.tracer.spans
    by_id = {s.id: s for s in spans}
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    iters = [s for s in spans if s.kind == "iteration"]
    op_spans = [s for s in spans if s.kind == "op" and s.trace >= 0]  # not set-up
    layer_spans = [s for s in spans if s.kind == "layer"]
    jobs = [s for s in spans if s.kind == "job"]

    def op_of(span):
        while span is not None and span.kind != "op":
            span = by_id.get(span.parent)
        return span

    per_iter = defaultdict(lambda: defaultdict(float))  # trace -> key -> value
    for s in layer_spans:
        per_iter[s.trace][s.name] += s.dur
        lay = layer_of(s.name)
        if lay:
            per_iter[s.trace][f"self:{lay}"] += self_time(s, children[s.id])
    op_jobs = defaultdict(list)
    for j in jobs:
        op_jobs[op_of(j).id].append(j)
    for sp in op_spans:
        js = op_jobs[sp.id]
        direct = [c for c in children[sp.id] if c.kind == "layer"]
        per_iter[sp.trace]["self:bench"] += self_time(sp, direct + js)
        per_iter[sp.trace]["spark.jobs"] += union_length([(j.start, j.end) for j in js])
        for key in ("run_s", "cpu_s", "gc_s"):
            per_iter[sp.trace][key] += sum(j.attrs[key] for j in js)
    traces = [s.trace for s in iters]

    def per_request(key: str) -> float:
        """Mean per request, so a layer half the requests skip still shows."""
        return sum(per_iter[t][key] for t in traces) / max(len(traces), 1)

    out = {"session.get_spark_s": (_median(s["get_spark_s"] for s in setups), "s")}
    for name, (span_names, unit) in SPAN_METRICS.items():
        used = [t for t in traces if any(n in per_iter[t] for n in span_names)]
        v = _median(sum(per_iter[t].get(n, 0.0) for n in span_names) for t in used)
        out[name] = (v * (1000.0 if unit == "ms" else 1.0), unit)
    for name, span_name in P50_METRICS.items():
        out[name] = (_median(s.dur for s in layer_spans if s.name == span_name) * 1000.0, "ms")

    c = {k: sum(v) for k, v in bench.counters.items()}
    out["sources.erddap.rows_yielded_per_row_served"] = (
        _ratio(c.get("scan_rows", 0), c.get("served_rows", 0)), "ratio")
    out["sources.erddap.rows_kept_per_row_yielded"] = (
        _ratio(c.get("result_rows", 0), c.get("scan_rows", 0)), "ratio")
    out["sources.csv.rows_ingested"] = (_median(bench.counters.get("rows_ingested", [])), "count")
    out["streaming.batches"] = (_median(bench.counters.get("streaming.batches", [])), "count")
    out["streaming.state_rows"] = (max(bench.counters.get("streaming.state_rows", [0])), "count")
    out["sinks.bytes_written_per_input_byte"] = (
        _ratio(c.get("bytes_written", 0), c.get("input_bytes", 0)), "ratio")

    n_ops = max(len(op_spans), 1)
    overhead = [sp.dur - union_length([(j.start, j.end) for j in op_jobs[sp.id]])
                for sp in op_spans]
    out["driver.overhead_ms"] = (_median(overhead) * 1000.0, "ms")
    for name, key in (("spark.jobs_per_op", None), ("spark.stages_per_op", "stages"),
                      ("spark.tasks_per_op", "tasks"),
                      ("spark.input_records_per_op", "input_records"),
                      ("spark.shuffle_bytes_per_op", "shuffle_bytes")):
        total = len(jobs) if key is None else sum(j.attrs[key] for j in jobs)
        out[name] = (total / n_ops, "B" if key == "shuffle_bytes" else "count")
    out["spark.task_wait_s"] = (sum(j.attrs["task_wait_s"] for j in jobs) / n_ops, "s")
    out["spark.executor_run_s"] = (per_request("run_s"), "s")
    out["spark.executor_cpu_s"] = (per_request("cpu_s"), "s")
    out["spark.gc_s"] = (per_request("gc_s"), "s")
    out["spark.jobs_s"] = (per_request("spark.jobs"), "s")
    for lay in LAYERS:
        out[f"{lay}.self_s"] = (per_request(f"self:{lay}"), "s")
    out["bench.self_s"] = (per_request("self:bench"), "s")

    traced = _median(i["s"] for i in iterations)
    base = untraced["request_p50_ms"][0] / 1000.0
    out["trace.overhead_pct"] = (100.0 * (traced / base - 1.0) if base else 0.0, "%")
    out["trace.bookkeeping_ms_per_op"] = (bench.tracer.bookkeeping_s * 1000.0 / n_ops, "ms")
    return out
