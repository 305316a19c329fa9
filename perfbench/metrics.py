"""End-to-end and per-layer metrics from the passes of one run.

Names and units here are the ones ``BENCHMARK.json`` declares; the
self-test checks that the two agree.
"""

from __future__ import annotations

import statistics

from .tracing import (STREAM_PHASES, add_stream_spans, child_cover, children,
                      span_table)
from .workloads import quantile


def end_to_end(p, setup_s: float) -> dict[str, tuple[float, str]]:
    """``p``: the untraced pass.  The unit of work is a 10k-event epoch on
    ``tail_10k`` and a read round (one of each read operation) on
    ``read_mix``: throughput is events (``tail_10k``) or read operations
    (``read_mix``) per second of the timed region, latency is per unit."""
    return {
        "setup_s": (setup_s, "s"),
        "throughput_per_s": (p.units / p.timed_wall_s, "1/s"),
        "latency_p50_s": (statistics.median(p.latencies), "s"),
        "stored_bytes_per_event": (p.table_bytes / p.events_delivered, "B"),
    }


def timed_region(p) -> dict[str, tuple[float, str]]:
    """Timed-region figures of the untraced pass that are too few or too
    bimodal to gate on: p90 per unit (the compaction epoch on
    ``tail_10k``), compaction time, peak RSS, and driver-plus-JVM CPU
    seconds per event or read operation."""
    return {
        "run.latency_samples": (len(p.latencies), "count"),
        "run.latency_p90_s": (quantile(p.latencies, 0.9), "s"),
        "run.compact_s": (statistics.median(p.compact_s), "s"),
        "run.peak_rss_mb": (p.peak_rss_mb, "MB"),
        "run.cpu_s_per_unit": (p.cpu_s / p.units, "s"),
    }


def _spark_counts(spark, run_ids: list[str]) -> tuple[int, int, int]:
    """Jobs, stages and tasks Spark ran under the given job groups."""
    tr = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for gid in run_ids:
        for j in tr.getJobIdsForGroup(gid):
            jobs += 1
            info = tr.getJobInfo(j)
            for sid in (info.stageIds if info else []):
                stages += 1
                si = tr.getStageInfo(sid)
                tasks += si.numTasks if si else 0
    return jobs, stages, tasks


def per_layer(tracer, traced, untraced, spark) -> tuple[dict, dict]:
    """Per-layer metrics of the traced pass, plus the span table.

    Times are totals over the traced pass (ingest, timed region,
    maintenance and the gate's reads); ``read.*`` latencies come from the
    untraced pass.  The tracing overhead compares the traced pass's time
    per unit of timed work with the untraced pass's, which ran first on a
    colder JVM; the bookkeeping share is the tracer's own measured cost
    over the traced pass's wall."""
    # coverage of the traced timed region by what was measured: Spark's
    # own durations of the trigger phases outside foreachBatch, plus the
    # wrapped layers' spans under each root span (an epoch's foreachBatch
    # call, a read operation).  A root's self time -- including the
    # addBatch work no wrapper saw -- is not covered.
    lo, hi = traced.setup_done, traced.setup_done + traced.timed_wall_s
    kids = children(tracer.spans)
    covered = sum(child_cover(s, kids) for s in tracer.spans
                  if s.parent_id is None and lo <= s.start < hi)
    covered += sum(
        r["durationMs"].get(key, 0) / 1000
        for r in traced.progress[traced.n_setup_progress:] if r["ran"]
        for key, _ in STREAM_PHASES if key != "addBatch")
    epochs_failed = sum(s.error is not None for s in tracer.spans
                        if s.name == "engine.apply_batch")
    add_stream_spans(tracer, traced.progress)
    spans = span_table(tracer.spans)
    c = tracer.counters

    def total(name):
        return spans.get(name, {}).get("total_s", 0.0)

    def selft(name):
        return spans.get(name, {}).get("self_s", 0.0)

    def calls(name):
        return spans.get(name, {}).get("calls", 0)

    ran = [r for r in traced.progress if r["ran"]]
    input_rows = sum(r["numInputRows"] for r in ran)
    jobs, stages, tasks = _spark_counts(spark, traced.run_ids)
    epochs = max(1, len(ran))
    # read_mix times its reads untraced; tail_10k reads only in the traced
    # pass's gate
    lat = untraced.reads.latency or traced.reads.latency

    def op_lat(op, q=0.5):
        v = lat.get(op) or [0.0]
        return quantile(v, q)

    per_unit_t = traced.timed_wall_s / traced.units
    per_unit_u = untraced.timed_wall_s / untraced.units

    m = dict(timed_region(untraced))
    m.update({
        "engine.apply_batch_s": (total("engine.apply_batch"), "s"),
        "engine.apply_batch_self_s": (selft("engine.apply_batch"), "s"),
        "engine.epochs": (calls("engine.apply_batch"), "count"),
        "engine.epochs_failed": (epochs_failed, "count"),
    })
    for key, name in STREAM_PHASES:
        m[f"{name}_s"] = (
            sum(r["durationMs"].get(key, 0) for r in ran) / 1000, "s")
    m["stream.input_rows"] = (input_rows, "count")
    m.update({
        "manifest.merge_s": (total("manifest.merge"), "s"),
        "manifest.merge_self_s": (selft("manifest.merge"), "s"),
        "manifest.compact_s": (total("manifest.compact"), "s"),
        "manifest.compact_calls": (calls("manifest.compact"), "count"),
        "manifest.vacuum_s": (total("manifest.vacuum"), "s"),
        "manifest.head_read_calls": (calls("manifest.head_read"), "count"),
        "manifest.head_read_s": (total("manifest.head_read"), "s"),
        "manifest.read_s": (total("manifest.read"), "s"),
        "manifest.count_s": (total("manifest.count"), "s"),
        "manifest.min_max_s": (total("manifest.min_max"), "s"),
        "manifest.staged_rows": (c["manifest.staged_rows"], "count"),
        "manifest.touched_buckets": (c["manifest.touched_buckets"], "count"),
        "manifest.commits": (
            traced.version_after - traced.version_before, "count"),
        "manifest.data_files": (traced.data_files, "count"),
        "manifest.delta_files": (traced.delta_files, "count"),
        "manifest.meta_bytes": (traced.meta_bytes, "B"),
        "dedup.keep_ratio": (
            c["manifest.staged_rows"] / max(1, input_rows), "ratio"),
        "storage.put_calls": (calls("storage.put"), "count"),
        "storage.put_bytes": (c["storage.put_bytes"], "B"),
        "storage.get_calls": (calls("storage.get"), "count"),
        "storage.get_bytes": (c["storage.get_bytes"], "B"),
        "storage.list_calls": (calls("storage.list"), "count"),
        "storage.delete_calls": (calls("storage.delete"), "count"),
        "storage.io_s": (sum(total(n) for n in (
            "storage.put", "storage.get", "storage.list", "storage.delete")),
            "s"),
        "lineage.flush_s": (total("lineage.flush"), "s"),
        "lineage.flush_calls": (calls("lineage.flush"), "count"),
        "lineage.compact_s": (total("lineage.compact"), "s"),
        "lineage.records": (c["lineage.records"], "count"),
        "spark.jobs_per_epoch": (jobs / epochs, "count"),
        "spark.stages_per_epoch": (stages / epochs, "count"),
        "spark.tasks_per_epoch": (tasks / epochs, "count"),
        "spark.jobs_per_read": (
            statistics.mean(traced.reads.jobs or [0]), "count"),
        "table.bytes": (traced.table_bytes, "B"),
        "table.files": (traced.table_files, "count"),
        "read.point_p50_s": (op_lat("point"), "s"),
        "read.point_p90_s": (op_lat("point", 0.9), "s"),
        "read.window_s": (op_lat("window"), "s"),
        "read.scan_s": (op_lat("scan"), "s"),
        "read.count_s": (op_lat("count"), "s"),
        "read.min_max_s": (op_lat("min_max"), "s"),
        "trace.coverage": (covered / traced.timed_wall_s, "ratio"),
        "trace.overhead_frac": (per_unit_t / per_unit_u - 1, "ratio"),
        "trace.bookkeeping_frac": (
            c["trace.bookkeeping_s"] / (traced.marks["gate_done"]
                                        - traced.marks["start"]), "ratio"),
    })
    return m, spans


def format_table(spans: dict, metrics: dict) -> str:
    """The per-layer table printed by a traced run."""
    lines = [f"{'span':<28}{'calls':>8}{'total_s':>11}{'self_s':>11}"]
    for name, r in sorted(spans.items(), key=lambda kv: -kv[1]["self_s"]):
        lines.append(f"{name:<28}{r['calls']:>8}{r['total_s']:>11.3f}"
                     f"{r['self_s']:>11.3f}")
    lines.append("")
    lines.append(f"{'metric':<28}{'value':>16}  unit")
    for name, (v, unit) in metrics.items():
        lines.append(f"{name:<28}{v:>16.6g}  {unit}")
    return "\n".join(lines)
