"""Metric definitions: end-to-end (untraced run) and per-layer (traced run).

Counts from Spark (tasks, CPU, GC, shuffle, spill) come from the event log.
The ingest windows are the client's own calls: each ``apply_batch`` on the
trickle workload, the one ``replay_batches`` call on the bulk ones (whose
prefetched dedup therefore counts as ingest work).
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import numpy as np

from evlog import LISTING_PREFIX, covered_seconds, in_windows
from tracing import TABLES


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (numpy's default method)."""
    return float(np.quantile(np.asarray(values, dtype=float), q))


def _m(value: float, unit: str) -> dict:
    v = float(value)
    # a run whose ingest failed has no timings; it reports correct=false
    return {"value": v if v == v else 0.0, "unit": unit}


def _ingest_tasks(jobs, windows):
    return [t for j in jobs for t in j.tasks if in_windows(t.launch_ms, windows)]


def end_to_end(run, jobs, files_added: int, bytes_added: int,
               live_bytes: int, live_rows: int, peak_rss_mb: float) -> dict:
    n_epochs = max(1, len(run.epoch_walls))
    ingest_s = sum(b - a for a, b in run.windows) or float("nan")
    tasks = _ingest_tasks(jobs, run.windows)
    cpu_s = sum(t.cpu_ns for t in tasks) / 1e9
    reads = run.read_ms or [float("nan")]
    walls = run.epoch_walls or [float("nan")]
    return {
        "setup_s": _m(run.setup_s, "s"),
        "events_per_s": _m(run.n_events / ingest_s, "1/s"),
        "epoch_s_p50": _m(statistics.median(walls), "s"),
        "exec_cpu_us_per_event": _m(cpu_s * 1e6 / run.n_events, "us"),
        "tasks_per_epoch": _m(len(tasks) / n_epochs, "count"),
        "files_per_epoch": _m(files_added / n_epochs, "count"),
        "bytes_written_per_event": _m(bytes_added / run.n_events, "B"),
        "storage_bytes_per_live_row": _m(live_bytes / max(1, live_rows), "B"),
        "point_read_ms_p50": _m(quantile(reads, 0.5), "ms"),
        "point_read_ms_p75": _m(quantile(reads, 0.75), "ms"),
        "peak_rss_mb": _m(peak_rss_mb, "MB"),
        "ok_op_share": _m((run.attempted - run.failed) / max(1, run.attempted), "ratio"),
    }


def _by_span(jobs) -> dict[int, list]:
    """Jobs whose description names a span, keyed by span id."""
    out: dict[int, list] = defaultdict(list)
    for j in jobs:
        if j.description.startswith("pb:"):
            out[int(j.description.split(":", 2)[1])].append(j)
    return out


def per_layer(run, jobs, tracer) -> dict:
    spans = tracer.spans
    span_jobs = _by_span(jobs)
    children: dict[int, list] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s)

    def tasks_of(s):
        return [t for j in span_jobs.get(s["id"], []) for t in j.tasks]

    # each span carries the work of the jobs submitted under its description
    for s in spans:
        ts = tasks_of(s)
        s["jobs"] = len(span_jobs.get(s["id"], []))
        s["tasks"] = len(ts)
        s["cpu_s"] = sum(t.cpu_ns for t in ts) / 1e9
        s["shuffle_bytes"] = sum(t.shuffle_write_bytes for t in ts)

    def named(prefix):
        return [s for s in spans if s["name"] == prefix]

    def dur(s):
        return s["end"] - s["start"]

    epochs = named("pipeline.epoch")
    n_ep = max(1, len(epochs))
    out: dict[str, dict] = {}

    # streaming.pipeline: epoch wall, self time, jobs, driver-only time
    self_s = jobs_n = stages_n = driver_only = 0.0
    busy = [(j.submit_ms / 1000, j.end_ms / 1000) for j in jobs]
    for e in epochs:
        kids = [(c["start"], c["end"]) for c in children[e["id"]]]
        self_s += dur(e) - covered_seconds(kids, e["start"], e["end"])
        ej = [j for j in jobs if e["start"] <= j.submit_ms / 1000 <= e["end"]]
        jobs_n += len(ej)
        stages_n += sum(j.n_stages for j in ej)
        driver_only += dur(e) - covered_seconds(busy, e["start"], e["end"])
    out["pipeline.epoch_s"] = _m(sum(dur(e) for e in epochs) / n_ep, "s")
    out["pipeline.epoch_s_max"] = _m(max((dur(e) for e in epochs), default=0), "s")
    out["pipeline.epoch_self_s"] = _m(self_s / n_ep, "s")
    out["pipeline.jobs_per_epoch"] = _m(jobs_n / n_ep, "count")
    out["pipeline.stages_per_epoch"] = _m(stages_n / n_ep, "count")
    out["pipeline.driver_only_s"] = _m(driver_only / n_ep, "s")

    # operators.dedup via prepare_winners
    dd = named("dedup")
    dt = [t for s in dd for t in tasks_of(s)]
    rows_in = sum(s.get("rows_in", 0) for s in dd)
    rows_out = sum(s.get("rows_out", 0) for s in dd)
    out["dedup.s"] = _m(sum(dur(s) for s in dd) / n_ep, "s")
    out["dedup.tasks"] = _m(len(dt) / n_ep, "count")
    out["dedup.cpu_s"] = _m(sum(t.cpu_ns for t in dt) / 1e9 / n_ep, "s")
    out["dedup.rows_in"] = _m(rows_in / n_ep, "count")
    out["dedup.rows_out"] = _m(rows_out / n_ep, "count")
    out["dedup.keep_ratio"] = _m(rows_out / max(1, rows_in), "ratio")

    # operators.{extract,models,search_docs}: lazy builders, driver-only
    ops = [s for s in spans if s["name"].startswith("operators.")]
    out["operators.plan_s"] = _m(sum(dur(s) for s in ops) / n_ep, "s")

    # plans.lake write side
    for t in TABLES:
        ps = named(f"lake.prepare.{t}")
        pt = [x for s in ps for x in tasks_of(s)]
        p = f"lake.prepare.{t}"
        out[f"{p}.s"] = _m(sum(dur(s) for s in ps) / n_ep, "s")
        out[f"{p}.tasks"] = _m(len(pt) / n_ep, "count")
        out[f"{p}.cpu_s"] = _m(sum(x.cpu_ns for x in pt) / 1e9 / n_ep, "s")
        out[f"{p}.shuffle_bytes"] = _m(sum(x.shuffle_write_bytes for x in pt) / n_ep, "B")
        out[f"{p}.rows"] = _m(sum(s.get("rows", 0) for s in ps) / n_ep, "count")
        out[f"{p}.files_written"] = _m(sum(s.get("files_written", 0) for s in ps) / n_ep, "count")
        out[f"{p}.bytes_written"] = _m(sum(s.get("bytes_written", 0) for s in ps) / n_ep, "B")
        cs = named(f"lake.commit.{t}")
        out[f"lake.commit.{t}.s"] = _m(sum(dur(s) for s in cs) / n_ep, "s")
        out[f"lake.manifest_bytes.{t}"] = _m(
            max((s.get("manifest_bytes", 0) for s in cs), default=0), "B")
        out[f"lake.delta_files.{t}"] = _m(
            statistics.mean(e["delta_files"][t] for e in epochs) if epochs else 0, "count")

    # plans.lake read side (means per call)
    for name in ("lake.read_for_keys", "lake.read_where"):
        ss = named(name)
        n = max(1, len(ss))
        out[f"{name}.s"] = _m(sum(dur(s) for s in ss) / n, "s")
        out[f"{name}.tasks"] = _m(sum(len(tasks_of(s)) for s in ss) / n, "count")
    rw = named("lake.read_where")
    out["lake.read_where.files_kept_ratio"] = _m(
        sum(s.get("files_kept", 0) for s in rw) / max(1, sum(s.get("files_total", 0) for s in rw)),
        "ratio")

    # Spark substrate over the ingest windows
    ingest = _ingest_tasks(jobs, run.windows)
    ingest_s = sum(b - a for a, b in run.windows)
    cpu = sum(t.cpu_ns for t in ingest) / 1e9
    out["spark.exec_cpu_s"] = _m(cpu, "s")
    out["spark.cpu_util"] = _m(cpu / max(1e-9, ingest_s * run.nproc), "ratio")
    out["spark.gc_s"] = _m(sum(t.gc_ms for t in ingest) / 1000, "s")
    out["spark.spill_bytes"] = _m(sum(t.spill_bytes for t in ingest), "B")
    out["spark.listing_tasks"] = _m(sum(
        len(j.tasks) for j in jobs
        if j.description.startswith(LISTING_PREFIX)
        and in_windows(j.submit_ms, run.windows)), "count")

    # tracing itself: compare trace.ingest_s with the untraced run's wall
    out["trace.ingest_s"] = _m(ingest_s, "s")
    out["trace.overhead_s"] = _m(tracer.overhead_s, "s")
    return out
