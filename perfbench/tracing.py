"""Spans around the public calls into the engine's layers, from outside it.

``install`` wraps methods and module bindings with functions that record a
span (name, start, end, parent, run id) in memory and set
``spark.job.description`` to ``pb:<span id>:<name>`` in the calling thread,
so every Spark job the call submits can be attributed to the span through
the event log. Spans are kept in memory and written out when the run ends.

Time spent in the wrappers' own bookkeeping (including the small row-count
jobs the dedup wrapper runs) is accumulated in ``Tracer.overhead_s``.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from typing import Any

DESC = "spark.job.description"
TABLES = ("repo_files", "graph_nodes", "graph_relations", "search_documents")


class Tracer:
    def __init__(self, sc, run_id: str):
        self.sc = sc
        self.run_id = run_id
        self.spans: list[dict[str, Any]] = []
        self.overhead_s = 0.0
        self.open_epoch: dict | None = None
        self.open_replay: dict | None = None
        self._lock = threading.Lock()
        self._tls = threading.local()
        self._next = 0

    def _stack(self) -> list[dict]:
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    def default_parent(self) -> dict | None:
        """Parent for a span opened in a thread with no open span of its own
        (the engine's pool threads): the open epoch, else the open replay."""
        return self.open_epoch or self.open_replay

    def _charge(self, seconds: float) -> None:
        with self._lock:  # wrappers run in the engine's pool threads too
            self.overhead_s += seconds

    @contextmanager
    def span(self, name: str, parent: dict | None = None, **attrs):
        t_in = time.perf_counter()
        stack = self._stack()
        if parent is None:
            parent = stack[-1] if stack else self.default_parent()
        with self._lock:
            self._next += 1
            sid = self._next
        rec = {"id": sid, "name": name, "parent": parent["id"] if parent else None,
               "run": self.run_id, "thread": threading.get_ident(), **attrs}
        prev = self.sc.getLocalProperty(DESC)
        self.sc.setLocalProperty(DESC, f"pb:{sid}:{name}")
        stack.append(rec)
        with self._lock:
            self.spans.append(rec)
        self._charge(time.perf_counter() - t_in)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t_out = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(DESC, prev)
            self._charge(time.perf_counter() - t_out)

    @contextmanager
    def bookkeeping(self):
        """Time spent here is tracing overhead, not engine work."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self._charge(time.perf_counter() - t)

    def current(self) -> dict | None:
        stack = self._stack()
        return stack[-1] if stack else None

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for rec in self.spans:
                fh.write(json.dumps(rec, sort_keys=True) + "\n")


def _table(tbl) -> str:
    return os.path.basename(tbl.root)


def _snapshot_files(snap) -> set[str]:
    return {f for fl in snap.files.values() for f in fl} | {
        f for fl in snap.delta_files.values() for f in fl}


def _delta_counts(pipe) -> dict[str, int]:
    out = {}
    for t in TABLES:
        snap = getattr(pipe, t).current()
        out[t] = sum(len(fl) for fl in snap.delta_files.values())
    return out


def install(tracer: Tracer) -> None:
    """Wrap the engine's layer entry points. Patches the classes and the
    names ``streaming.pipeline`` binds, so every instance is traced."""
    from amundsendatabuilder_spark.plans import lake
    from amundsendatabuilder_spark.streaming import pipeline

    P = pipeline.CDCPipeline
    T = lake.SnapshotTable

    def wrap(owner, attr, fn):
        setattr(owner, attr, functools.wraps(getattr(owner, attr))(fn))

    orig_apply = P.apply_batch

    def apply_batch(self, batch, epoch_id, winners=None):
        with tracer.span("pipeline.epoch", epoch=epoch_id,
                         owns_dedup=winners is None) as rec:
            tracer.open_epoch = rec
            try:
                out = orig_apply(self, batch, epoch_id, winners=winners)
            finally:
                tracer.open_epoch = None
        with tracer.bookkeeping():
            rec["delta_files"] = _delta_counts(self)
        return out

    orig_replay = P.replay_batches

    def replay_batches(self, chunk_paths, *a, **kw):
        with tracer.span("pipeline.replay", chunks=len(chunk_paths)) as rec:
            tracer.open_replay = rec
            try:
                return orig_replay(self, chunk_paths, *a, **kw)
            finally:
                tracer.open_replay = None

    orig_winners = P.prepare_winners

    def prepare_winners(self, batch):
        # inside an epoch that was handed no winners, dedup is that epoch's
        # child; otherwise it is the replay's prefetch for a later epoch
        ep = tracer.open_epoch
        parent = ep if ep is not None and ep.get("owns_dedup") else tracer.open_replay
        with tracer.span("dedup", parent=parent) as rec:
            out = orig_winners(self, batch)
        with tracer.bookkeeping():
            rec["rows_in"] = batch.count()
            rec["rows_out"] = out.count()
        return out

    wrap(P, "apply_batch", apply_batch)
    wrap(P, "replay_batches", replay_batches)
    wrap(P, "prepare_winners", prepare_winners)

    # lazy DataFrame builders: their span time is driver-only planning
    for fname in ("extract_entities", "nodes_from_entities",
                  "relations_from_entities", "docs_from_entities"):
        orig = getattr(pipeline, fname)

        def op(*a, __orig=orig, __name=fname, **kw):
            with tracer.span(f"operators.{__name}"):
                return __orig(*a, **kw)

        setattr(pipeline, fname, functools.wraps(orig)(op))

    orig_prepare = T.prepare_upsert

    def prepare_upsert(self, batch, epoch_id, *a, **kw):
        with tracer.bookkeeping():
            before = _snapshot_files(self.current())
        with tracer.span(f"lake.prepare.{_table(self)}") as rec:
            prep = orig_prepare(self, batch, epoch_id, *a, **kw)
        with tracer.bookkeeping():
            if prep is not None:
                new = ({f for fl in prep["files"].values() for f in fl}
                       | {f for fl in prep.get("delta_files", {}).values() for f in fl}) - before
                rec["rows"] = prep["metrics"].get("rows_seen", 0)
                rec["files_written"] = len(new)
                rec["bytes_written"] = sum(os.path.getsize(f) for f in new)
        return prep

    orig_commit = T.commit_prepared

    def commit_prepared(self, prep):
        with tracer.span(f"lake.commit.{_table(self)}") as rec:
            out = orig_commit(self, prep)
        with tracer.bookkeeping():
            v = self.current().version
            rec["manifest_bytes"] = os.path.getsize(
                os.path.join(self.meta_dir, f"v{v}.json"))
        return out

    orig_compact = T.compact

    def compact(self, *a, **kw):
        with tracer.span(f"lake.compact.{_table(self)}") as rec:
            out = orig_compact(self, *a, **kw)
        rec["files_in"] = out.get("compacted_files", 0)
        rec["bytes_in"] = out.get("compacted_bytes", 0)
        return out

    orig_rfk = T.read_for_keys

    def read_for_keys(self, keys_df, *a, **kw):
        with tracer.span("lake.read_for_keys", table=_table(self)):
            return orig_rfk(self, keys_df, *a, **kw)

    orig_plan = T.plan_scan

    # read_where is lazy past its scan planning, so the client opens the
    # "lake.read_where" span around the call and its action; the plan's
    # pruning counts are attached to that span
    def plan_scan(self, preds, *a, **kw):
        plan = orig_plan(self, preds, *a, **kw)
        rec = tracer.current()
        if rec is not None and rec["name"] == "lake.read_where":
            rec["files_kept"] = plan["files_kept"]
            rec["files_total"] = plan["files_total"]
        return plan

    wrap(T, "prepare_upsert", prepare_upsert)
    wrap(T, "commit_prepared", commit_prepared)
    wrap(T, "compact", compact)
    wrap(T, "read_for_keys", read_for_keys)
    wrap(T, "plan_scan", plan_scan)
