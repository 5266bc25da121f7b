"""One benchmark run: a single client driving the CDC engine in a closed loop.

Run by ``perfbench/run.py`` in a fresh process whose working directory is a
private run directory and whose ``PYTHONPATH`` is the checkout root. Prints
``final_state_digest=<hex>`` and then, as the last line, the result JSON.

Order of a run:

1. set-up, timed: start the session, then construct ``CDCPipeline`` on a
   fresh warehouse three times (the last one is used);
2. input generation, timed and logged but not a metric:
   ``write_changelog_chunks(seed=<seed>)``;
3. the workload: epochs (and point reads, each checked against an
   independent last-writer-wins state computed outside the timed region);
4. the final-state check against ``expected_final_state``;
5. stop Spark, read its event log, compute the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import hashlib
import json
import os
import statistics
import sys
import time

import numpy as np
import pandas as pd

import metrics as M
import tracing
from evlog import read_jobs
from tracing import TABLES

# Fixed shape of each workload, sized so that a run (start-up, generation
# and checks included) takes about a minute on a 4-core box. Neither reaches
# the default compaction cadence (every 8th epoch), which would need a third
# epoch and about 40% more time per run. The "smoke" size (the harness
# test's) resumes the stream at epoch 5 so that its third epoch compacts.
WORKLOADS = {
    "bulk_mor": {"mode": "mor", "chunks": 2, "events_per_chunk": 20_000,
                 "reads_per_epoch": 0, "final_reads": 4, "first_epoch": 0,
                 "replay": True},
    "trickle_serve_mor": {"mode": "mor", "chunks": 2, "events_per_chunk": 2_500,
                          "reads_per_epoch": 4, "final_reads": 0,
                          "first_epoch": 0, "replay": False},
}
SMOKE = {"events_per_chunk": 500, "chunks": 3, "first_epoch": 5}
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
KEY_PREFIX = "repofs://gold."  # Amundsen table key: <db>://<cluster>.<schema>/<table>


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def dir_usage(root: str) -> tuple[int, int]:
    """(parquet data files, total bytes) under ``root``."""
    n_files = n_bytes = 0
    for d, _, files in os.walk(root):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(d, f))
            if f.endswith(".parquet"):
                n_files += 1
    return n_files, n_bytes


def lww_state(events: pd.DataFrame) -> pd.DataFrame:
    """Independent last-writer-wins state per (repo, path): the event with
    the greatest (event_ts, commit), deletes included (they win too)."""
    last = events.sort_values(["event_ts", "commit"]).groupby(
        ["repo", "path"], sort=False).tail(1)
    return last.set_index(["repo", "path"])


def expected_doc(state: pd.DataFrame, repo: str, path: str) -> tuple[int, int | None]:
    """(row count, last_updated_timestamp) a point read must return."""
    if (repo, path) not in state.index:
        return 0, None
    row = state.loc[(repo, path)]
    if row["op"] == "delete":
        return 0, None
    return 1, int(pd.Timestamp(row["event_ts"]).timestamp())


def frame_digest(df: pd.DataFrame) -> str:
    h = hashlib.sha256()
    for row in df.itertuples(index=False):
        h.update(repr(tuple(row)).encode())
    return h.hexdigest()


class Run:
    def __init__(self, args):
        self.args = args
        self.cfg = dict(WORKLOADS[args.workload])
        if args.size == "smoke":
            self.cfg.update(SMOKE)
        self.nproc = len(os.sched_getaffinity(0))
        self.work = os.getcwd()
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.epoch_walls: list[float] = []
        self.windows: list[tuple[float, float]] = []
        self.read_ms: list[float] = []
        self.span = lambda name, **attrs: contextlib.nullcontext()

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        log(f"MISMATCH: {msg}")

    # -- set-up ---------------------------------------------------------------

    def setup(self):
        from amundsendatabuilder_spark.session import get_spark
        from amundsendatabuilder_spark.streaming.pipeline import CDCPipeline

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.args.workload}",
            master=f"local[{self.nproc}]",
            shuffle_partitions=self.nproc,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work}/tmp",
                "spark.local.dir": f"{self.work}/local",
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": f"{self.work}/events",
                "spark.eventLog.compress": "false",
                "spark.sql.warehouse.dir": f"{self.work}/spark-warehouse",
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark_version = self.spark.version
        session_s = time.perf_counter() - t0
        ctor_s = []
        for i in range(SETUP_REPEATS):
            t = time.perf_counter()
            pipe = CDCPipeline(self.spark, f"{self.work}/wh{i}",
                               table_mode=self.cfg["mode"])
            ctor_s.append(time.perf_counter() - t)
        self.pipe = pipe
        self.wh = f"{self.work}/wh{SETUP_REPEATS - 1}"
        self.setup_s = session_s + statistics.median(ctor_s)
        log(f"setup: session {session_s:.3f}s, ctor {[round(c, 3) for c in ctor_s]}")

    def generate(self):
        from amundsendatabuilder_spark.sources.changelog import write_changelog_chunks

        t = time.perf_counter()
        n = self.cfg["chunks"] * self.cfg["events_per_chunk"]
        self.n_events = n
        self.chunks = write_changelog_chunks(
            self.spark, f"{self.work}/src", n, self.cfg["chunks"], seed=self.args.seed)
        self.chunk_events = [pd.read_parquet(p, columns=[
            "event_ts", "op", "repo", "path", "commit"]) for p in self.chunks]
        log(f"generate: {n} events in {len(self.chunks)} chunks, "
            f"{time.perf_counter() - t:.3f}s")

    # -- the workload -----------------------------------------------------------

    def read_keys(self, i: int, k: int) -> list[tuple[str, str]]:
        keys = self.chunk_events[i][["repo", "path"]].drop_duplicates()
        keys = keys.sort_values(["repo", "path"]).to_numpy()
        rng = np.random.default_rng([self.args.seed, i])
        pick = rng.choice(len(keys), size=min(k, len(keys)), replace=False)
        return [tuple(keys[j]) for j in pick]

    def point_reads(self, i: int, k: int) -> None:
        """``k`` key-equality reads on search_documents for keys of chunk
        ``i``, timed one by one; checked after timing."""
        keys = self.read_keys(i, k)
        results = []
        for repo, path in keys:
            self.attempted += 1
            t = time.perf_counter()
            try:
                with self.span("lake.read_where", table="search_documents"):
                    rows = self.pipe.search_documents.read_where(
                        [("key", "=", f"{KEY_PREFIX}{repo}/{path}")]).collect()
            except Exception as e:  # a failed read is a failed operation
                self.fail(f"read {repo}/{path}: {e!r}")
                continue
            self.read_ms.append((time.perf_counter() - t) * 1000)
            results.append((repo, path, rows))
        state = lww_state(pd.concat(self.chunk_events[: i + 1]))
        for repo, path, rows in results:
            n, ts = expected_doc(state, repo, path)
            got = [(r["schema"], r["name"], r["last_updated_timestamp"]) for r in rows]
            want = [(repo, path, ts)] if n else []
            if got != want:
                self.fail(f"read {repo}/{path} after chunk {i}: got {got}, want {want}")

    def ingest(self):
        from amundsendatabuilder_spark.sources.changelog import CHANGELOG_SCHEMA

        cfg = self.cfg
        first = cfg["first_epoch"]
        if cfg["replay"]:
            self.attempted += len(self.chunks)
            t0 = time.time()
            try:
                out = self.pipe.replay_batches(self.chunks, start_epoch=first)
            except Exception as e:
                self.fail(f"replay: {e!r}")
                return
            self.windows.append((t0, time.time()))
            self.epoch_walls = [m["wall_sec"] for m in out]
        else:
            for i, path in enumerate(self.chunks):
                self.attempted += 1
                batch = self.spark.read.schema(CHANGELOG_SCHEMA).parquet(path)
                t0 = time.time()
                try:
                    self.pipe.apply_batch(batch, first + i)
                except Exception as e:
                    self.fail(f"epoch {first + i}: {e!r}")
                    return
                t1 = time.time()
                self.windows.append((t0, t1))
                self.epoch_walls.append(t1 - t0)
                if cfg["reads_per_epoch"]:
                    self.point_reads(i, cfg["reads_per_epoch"])
        if cfg["final_reads"]:
            self.point_reads(len(self.chunks) - 1, cfg["final_reads"])

    def storage(self):
        """Live bytes of the four tables' current snapshots."""
        total = 0
        for t in TABLES:
            snap = getattr(self.pipe, t).current()
            files = [f for fl in snap.files.values() for f in fl] + [
                f for fl in snap.delta_files.values() for f in fl]
            total += sum(os.path.getsize(f) for f in files)
        return total

    def final_check(self) -> tuple[int, str]:
        from amundsendatabuilder_spark.sources.changelog import (
            changelog_df, expected_final_state)

        self.attempted += 1
        cols = ["repo", "path", "commit", "lang", "content", "event_ts"]
        got = self.pipe.current_entities().select(*cols).toPandas()
        want = expected_final_state(
            changelog_df(self.spark, self.n_events, seed=self.args.seed)
        ).select(*cols).toPandas()
        got = got.sort_values(["repo", "path"]).reset_index(drop=True)
        want = want.sort_values(["repo", "path"]).reset_index(drop=True)
        if not got.equals(want):
            merged = got.merge(want, how="outer", indicator=True)
            bad = merged[merged["_merge"] != "both"]
            self.fail(f"final state: {len(got)} rows vs {len(want)} expected, "
                      f"{len(bad)} rows differ")
        return len(got), frame_digest(got)

    def peak_rss_mb(self) -> float:
        """Sum of each process's own peak resident set (the kernel's
        high-water mark): this Python driver, the JVM, and the Python
        workers the JVM started. Read before Spark stops, so the workers
        are still alive; a forked worker's pages shared with its parent
        count once per worker."""
        import resource
        from pyspark import SparkContext

        jvm = SparkContext._gateway.proc.pid
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                try:
                    with open(f"/proc/{d}/stat") as fh:
                        stat = fh.read()
                except OSError:
                    continue  # the process ended while we looked
                ppid = int(stat[stat.rfind(")") + 2:].split()[1])
                children.setdefault(ppid, []).append(int(d))
        kib, todo = 0, [jvm]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/status") as fh:
                    kib += next(int(line.split()[1]) for line in fh
                                if line.startswith("VmHWM:"))
            except (OSError, StopIteration):
                pass
        kib += resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return kib / 1024

    def stop(self):
        from pyspark import SparkContext

        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            if proc is not None:
                proc.stdin.close()
                proc.wait(timeout=60)
            SparkContext._gateway = None
            SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--spans-out", default=None)
    args = ap.parse_args(argv)

    run = Run(args)
    run.setup()
    run.generate()
    tracer = None
    if args.trace:
        tracer = tracing.Tracer(run.spark.sparkContext,
                                f"{args.workload}-s{args.seed}")
        tracing.install(tracer)
        run.span = tracer.span
    files0, bytes0 = dir_usage(run.wh)
    run.ingest()
    files1, bytes1 = dir_usage(run.wh)
    log(f"epochs {[round(w, 2) for w in run.epoch_walls]}s, "
        f"reads {[round(r) for r in run.read_ms]}ms")
    live_bytes = run.storage()
    t = time.perf_counter()
    live_rows, digest = run.final_check()
    log(f"final check: {live_rows} live rows, {time.perf_counter() - t:.3f}s")
    peak_mb = run.peak_rss_mb()
    run.stop()

    resolved = {"nproc": run.nproc, "table_mode": run.pipe.table_mode,
                "parallel_prepare": run.pipe.parallel_prepare,
                "n_buckets": run.pipe.repo_files.current().n_buckets,
                "spark": run.spark_version, "driver_memory": DRIVER_MEMORY,
                "events": run.n_events, "epochs": len(run.chunks),
                "first_epoch": run.cfg["first_epoch"]}
    if run.errors:
        log(f"{len(run.errors)} failed operation(s)")

    jobs = read_jobs(f"{run.work}/events")
    if tracer is None:
        metrics = M.end_to_end(run, jobs, files1 - files0, bytes1 - bytes0,
                               live_bytes, live_rows, peak_mb)
    else:
        metrics = M.per_layer(run, jobs, tracer)
        if args.spans_out:
            tracer.write(args.spans_out)
    print(f"resolved={json.dumps(resolved, sort_keys=True)}")
    print(f"final_state_digest={digest}", flush=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0 if run.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
