"""CDC ingest-and-serve benchmark: one command per workload run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run happens in a fresh child process
(``perfbench/workload.py``) inside a private directory under
``.perfbench_tmp/`` in the checkout, which holds the warehouse, the
changelog, Spark's local and temp dirs and its event log, and is removed
afterwards. The child's stdout is passed through only when its last line is
a result.

``--seconds`` is the nominal length of the measured phase. The work in a run
is fixed per workload (so every run measures the same thing) and sized to
take about that long on a 4-core box; the run is stopped if it takes longer
than ``TIMEOUT_S``. Exit status is 0 only when every operation succeeded and
every output matched its independently computed expectation.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "amundsendatabuilder_spark"
TIMEOUT_S = 170


def session_pids(sid: int) -> list[int]:
    """Live processes of session ``sid``. The run's child leads its own
    session; the JVM and Python workers stay in it even where they start a
    process group of their own (the pyspark daemon does)."""
    pids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue  # the process ended while we looked
        # fields after the parenthesised command name: state ppid pgrp session
        fields = stat[stat.rfind(")") + 2:].split()
        if int(fields[3]) == sid and fields[0] != "Z":
            pids.append(int(d))
    return pids


def stop_session(sid: int, timeout: float = 30.0) -> None:
    """Kill what is left of session ``sid`` and wait until it is gone."""
    deadline = time.monotonic() + timeout
    while (pids := session_pids(sid)) and time.monotonic() < deadline:
        for pid in pids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.1)


def child_env(run_dir: str) -> dict[str, str]:
    """The environment of a run: no engine or session switches, temp files
    in the run dir, and the checkout on the path of Spark's Python workers."""
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_CDC_", "SPARK_GRAFT_", "PYSPARK_SUBMIT"))}
    env.pop("SPARK_DRIVER_MEMORY", None)
    env.update({
        "PYTHONPATH": os.pathsep.join([ROOT, HERE]),
        "PYTHONDONTWRITEBYTECODE": "1",
        "TMPDIR": os.path.join(run_dir, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
    })
    return env


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: a tiny run for the harness test")
    ap.add_argument("--spans-out", default=None,
                    help="traced runs: write the spans (JSON lines) here; "
                         "default .perfbench_out/spans_<workload>_<seed>.jsonl")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE}/ not found under {ROOT}",
              file=sys.stderr)
        return 2

    tmp_root = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(tmp_root, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=tmp_root)
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(run_dir, sub))
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--trace", str(args.trace), "--size", args.size]
    if args.trace:
        spans_out = args.spans_out or os.path.join(
            ROOT, ".perfbench_out", f"spans_{args.workload}_{args.seed}.jsonl")
        os.makedirs(os.path.dirname(os.path.abspath(spans_out)), exist_ok=True)
        cmd += ["--spans-out", os.path.abspath(spans_out)]

    # a terminated benchmark still stops its run (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    proc = subprocess.Popen(cmd, cwd=run_dir, env=child_env(run_dir),
                            stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S}s", file=sys.stderr)
        out = None
    finally:
        proc.kill()
        proc.wait()
        stop_session(proc.pid)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(tmp_root)
        except OSError:
            pass  # another run is still using it
    if out is None:
        return 3

    lines = out.strip().splitlines()
    try:
        result = json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        result = None
    if not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(out)
        print(f"perfbench: run failed (exit {proc.returncode}), no result",
              file=sys.stderr)
        return proc.returncode or 4
    sys.stdout.write(out)
    return proc.returncode

if __name__ == "__main__":
    sys.exit(main())
