"""Benchmark entry point.

    python3 perfbench/run.py --workload {estimator,queries} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Each call starts one fresh Python + JVM worker
process for the workload (perfbench/worker.py), pins its environment, samples
the resident memory of the worker's whole process tree from /proc, and stops
every process it started, and waits for each, before it exits.  It prints a report naming every
metric the workload measures, then one JSON line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``; the spans are written to .perfbench_work/spans-<workload>.json).
The exit code is nonzero when any output differs from its reference or the
worker fails.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import measure  # noqa: E402
from perfbench.catalog import END_TO_END, layer_unit  # noqa: E402

WORKLOADS = ("estimator", "queries")
# The driver JVM is the only executor in local mode.  A fixed heap (initial
# = maximum), touched in full at launch, keeps its resident size from
# following how far the collector has walked the heap: without the pre-touch
# the JVM's resident size read either ~2.2 or ~2.5 GB in otherwise equal runs.
DRIVER_MEM = "2g"
WORKER_TIMEOUT_S = 170.0
MEM_SAMPLE_S = 0.1


PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Make every orphaned descendant a child of this process instead of
    init.  The PySpark daemon moves itself into a process group of its own
    and outlives the JVM that started it; as a subreaper, this process
    still sees it (and its forked workers) and can kill and reap it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER) failed")


def _stop_all(proc: subprocess.Popen) -> None:
    """Kill the worker and every process descended from this one (the JVM,
    the PySpark daemon and its Python workers, whatever process group or
    session they moved to) and wait until each has ended and been reaped."""
    me = os.getpid()
    deadline = time.monotonic() + 30.0
    proc.kill()
    proc.wait()
    while True:
        live = [pid for pid in measure.descendants(me) if pid != me]
        for pid in live:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            if not live:
                return
        if time.monotonic() > deadline:
            raise RuntimeError(f"processes {live} survived SIGKILL")
        time.sleep(0.05)


def _host_probe_ms() -> float:
    """Best of three runs of a fixed allocation-heavy Python loop.  Printed
    with every run so that a run on a contended host can be told apart
    afterwards (neighbours contending for memory slow the estimator's
    object-heavy kernel about 2x while a register-bound loop barely moves)."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        rows = [{"i": i, "pair": [i, i + 1], "name": str(i)} for i in range(30_000)]
        del rows
        best = min(best, time.perf_counter() - t0)
    return 1000.0 * best


def _worker_env(work: str) -> dict:
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    env = dict(os.environ)
    env.pop("OMP_NUM_THREADS", None)
    env.update({
        # Python workers import the package and tests.scenarios from the root
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-memory {DRIVER_MEM} --driver-java-options "
            f"'-Xms{DRIVER_MEM} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
            f"pyspark-shell"
        ),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
    })
    return env


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops every process it started (finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    for needed in ("flink_estimator_spark/__init__.py", "tests/scenarios.py", "perfbench/digests.json"):
        if not os.path.isfile(os.path.join(ROOT, needed)):
            print(f"perfbench: {needed} not found under {ROOT}; run from a full checkout",
                  file=sys.stderr)
            return 2

    base = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out_path = os.path.join(work, "result.json")
    log_path = os.path.join(work, "worker.log")
    cmd = [
        sys.executable, "-m", "perfbench.worker",
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", out_path,
    ]
    probe_ms = _host_probe_ms()
    _become_subreaper()
    peak = 0
    t_run = time.monotonic()
    with open(log_path, "wb") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, env=_worker_env(work), stdout=log,
                                stderr=subprocess.STDOUT, start_new_session=True)
        deadline = time.monotonic() + WORKER_TIMEOUT_S
        try:
            while proc.poll() is None:
                peak = max(peak, measure.tree_pss_bytes(proc.pid))
                if time.monotonic() > deadline:
                    print("perfbench: worker timed out", file=sys.stderr)
                    break
                time.sleep(MEM_SAMPLE_S)
        finally:
            t_exit = time.monotonic()
            _stop_all(proc)
    t_stopped = time.monotonic()

    if proc.returncode != 0 or not os.path.isfile(out_path):
        with open(log_path, "rb") as fh:
            tail = fh.read()[-4000:].decode(errors="replace")
        print(f"perfbench: worker exited with {proc.returncode}; log kept at {log_path}\n{tail}",
              file=sys.stderr)
        return 1
    with open(out_path, encoding="utf-8") as fh:
        res = json.load(fh)
    for ckpt in res["checkpoint_dirs"]:  # the sessions' RDD checkpoint files
        shutil.rmtree(ckpt.removeprefix("file:"), ignore_errors=True)

    peak_mb = peak / 2**20
    for line in res["report"]:
        print(line)
    print(f"{args.workload}: peak_rss_mb={peak_mb:.1f} MB (summed PSS of driver, JVM and Python workers)")
    print(f"{args.workload}: run wall {t_stopped - t_run:.1f} s, of which stopping its "
          f"processes {t_stopped - t_exit:.2f} s; host probe {probe_ms:.2f} ms")
    for msg in res["mismatches"]:
        print(f"MISMATCH {msg}", file=sys.stderr)

    if args.trace:
        spans = os.path.join(base, f"spans-{args.workload}.json")
        os.replace(res["spans"], spans)
        print(f"{args.workload}: spans written to {os.path.relpath(spans, ROOT)}")
        metrics = {k: {"value": v, "unit": layer_unit(k)} for k, v in res["layer"].items()}
    else:
        values = dict(res["e2e"], peak_rss_mb=peak_mb)
        metrics = {k: {"value": values[k], "unit": unit} for k, unit in END_TO_END}
    shutil.rmtree(work, ignore_errors=True)
    line = {"correct": res["correct"], "attempted": res["attempted"],
            "failed": res["failed"], "metrics": metrics}
    sys.stdout.flush()
    print(json.dumps(line))
    return 0 if res["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
