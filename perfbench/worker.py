"""One workload run in a fresh Python + JVM process (started by run.py).

Writes one result JSON: the correctness outcome, the operation counts, the
end-to-end metrics (untraced run) or the per-layer metrics (traced run), and
the report lines that name every metric the workload measures.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()  # first timed set-up starts at process start

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from contextlib import nullcontext  # noqa: E402

from flink_estimator_spark.session import get_spark  # noqa: E402
from flink_estimator_spark.sources import load_tables  # noqa: E402

from . import metrics  # noqa: E402
from .workloads import FIXTURE, Bench, make_workload  # noqa: E402

SETUP_REPS = 5


def _setup_once(b, workload, first: bool) -> dict:
    """get_spark + load_tables (workloads that read the fixture tables) +
    workload inputs.  The first set-up includes interpreter imports and the
    JVM launch; the others stop the session and build a new one in the same
    JVM."""
    if not first:
        b.spark.stop()
    t0 = T_START if first else time.perf_counter()
    b.spark = get_spark(app_name=f"perfbench-{workload.name}")
    t1 = time.perf_counter()
    if workload.reads_tables:
        load_tables(b.spark, FIXTURE)
    t2 = time.perf_counter()
    workload.prepare(b)
    t3 = time.perf_counter()
    ckpt = b.spark.sparkContext._jsc.sc().getCheckpointDir().get()
    return {"total": t3 - t0, "start": t1 - t0, "load": t2 - t1, "checkpoint_dir": ckpt}


def _run_pass(b, workload, traced: bool, pass_id, warm: bool = False) -> dict:
    b.traced = traced
    b.pass_ops, b.pass_lat, b.pass_steps, b.pass_counts = [], [], {}, {}
    if b.rec is not None:
        b.rec.pass_id = pass_id
    gc0 = b.jvm.gc_seconds() if traced else 0.0
    with b.rec.span(f"pass{pass_id}", "pass") if traced else nullcontext():
        workload.run_pass(b, warm)
    out = {
        "traced": traced,
        "pass_s": sum(dt for _, dt in b.pass_ops),
        "lat": list(b.pass_lat),
        "ops": list(b.pass_ops),
        "steps": dict(b.pass_steps),
        "counts": dict(b.pass_counts),
    }
    if traced:
        out["counts"]["jvm.gc_s"] = b.jvm.gc_seconds() - gc0
    b.traced = False
    return out


def main(argv=None) -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args(argv)

    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    b = Bench(args.work, args.seed, bool(args.trace), cores)
    workload = make_workload(args.workload)

    setups = [_setup_once(b, workload, first=(i == 0)) for i in range(SETUP_REPS)]
    timeline = {"set-up": time.perf_counter() - T_START}
    if b.tracing:
        b.attach_tracing()

    t0 = time.perf_counter()
    _run_pass(b, workload, traced=False, pass_id="warmup", warm=True)
    warmup_s = time.perf_counter() - t0
    timeline["warm-up"] = time.perf_counter() - T_START

    # Passes run until about ``--seconds`` are measured: another pass starts
    # only if half of one more would still fit, so the pass count does not
    # flip on small timing noise.  A traced run alternates untraced and
    # traced passes, so it makes at least one of each.
    passes = []
    t_measure = time.perf_counter()
    min_passes = 2 if b.tracing else 1
    while True:
        traced = b.tracing and len(passes) % 2 == 1
        passes.append(_run_pass(b, workload, traced, len(passes)))
        elapsed = time.perf_counter() - t_measure
        if len(passes) >= min_passes and elapsed + 0.5 * elapsed / len(passes) >= args.seconds:
            break
    timeline["passes"] = time.perf_counter() - T_START
    extra = workload.finish(b)
    timeline["finish"] = time.perf_counter() - T_START
    if b.listener is not None:
        time.sleep(0.5)  # let the listener bus deliver the last progress events

    result = metrics.summarize(b, workload, setups, warmup_s, passes, extra)
    result["checkpoint_dirs"] = [s["checkpoint_dir"] for s in setups]
    timeline["summary"] = time.perf_counter() - T_START
    result["report"].append(
        f"{workload.name}: worker timeline (s since start): "
        + ", ".join(f"{k} {v:.1f}" for k, v in timeline.items())
    )
    if b.rec is not None:
        spans_path = os.path.join(args.work, "spans.json")
        b.rec.write(spans_path)
        result["spans"] = spans_path
    with open(args.out, "w", encoding="utf-8") as fh:
        json.dump(result, fh)
    # no orderly session shutdown: run.py kills every process it started (JVM,
    # PySpark daemon and Python workers) and deletes the work directory
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
