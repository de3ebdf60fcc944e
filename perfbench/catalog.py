"""What the benchmark runs and reports: the queries of the Plane-B workload
and the metric names with their units.  Kept free of
Spark imports so run.py and the tests can read it cheaply."""

from __future__ import annotations

# The Plane-B workload's queries: two TPC-H queries (JVM-only relational
# work), two LLM-pipeline operators (Python/Arrow UDFs, fan-out join) and
# one streaming runtime query (state store, checkpoint/WAL, restart).  The
# list is short so that a run, which pays ~10 s for the interpreter, JVM and
# a cold warm-up pass before it measures, fits the benchmark's time budget
# even on a contended host; perfbench/NOTES.md names the queries left out.
PLANE_B = (
    "q1_pricing_summary", "q21_sole_late_shipper",
    "q_fuzzy_name_pairs", "q_bpe_encode_cert",
    "q_stream_restart_runtime",
)

# End-to-end metrics of every workload (untraced run), with their units.
END_TO_END = (("setup_s", "s"), ("pass_s", "s"), ("peak_rss_mb", "MB"))

# Per-layer metric names, in the order BENCHMARK.json lists them.  Every
# traced run prints all of them; a layer a workload never calls reads 0.
_LAYER_BASE = (
    "session.start_s", "session.warmup_s", "jvm.gc_s", "jvm.heap_peak_mb",
    "sources.load_s",
    "plans.build_s", "plans.plan_s", "plans.exec_s",
    "plans.jobs", "plans.stages", "plans.tasks",
    "streaming.batches", "streaming.input_rows", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.commit_ms", "streaming.state_rows",
    "streaming.state_mem_mb", "streaming.state_commit_ms",
    "calculus.validate_us", "calculus.normalize_us", "calculus.sizing_core_us",
    "calculus.scaling_us", "calculus.scenarios_per_s",
    "estimator.estimate_p50_ms", "estimator.estimate_p99_ms", "estimator.estimate_eps",
    "engine.exec_s", "engine.error_rows", "engine.kernel_share", "engine.arrow_fail_frac",
    "serve.p50_s", "serve.p90_s", "serve.files", "serve.batches",
    "serve.batch_rows_p50", "serve.batch_p50_ms", "serve.gen_late_s", "serve.backlog_files",
    "persistence.save_s", "persistence.load_s", "persistence.bytes_per_row",
    "persistence.rows_per_s",
    "trace.overhead_s", "trace.spans",
    "self.pass_s", "self.op_s", "self.build_s", "self.exec_s", "self.request_s",
)
PER_LAYER = _LAYER_BASE + tuple(
    f"q.{q}.{part}_s" for q in PLANE_B for part in ("build", "plan", "exec")
)
# unit by name suffix, first match wins; anything else is a count
_UNIT_SUFFIXES = (
    ("_per_s", "1/s"), ("_eps", "1/s"), ("_per_row", "B"), ("_frac", "ratio"),
    ("_share", "ratio"), ("_us", "us"), ("_ms", "ms"), ("_mb", "MB"), ("_s", "s"),
)


def layer_unit(name: str) -> str:
    for suffix, unit in _UNIT_SUFFIXES:
        if name.endswith(suffix):
            return unit
    return "count"
