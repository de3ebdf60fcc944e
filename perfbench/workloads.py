"""The two benchmark workloads and the run state they share.

Every timed call consumes every output column: query results come back to the
driver through ``toArrow`` and estimator results through ``to_json`` of the
whole row, so Catalyst cannot prune the work being measured (a ``.count()``
drops the sizing UDF from the plan entirely).  Outputs are checked after each
timed call, outside its timing: query results against digests of the DuckDB
oracle's output, estimator rows against ``estimate_scenario`` on the same
scenario.
"""

from __future__ import annotations

import json
import os
import random
import shutil
import sys
import threading
import time
import traceback
from contextlib import contextmanager, nullcontext

from pyspark.sql import functions as F

from flink_estimator_spark.estimator import calculus, estimate_df, estimate_stream, scenario_schema
from flink_estimator_spark.estimator.calculus import Scenario, estimate_scenario
from flink_estimator_spark.estimator.persistence import envelope_df, load_saved_df, save_estimations_df
from flink_estimator_spark.plans import QUERIES

from . import measure
from .catalog import PLANE_B
from .tracing import JobCounter, JvmMeter, ProgressCapture, SpanRecorder

HERE = os.path.dirname(os.path.abspath(__file__))
FIXTURE = os.path.join(HERE, "fixture", "sf0.01")
DIGESTS = os.path.join(HERE, "digests.json")


# The estimator's scenario corpus is fixed and the seed permutes and names
# it: per-scenario kernel cost spans 34 us to 12 s, so a freshly drawn corpus
# would make a run's cost hinge on whether one extreme scenario is drawn
# (200-scenario totals of 0.03 s to 4.1 s over seeds 1-10).  Seed 11 is the
# corpus the engine was sized on: 29 of its 200 scenarios are invalid.
CORPUS_SEED = 11
CORPUS_SIZE = 200
REQUESTS_PER_PASS = 400  # closed-loop estimate_scenario calls: 2 x the corpus
BATCH_ROWS = 2000  # estimate_df table: 10 x the corpus
PERSIST_ROWS = 200  # envelope write + read-back (traced runs)
ARROW_ROWS = 200  # estimate_df(...).toArrow() probe
# The warm-up pass runs every operation once at a small size: enough to
# start the Python workers and compile the plans, and one request per
# corpus scenario to record the expected results.
WARM_BATCH_ROWS = 200
WARM_PERSIST_ROWS = 50
SERVE_FILES_PER_S = 5  # open-loop arrivals ...
SERVE_FILE_ROWS = 200  # ... of this many scenarios: 1,000 scenarios/s
SERVE_SECONDS = 3
SERVE_DRAIN_S = 30.0
SAVED_AT = "2026-01-01 00:00:00"


class Bench:
    """State of one workload run: session, seeded RNG, timings, outcome
    counts and, in a traced run, the instruments."""

    def __init__(self, work: str, seed: int, tracing: bool, cores: int) -> None:
        self.work = work
        self.rng = random.Random(seed)
        self.tracing = tracing
        self.cores = cores
        self.spark = None
        self.rec = SpanRecorder() if tracing else None
        self.listener = None
        self.jobs = None
        self.jvm = None
        self.traced = False  # the current pass is traced
        self.attempted = 0
        self.failed = 0
        self.mismatches: list[str] = []
        self.pass_ops: list[tuple[str, float]] = []
        self.pass_lat: list[float] = []
        self.pass_steps: dict[str, float] = {}
        self.pass_counts: dict[str, float] = {}

    def attach_tracing(self) -> None:
        self.jobs = JobCounter(self.spark)
        self.jvm = JvmMeter(self.spark)
        self.listener = ProgressCapture(self.rec)
        self.spark.streams.addListener(self.listener)
        self.jvm.reset_peak()

    def span(self, name: str, kind: str):
        return self.rec.span(name, kind) if self.traced else nullcontext()

    @contextmanager
    def op(self, name: str):
        """One timed operation; its wall time joins the pass's op list."""
        group = self.jobs.begin(name) if self.traced else None
        t0 = time.perf_counter()
        with self.span(name, "op"):
            yield
        self.pass_ops.append((name, time.perf_counter() - t0))
        if group is not None:
            for k, v in self.jobs.count(group).items():
                self.pass_counts[f"plans.{k}"] = self.pass_counts.get(f"plans.{k}", 0) + v

    @contextmanager
    def step(self, key: str, kind: str):
        """A timed part of an operation (build, plan, exec, save, load)."""
        t0 = time.perf_counter()
        with self.span(key, kind):
            yield
        self.pass_steps[key] = self.pass_steps.get(key, 0.0) + time.perf_counter() - t0

    def attempt(self, name: str, fn) -> None:
        """Run one operation, counting it; an exception counts as failed."""
        self.attempted += 1
        try:
            fn()
        except Exception:  # a failing operation is a measured outcome
            self.failed += 1
            print(f"operation {name} failed:", file=sys.stderr)
            traceback.print_exc()

    def mismatch(self, msg: str) -> None:
        if len(self.mismatches) < 50:
            self.mismatches.append(msg)
        print("MISMATCH", msg, file=sys.stderr)


# ---------------------------------------------------------------------------
# Plane B: registered queries
# ---------------------------------------------------------------------------


class QueryWorkload:
    """One pass runs each query of the list once, in seeded order; the
    operation is the builder call through the last Arrow byte."""

    name = "queries"
    reads_tables = True

    def __init__(self) -> None:
        self.queries = PLANE_B
        with open(DIGESTS, encoding="utf-8") as fh:
            self.digests = json.load(fh)
        missing = [q for q in self.queries if q not in self.digests]
        if missing:
            raise RuntimeError(f"no stored digest for {missing}")

    def prepare(self, b: Bench) -> None:
        pass

    def run_pass(self, b: Bench, warm: bool) -> None:
        order = list(self.queries)
        b.rng.shuffle(order)
        for q in order:
            b.attempt(q, lambda q=q: self._one(b, q))

    def _one(self, b: Bench, q: str) -> None:
        spec = QUERIES[q]
        with b.op(q):
            with b.step(f"q.{q}.build_s", "build"):
                df = spec.builder(b.spark, FIXTURE)
            if b.traced:
                with b.step(f"q.{q}.plan_s", "plan"):
                    df._jdf.queryExecution().executedPlan()
            with b.step(f"q.{q}.exec_s", "exec"):
                table = df.toArrow()
        b.pass_lat.append(b.pass_ops[-1][1])
        got = measure.digest_arrow(table)
        want = self.digests[q]
        if got != want:
            b.mismatch(f"{q}: digest {got} != stored {want}")

    def finish(self, b: Bench) -> dict:
        return {}


# ---------------------------------------------------------------------------
# Plane A: the estimator
# ---------------------------------------------------------------------------


def corpus() -> list[dict]:
    from tests.scenarios import random_scenarios

    return random_scenarios(CORPUS_SIZE, seed=CORPUS_SEED)


def batch_action(df):
    """The estimator's timed action: every result column, serialized."""
    return estimate_df(df).select(F.to_json(F.struct("*")).alias("j"))


def _scenario_row(kw: dict, name: str) -> tuple:
    s = Scenario(**dict(kw, project_name=name))
    return tuple(getattr(s, f.name) for f in scenario_schema.fields)


def _base_of(name: str) -> int:
    """Corpus index encoded in a generated project name (``..._c<idx>``)."""
    return int(name.rsplit("_c", 1)[1])


class EstimatorWorkload:
    """One pass: closed-loop single requests and one ``estimate_df`` batch.
    Traced runs add, after the passes, one envelope write/read round trip
    and one open-loop ``estimate_stream`` serve phase."""

    name = "estimator"
    reads_tables = False  # the scenarios are built in the driver

    def __init__(self) -> None:
        self.corpus = corpus()
        self.expected: dict[int, dict] = {}  # corpus index -> estimate_scenario result
        self.arrow_probes = 0
        self.arrow_failures = 0
        self._persist_n = 0

    def _names(self, b: Bench, n: int, prefix: str) -> list[tuple[str, int]]:
        perm = list(range(CORPUS_SIZE))
        out = []
        for i in range(n):
            if i % CORPUS_SIZE == 0:
                b.rng.shuffle(perm)
            base = perm[i % CORPUS_SIZE]
            out.append((f"{prefix}{i}_c{base}", base))
        return out

    def prepare(self, b: Bench) -> None:
        def frame(n, prefix, parts):
            names = self._names(b, n, prefix)
            rows = [_scenario_row(self.corpus[base], nm) for nm, base in names]
            df = b.spark.createDataFrame(rows, scenario_schema).repartition(parts)
            return df, [base for _, base in names]

        self.batch_frames = {False: frame(BATCH_ROWS, "b", b.cores), True: frame(WARM_BATCH_ROWS, "wb", b.cores)}
        self.persist_frames = {False: frame(PERSIST_ROWS, "p", b.cores),
                               True: frame(WARM_PERSIST_ROWS, "wp", b.cores)}
        self.arrow_df, _ = frame(ARROW_ROWS, "a", 1)

    # -- checks --------------------------------------------------------------

    def _expect(self, base: int) -> dict:
        return measure.drop_nulls(self.expected[base])

    def _check_json_rows(self, b: Bench, what: str, rows: list[str], n_expected: int) -> int:
        errors = 0
        if len(rows) != n_expected:
            b.mismatch(f"{what}: {len(rows)} rows, expected {n_expected}")
        for text in rows:
            got = json.loads(text)
            base = _base_of(got.pop("project_name"))
            if "error" in got:
                errors += 1
            if got != self._expect(base):
                b.mismatch(f"{what}: scenario c{base} differs from estimate_scenario")
        return errors

    # -- pass ----------------------------------------------------------------

    def run_pass(self, b: Bench, warm: bool) -> None:
        self._requests(b, CORPUS_SIZE if warm else REQUESTS_PER_PASS)
        b.attempt("estimate_df", lambda: self._batch(b, *self.batch_frames[warm]))
        if not warm:
            self._arrow_probe(b)

    def _requests(self, b: Bench, n: int) -> None:
        order = []
        while len(order) < n:
            perm = list(range(CORPUS_SIZE))
            b.rng.shuffle(perm)
            order.extend(perm)
        saved = {}
        if b.traced:  # spans around the calculus parts estimate_scenario calls
            for fn in ("validate_scenario", "normalize_scenario", "sizing_core", "scaling_recommendations"):
                saved[fn] = getattr(calculus, fn)
                setattr(calculus, fn, b.rec.wrap(saved[fn], f"calculus.{fn}", "calculus"))
        try:
            lat = []
            with b.span("requests", "phase"):
                for base in order:
                    kw = self.corpus[base]
                    b.attempted += 1
                    t0 = time.perf_counter()
                    with b.span("estimate_scenario", "request"):
                        res = estimate_scenario(Scenario(**kw))
                    lat.append(time.perf_counter() - t0)
                    known = self.expected.setdefault(base, res)
                    if known != res:
                        b.mismatch(f"request c{base}: result changed between calls")
        finally:
            for fn, orig in saved.items():
                setattr(calculus, fn, orig)
        b.pass_ops.append(("requests", sum(lat)))
        b.pass_lat.extend(lat)

    def _batch(self, b: Bench, frame, bases: list[int]) -> None:
        with b.op("estimate_df"):
            with b.step("engine.build_s", "build"):
                df = batch_action(frame)
            if b.traced:
                with b.step("engine.plan_s", "plan"):
                    df._jdf.queryExecution().executedPlan()
            with b.step("engine.exec_s", "exec"):
                table = df.toArrow()
        errors = self._check_json_rows(b, "estimate_df", table.column(0).to_pylist(), len(bases))
        b.pass_counts["engine.error_rows"] = errors

    def _persist(self, b: Bench, frame, bases: list[int]) -> None:
        self._persist_n += 1
        path = os.path.join(b.work, "persist", f"run{self._persist_n}")
        with b.op("persist"):
            with b.step("persistence.save_s", "save"):
                env = envelope_df(frame, estimate_df(frame), SAVED_AT)
                save_estimations_df(env, path)
            with b.step("persistence.load_s", "load"):
                table = load_saved_df(b.spark, path).select(F.to_json(F.struct("*"))).toArrow()
        size = sum(
            os.path.getsize(os.path.join(path, f)) for f in os.listdir(path) if f.endswith(".json")
        )
        rows = table.column(0).to_pylist()
        valid = sum(1 for base in bases if "error" not in self._expect(base))
        if len(rows) != valid:
            b.mismatch(f"persist: read back {len(rows)} envelopes, expected {valid}")
        for text in rows:
            env_row = json.loads(text)
            base = _base_of(env_row["input_parameters"]["project_name"])
            want = {k: v for k, v in self._expect(base).items() if k != "error"}
            if env_row["estimation_results"] != want or env_row["version"] != "1.0":
                b.mismatch(f"persist: envelope of c{base} differs from estimate_scenario")
        b.pass_counts["persistence.bytes"] = size
        b.pass_counts["persistence.rows"] = len(rows)
        shutil.rmtree(path, ignore_errors=True)

    def _arrow_probe(self, b: Bench) -> None:
        """``estimate_df(...).toArrow()`` on a slice holding invalid
        scenarios.  It raises ArrowInvalid today (null result structs carry
        non-nullable fields); the outcome is counted, not routed around."""
        self.arrow_probes += 1
        try:
            table = estimate_df(self.arrow_df).toArrow()
        except Exception as exc:  # the known defect surfaces as ArrowInvalid
            self.arrow_failures += 1
            print(f"arrow probe failed: {type(exc).__name__}", file=sys.stderr)
            return
        for row in table.to_pylist():
            base = _base_of(row.pop("project_name"))
            if measure.drop_nulls(row) != self._expect(base):
                b.mismatch(f"arrow probe: scenario c{base} differs from estimate_scenario")

    # -- traced runs: persistence and the open-loop serve phase ---------------

    def finish(self, b: Bench) -> dict:
        # Traced runs only; their figures are per-layer metrics.  An untraced
        # run cannot spare their ~30 s within the time budget, and the
        # round trip's wall time alone swung 6.3-10.9 s between runs (shuffle
        # and file output on a shared disk), wider than pass_s may move.
        if not b.tracing:
            return {}
        extra = self._persist_phase(b)
        extra.update(serve_phase(self, b))
        return extra

    def _persist_phase(self, b: Bench) -> dict:
        """A cold round trip on a small slice, then one timed and traced."""
        b.attempt("persist", lambda: self._persist(b, *self.persist_frames[True]))
        b.pass_steps, b.pass_counts = {}, {}
        b.traced, b.rec.pass_id = True, "persist"
        try:
            b.attempt("persist", lambda: self._persist(b, *self.persist_frames[False]))
        finally:
            b.traced = False
        figures = {**b.pass_steps, **b.pass_counts}
        return {k: v for k, v in figures.items() if k.startswith("persistence.")}


def serve_phase(w: EstimatorWorkload, b: Bench) -> dict:
    """Scenario files are due on a fixed schedule into ``estimate_stream``;
    a file's latency runs from its due time until its last row has reached
    the ``foreachBatch`` sink.  The schedule never waits for the system."""
    root = os.path.join(b.work, "serve")
    shutil.rmtree(root, ignore_errors=True)
    in_dir, stage = os.path.join(root, "in"), os.path.join(root, "stage")
    os.makedirs(in_dir)
    os.makedirs(stage)
    n_files = SERVE_SECONDS * SERVE_FILES_PER_S
    payload = {}
    for k in ["w"] + list(range(n_files)):
        lines = [
            json.dumps(dict(w.corpus[base], project_name=nm))
            for nm, base in w._names(b, SERVE_FILE_ROWS, f"f{k}_")
        ]
        payload[k] = "\n".join(lines) + "\n"

    lock = threading.Lock()
    arrived: dict = {}
    done_at: dict = {}
    batches: list[tuple[float, int]] = []
    texts: list[str] = []

    def sink(df, _batch_id):
        t0 = time.perf_counter()
        table = df.select("project_name", F.to_json(F.struct("*")).alias("j")).toArrow()
        t1 = time.perf_counter()
        names = table.column(0).to_pylist()
        with lock:
            batches.append((t1 - t0, len(names)))
            texts.extend(table.column(1).to_pylist())
            for nm in names:
                k = nm[1:nm.index("_")]
                k = k if k == "w" else int(k)
                arrived[k] = arrived.get(k, 0) + 1
                if arrived[k] == SERVE_FILE_ROWS:
                    done_at[k] = t1

    def emit(k) -> None:
        tmp = os.path.join(stage, f"{k}.json")
        with open(tmp, "w", encoding="utf-8") as fh:
            fh.write(payload[k])
        os.replace(tmp, os.path.join(in_dir, f"{k}.json"))

    def wait_for(cond, deadline: float) -> bool:
        while time.perf_counter() < deadline:
            with lock:
                if cond():
                    return True
            time.sleep(0.01)
        return False

    query = (
        estimate_stream(b.spark, in_dir)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", os.path.join(root, "ckpt"))
        .start()
    )
    emitted: dict[int, float] = {}
    try:
        emit("w")  # query start-up and first-batch planning stay out of the schedule
        if not wait_for(lambda: "w" in done_at, time.perf_counter() + 60):
            raise RuntimeError("serve warm-up file never reached the sink")
        with lock:
            batches.clear()
        t0 = time.perf_counter() + 0.1
        due = {k: t0 + k / SERVE_FILES_PER_S for k in range(n_files)}

        def generator():
            for k in range(n_files):
                delay = due[k] - time.perf_counter()
                if delay > 0:
                    time.sleep(delay)
                emit(k)
                emitted[k] = time.perf_counter()

        gen = threading.Thread(target=generator, name="serve-generator")
        prev = b.rec.pass_id if b.rec else None
        if b.rec:
            b.rec.pass_id = "serve"
        gen.start()
        last_due = due[n_files - 1]
        time.sleep(max(0.0, last_due - time.perf_counter()))
        # queue depth when the last file is due: files due but not delivered
        with lock:
            backlog = sum(1 for k in range(n_files) if k not in done_at)
        gen.join()
        wait_for(lambda: len(done_at) >= n_files + 1, last_due + SERVE_DRAIN_S)
        if b.rec:
            b.rec.pass_id = prev
    finally:
        query.stop()
    b.attempted += n_files
    lat = [done_at[k] - due[k] for k in range(n_files) if k in done_at]
    b.failed += n_files - len(lat)
    w._check_json_rows(b, "serve", texts, (n_files + 1) * SERVE_FILE_ROWS)
    shutil.rmtree(root, ignore_errors=True)
    return {
        "serve.lat": lat,
        "serve.files": len(lat),
        "serve.batches": len(batches),
        "serve.batch_rows_p50": measure.median([n for _, n in batches]) if batches else 0,
        "serve.batch_p50_ms": 1000 * measure.median([t for t, _ in batches]) if batches else 0,
        "serve.gen_late_s": max((emitted[k] - due[k] for k in emitted), default=0.0),
        "serve.backlog_files": backlog,
    }


def make_workload(name: str):
    if name == "estimator":
        return EstimatorWorkload()
    if name == "queries":
        return QueryWorkload()
    raise ValueError(f"unknown workload {name!r}")
