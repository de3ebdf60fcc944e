"""The benchmark's own rules: the percentile rule, digest canonicalization,
span self time, the metric catalogue against BENCHMARK.json, and the plan
guard that keeps the sizing UDF inside the estimator's timed action.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import json
import math
import os

import pytest

from perfbench import measure
from perfbench.catalog import END_TO_END, PER_LAYER, PLANE_B, layer_unit

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- percentile rule ----------------------------------------------------------


@pytest.mark.parametrize(
    "n, expected",
    [(0, None), (19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0),
     (100, 90.0), (199, 90.0), (200, 95.0), (999, 95.0), (1000, 99.0), (10000, 99.9)],
)
def test_supported_percentile_needs_ten_samples_beyond(n, expected):
    assert measure.supported_percentile(n) == expected


def test_percentile_is_nearest_rank():
    values = [float(v) for v in range(1, 101)]
    assert measure.percentile(values, 50) == 50.0
    assert measure.percentile(values, 90) == 90.0
    assert measure.percentile(values, 99) == 99.0
    assert measure.percentile([3.0, 1.0, 2.0], 100) == 3.0
    assert measure.median([4.0, 1.0, 3.0, 2.0]) == 2.5


# -- digest canonicalization --------------------------------------------------


def test_digest_ignores_row_and_column_order():
    a = measure.digest_rows(["k", "v"], [(1, "x"), (2, "y"), (3, None)])
    b = measure.digest_rows(["v", "k"], [(None, 3), ("y", 2), ("x", 1)])
    assert a == b
    assert a["rows"] == 3


def test_digest_sees_values_duplicates_and_names():
    base = measure.digest_rows(["k"], [(1,), (2,)])
    assert measure.digest_rows(["k"], [(1,), (3,)]) != base
    assert measure.digest_rows(["k"], [(1,), (2,), (2,)]) != base
    assert measure.digest_rows(["j"], [(1,), (2,)]) != base


def test_digest_quantizes_floats():
    assert measure.canon_value(0.1 + 0.2) == measure.canon_value(0.3)
    assert measure.canon_value(-0.0) == measure.canon_value(0.0)
    assert measure.canon_value(1.0) != measure.canon_value(1.0 + 1e-9)
    assert measure.canon_value(1e300) != measure.canon_value(1e299)


def test_digest_keeps_nulls_and_types_apart():
    forms = [measure.canon_value(v) for v in
             (None, "", "N", 0, 0.0, False, math.nan, math.inf, -math.inf, [], {})]
    assert len(set(forms)) == len(forms)
    assert measure.canon_value({"b": 1, "a": [1.0, None]}) == measure.canon_value({"a": [1.0, None], "b": 1})


def test_drop_nulls_matches_to_json_form():
    got = measure.drop_nulls({"a": 1, "b": None, "c": {"d": None, "e": [{"f": None, "g": 2}]}})
    assert got == {"a": 1, "c": {"e": [{"g": 2}]}}


# -- span self time -----------------------------------------------------------


def test_self_time_subtracts_union_of_children():
    spans = [
        {"id": 0, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "parent": 0, "start": 1.0, "end": 3.0},
        {"id": 2, "parent": 0, "start": 2.0, "end": 5.0},   # overlaps child 1
        {"id": 3, "parent": 0, "start": 8.0, "end": 12.0},  # runs past the parent
        {"id": 4, "parent": 1, "start": 1.5, "end": 2.5},   # grandchild
    ]
    own = measure.self_times(spans)
    assert own[0] == pytest.approx(10.0 - (4.0 + 2.0))
    assert own[1] == pytest.approx(2.0 - 1.0)
    assert own[2] == pytest.approx(3.0)
    assert own[4] == pytest.approx(1.0)


def test_covered_handles_disjoint_and_empty():
    assert measure.covered((0.0, 1.0), []) == 0.0
    assert measure.covered((0.0, 10.0), [(1.0, 2.0), (4.0, 6.0)]) == pytest.approx(3.0)
    assert measure.covered((5.0, 6.0), [(0.0, 1.0)]) == 0.0


# -- stopping the run's processes ---------------------------------------------

_ESCAPE = """
import os, subprocess, sys
sys.path.insert(0, sys.argv[1])
from perfbench import measure, run

run._become_subreaper()
# the child starts a grandchild in a session of its own, as the PySpark
# daemon does, so killing the child's process group would miss it
child = subprocess.Popen(
    [sys.executable, "-c",
     "import subprocess, sys, time;"
     "g = subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)'],"
     " start_new_session=True);"
     "print(g.pid, flush=True); time.sleep(60)"],
    stdout=subprocess.PIPE, start_new_session=True)
grandchild = int(child.stdout.readline())
run._stop_all(child)
assert measure.descendants(os.getpid()) == [os.getpid()]
assert grandchild not in measure.parent_pids()
print("stopped")
"""


def test_stop_all_reaps_processes_that_left_the_group():
    import subprocess
    import sys

    out = subprocess.run([sys.executable, "-c", _ESCAPE, ROOT], capture_output=True,
                         text=True, timeout=60)
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "stopped"


# -- catalogue ----------------------------------------------------------------


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metric_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(END_TO_END)
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [(n, layer_unit(n)) for n in PER_LAYER]
    assert [w["name"] for w in spec["workloads"]] == ["estimator", "queries"]


def test_every_benchmarked_query_has_an_oracle_and_a_digest():
    from flink_estimator_spark.plans import QUERIES

    with open(os.path.join(ROOT, "perfbench", "digests.json"), encoding="utf-8") as fh:
        digests = json.load(fh)
    assert sorted(digests) == sorted(PLANE_B)
    for q in PLANE_B:
        assert QUERIES[q].oracle, q


# -- plan guard ---------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    from flink_estimator_spark.session import get_spark

    return get_spark(app_name="perfbench-tests")


def _scenarios(spark):
    from flink_estimator_spark.estimator import scenario_schema
    from perfbench.workloads import _scenario_row, corpus

    rows = [_scenario_row(kw, f"t{i}_c{i}") for i, kw in enumerate(corpus()[:5])]
    return spark.createDataFrame(rows, scenario_schema)


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_estimator_timed_action_keeps_the_sizing_udf(spark):
    from perfbench.workloads import batch_action

    assert "_sizing_core_udf" in _optimized(batch_action(_scenarios(spark)))


def test_count_prunes_the_sizing_udf(spark):
    """Why no timed call ends in ``.count()``: Catalyst drops the UDF."""
    from flink_estimator_spark.estimator import estimate_df

    counted = estimate_df(_scenarios(spark)).groupBy().count()
    assert "_sizing_core_udf" not in _optimized(counted)
