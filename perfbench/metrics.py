"""Turns one run's passes into end-to-end metrics, per-layer metrics and the
report lines naming every metric the workload measures."""

from __future__ import annotations

from . import measure
from .catalog import PER_LAYER
from .workloads import BATCH_ROWS, EstimatorWorkload

SELF_KINDS = ("pass", "op", "build", "exec", "request")


def _med(values) -> float:
    values = [v for v in values if v is not None]
    return measure.median(values) if values else 0.0


def _tail(values: list[float], p: float) -> tuple[float, str]:
    """The named percentile plus a note on whether the sample supports it."""
    n = len(values)
    best = measure.supported_percentile(n)
    note = f"n={n}, supported up to p{best:g}" if best is not None else f"n={n}, unsupported"
    return (measure.percentile(values, p) if values else 0.0), note


def summarize(b, workload, setups, warmup_s, passes, extra) -> dict:
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    lat = [x for p in plain for x in p["lat"]]
    is_est = isinstance(workload, EstimatorWorkload)

    e2e = {
        "setup_s": _med([s["total"] for s in setups]),
        "pass_s": _med([p["pass_s"] for p in plain]),
    }
    report = [
        f"{workload.name}: setup_s={e2e['setup_s']:.4f} s (median of {len(setups)} set-ups); "
        f"warm-up pass {warmup_s:.3f} s",
        f"{workload.name}: pass_s={e2e['pass_s']:.4f} s (median of {len(plain)} untraced passes)",
    ]
    op_names = list(dict.fromkeys(n for p in plain for n, _ in p["ops"]))
    report.append(
        f"{workload.name}: per-operation wall time (s, median over untraced passes): "
        + ", ".join(f"{n}={_med([dt for p in plain for m, dt in p['ops'] if m == n]):.3f}"
                    for n in sorted(op_names))
    )

    layer = {name: 0.0 for name in PER_LAYER}
    layer["session.start_s"] = setups[0]["start"]
    layer["session.warmup_s"] = warmup_s
    layer["sources.load_s"] = _med([s["load"] for s in setups])

    def op_times(name: str, group: list[dict]) -> list[float]:
        return [dt for p in group for n, dt in p["ops"] if n == name]

    def step_sum(p: dict, prefix: str, suffix: str) -> float:
        return sum(v for k, v in p["steps"].items() if k.startswith(prefix) and k.endswith(suffix))

    if is_est:
        sps = len(lat) / sum(lat) if lat else 0.0
        p50 = 1000.0 * _med(lat)
        p99, note99 = _tail(lat, 99.0)
        batch = _med(op_times("estimate_df", plain))
        eps = BATCH_ROWS / batch if batch else 0.0
        save = extra.get("persistence.save_s", 0.0)
        load = extra.get("persistence.load_s", 0.0)
        rows = extra.get("persistence.rows", 0)
        nbytes = extra.get("persistence.bytes", 0)
        serve = extra.get("serve.lat", [])
        s50 = _med(serve)
        s90, note90 = _tail(serve, 90.0)
        layer.update({
            "calculus.scenarios_per_s": sps,
            "estimator.estimate_p50_ms": p50,
            "estimator.estimate_p99_ms": 1000.0 * p99,
            "estimator.estimate_eps": eps,
            "engine.error_rows": _med([p["counts"].get("engine.error_rows") for p in passes]),
            "engine.arrow_fail_frac": workload.arrow_failures / max(workload.arrow_probes, 1),
            "serve.p50_s": s50,
            "serve.p90_s": s90,
            "persistence.save_s": save,
            "persistence.load_s": load,
            "persistence.bytes_per_row": nbytes / rows if rows else 0.0,
            "persistence.rows_per_s": rows / (save + load) if save + load else 0.0,
        })
        layer.update({k: v for k, v in extra.items() if k in layer})
        report += [
            f"estimator: estimate_p50_ms={p50:.4f} ms, estimate_p99_ms={1000.0 * p99:.4f} ms ({note99})",
            f"estimator: estimate_eps={eps:.1f} 1/s ({BATCH_ROWS} scenarios through estimate_df; "
            f"single-thread calculus {sps:.1f} 1/s x {b.cores} cores = {sps * b.cores:.1f} 1/s)",
            f"estimator: arrow round trip failed {workload.arrow_failures} of "
            f"{workload.arrow_probes} probes (known toArrow nullability defect)",
        ]
        if rows:
            report.append(
                f"estimator: persist_rows_per_s={layer['persistence.rows_per_s']:.1f} 1/s "
                f"({rows:.0f} envelopes saved and read back)"
            )
        if serve:
            report.append(
                f"estimator: serve_p50_s={s50:.4f} s, serve_p90_s={s90:.4f} s ({note90}; limit "
                f"p90 <= 5 s; generator late by at most {extra['serve.gen_late_s']:.4f} s)"
            )
    else:
        q50 = _med(lat)
        q90, note90 = _tail(lat, 90.0)
        report.append(
            f"{workload.name}: query_p50_s={q50:.4f} s, query_p90_s={q90:.4f} s ({note90})"
        )

    frac = b.failed / b.attempted if b.attempted else 0.0
    report.append(f"{workload.name}: failed_frac={frac:.6f} ({b.failed} of {b.attempted} operations)")

    if traced:
        spans = b.rec.spans
        layer["trace.spans"] = len(spans)
        layer["trace.overhead_s"] = _med([p["pass_s"] for p in traced]) - e2e["pass_s"]
        layer["jvm.gc_s"] = _med([p["counts"].get("jvm.gc_s") for p in traced])
        layer["jvm.heap_peak_mb"] = b.jvm.heap_peak_mb()
        for part in ("build", "plan", "exec"):
            layer[f"plans.{part}_s"] = _med([step_sum(p, "q.", f".{part}_s") for p in traced])
        for k in ("jobs", "stages", "tasks"):
            layer[f"plans.{k}"] = _med([p["counts"].get(f"plans.{k}", 0) for p in traced])
        for name in PER_LAYER:
            if name.startswith("q."):
                layer[name] = _med([p["steps"].get(name) for p in traced])
        per_pass = [b.listener.per_pass(i) for i, p in enumerate(passes) if p["traced"]]
        for k in per_pass[0]:
            layer[k] = _med([pp[k] for pp in per_pass])
        calls: dict[str, list[float]] = {}
        for s in spans:
            if s["kind"] == "calculus":
                calls.setdefault(s["name"], []).append(s["end"] - s["start"])
        for fn, key in (("validate_scenario", "validate"), ("normalize_scenario", "normalize"),
                        ("sizing_core", "sizing_core"), ("scaling_recommendations", "scaling")):
            durs = calls.get(f"calculus.{fn}", [])
            layer[f"calculus.{key}_us"] = 1e6 * sum(durs) / len(durs) if durs else 0.0
        if is_est:
            layer["engine.exec_s"] = _med([p["steps"].get("engine.exec_s") for p in traced])
            sps = layer["calculus.scenarios_per_s"]
            if sps and layer["engine.exec_s"]:
                layer["engine.kernel_share"] = BATCH_ROWS / (b.cores * sps) / layer["engine.exec_s"]
        own = measure.self_times(spans)
        for kind in SELF_KINDS:
            sums = []
            for i, p in enumerate(passes):
                if p["traced"]:
                    sums.append(sum(own[s["id"]] for s in spans if s["kind"] == kind and s["pass"] == i))
            layer[f"self.{kind}_s"] = _med(sums)
        report.append(
            f"{workload.name}: tracing overhead {layer['trace.overhead_s']:+.4f} s per pass "
            f"(traced pass_s minus untraced pass_s, same process)"
        )

    return {
        "correct": not b.mismatches,
        "attempted": b.attempted,
        "failed": b.failed,
        "mismatches": b.mismatches,
        "e2e": e2e,
        "layer": layer,
        "report": report,
    }
