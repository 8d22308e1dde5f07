"""Turns a finished ``Run`` into the benchmark's metrics.

End-to-end metrics come from the timed operation spans; per-layer
metrics from the traced run's spans and the Spark jobs attributed to
them. Per-layer sums are per pass (divided by the number of passes)
so runs of different lengths compare.
"""

from __future__ import annotations

from collections import defaultdict

from metrics import busy_cores, median, tail, write_amp

MB = float(2**20)

#: the end-to-end metrics every workload reports (BENCHMARK.json).
END_TO_END = {"setup_s": "s", "suite_s": "s", "op_p50_s": "s"}

#: every end-to-end figure a workload can report, with its unit; the
#: detail line carries the ones that apply to the workload.
FIGURE_UNITS = {
    "setup_s": "s", "suite_s": "s", "op_p50_s": "s", "op_tail_s": "s",
    "failed_ratio": "ratio", "peak_rss_mb": "MB",
    "ingest_rows_per_s": "rows/s", "train_p50_s": "s", "predict_p50_s": "s",
    "pipeline_s": "s",
}

PER_LAYER = {
    "session.start_s": "s", "session.warm_s": "s", "session.prewarm_s": "s",
    "catalog.read_table_calls": "count", "catalog.read_table_s": "s",
    "build.schema_jobs": "count", "build.s": "s", "build.jobs": "count", "build.task_s": "s",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s", "plan.planning_s": "s",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.gc_s": "s", "exec.busy_cores": "cores",
    "exec.input_mb": "MB", "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "scale.cache_entries": "count", "exec.storage_mb": "MB",
    "upsert.s": "s", "upsert.jobs": "count", "upsert.bytes_written_mb": "MB",
    "upsert.write_amp": "ratio",
    "features.s": "s", "features.jobs": "count",
    "ml.train_s": "s", "ml.fit_s": "s", "ml.fit_jobs": "count", "ml.save_s": "s",
    "predict.load_s": "s", "predict.exec_s": "s",
    "ingest.rows_per_s": "rows/s", "train.p50_s": "s", "predict.p50_s": "s",
    "peak_rss_mb": "MB",
    "trace.setup_s": "s", "trace.suite_s": "s", "trace.op_p50_s": "s",
}


def _wall(s: dict) -> float:
    return s["end"] - s["start"]


def _timed(run) -> list[dict]:
    """Op spans that completed without error."""
    return [s for s in run.ops() if "error" not in s]


def workload_figures(run) -> dict:
    """Workload-specific timings behind the generic end-to-end metrics."""
    ops = _timed(run)
    out: dict = {"setup_s": median(run.setup_walls),
                 "failed_ratio": len(run.failures) / max(1, len(run.ops())),
                 "peak_rss_mb": run.info["peak_rss_mb"]}
    by_name: dict[str, list[float]] = defaultdict(list)
    for s in ops:
        by_name[s["name"]].append(_wall(s))
    out["suite_s"] = sum(median(v) for v in by_name.values()) if by_name else 0.0
    walls = [_wall(s) for s in ops]
    if walls:
        out["op_p50_s"] = median(walls)
        p, value, beyond = tail(walls)
        out["op_tail_s"] = value
        out["op_tail"] = {"percentile": p, "samples": len(walls), "beyond": beyond}
    kinds: dict[str, list[dict]] = defaultdict(list)
    for s in ops:
        kinds[s.get("kind")].append(s)
    if kinds.get("upsert"):
        rows = sum(s["rows"] for s in kinds["upsert"])
        out["ingest_rows_per_s"] = rows / sum(_wall(s) for s in kinds["upsert"])
        # first upsert to last prediction of one pass, output checks excluded
        out["pipeline_s"] = sum(_wall(s) for s in ops if s["pass_"] == 0)
    for kind in ("train", "predict"):
        if kinds.get(kind):
            out[f"{kind}_p50_s"] = median([_wall(s) for s in kinds[kind]])
    return out


def end_to_end(run) -> dict[str, float]:
    fig = workload_figures(run)
    return {k: fig[k] for k in END_TO_END}


def per_layer(run) -> dict[str, float]:
    tr = run.tracer
    t0 = run.info["measure_t0"]
    passes = float(run.passes)
    spans = [s for s in tr.spans if s["start"] >= t0]
    by_layer: dict[str, list[dict]] = defaultdict(list)
    for s in spans:
        by_layer[s["layer"]].append(s)
    jobs_by_layer: dict[str, list[dict]] = defaultdict(list)
    for job, owner in tr.attributed():
        if owner is not None and owner["start"] >= t0:
            jobs_by_layer[owner["layer"]].append(job)

    def wall(layer: str, pred=None) -> float:
        return sum(_wall(s) for s in by_layer[layer] if pred is None or pred(s)) / passes

    def jobs(*layers: str) -> list[dict]:
        return [j for layer in layers for j in jobs_by_layer[layer]]

    def total(js: list[dict], field: str) -> float:
        return sum(j[field] for j in js) / passes

    setup = [s for s in tr.spans if s["start"] < t0]

    def setup_median(layer: str) -> float:
        ws = [_wall(s) for s in setup if s["layer"] == layer]
        return median(ws) if ws else 0.0

    m: dict[str, float] = {
        "session.start_s": setup_median("session.start"),
        "session.warm_s": setup_median("session.warm"),
        # no chosen query leaves a plan_keyed_cache entry, so set-up
        # pre-warms no family cache (README "Run structure")
        "session.prewarm_s": 0.0,
        "catalog.read_table_calls": len(by_layer["catalog.read_table"]) / passes,
        "catalog.read_table_s": wall("catalog.read_table"),
        "build.schema_jobs": len(jobs("catalog.read_table")) / passes,
    }
    build_jobs = jobs("build", "catalog.read_table")
    m.update({"build.s": wall("build"), "build.jobs": len(build_jobs) / passes,
              "build.task_s": total(build_jobs, "task_ms") / 1000.0})
    phases: dict[str, float] = defaultdict(float)
    for s in by_layer["plan"]:
        for k, v in s.get("phases", {}).items():
            phases[k] += v
    m.update({"plan.s": wall("plan"),
              "plan.analysis_s": phases["analysis"] / passes,
              "plan.optimization_s": phases["optimization"] / passes,
              "plan.planning_s": phases["planning"] / passes})
    ex = jobs("exec")
    exec_s = wall("exec")
    task_s = total(ex, "task_ms") / 1000.0
    m.update({"exec.s": exec_s, "exec.jobs": len(ex) / passes,
              "exec.stages": total(ex, "stages"), "exec.tasks": total(ex, "tasks"),
              "exec.task_s": task_s, "exec.cpu_s": total(ex, "cpu_ns") / 1e9,
              "exec.gc_s": total(ex, "gc_ms") / 1000.0,
              "exec.busy_cores": busy_cores(task_s, exec_s),
              "exec.input_mb": total(ex, "input_bytes") / MB,
              "exec.shuffle_read_mb": total(ex, "shuffle_read_bytes") / MB,
              "exec.shuffle_write_mb": total(ex, "shuffle_write_bytes") / MB,
              "exec.spill_mb": total(ex, "spill_bytes") / MB,
              "exec.failed_tasks": total(ex, "failed_tasks"),
              "scale.cache_entries": float(run.info.get("cache_entries", 0)),
              "exec.storage_mb": run.info.get("storage_mb", 0.0)})
    written = run.info.get("upsert_bytes", [])
    m.update({"upsert.s": wall("upsert"), "upsert.jobs": len(jobs("upsert")) / passes,
              "upsert.bytes_written_mb": sum(w for w, _ in written) / passes / MB,
              "upsert.write_amp": write_amp(sum(w for w, _ in written),
                                            sum(b for _, b in written))})
    children: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] += _wall(s)
    m.update({"features.s": sum(_wall(s) - children[s["id"]]
                                for s in by_layer["features"]) / passes,
              "features.jobs": len(jobs("features")) / passes,
              "ml.train_s": wall("ml.train_model"), "ml.fit_s": wall("ml.fit"),
              "ml.fit_jobs": len(jobs("ml.fit")) / passes, "ml.save_s": wall("ml.save"),
              "predict.load_s": wall("predict.load"),
              "predict.exec_s": wall("exec", lambda s: s["name"].startswith("predict_"))})
    fig = workload_figures(run)
    m.update({"ingest.rows_per_s": fig.get("ingest_rows_per_s", 0.0),
              "train.p50_s": fig.get("train_p50_s", 0.0),
              "predict.p50_s": fig.get("predict_p50_s", 0.0),
              "peak_rss_mb": fig["peak_rss_mb"], "trace.setup_s": fig["setup_s"],
              "trace.suite_s": fig["suite_s"], "trace.op_p50_s": fig["op_p50_s"]})
    return m
