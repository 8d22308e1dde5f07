"""Benchmark entry point.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload registry_fixed_cost --seed 1 --seconds 15 --trace 0

Workloads (see README.md beside this file):
  registry_fixed_cost    stratified seeded sample of registry queries at sf0.01
  registry_heavy         a frozen set of execution-dominated queries at sf0.1
  soccer_ingest_predict  scraper batches -> upsert -> train -> predict

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
The line before it carries the workload's detail (host record,
per-kind timings, failures). Inputs are generated from ``--seed`` into
``.perfbench/work-<pid>/``, which is removed at exit; a copy of the
result with its spans is kept under ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time

WORKLOADS = ("registry_fixed_cost", "registry_heavy", "soccer_ingest_predict")
FIXED_COST_SF = 0.01
HEAVY_SF = 0.1
#: queries drawn per operator module for registry_fixed_cost.
PER_MODULE = 2
#: untimed query that warms codegen and the no-op sink during set-up;
#: it is kept out of both registry workloads.
WARM_QUERY = "top_k_count"


def host_record() -> dict:
    import importlib.util

    import pyspark

    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {"nproc": len(os.sched_getaffinity(0)), "ram_gb": round(mem_kb / 2**20, 1),
            "loadavg": list(os.getloadavg()), "spark": pyspark.__version__,
            "python": platform.python_version(),
            "estimator": "xgboost.spark" if importlib.util.find_spec("xgboost")
            else "GBTClassifier / OneVsRest+GBT"}


def prepare_env(work: str, traced: bool) -> None:
    """Keep every file Spark, the JVM and the program write inside the
    work directory, and size local mode to this host's cores. Every
    other ``SPARK_GRAFT_*`` setting stays at the program's default."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    submit = f"--driver-java-options -Djava.io.tmpdir={tmp}"
    if traced:
        # the status store must keep every job of an operation until it
        # is read, and one model fit runs hundreds of jobs
        submit += " --conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000"
    os.environ["PYSPARK_SUBMIT_ARGS"] = submit + " pyspark-shell"


def run_workload(run, workloads) -> None:
    sets = workloads.load_sets()
    if run.workload == "registry_fixed_cost":
        names = workloads.pick_fixed_cost(sets["fixed_cost_pool"], PER_MODULE, run.seed)
        workloads.registry(run, FIXED_COST_SF, names, WARM_QUERY)
    elif run.workload == "registry_heavy":
        names = workloads.seeded_order(sets["heavy"], run.seed)
        workloads.registry(run, HEAVY_SF, names, WARM_QUERY)
    else:
        workloads.soccer(run)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "soccerpredictor_spark"))):
        print("perfbench: run from the repository root (no __spark_entry__.py / "
              "soccerpredictor_spark here)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    prepare_env(work, bool(args.trace))

    import report
    import workloads

    started = time.time()
    run = workloads.Run(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        run_workload(run, workloads)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    ops = run.ops()
    failed = len(run.failures)
    metrics = report.per_layer(run) if args.trace else report.end_to_end(run)
    units = report.PER_LAYER if args.trace else report.END_TO_END
    info = {k: v for k, v in run.info.items() if k not in ("measure_t0", "upsert_bytes")}
    figures = report.workload_figures(run)
    detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "host": host_record(), "passes": run.passes, "setup_walls": run.setup_walls,
              "figures": {k: {"value": v, "unit": report.FIGURE_UNITS[k]}
                          for k, v in figures.items() if k in report.FIGURE_UNITS},
              "op_tail": figures.get("op_tail"), "info": info,
              "failures": run.failures, "wall_s": time.time() - started}
    results = os.path.join(root, ".perfbench", "results")
    os.makedirs(results, exist_ok=True)
    path = os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump({"detail": detail, "metrics": metrics, "spans": run.tracer.spans,
                   "jobs": run.tracer.jobs}, f, default=str)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
