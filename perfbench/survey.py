"""Layer survey of the whole query registry, used to choose the
registry workloads' query sets (``registry_sets.json``).

Run from the repository root:

    python3 perfbench/survey.py --sf 0.01 --seed 1 --out survey-sf0.01.json

Each registered query runs once, traced, on tables generated at
``--sf``: its build, plan and no-op action are timed, its Spark jobs
are attributed to those phases, its output is compared with its DuckDB
twin, and the ``plan_keyed_cache`` entries it left behind are counted
(and dropped, so every query is measured without a family cache).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import types
from collections import defaultdict

OPERATOR_PACKAGES = ("soccerpredictor_spark.operators.", "soccerpredictor_spark.plans.",
                     "soccerpredictor_spark.sources.upsert", "soccerpredictor_spark.streaming.",
                     "soccerpredictor_spark.ml.", "soccerpredictor_spark.functions.")


def operator_module(fn) -> str:
    """The program module a registry wrapper calls into: the first
    module, or function of a module, its code names (a wrapper that
    only chains DataFrame calls is ``inline``)."""
    g = fn.__globals__
    names = fn.__code__.co_names
    for i, nm in enumerate(names):
        if nm.startswith(OPERATOR_PACKAGES):
            return nm.rsplit(".", 1)[1]
        if nm + "." in OPERATOR_PACKAGES and i + 1 < len(names):
            return names[i + 1]  # from soccerpredictor_spark.operators import <module>
        obj = g.get(nm)
        if isinstance(obj, types.ModuleType) and obj.__name__.startswith(OPERATOR_PACKAGES):
            return obj.__name__.rsplit(".", 1)[1]
        if nm.startswith("_") and nm.endswith("_mod") and callable(obj):
            obj = obj()  # the registry's lazy module accessors
            return obj.__name__.rsplit(".", 1)[1]
        mod = getattr(obj, "__module__", "") or ""
        if callable(obj) and mod.startswith(OPERATOR_PACKAGES):
            return mod.rsplit(".", 1)[1]
    return "inline"


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--out", required=True)
    ap.add_argument("--only", help="comma-separated subset of query names")
    args = ap.parse_args()
    root = os.getcwd()
    sys.path.insert(0, root)
    work = os.path.join(root, ".perfbench", f"work-{os.getpid()}")
    import run as bench

    bench.prepare_env(work, traced=True)
    import workloads
    from report import _wall

    run = workloads.Run("survey", args.seed, 0.0, True, work)
    # patch read_table before the registry module binds it by name
    from soccerpredictor_spark.sources import catalog

    run.tracer.wrap(catalog, "read_table", "catalog.read_table")
    import __spark_entry__ as entry

    qs = entry.queries()
    names = [n for n in qs if n != bench.WARM_QUERY]
    if args.only:
        names = [n for n in args.only.split(",") if n in qs]
    cache_entries: dict[str, int] = {}

    def after_op(name, _rec):
        from soccerpredictor_spark.operators import scale

        cache_entries[name] = scale.clear_caches()

    try:
        workloads.registry(run, args.sf, names, bench.WARM_QUERY, after_op=after_op)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    t0 = run.info["measure_t0"]
    per: dict[str, dict] = defaultdict(lambda: defaultdict(float))
    ops = {s["id"]: s for s in run.tracer.spans if s["layer"] == "op" and s["start"] >= t0}
    by_id = {s["id"]: s for s in run.tracer.spans}

    def op_of(span):
        while span is not None and span["layer"] != "op":
            span = by_id.get(span["parent"])
        return span

    for s in run.tracer.spans:
        op = op_of(s)
        if op is None or op["id"] not in ops:
            continue
        rec = per[op["name"]]
        if s["layer"] in ("build", "plan", "exec", "catalog.read_table"):
            rec[f"{s['layer']}_s"] += _wall(s)
        if s["layer"] == "op":
            rec["wall_s"] = _wall(s)
    for job, owner in run.tracer.attributed():
        op = op_of(owner)
        if op is None or op["id"] not in ops or owner["layer"] == "check":
            continue
        rec = per[op["name"]]
        rec[f"{owner['layer']}_jobs"] += 1
        rec[f"{owner['layer']}_task_s"] += job["task_ms"] / 1000.0
    failures = {f["op"]: f["error"] for f in run.failures}
    out = {}
    for name in names:
        rec = dict(per.get(name, {}))
        rec["module"] = operator_module(qs[name])
        rec["cache_entries"] = cache_entries.get(name, 0)
        rec["ok"] = name not in failures
        if name in failures:
            rec["error"] = failures[name]
        out[name] = rec
    with open(args.out, "w") as f:
        json.dump({"sf": args.sf, "seed": args.seed, "queries": out}, f, indent=1, sort_keys=True)
    print(f"{len(out)} queries, {len(failures)} failed -> {args.out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
