"""Record the soccer workload's seeded holdout accuracies in
``soccer_accuracy.json``, which every later run is checked against.

Run ``soccer_ingest_predict`` untraced on the seeds to record, then,
from the repository root:

    python3 perfbench/record_accuracy.py

It reads the results under ``.perfbench/results/`` and adds each
seed's accuracies under its estimator and core count. Records made for
other inputs (``workloads.SOCCER_SHAPE`` / ``SOCCER_KEYS``) are
dropped first.
"""

from __future__ import annotations

import glob
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def main() -> int:
    path = os.path.join(HERE, "soccer_accuracy.json")
    with open(path) as f:
        record = json.load(f)
    inputs = workloads.soccer_inputs()
    if record["inputs"] != inputs:
        record = {"inputs": inputs, "accuracy": {}}
    n = 0
    for name in sorted(glob.glob(os.path.join(".perfbench", "results",
                                              "soccer_ingest_predict-seed*-trace0.json"))):
        with open(name) as f:
            detail = json.load(f)["detail"]
        info = detail["info"]
        if detail["failures"] or info.get("soccer_shape") != inputs["shape"]:
            continue
        key = workloads.accuracy_key(info["estimator"], detail["host"]["nproc"])
        record["accuracy"].setdefault(key, {})[str(detail["seed"])] = {
            k: v[0] for k, v in info["accuracy"].items()}
        n += 1
    record["accuracy"] = {key: dict(sorted(seeds.items(), key=lambda kv: int(kv[0])))
                          for key, seeds in record["accuracy"].items()}
    with open(path, "w") as f:
        json.dump(record, f, indent=1)
        f.write("\n")
    print(f"recorded {n} runs -> {path}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
