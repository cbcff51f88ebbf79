"""The repository's benchmark: one command per workload and seed.

    python3 perfbench/run.py --workload crawl_extract --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. It generates its inputs from the seed
under ``.perfbench/`` (inside the checkout), builds one Spark session sized
from the host, drives the engine only through the public functions of
``tesserocr_spark``'s modules, checks the outputs, and prints one JSON line
last: ``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` a separate traced
run reports the per-layer metrics and writes its spans to
``.perfbench/trace-<workload>-<seed>.json``. The client is one process that
issues Spark actions back to back (closed loop, one client).

Metric names, units, bounds and the layer-to-end-to-end map are listed in
``BENCHMARK.json`` and ``perfbench/layers.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

import session
from common import CheckFailed, check

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_extract", "corpus_ops")


def load_metric_specs() -> tuple[dict[str, dict[str, str]], dict[str, str]]:
    """Metric name -> unit per kind, from BENCHMARK.json, and per-layer
    metric -> the workload it is measured on (or ``both``), from
    layers.json, which must list every per-layer metric."""
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "layers.json")) as f:
        layers = json.load(f)
    per_layer = {m["name"] for m in spec["per_layer"]}
    check(per_layer == set(layers),
          f"layers.json and BENCHMARK.json disagree on {sorted(per_layer ^ set(layers))}")
    units = {kind: {m["name"]: m["unit"] for m in spec[kind]}
             for kind in ("end_to_end", "per_layer")}
    return units, {k: v["measured_on"] for k, v in layers.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "tesserocr_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout that holds tesserocr_spark/",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    units, measured_on = load_metric_specs()
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)

    if args.workload == "crawl_extract":
        import crawl_extract as workload
    else:
        import corpus_ops as workload

    inputs = workload.prepare(work, args.seed)
    # a traced run reports no setup_s, so it sets up once
    spark, setup_s = session.set_up(work, inputs["warm_path"], times=1 if args.trace else 3)
    try:
        result = workload.run(spark, inputs, args.seconds, bool(args.trace))
        # set-up: the median session start plus the workload's warm-up pass
        result["metrics"]["setup_s"] = setup_s + result.get("warm_up_s", 0.0)
        result["metrics"]["peak_rss_mb"] = session.peak_rss_mb(spark)
        correct = True
    except CheckFailed as e:
        print(f"perfbench: check failed: {e}", file=sys.stderr)
        result, correct = {"attempted": 1, "failed": 1, "metrics": {}}, False
    finally:
        session.shut_down(spark)

    kind = "per_layer" if args.trace else "end_to_end"
    want = units[kind]
    if correct:
        metrics = result["metrics"]
        owned = ({k for k, w in measured_on.items() if w in (args.workload, "both")}
                 if args.trace else set(want))
        missing = sorted(owned - set(metrics))
        unknown = sorted(set(metrics) - set(want) - set(units["end_to_end"]))
        if missing or unknown:
            print(f"perfbench: metrics not produced {missing}, not declared {unknown}",
                  file=sys.stderr)
            result, correct = {"attempted": 1, "failed": 1, "metrics": {}}, False
        else:
            # a per-layer metric of the other workload reports zero work
            result["metrics"] = {k: metrics.get(k, 0.0) for k in want}
    metrics = result["metrics"]
    print(json.dumps({
        "correct": correct,
        "attempted": int(result["attempted"]),
        "failed": int(result["failed"]),
        "metrics": {k: {"value": float(metrics[k]), "unit": want[k]}
                    for k in want if k in metrics},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    raise SystemExit(main())
