#!/usr/bin/env python3
"""Repo benchmark: the nightly DWH batch and the registry pass.

Usage (from the repository root)::

    python3 dwhbench/run.py --workload nightly_batch --seed 1 --seconds 12 --trace 0

Workloads (see ``dwhbench/README.md`` for why each exists):

- ``nightly_batch``: warehouse seeded with order history, then nightly
  loads of seeded daily feeds, each followed by a dashboard refresh of the
  seven reference metrics;
- ``registry_sf0.01``: the ``bench=True`` registry queries that run the
  extension operators, one pass after another, in a seeded order.

Both are closed loops with one client. The last stdout line is one JSON
object ``{"correct", "attempted", "failed", "metrics"}``; ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones from a
traced run. All scratch files go under ``.dwhbench/`` in the working
directory. The engine is imported from the working directory, so the
command fails when it is run outside a checkout of the repository.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".dwhbench")
WORKLOADS = ("nightly_batch", "registry_sf0.01")

#: every end-to-end metric, reported by both workloads
END_TO_END = {
    "setup_s": "s",
    "batch_cpu_s": "s",
    "query_cpu_s": "s",
}


def _isolate_scratch() -> None:
    """Point every temp/spill location of this process and the JVM it
    launches into the checkout."""
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(WORK, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TZ"] = "UTC"
    time.tzset()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # the engine must come from this checkout; fail before any work if not
    import batch_data_pipeline_exercise_spark  # noqa: F401

    _isolate_scratch()
    from dwhbench import nightly, registry
    from dwhbench.harness import Bench

    bench = Bench(args.seed, args.seconds, bool(args.trace), WORK)
    run = {"nightly_batch": nightly.run, "registry_sf0.01": registry.run}[args.workload]
    try:
        metrics = run(bench)
    finally:
        bench.stop_spark()

    if bench.trace:
        from dwhbench.layers import per_layer

        # wall times move with the load other tenants put on a shared box
        # far more than executor CPU does, so they are per-layer only
        got = {**metrics["per_layer"], "batch_s": metrics["batch_s"], "query_mean_s": metrics["query_mean_s"]}
        out = {k: {"value": got.get(k, 0.0), "unit": u} for k, u in per_layer().items()}
    else:
        out = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    for op, detail in bench.failures.items():
        print(f"FAILED {op}: {detail}", file=sys.stderr)
    print(json.dumps({
        "correct": not bench.failures and bench.attempted > 0,
        "attempted": bench.attempted,
        "failed": len(bench.failures),
        "metrics": out,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
