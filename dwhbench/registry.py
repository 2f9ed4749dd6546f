"""``registry_sf0.01``: passes over the ``bench=True`` registry queries
that run the extension operators (``layers.REGISTRY_QUERIES``).

Set-up: session, then one check pass that collects every query and
compares it with its DuckDB ``oracle_sql`` (the strict sorted-row
comparison of ``tests/run_sweep.py``), then ``WARMUP_PASSES`` untimed
passes. Timed, one query after another in a seeded order (closed loop,
one client): each query into the ``noop`` sink, as bench.py runs them,
with bench.py's session-state clear between queries outside the timing.
The check pass clears once, at its end: its queries are not timed. The
end-to-end metrics are medians over the first ``E2E_PASSES`` passes, the
same passes on every run; time left over adds passes that feed only the
per-layer medians.
"""

from __future__ import annotations

import os
import time

import numpy as np

from batch_data_pipeline_exercise_spark.plans import (  # noqa: F401 — registers the queries
    contract,
    contract2,
    contract3,
    contract4,
    contract5,
    contract6,
    contract_ext,
)
from bench import _clear_session_state
from dwhbench import feeds
from dwhbench.harness import mean, median, tree_cpu_s
from dwhbench.layers import REGISTRY_QUERIES
from tests.run_sweep import _row_key, duck_connect

SF_DIR = os.path.join(feeds.TESTDATA, "sf0.01")
#: a query's executor CPU keeps falling over the first passes of a session
#: as the JIT compiles (1.50, 1.09, 1.00, 0.89 s for passes 1-4 of the
#: three queries after the check pass, on four cores). While it falls, a
#: busier box (slower compilation) inflates it most, so the first pass
#: after the check pass is untimed.
WARMUP_PASSES = 1
E2E_PASSES = 2


def _rows(rows) -> list[tuple]:
    return sorted((tuple(r) for r in rows), key=_row_key)


def oracle_rows(queries) -> dict[str, list[tuple]]:
    """Each query's sorted DuckDB oracle rows (~1 s for the three)."""
    con = duck_connect(SF_DIR)
    try:
        return {q.name: _rows(con.execute(q.oracle).fetchall()) for q in queries}
    finally:
        con.close()


def bench_queries() -> list:
    """The timed registry queries, in ``REGISTRY_QUERIES`` order."""
    found = {q.name: q for q in contract.REGISTRY.values() if q.bench}
    missing = [n for n in REGISTRY_QUERIES if n not in found]
    if missing:
        raise RuntimeError(f"not bench=True registry queries any more: {missing}; update dwhbench/layers.py")
    return [found[n] for n in REGISTRY_QUERIES]


def run(bench) -> dict:
    queries = bench_queries()
    order = [queries[i] for i in np.random.default_rng(bench.seed).permutation(len(queries))]
    want = oracle_rows(queries)

    t_setup, c_setup = time.perf_counter(), tree_cpu_s()
    spark = bench.start_spark()
    for q in order:
        bench.attempted += 1
        try:
            with bench.span(f"check.{q.name}"):
                got = _rows(q.fn(spark, SF_DIR).collect())
        except Exception as e:  # a failed query counts; the pass goes on
            bench.check(f"check.{q.name}", "raised", False, repr(e))
            continue
        bench.check(f"check.{q.name}", "rows != oracle_sql", got == want[q.name],
                    f"{len(got)} vs {len(want[q.name])} rows")
    _clear_session_state(spark)
    for n in range(WARMUP_PASSES):
        noop_pass(bench, spark, order, "warmup", f"warmup{n}")
    setup_s = tree_cpu_s() - c_setup
    bench.layer["setup_wall_s"] = time.perf_counter() - t_setup
    bench.store.settle()

    passes: list[dict] = []
    timed = 0.0
    while len(passes) < E2E_PASSES or timed < bench.seconds:
        op = bench.next_op()
        walls = noop_pass(bench, spark, order, "registry", f"pass{len(passes)}")
        one = {"op": op, "walls": walls}
        one["wall"] = sum(walls.values())
        one["cpu"] = bench.store.settle()["executorCpuTime"]
        passes.append(one)
        timed += one["wall"]

    e2e = passes[:E2E_PASSES]
    out = {
        "setup_s": setup_s,
        "batch_cpu_s": median([p["cpu"] for p in e2e]),
        "query_cpu_s": median([p["cpu"] / len(order) for p in e2e]),
        "batch_s": median([p["wall"] for p in e2e]),
        "query_mean_s": median([mean(p["walls"].values()) for p in e2e]),
    }
    if bench.tracer:
        out["per_layer"] = per_layer(bench, passes)
    return out


def noop_pass(bench, spark, order: list, span: str, op: str) -> dict[str, float]:
    """Each query of ``order`` into the ``noop`` sink, in a ``<span>.<query>``
    span, with the session state cleared after each; query name -> wall
    seconds. A query that raises fails ``<op>.<query>``."""
    walls = {}
    for q in order:
        bench.attempted += 1
        try:
            with bench.span(f"{span}.{q.name}"):
                t = time.perf_counter()
                q.fn(spark, SF_DIR).write.mode("overwrite").format("noop").save()
                walls[q.name] = time.perf_counter() - t
        except Exception as e:  # a failed query counts; the pass goes on
            bench.check(f"{op}.{q.name}", "raised", False, repr(e))
        _clear_session_state(spark)
    return walls


def per_layer(bench, passes: list[dict]) -> dict[str, float]:
    tracer = bench.tracer
    inc = bench.finish_trace("registry")
    per: dict[str, list[float]] = {}
    for s in tracer.spans:
        if s.name.startswith("registry."):
            c = inc[s.id]["counters"]
            per.setdefault(f"{s.name}.s", []).append(s.duration)
            per.setdefault(f"{s.name}.cpu_s", []).append(c["executorCpuTime"])
            per.setdefault(f"{s.name}.shuffle_mb", []).append(c["shuffleWriteBytes"])
    per["trace.overhead_s"] = [tracer.overhead.get(p["op"], 0.0) for p in passes]
    return {**{k: median(v) for k, v in per.items()}, **bench.layer}
