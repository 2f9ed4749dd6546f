"""The benchmark's own tests: feed determinism, span arithmetic, and CPU
coverage of the outside-in tracer on one traced nightly day.

Run from the repository root:  python -m pytest dwhbench -q
"""

from __future__ import annotations

import filecmp
import os
import subprocess
import sys

import pytest

from dwhbench import feeds
from dwhbench.harness import tree_cpu_s
from dwhbench.trace import STAGE_FIELDS, Span, StatusStore, Tracer, covered, self_times

SMALL = feeds.FeedSpec(history_days=2, days=2, orders_per_day=300)


def _files(root: str) -> list[str]:
    return sorted(f for f in os.listdir(root) if f.endswith(".csv"))


def test_same_seed_gives_byte_identical_feeds(tmp_path):
    a = feeds.generate(str(tmp_path / "a"), 7, SMALL)
    b = feeds.generate(str(tmp_path / "b"), 7, SMALL)
    names = _files(a.root)
    assert names == _files(b.root)
    assert {"products_history.csv", "orders_history.csv", "inventory_history.csv", "orders_2.csv"} <= set(names)
    _, mismatch, errors = filecmp.cmpfiles(a.root, b.root, names, shallow=False)
    assert not mismatch and not errors
    assert a.truth(2).equals(b.truth(2))


def test_other_seed_gives_other_feeds(tmp_path):
    a = feeds.generate(str(tmp_path / "a"), 7, SMALL)
    c = feeds.generate(str(tmp_path / "c"), 8, SMALL)
    _, mismatch, _ = filecmp.cmpfiles(a.root, c.root, ["orders_1.csv", "products_1.csv"], shallow=False)
    assert mismatch == ["orders_1.csv", "products_1.csv"]


def test_cached_world_is_reused_and_rebuilt_for_another_spec(tmp_path):
    root = str(tmp_path / "w")
    feeds.generate(root, 7, SMALL)
    stamp = os.path.getmtime(os.path.join(root, "orders_1.csv"))
    feeds.generate(root, 7, SMALL)
    assert os.path.getmtime(os.path.join(root, "orders_1.csv")) == stamp
    bigger = feeds.FeedSpec(history_days=2, days=2, orders_per_day=400)
    w = feeds.generate(root, 7, bigger)
    assert w.spec == bigger and len(w.events) > 0


def test_truth_follows_latest_delivered_event(tmp_path):
    w = feeds.generate(str(tmp_path / "w"), 3, SMALL)
    ev = w.delivered(2)
    assert not ev.duplicated(["id", "event_time"]).any()
    truth = w.truth(2).set_index("id")["status"]
    latest = ev.sort_values("event_time").groupby("id")["status"].last()
    assert truth.sort_index().equals(latest.sort_index())
    # the day-2 feed holds duplicate deliveries the warehouse must absorb
    assert (w.events["delivery_day"] == 2).sum() > len(ev[ev["delivery_day"] == 2])


def test_tree_cpu_counts_live_children():
    """Set-up CPU must include the JVM and its Python workers, which are
    live child processes while it is read."""
    burn = (
        "import sys, time\n"
        "t = time.process_time()\n"
        "while time.process_time() - t < 0.5: pass\n"
        "sys.stdout.write('x'); sys.stdout.flush(); time.sleep(60)\n"
    )
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdout=subprocess.PIPE)
    try:
        child.stdout.read(1)
        assert tree_cpu_s() - before >= 0.4
    finally:
        child.kill()
        child.wait()


def _span(i, parent, start, end):
    return Span(i, f"s{i}", parent, 0, start, end)


def test_covered_merges_overlaps_and_clips():
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert covered([], 0, 1) == 0


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 4.0),
        _span(2, 0, 3.0, 6.0),  # overlaps its sibling: counted once
        _span(3, 1, 2.0, 3.0),  # grandchild: only its parent loses it
        _span(4, None, 20.0, 21.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(5.0)
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(3.0)
    assert st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


class _FakeStore:
    def __init__(self, jobs, stages):
        self.jobs, self.stages = jobs, stages

    total = StatusStore.total


def test_jobs_go_to_innermost_span_and_shared_stages_count_once():
    tracer = Tracer(spark=None)
    tracer.spans = [_span(0, None, 0, 10), _span(1, 0, 1, 5)]

    def stage(cpu):
        return {f: 0.0 for f in STAGE_FIELDS} | {"executorCpuTime": cpu}

    store = _FakeStore(
        jobs={
            0: {"tags": ["spark-session-x-thread-y-dwhb0", "spark-session-x-thread-y-dwhb1"],
                "stages": [0, 1], "start": 2.0, "end": 3.0},
            1: {"tags": ["spark-session-x-thread-y-dwhb0"], "stages": [1, 2], "start": 6.0, "end": 7.0},
            2: {"tags": [], "stages": [3], "start": 12.0, "end": 13.0},
        },
        stages={(0, 0): stage(1.0), (1, 0): stage(2.0), (2, 0): stage(4.0), (3, 0): stage(8.0)},
    )
    cov = tracer.attribute(store)
    assert tracer.spans[1].counters["executorCpuTime"] == 3.0  # stages 0 and 1
    assert tracer.spans[0].counters["executorCpuTime"] == 4.0  # stage 1 is job 0's
    assert cov == {"attributed_cpu_s": 7.0, "total_cpu_s": 15.0}
    inc = tracer.inclusive()
    assert inc[0]["counters"]["executorCpuTime"] == 7.0 and inc[0]["jobs"] == 2


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from batch_data_pipeline_exercise_spark.session import get_spark

    s = get_spark(app_name="dwhbench-test", master="local[2]", shuffle_partitions=4,
                  extra_conf={"spark.ui.showConsoleProgress": "false"})
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()


def test_traced_nightly_day_attributes_the_run_cpu(spark, tmp_path):
    """Coverage bar: the spans' executor CPU on one traced nightly day is
    within 5% of the status store's total for that day."""
    from batch_data_pipeline_exercise_spark.plans.pipeline import Pipeline
    from dwhbench.nightly import load_day

    w = feeds.generate(str(tmp_path / "feeds"), 5, SMALL)
    p = Pipeline(spark, str(tmp_path / "wh"))
    p.init_dates()
    p.run_products(w.path("products", "history"), w.history_start)
    p.run_orders(w.path("orders", "history"), w.history_ts)
    p.run_inventory(w.path("inventory", "history"), w.history_ts)
    store = StatusStore(spark)
    store.settle()
    before = set(store.stages)
    tracer = Tracer(spark).install()
    try:
        tracer.op = 1
        load_day(p, w, 1)
    finally:
        tracer.uninstall()
    store.settle()
    day_total = sum(c["executorCpuTime"] for k, c in store.stages.items() if k not in before)
    tracer.attribute(store)
    attributed = sum(s.counters["executorCpuTime"] for s in tracer.spans)
    assert day_total > 0
    assert attributed == pytest.approx(day_total, rel=0.05)
    names = {s.name for s in tracer.spans}
    assert {"pipeline.run_orders", "warehouse.overwrite:dim_orders", "warehouse.exists"} <= names


def test_benchmark_json_names_every_reported_metric():
    import json

    from dwhbench.layers import per_layer
    from dwhbench.run import END_TO_END, WORKLOADS

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == per_layer()
