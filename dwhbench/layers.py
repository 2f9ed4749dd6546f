"""Names and units of the per-layer metrics a traced run reports.

Prefixes are the engine's modules (README.md, "Layers"). Both workloads
print every name; a layer a workload never calls reads 0 there.
"""

from __future__ import annotations

#: the seven ``plans.metrics`` functions, in the order the dashboard runs them
METRIC_FUNCTIONS = (
    "current_orders_by_status",
    "orders_created_per_quarter",
    "orders_created_per_quarter_category",
    "retained_orders",
    "monthly_created_not_completed",
    "daily_stock_by_category",
    "month_end_stock_by_category",
)

#: warehouse table written by the nightly load -> metric prefix (the layer
#: whose operator computes what is written)
WRITE_TARGETS = {
    "stg_products": "csv_feed.stg_products",
    "stg_orders": "csv_feed.stg_orders",
    "dim_products": "scd2.dim_products",
    "dim_orders": "scd2.dim_orders",
    "events_orders": "warehouse.events_orders",
    "fact_inventory": "warehouse.fact_inventory",
    "fact_orders_created": "facts.fact_orders_created",
}

#: the ``bench=True`` registry queries the registry workload times: the
#: similarity/dedup targets of ROADMAP item 3 (``doc_prefix_fuzzy_pairs``,
#: ``embedding_near_dup_pairs``) and ``order_penny_allocation``. All 24
#: take ~16 s per warm pass after a ~30 s cold check pass on four quiet
#: cores, too long for the run budget of 4 + 22 x 2 runs; bench.py still
#: times all 24.
REGISTRY_QUERIES = (
    "doc_prefix_fuzzy_pairs",
    "embedding_near_dup_pairs",
    "order_penny_allocation",
)

_COUNTERS = {"s": "s", "cpu_s": "s", "shuffle_mb": "MB", "rows_in": "count"}


def per_layer() -> dict[str, str]:
    """Every per-layer metric name -> unit."""
    out = {
        "setup_wall_s": "s",
        "session.get_spark.s": "s",
        "session.jvm_peak_rss_mb": "MB",
        "dates.init_dates.s": "s",
        "trace.overhead_s": "s",
        "batch_s": "s",
        "query_mean_s": "s",
        "trace.cpu_coverage": "ratio",
        "spill_mb": "MB",
        "pipeline.run_products.s": "s",
        "pipeline.run_orders.s": "s",
        "pipeline.run_inventory.s": "s",
        "pipeline.jobs_per_day": "count",
        "pipeline.driver_only_s": "s",
        "warehouse.exists.calls": "count",
        "warehouse.exists.s": "s",
        "warehouse.files_total": "count",
    }
    for prefix in WRITE_TARGETS.values():
        out.update({f"{prefix}.{k}": u for k, u in _COUNTERS.items()})
    out["scd2.dim_orders.rows_in_per_batch_row"] = "ratio"
    out["facts.fact_orders_created.rows_in_per_batch_row"] = "ratio"
    for fn in METRIC_FUNCTIONS:
        out.update({f"metrics.{fn}.{k}": u for k, u in _COUNTERS.items()})
    out["inventory.forward_fill.rows_out"] = "count"
    for q in REGISTRY_QUERIES:
        out[f"registry.{q}.s"] = "s"
        out[f"registry.{q}.cpu_s"] = "s"
        out[f"registry.{q}.shuffle_mb"] = "MB"
    return out
