"""Seeded daily-feed generator for the nightly DWH benchmark.

Derives the three CSV feeds the pipeline ingests (products snapshot,
order events, changed-only inventory) from the read-only TPC-H-style
``part`` table, so product ids, titles, categories and prices are real
testdata rows; everything that varies (popularity, order lifecycles,
drift, duplicates, late rows) is drawn from ``numpy.random.default_rng(seed)``.
Same seed, same bytes; the engine only ever sees the CSV paths.

Shape of one generated world:

- ``history``: ``history_days`` of order events, one changed-only
  inventory series and the first products snapshot, loaded once in
  set-up as three bulk feeds;
- ``days``: per day a full products snapshot (~``DRIFT`` of products
  change category or price), the order events whose timestamp falls on
  that date (``LATE`` of them arrive one feed later, ``DUP`` are
  delivered twice, half within one feed and half in the next one) and
  the ~``INV_CHANGE`` share of products whose stock moved;
- an order status (``on_hold``) that the warehouse has never seen
  starts appearing in the feeds after the first day.

``truth(k)`` answers what the warehouse must hold after the history
load plus days ``1..k``: per order, its current status and whether a
fact row is due.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass
from datetime import datetime, timedelta

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

#: the repository's read-only testdata (TESTDATA.md)
TESTDATA = "/root/testdata"
#: part of the cache key; bump whenever the same seed and spec would
#: generate different bytes
GENERATOR_VERSION = 2
EPOCH = datetime(2024, 1, 1)

#: order lifecycles: (statuses, probability). Every order starts ``created``.
PATHS = (
    (("created", "paid", "shipped", "completed"), 0.75),
    (("created", "deleted"), 0.10),
    (("created", "paid", "deleted"), 0.15),
)
#: orders created from feed day ``NEW_STATUS_DAY`` on may detour through a
#: status no earlier feed carried; nightly_batch times night 1
#: (``nightly.E2E_DAYS``), so the new status first reaches the warehouse
#: in the timed night
NEW_STATUS_PATH = ("created", "paid", "on_hold", "shipped", "completed")
NEW_STATUS_SHARE = 0.10
NEW_STATUS_DAY = 1
#: daily share of products whose category or price changes
DRIFT = 0.01
#: daily share of products whose stock moves
INV_CHANGE = 0.05
#: share of order events delivered twice
DUP = 0.02
#: share of order events that arrive one feed late
LATE = 0.01


@dataclass(frozen=True)
class FeedSpec:
    """World size: days of bulk-loaded history, feed days, orders created
    per day."""

    history_days: int
    days: int
    orders_per_day: int


def day_date(d: int) -> datetime:
    """Calendar date of feed day ``d`` (day 0 is the last history date)."""
    return EPOCH + timedelta(days=d)


def day_ts(d: int) -> str:
    """Batch timestamp of the nightly run that ingests day ``d``: 01:00
    the morning after."""
    return (day_date(d) + timedelta(days=1, hours=1)).strftime("%Y-%m-%d %H:%M:%S")


class Feeds:
    """One generated world: CSV paths per day plus the ground truth."""

    def __init__(self, root: str, spec: FeedSpec, events: pd.DataFrame):
        self.root = root
        self.spec = spec
        self.events = events

    # -- paths --------------------------------------------------------------

    def path(self, kind: str, d: int | str) -> str:
        return os.path.join(self.root, f"{kind}_{d}.csv")

    @property
    def history_start(self) -> str:
        return day_date(-self.spec.history_days).strftime("%Y-%m-%d %H:%M:%S")

    @property
    def history_ts(self) -> str:
        return day_ts(0)

    # -- ground truth ---------------------------------------------------------

    def delivered(self, k: int) -> pd.DataFrame:
        """Distinct (id, event_time) events delivered by the history load
        and feed days ``1..k``."""
        ev = self.events[self.events["delivery_day"] <= k]
        return ev.drop_duplicates(["id", "event_time"])

    def truth(self, k: int) -> pd.DataFrame:
        """Per order after day ``k``: current status (latest event) — one
        row per order that has any delivered event, which is also the set
        of orders owed one ``fact_orders_created`` row."""
        ev = self.delivered(k).sort_values(["id", "event_time"])
        return ev.groupby("id", sort=False).tail(1)[["id", "status"]].reset_index(drop=True)


def _write_csv(df: pd.DataFrame, path: str) -> None:
    tmp = path + ".tmp"
    pacsv.write_csv(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)


def _fmt_ts(seconds: np.ndarray) -> np.ndarray:
    return (np.datetime64(EPOCH, "s") + seconds.astype("timedelta64[s]")).astype(str)


def generate(root: str, seed: int, spec: FeedSpec) -> Feeds:
    """Write every feed of one world under ``root`` (reused as-is when a
    previous call with the same seed and spec completed there)."""
    os.makedirs(root, exist_ok=True)
    stamp = os.path.join(root, "_COMPLETE.json")
    events_path = os.path.join(root, "_events.parquet")
    key = {"version": GENERATOR_VERSION, "seed": seed, "spec": asdict(spec)}
    if os.path.exists(stamp):
        with open(stamp) as fh:
            if json.load(fh) == key:
                return Feeds(root, spec, pd.read_parquet(events_path))
        os.remove(stamp)

    rng = np.random.default_rng(seed)
    part = pq.read_table(
        os.path.join(TESTDATA, "sf0.1", "part.parquet"),
        columns=["p_partkey", "p_name", "p_type", "p_retailprice"],
    ).to_pandas()
    n_prod = len(part)
    pid = part["p_partkey"].astype(str).to_numpy()
    title = part["p_name"].to_numpy(dtype=object)
    category = part["p_type"].to_numpy(dtype=object)
    price = np.round(part["p_retailprice"].to_numpy(), 2)
    categories = np.unique(category)

    # -- products: history snapshot, then one full snapshot per day --------
    H, D = spec.history_days, spec.days
    _write_csv(pd.DataFrame({"id": pid, "title": title, "category": category, "price": price}),
               os.path.join(root, "products_history.csv"))
    for d in range(1, D + 1):
        moved = rng.random(n_prod) < DRIFT
        recat = moved & (rng.random(n_prod) < 0.5)
        category = np.where(recat, categories[rng.integers(0, len(categories), n_prod)], category)
        reprice = moved & ~recat
        price = np.where(reprice, np.round(price * rng.uniform(0.9, 1.1, n_prod), 2), price)
        _write_csv(pd.DataFrame({"id": pid, "title": title, "category": category, "price": price}),
                   os.path.join(root, f"products_{d}.csv"))

    # -- orders: a stream created uniformly over history + feed days -------
    n_orders = spec.orders_per_day * (H + D)
    t_lo, t_hi = (-H + 1) * 86400, (D + 1) * 86400
    created = np.sort(rng.integers(t_lo, t_hi, n_orders))
    # skewed popularity: Zipf-like weights over a seeded product ranking
    weights = 1.0 / np.arange(1, n_prod + 1) ** 1.1
    prod_of = rng.permutation(n_prod)[rng.choice(n_prod, n_orders, p=weights / weights.sum())]
    amount = rng.integers(1, 6, n_orders)
    total = np.round(amount * price[prod_of], 2)
    path_idx = rng.choice(len(PATHS), n_orders, p=[p for _, p in PATHS])
    detour = (created >= NEW_STATUS_DAY * 86400) & (path_idx == 0) & (rng.random(n_orders) < NEW_STATUS_SHARE)
    paths = [s for s, _ in PATHS] + [NEW_STATUS_PATH]
    path_idx = np.where(detour, len(PATHS), path_idx)

    rows_order, rows_status, rows_time = [], [], []
    for k, statuses in enumerate(paths):
        sel = np.flatnonzero(path_idx == k)
        t = created[sel].copy()
        for j, status in enumerate(statuses):
            if j:
                t = t + 60 + rng.exponential(18 * 3600, len(sel)).astype(np.int64)
            rows_order.append(sel)
            rows_status.append(np.full(len(sel), status, dtype=object))
            rows_time.append(t)
    order = np.concatenate(rows_order)
    status = np.concatenate(rows_status)
    etime = np.concatenate(rows_time)
    keep = etime < t_hi
    order, status, etime = order[keep], status[keep], etime[keep]

    # feed day of each event: its calendar day, history (<= 0) folds into
    # the bulk load; late rows slip one feed, duplicates repeat. Rows of
    # the last history date can slip too, so the first feed day gets some.
    cal = etime // 86400
    day = np.where(cal < 1, 0, cal)
    late = (rng.random(len(day)) < LATE) & (cal >= 0) & (day < D)
    day = day + late
    events = pd.DataFrame({
        "id": np.char.add("o", np.char.zfill(order.astype(str), 8)),
        "productId": pid[prod_of[order]],
        "amount": amount[order],
        "totalPrice": total[order],
        "status": status,
        "timestamp": _fmt_ts(etime),
        "delivery_day": day,
    })
    dup = rng.random(len(events)) < DUP
    redeliver = dup & (rng.random(len(events)) < 0.5) & (cal >= 0) & (day < D)
    copies = events[dup].copy()
    copies.loc[redeliver[dup], "delivery_day"] += 1
    events = pd.concat([events, copies], ignore_index=True)
    # seeded row order inside each feed file (not generation order)
    events = events.iloc[rng.permutation(len(events))].reset_index(drop=True)
    cols = ["id", "productId", "amount", "totalPrice", "status", "timestamp"]
    for d, grp in events.groupby("delivery_day"):
        _write_csv(grp[cols], os.path.join(root, "orders_history.csv" if d == 0 else f"orders_{d}.csv"))

    # -- inventory: full first snapshot, then changed-only rows per date ---
    stock = rng.integers(0, 500, n_prod)
    inv_hist = [pd.DataFrame({"productId": pid, "amount": stock, "date": day_date(-H + 1).date()})]
    for d in range(-H + 2, D + 1):
        moved = np.flatnonzero(rng.random(n_prod) < INV_CHANGE)
        stock[moved] = np.maximum(0, stock[moved] + rng.integers(-50, 51, len(moved)))
        frame = pd.DataFrame({"productId": pid[moved], "amount": stock[moved], "date": day_date(d).date()})
        if d <= 0:
            inv_hist.append(frame)
        else:
            _write_csv(frame, os.path.join(root, f"inventory_{d}.csv"))
    _write_csv(pd.concat(inv_hist, ignore_index=True), os.path.join(root, "inventory_history.csv"))

    truth_events = events[["id", "status", "timestamp", "delivery_day"]].rename(
        columns={"timestamp": "event_time"}
    )
    truth_events.to_parquet(events_path, index=False)
    with open(stamp, "w") as fh:
        json.dump(key, fh)
    return Feeds(root, spec, truth_events)
