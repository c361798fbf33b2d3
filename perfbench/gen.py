"""Seeded input generator for the warehouse benchmark.

Two stages, both pure functions of the seed:

1. ``source_tables`` synthesizes TPC-H-shaped tables (``events``,
   ``orders``, ``lineitem``, ``customer``, ``nation``, ``part``) with the
   columns of the repository's sf test data. The benchmark may read only
   its own checkout, so it draws these rows itself instead of sampling
   a test-data directory.
2. ``derive_ods`` turns them into the reference warehouse's ODS inputs:
   behaviour-log JSON lines (page, start and display events, about 1 %
   malformed lines, false ``is_new`` claims), CDC envelopes for
   ``order_info``, ``order_detail`` and ``payment_info`` (inserts,
   updates, deletes, details outside the ±5 s join interval) and the six
   dimension tables.

The package under test only ever sees the files ``write_ods`` lays out.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np

T0_MS = 1_717_200_000_000  # 2024-06-01 00:00:00 UTC
SPAN_DAYS = 3
SPAN_MS = SPAN_DAYS * 86_400_000
VISIT_GAP_MS = 30 * 60_000

# Far-future events that advance every streaming watermark past the last
# real window (append mode emits a window only once the watermark passes
# its end). The log sentinel is a search-result page so it survives the
# keyword query's search filter, which Catalyst pushes below the
# watermark node.
SENTINEL_TS_MS = 1_900_000_000_000
SENTINEL_ORDER_ID = 999_999_999

WORDS = ("red", "blue", "steel", "cotton", "phone", "shoe", "ring", "lamp", "cable", "jacket",
         "mini", "pro", "smart", "large", "bolt", "glass")
TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PAGE_OF_EVENT = {"view": "good_list", "click": "good_detail", "purchase": "trade",
                 "search": "search", "error": "home"}

# Routing config (table_process rows) for ``plans.apps.base_db_app``:
# every column the DWM apps read is kept.
RULES = [
    {"source_table": "order_info", "operate_type": "insert", "sink_type": "kafka",
     "sink_table": "dwd_order_info", "sink_pk": "id", "sink_extend": "",
     "sink_columns": "id,province_id,order_status,user_id,total_amount,activity_reduce_amount,"
                     "coupon_reduce_amount,original_total_amount,feight_fee,create_time"},
    {"source_table": "order_detail", "operate_type": "insert", "sink_type": "kafka",
     "sink_table": "dwd_order_detail", "sink_pk": "id", "sink_extend": "",
     "sink_columns": "id,order_id,sku_id,order_price,sku_num,sku_name,create_time,"
                     "split_total_amount,split_activity_amount,split_coupon_amount"},
    {"source_table": "payment_info", "operate_type": "insert", "sink_type": "kafka",
     "sink_table": "dwd_payment_info", "sink_pk": "id", "sink_extend": "",
     "sink_columns": "id,order_id,user_id,total_amount,subject,payment_type,create_time"},
]


@dataclass(frozen=True)
class Scale:
    users: int = 100
    events: int = 4000
    orders: int = 1000
    customers: int = 200
    parts: int = 200


def source_tables(seed: int, scale: Scale = Scale()) -> dict[str, dict[str, np.ndarray]]:
    """TPC-H-shaped columns, drawn from ``seed`` alone."""
    rng = np.random.default_rng(seed)
    n_nation = 25
    nation = {"n_nationkey": np.arange(n_nation),
              "n_name": np.array([f"NATION_{i}" for i in range(n_nation)])}
    customer = {"c_custkey": np.arange(scale.customers),
                "c_nationkey": rng.integers(0, n_nation, scale.customers),
                "c_acctbal": np.round(rng.uniform(-999, 9999, scale.customers), 2)}
    w = rng.integers(0, len(WORDS), (scale.parts, 2))
    part = {"p_partkey": np.arange(scale.parts),
            "p_name": np.array([f"{WORDS[a]} {WORDS[b]}" for a, b in w]),
            "p_brand": rng.integers(1, 6, scale.parts),
            "p_type": rng.integers(0, len(TYPES), scale.parts),
            "p_size": rng.integers(1, 51, scale.parts),
            "p_retailprice": np.round(rng.uniform(900, 2000, scale.parts), 2)}
    events = {"user_id": rng.integers(0, scale.users, scale.events),
              "ts": T0_MS + np.sort(rng.integers(0, SPAN_MS, scale.events)),
              "event_type": rng.choice(list(PAGE_OF_EVENT), scale.events,
                                       p=[0.35, 0.25, 0.1, 0.2, 0.1])}
    n_lines = rng.integers(1, 5, scale.orders)
    orders = {"o_orderkey": np.arange(1, scale.orders + 1),
              "o_custkey": rng.integers(0, scale.customers, scale.orders),
              "o_totalprice": np.round(rng.uniform(20, 900, scale.orders), 2),
              "o_orderdate": T0_MS + rng.integers(60, SPAN_MS // 1000 - 300, scale.orders) * 1000}
    total = int(n_lines.sum())
    lineitem = {"l_orderkey": np.repeat(orders["o_orderkey"], n_lines),
                "l_partkey": rng.integers(0, scale.parts, total),
                "l_quantity": rng.integers(1, 6, total),
                "l_extendedprice": np.round(rng.uniform(5, 300, total), 2),
                "l_discount": rng.integers(0, 11, total) / 100.0,
                # seconds between order and detail rows: mostly inside
                # ±5 s, some outside (those must not join)
                "l_offset_s": rng.choice([-4, -2, -1, 0, 1, 2, 3, 5, 8, -9, 14], total)}
    return {"nation": nation, "customer": customer, "part": part, "events": events,
            "orders": orders, "lineitem": lineitem}


def _fmt(ms: int) -> str:
    s = ms // 1000
    d, r = divmod(s - T0_MS // 1000, 86_400)
    h, r = divmod(r, 3600)
    m, sec = divmod(r, 60)
    return f"2024-06-{1 + d:02d} {h:02d}:{m:02d}:{sec:02d}"


@dataclass
class Ods:
    log: list[tuple[int, str]] = field(default_factory=list)   # (ts ms, JSON line)
    cdc: list[tuple[int, str]] = field(default_factory=list)   # (event ms, envelope)
    dims: dict[str, list[dict]] = field(default_factory=dict)
    counts: dict[str, int] = field(default_factory=dict)


def derive_ods(src: dict, seed: int) -> Ods:
    rng = np.random.default_rng(seed + 1)
    ods = Ods()
    parts = src["part"]
    names = parts["p_name"]
    # ---- behaviour log: one mid per user, visits split at 30 min gaps
    ev = src["events"]
    order = np.lexsort((ev["ts"], ev["user_id"]))
    last_ts: dict[int, int] = {}
    last_page: dict[int, str | None] = {}
    n_start = n_dirty = 0
    for i in order:
        uid = int(ev["user_id"][i])
        ts = int(ev["ts"][i])
        prev = last_ts.get(uid)
        new_visit = prev is None or ts - prev > VISIT_GAP_MS
        if prev is not None and ts <= prev + 1:
            ts = prev + 2  # (mid, ts) stays unique: the apps tie-break on it
        common = {"mid": f"mid_{uid}", "vc": f"v2.1.{100 + uid % 3}",
                  "ch": ("huawei", "xiaomi", "appstore", "oppo")[uid % 4],
                  "ar": f"{10 + uid % 5}0000",
                  "is_new": "1" if prev is None or rng.random() < 0.1 else "0"}
        if new_visit and rng.random() < 0.5:
            ods.log.append((ts - 1, json.dumps(
                {"common": common, "start": {"entry": "icon", "loading_time": str(int(rng.integers(100, 900)))},
                 "ts": ts - 1})))
            n_start += 1
        before = None if new_visit else last_page.get(uid)
        page_id = PAGE_OF_EVENT[str(ev["event_type"][i])]
        page = {"page_id": page_id, "last_page_id": before, "item": None, "item_type": None,
                "during_time": int(rng.integers(1000, 20000))}
        if page_id == "search" or before == "search":
            page["item"] = str(names[rng.integers(0, len(names))])
            page["item_type"] = "keyword"
        elif page_id == "good_detail":
            page["item"] = str(int(rng.integers(0, len(names))) + 1)
            page["item_type"] = "sku_id"
        evt = {"common": common, "page": page, "ts": ts}
        if rng.random() < 0.4:
            evt["displays"] = [{"item": str(int(rng.integers(0, len(names))) + 1), "item_type": "sku_id",
                                "pos_id": str(k)} for k in range(int(rng.integers(1, 4)))]
        ods.log.append((ts, json.dumps(evt)))
        if rng.random() < 0.01:
            ods.log.append((ts, json.dumps(evt)[: int(rng.integers(5, 40))]))
            n_dirty += 1
        last_ts[uid] = ts
        last_page[uid] = page_id
    ods.log.sort(key=lambda p: p[0])
    # ---- CDC envelopes
    od, li, cust = src["orders"], src["lineitem"], src["customer"]

    def env(table: str, kind: str, after: dict, before: dict | None = None) -> str:
        return json.dumps({"database": "gmall", "tableName": table, "before": before or {},
                           "after": {k: str(v) for k, v in after.items()}, "type": kind})

    did = pid = 0
    line_at = np.searchsorted(li["l_orderkey"], od["o_orderkey"])
    for k in range(len(od["o_orderkey"])):
        oid = int(od["o_orderkey"][k])
        t = int(od["o_orderdate"][k])
        uid = int(od["o_custkey"][k])
        total = float(od["o_totalprice"][k])
        info = {"id": oid, "province_id": int(cust["c_nationkey"][uid]) + 1, "order_status": "1001",
                "user_id": uid + 1, "total_amount": f"{total:.2f}", "activity_reduce_amount": "0.00",
                "coupon_reduce_amount": "0.00", "original_total_amount": f"{total:.2f}",
                "feight_fee": "5.00", "expire_time": "", "create_time": _fmt(t), "operate_time": ""}
        ods.cdc.append((t, env("order_info", "insert", info)))
        j = line_at[k]
        while j < len(li["l_orderkey"]) and li["l_orderkey"][j] == oid:
            did += 1
            sku = int(li["l_partkey"][j])
            dt = t + int(li["l_offset_s"][j]) * 1000
            amount = li["l_extendedprice"][j] * (1 - li["l_discount"][j])
            ods.cdc.append((dt, env("order_detail", "insert", {
                "id": did, "order_id": oid, "sku_id": sku + 1,
                "order_price": f"{li['l_extendedprice'][j]:.2f}", "sku_num": int(li["l_quantity"][j]),
                "sku_name": str(names[sku]), "create_time": _fmt(dt),
                "split_total_amount": f"{amount:.2f}", "split_activity_amount": "0.00",
                "split_coupon_amount": "0.00"})))
            j += 1
        r = rng.random()
        if r < 0.85:
            pid += 1
            # payment within 15 s of the order joins; a few pay too late
            pt = t + int(rng.integers(0, 16) if r < 0.8 else rng.integers(20, 40)) * 1000
            ods.cdc.append((pt, env("payment_info", "insert", {
                "id": pid, "order_id": oid, "user_id": uid + 1, "total_amount": f"{total:.2f}",
                "subject": "order payment", "payment_type": ("1101", "1102", "1103")[oid % 3],
                "create_time": _fmt(pt), "callback_time": ""})))
        if rng.random() < 0.05:
            upd = dict(info, order_status="1002", operate_time=_fmt(t + 60_000))
            ods.cdc.append((t + 60_000, env("order_info", "update", upd, {k: str(v) for k, v in info.items()})))
        if rng.random() < 0.02:
            ods.cdc.append((t + 120_000, env("order_info", "delete", {}, {k: str(v) for k, v in info.items()})))
    ods.cdc.sort(key=lambda p: p[0])
    # ---- dims
    nat = src["nation"]
    ods.dims = {
        "dim_user_info": [{"id": str(c + 1), "birthday": f"19{60 + c % 40}-0{1 + c % 9}-1{c % 9}",
                           "gender": "MF"[c % 2]} for c in range(len(cust["c_custkey"]))],
        "dim_base_province": [{"id": str(n + 1), "name": str(nat["n_name"][n]), "area_code": f"{n + 1}0000",
                               "iso_code": f"CN-{n + 1}", "iso_3166_2": f"CN-A{n + 1}"}
                              for n in range(len(nat["n_nationkey"]))],
        "dim_sku_info": [{"id": str(p + 1), "sku_name": str(names[p]), "price": f"{parts['p_retailprice'][p]:.2f}",
                          "category3_id": str(int(parts["p_type"][p]) + 1), "spu_id": str(int(parts["p_size"][p]) // 10 + 1),
                          "tm_id": str(int(parts["p_brand"][p]))} for p in range(len(names))],
        "dim_spu_info": [{"id": str(s), "spu_name": f"spu {s}"} for s in range(1, 7)],
        "dim_base_trademark": [{"id": str(b), "tm_name": f"Brand#{b}"} for b in range(1, 6)],
        "dim_base_category3": [{"id": str(c + 1), "name": t} for c, t in enumerate(TYPES)],
    }
    ods.counts = {"log_lines": len(ods.log), "start": n_start, "dirty": n_dirty,
                  "cdc_lines": len(ods.cdc)}
    return ods


def sentinel_lines() -> tuple[str, list[str]]:
    log = json.dumps({"common": {"mid": "_sentinel", "vc": "v", "ch": "c", "ar": "0", "is_new": "0"},
                      "page": {"page_id": "search", "last_page_id": "search", "item": "sentinelword",
                               "item_type": "keyword", "during_time": 1},
                      "ts": SENTINEL_TS_MS})
    t = "2030-03-17 17:46:40"
    oi = {"id": SENTINEL_ORDER_ID, "province_id": 1, "order_status": "1001", "user_id": 1,
          "total_amount": "1.00", "activity_reduce_amount": "0.00", "coupon_reduce_amount": "0.00",
          "original_total_amount": "1.00", "feight_fee": "0.00", "expire_time": "", "create_time": t,
          "operate_time": ""}
    de = {"id": SENTINEL_ORDER_ID, "order_id": SENTINEL_ORDER_ID, "sku_id": 1, "order_price": "1.00",
          "sku_num": 1, "sku_name": "sentinel", "create_time": t, "split_total_amount": "1.00",
          "split_activity_amount": "0.00", "split_coupon_amount": "0.00"}
    cdc = [json.dumps({"database": "gmall", "tableName": tb, "before": {},
                       "after": {k: str(v) for k, v in row.items()}, "type": "insert"})
           for tb, row in (("order_info", oi), ("order_detail", de))]
    return log, cdc


def _write_lines(path: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write("\n".join(lines))
        f.write("\n")


def write_ods(ods: Ods, root: str, backlog_files: int) -> dict[str, str]:
    """Lay the ODS out on disk: one file per topic for batch replay, and
    the same records cut into ``backlog_files`` event-time slices (plus
    the sentinels in the last slice) for the streaming catch-up. File
    mtimes follow slice order, which is the file source's batch order."""
    paths = {k: os.path.join(root, k) for k in ("log", "cdc", "backlog_log", "backlog_cdc")}
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    _write_lines(os.path.join(paths["log"], "log.json"), [s for _, s in ods.log])
    _write_lines(os.path.join(paths["cdc"], "cdc.json"), [s for _, s in ods.cdc])
    edges = T0_MS + np.linspace(0, SPAN_MS + 200_000, backlog_files + 1)[1:]
    log_s, cdc_s = sentinel_lines()
    for topic, recs, tail in (("backlog_log", ods.log, [log_s]), ("backlog_cdc", ods.cdc, cdc_s)):
        ts = np.array([t for t, _ in recs])
        cuts = np.searchsorted(ts, edges, side="left")
        cuts[-1] = len(recs)
        lo = 0
        for n, hi in enumerate(cuts):
            lines = [s for _, s in recs[lo:hi]] + (tail if n == backlog_files - 1 else [])
            p = os.path.join(paths[topic], f"part-{n:03d}.json")
            _write_lines(p, lines)
            os.utime(p, (1_700_000_000 + n, 1_700_000_000 + n))
            lo = hi
    return paths
