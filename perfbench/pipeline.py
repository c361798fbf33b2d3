"""The reference warehouse, ODS → DWD → DWM → DWS → ADS, driven through
the package's public functions.

Every DWD, DWM and DWS boundary is a parquet directory, the way the
reference's apps hand off through Kafka topics, so each layer call is a
span with a well-defined start and end.
"""

from __future__ import annotations

import os
import shutil
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from datetime import datetime, timezone
from decimal import Decimal

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from gmall_flink_210726_spark import schemas, sinks
from gmall_flink_210726_spark.operators.parse import parse_json_column
from gmall_flink_210726_spark.plans import ads, apps
from gmall_flink_210726_spark.sources.cdc import read_cdc_batch, read_cdc_stream
from gmall_flink_210726_spark.streaming import apps as sapps
from gmall_flink_210726_spark.streaming import pipelines, stateful

import gen

DIMS = ("dim_user_info", "dim_base_province", "dim_sku_info", "dim_spu_info",
        "dim_base_trademark", "dim_base_category3")
DIM_SCHEMAS = {"dim_user_info": schemas.DIM_USER_INFO_SCHEMA,
               "dim_base_province": schemas.DIM_BASE_PROVINCE_SCHEMA,
               "dim_sku_info": schemas.DIM_SKU_INFO_SCHEMA,
               "dim_spu_info": schemas.DIM_SPU_INFO_SCHEMA,
               "dim_base_trademark": schemas.DIM_BASE_TRADEMARK_SCHEMA,
               "dim_base_category3": schemas.DIM_BASE_CATEGORY3_SCHEMA}
DWD_SCHEMAS = {"dwd_order_info": schemas.ORDER_INFO_SCHEMA,
               "dwd_order_detail": schemas.ORDER_DETAIL_SCHEMA,
               "dwd_payment_info": schemas.PAYMENT_INFO_SCHEMA}
# Pins the clock the apps would otherwise read (user age, ``ts`` stamps),
# so DWS tables are a function of the inputs alone.
NOW_MS = 1_717_459_200_000
NOW_DATE = "2024-06-04"

# (endpoint, DWS table it serves)
ENDPOINTS = (
    ("gmv_by_date", "product_stats"),
    ("product_stats_by_trademark", "product_stats"),
    ("product_stats_by_category3", "product_stats"),
    ("product_stats_by_sku", "product_stats"),
    ("visitor_stats_by_hour", "visitor_stats"),
    ("visitor_stats_by_new_flag", "visitor_stats"),
    ("keyword_top", "keyword_stats"),
    ("province_stats_map", "province_stats"),
)

STREAM_QUERIES = {  # query → warehouse layer
    "base_log": "dwd", "base_db": "dwd",
    "unique_visit": "dwm", "user_jump": "dwm", "order_wide": "dwm",
    "visitor_stats": "dws", "keyword_stats": "dws", "product_stats": "dws",
}


def write_dims(spark, ods: gen.Ods, root: str) -> float:
    """Write the six dim tables as parquet. ``dim_sku_info``, the one
    the streaming enrichment re-reads every micro-batch, is then
    published through ``sinks.upsert_dim_table``; its time is returned."""
    staged = os.path.join(root, "_staged")
    for name in DIMS:
        fields = [pa.field(f.name, pa.decimal128(16, 2) if f.name == "price" else pa.string())
                  for f in DIM_SCHEMAS[name].fields]
        rows = [{k: Decimal(v) if k == "price" else v for k, v in r.items()} for r in ods.dims[name]]
        table = pa.Table.from_pylist(rows, schema=pa.schema(fields))
        path = os.path.join(staged if name == "dim_sku_info" else root, name)
        os.makedirs(path)
        pq.write_table(table, os.path.join(path, "part-0.parquet"))
    t0 = time.perf_counter()
    sinks.upsert_dim_table(spark, os.path.join(root, "dim_sku_info"),
                           spark.read.parquet(os.path.join(staged, "dim_sku_info")), pk="id")
    return time.perf_counter() - t0


def _typed(df, schema):
    types = {f.name: f.dataType for f in schema.fields}
    return df.select(*[F.col(c).cast(types[c]).alias(c) for c in df.columns])


def _write(df, path: str) -> None:
    df.write.mode("overwrite").parquet(path)


# Parquet directories at each layer boundary, relative to a pass's output.
BATCH_TABLES = ("page", "start", "display", "dirty", "dwd_order_info", "dwd_order_detail",
                "dwd_payment_info", "unique_visit", "user_jump", "order_wide", "payment_wide",
                "visitor_stats", "product_stats", "province_stats", "keyword_stats")
STREAM_TABLES = {k: os.path.join(layer, k) for layer, ks in (
    ("dwd", ("page", "start", "dwd_order_info", "dwd_order_detail", "dwd_payment_info")),
    ("dwm", ("unique_visit", "user_jump", "order_wide")),
    ("dws", ("visitor_stats", "keyword_stats", "product_stats"))) for k in ks}


@dataclass
class PassResult:
    rows: dict = field(default_factory=dict)
    read_dim_s: list = field(default_factory=list)


def batch_pass(spark, tr, paths: dict, dims_root: str, out: str) -> PassResult:
    """One replay of the ten apps, each reading the previous layer's
    parquet output."""
    res = PassResult()
    p = {k: os.path.join(out, k) for k in BATCH_TABLES}
    with tr.span("ods.read", "ods"):
        raw = spark.read.text(paths["log"])
        cdc = read_cdc_batch(spark, paths["cdc"])
        _, dirty = parse_json_column(raw, "value", schemas.LOG_EVENT_SCHEMA)
        res.rows["ods.dirty"] = dirty.count()
        res.rows["ods.log"] = raw.count()
        res.rows["ods.cdc"] = cdc.count()
    with tr.span("dwd.base_log_app", "dwd"):
        for name, df in apps.base_log_app(raw).items():
            _write(df, p[name])
    with tr.span("dwd.base_db_app", "dwd"):
        for name, df in apps.base_db_app(cdc, gen.RULES).items():
            _write(_typed(df, DWD_SCHEMAS[name]), p[name])
    rd = spark.read.parquet
    with tr.span("dwm.unique_visit_app", "dwm"):
        _write(apps.unique_visit_app(rd(p["page"])), p["unique_visit"])
    with tr.span("dwm.user_jump_detail_app", "dwm"):
        _write(apps.user_jump_detail_app(rd(p["page"])), p["user_jump"])
    with tr.span("dwm.order_wide_app", "dwm"):
        dims = {}
        for name in DIMS:
            t0 = time.perf_counter()
            dims[name] = sinks.read_dim_table(spark, os.path.join(dims_root, name))
            res.read_dim_s.append(time.perf_counter() - t0)
        wide = apps.order_wide_app(rd(p["dwd_order_info"]), rd(p["dwd_order_detail"]), dims,
                                   now=F.lit(NOW_DATE).cast("date"))
        _write(wide, p["order_wide"])
    with tr.span("dwm.payment_wide_app", "dwm"):
        _write(apps.payment_wide_app(rd(p["dwd_payment_info"]), rd(p["order_wide"])), p["payment_wide"])
    page = rd(p["page"])
    with tr.span("dws.visitor_stats_app", "dws"):
        _write(apps.visitor_stats_app(page, rd(p["unique_visit"]), rd(p["user_jump"]), now_ms=NOW_MS),
               p["visitor_stats"])
    with tr.span("dws.product_stats_app", "dws"):
        empty = {k: spark.createDataFrame([], s) for k, s in (
            ("cart", schemas.CART_INFO_SCHEMA), ("favor", schemas.FAVOR_INFO_SCHEMA),
            ("refund", schemas.ORDER_REFUND_INFO_SCHEMA), ("comment", schemas.COMMENT_INFO_SCHEMA))}
        _write(apps.product_stats_app(rd(p["display"]), page, rd(p["order_wide"]), rd(p["payment_wide"]),
                                      **empty, now_ms=NOW_MS), p["product_stats"])
    with tr.span("dws.province_stats_app", "dws"):
        _write(apps.province_stats_app(rd(p["order_wide"]), now_ms=NOW_MS), p["province_stats"])
    with tr.span("dws.keyword_stats_app", "dws"):
        _write(apps.keyword_stats_app(page, now_ms=NOW_MS), p["keyword_stats"])
    return res


# ------------------------------------------------------------------ streaming

FLAT = "mid string, ts long, flag string, payload string, epoch_id int"


def _is_start():
    return F.get_json_object("payload", "$.start").isNotNull()


def _is_entry():
    return F.get_json_object("payload", "$.page.last_page_id").isNull()


def _page_from_flat(flat):
    """Re-parse the DWD page log's payload, with the rewritten is_new."""
    e = F.from_json("payload", schemas.LOG_EVENT_SCHEMA)
    return flat.select(e.common.withField("is_new", F.col("flag")).alias("common"),
                       e.page.alias("page"), e.displays.alias("displays"), "ts")


def _last_commit(progress: list, default: float) -> float:
    """Epoch seconds at which the query's last trigger finished."""
    if not progress:
        return default
    last = progress[-1]
    started = datetime.strptime(last["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(tzinfo=timezone.utc)
    return started.timestamp() + last["durationMs"].get("triggerExecution", 0) / 1000.0


@dataclass
class DrainResult:
    rows: dict = field(default_factory=dict)
    progress: dict = field(default_factory=dict)   # query → [progress dict]
    failed: dict = field(default_factory=dict)     # query → exception class
    append_s: list = field(default_factory=list)


def stream_drain(spark, tr, paths: dict, dims_root: str, out: str, files_per_trigger: int) -> DrainResult:
    """Drain the fixed ODS backlog with ``availableNow`` in three stages
    (DWD, then DWM and the page-fed DWS, then product stats), each stage
    reading the previous stage's epoch-partitioned parquet output."""
    res = DrainResult()
    lock = threading.Lock()

    def append(path):
        def sink(df, epoch_id):
            t0 = time.perf_counter()
            sinks.append_stats_exactly_once(df.coalesce(1), epoch_id, path)
            with lock:
                res.append_s.append(time.perf_counter() - t0)
        return sink

    def start(name, df, sink):
        return (df.writeStream.queryName(name).foreachBatch(sink)
                .option("checkpointLocation", os.path.join(out, "_ckpt", name))
                .trigger(availableNow=True).start())

    def run_stage(queries):
        parent = tr.current()
        handles = {}
        for n, (df, sink) in queries.items():
            handles[n] = (time.time(), start(n, df, sink))
        for n, (t_start, q) in handles.items():
            try:
                q.awaitTermination()
            except PySparkException as e:  # a failed micro-batch
                res.failed[n] = type(e).__name__
            res.progress[n] = list(q.recentProgress)
            tr.record(f"stream.{n}", STREAM_QUERIES[n], t_start, _last_commit(res.progress[n], t_start),
                      parent, run_id=str(q.runId))

    def dwd(name):
        return os.path.join(out, "dwd", name)

    def rs(path, schema):
        return (spark.readStream.schema(schema).option("maxFilesPerTrigger", files_per_trigger)
                .parquet(path))

    # Each stage's DataFrames are built inside a span of the stage's
    # layer, so no layer call runs outside a span.
    # ---- stage 1: DWD
    with tr.span("stream.dwd.build", "dwd"):
        raw = (spark.readStream.schema("value string").option("maxFilesPerTrigger", files_per_trigger)
               .text(paths["backlog_log"]))
        br = sapps.base_log_stream(raw)
        flat = br["page"].select(F.col("common.mid").alias("mid"), "ts", F.col("common.is_new").alias("flag"),
                                 F.to_json(F.struct("common", "page", "displays", "ts")).alias("payload")
                                 ).unionByName(
            br["start"].select(F.col("common.mid").alias("mid"), "ts", F.col("common.is_new").alias("flag"),
                               F.to_json(F.struct("common", "start", "ts")).alias("payload")))
        log_routes = {"page": ~_is_start(), "start": _is_start()}

        def base_log_sink(batch, epoch_id):
            pipelines.route_batch_to_sinks(batch, log_routes, lambda n, df: append(dwd(n))(df, epoch_id))

        cdc = read_cdc_stream(spark, paths["backlog_cdc"], max_files=files_per_trigger)
        db_routes = {r["sink_table"]: (F.col("tableName") == r["source_table"]) & (F.col("type") == r["operate_type"])
                     for r in gen.RULES}
        db_cols = {r["sink_table"]: r["sink_columns"].split(",") for r in gen.RULES}

        def base_db_sink(batch, epoch_id):
            def write(name, df):
                typed = _typed(df.select(*[F.col("after")[c].alias(c) for c in db_cols[name]]), DWD_SCHEMAS[name])
                append(dwd(name))(typed, epoch_id)
            pipelines.route_batch_to_sinks(batch, db_routes, write)

        stage = {"base_log": (stateful.streaming_fix_is_new(flat), base_log_sink),
                 "base_db": (cdc, base_db_sink)}
    run_stage(stage)
    # ---- stage 2: DWM and the page-fed DWS
    with tr.span("stream.dwm.build", "dwm"):
        page_flat = rs(dwd("page"), FLAT).drop("epoch_id")
        uv = stateful.streaming_daily_uv(page_flat.filter(_is_entry()))
        uj = stateful.streaming_detect_jumps(
            page_flat.withColumn("flag", F.when(_is_entry(), "entry").otherwise("page")))
        page = _page_from_flat(page_flat)
        oi_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schemas.ORDER_INFO_SCHEMA.fields
                              if f.name in db_cols["dwd_order_info"])
        od_schema = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in schemas.ORDER_DETAIL_SCHEMA.fields)
        oi = rs(dwd("dwd_order_info"), oi_schema + ", epoch_id int").select(
            F.col("id").alias("order_id"), "province_id", "user_id", "create_time",
            F.to_timestamp("create_time", "yyyy-MM-dd HH:mm:ss").alias("order_event_time"))
        od = rs(dwd("dwd_order_detail"), od_schema + ", epoch_id int").select(
            F.col("id").alias("detail_id"), F.col("order_id").alias("detail_order_id"), "sku_id", "sku_num",
            "split_total_amount", F.to_timestamp("create_time", "yyyy-MM-dd HH:mm:ss").alias("detail_event_time"))
        joined = pipelines.streaming_interval_join(
            oi, od, "order_id", "detail_order_id", "order_event_time", "detail_event_time",
            lower_s=-5, upper_s=5, left_watermark="30 seconds", right_watermark="30 seconds")
        sku = sinks.read_dim_table(spark, os.path.join(dims_root, "dim_sku_info")).select(
            F.col("id").cast("long").alias("dim_sku_id"), F.col("sku_name"), F.col("tm_id"), F.col("category3_id"))
        wide = sapps.enrich_stream_with_dims(
            joined.select("order_id", "province_id", "user_id", "create_time", "detail_id", "sku_id",
                          "sku_num", "split_total_amount"), sku, "sku_id", "dim_sku_id").drop("dim_sku_id")
        dwm = os.path.join(out, "dwm")
        dws = os.path.join(out, "dws")
        stage = {
            "unique_visit": (uv, append(os.path.join(dwm, "unique_visit"))),
            "user_jump": (uj, append(os.path.join(dwm, "user_jump"))),
            "order_wide": (wide, append(os.path.join(dwm, "order_wide"))),
            "visitor_stats": (sapps.visitor_stats_stream(page), append(os.path.join(dws, "visitor_stats"))),
            "keyword_stats": (sapps.keyword_stats_stream(page), append(os.path.join(dws, "keyword_stats"))),
        }
    run_stage(stage)
    # ---- stage 3: product stats over the order-wide stream
    with tr.span("stream.dws.build", "dws"):
        ow_schema = ("order_id long, province_id long, user_id long, create_time string, detail_id long, "
                     "sku_id long, sku_num long, split_total_amount decimal(16,2), sku_name string, "
                     "tm_id string, category3_id string, epoch_id int")
        stage = {"product_stats": (
            sapps.product_stats_stream(rs(os.path.join(dwm, "order_wide"), ow_schema), watermark="60 seconds"),
            append(os.path.join(dws, "product_stats")))}
    run_stage(stage)
    return res


# ------------------------------------------------------------------------ ADS

@dataclass
class AdsResult:
    seconds: float = 0.0
    ok: dict = field(default_factory=dict)        # endpoint → [latency s], timed rounds only
    failed: dict = field(default_factory=dict)    # endpoint → {exception class: count}
    warmup: int = 0                               # successful untimed queries

    @property
    def attempted(self) -> int:
        return sum(map(len, self.ok.values())) + self.warmup + self.failures

    @property
    def failures(self) -> int:
        return sum(n for d in self.failed.values() for n in d.values())


def ads_dates(dws: str, names) -> list[str]:
    """The days the DWS tables cover (sentinel windows excluded)."""
    days = set()
    for n in names:
        stt = ds.dataset(os.path.join(dws, n), format="parquet", partitioning="hive").to_table(columns=["stt"])
        days.update(v[:10] for v in stt.column("stt").to_pylist())
    return sorted(d for d in days if d < "2030")


def ads_phase(tr, tables: dict, dates: list[str], rounds: int, clients: int) -> AdsResult:
    """Closed loop: ``clients`` threads each call the next query of the
    round-robin (endpoint × date). One untimed round first plans every
    query once; then ``rounds`` timed rounds follow, so every run makes
    the same calls. An endpoint that raises is counted as failed, never
    retried or dropped."""
    res = AdsResult()
    plan = [(name, table, d) for d in dates for name, table in ENDPOINTS if table in tables]
    lock = threading.Lock()
    counter = [0]
    parent = tr.current()

    def call(name, table, d, timed: bool):
        with tr.span(f"ads.{name}", "ads", parent=parent):
            t0 = time.perf_counter()
            try:
                getattr(ads, name)(tables[table], d).collect()
            except PySparkException as e:
                with lock:
                    kinds = res.failed.setdefault(name, {})
                    kinds[type(e).__name__] = kinds.get(type(e).__name__, 0) + 1
                return
            dt = time.perf_counter() - t0
        with lock:
            res.ok.setdefault(name, [])
            if timed:
                res.ok[name].append(dt)
            else:
                res.warmup += 1

    def client(stop: int):
        while True:
            with lock:
                i = counter[0]
                counter[0] += 1
            if i >= stop:
                return
            call(*plan[i % len(plan)], i >= len(plan))

    with ThreadPoolExecutor(clients, thread_name_prefix="ads-client") as pool:
        for f in [pool.submit(client, len(plan)) for _ in range(clients)]:  # the untimed round
            f.result()
        counter[0] = len(plan)
        t0 = time.perf_counter()
        for f in [pool.submit(client, len(plan) * (1 + rounds)) for _ in range(clients)]:
            f.result()
    res.seconds = time.perf_counter() - t0
    return res


def reset(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
