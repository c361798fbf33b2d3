"""Correctness checks run by the same command that prints the metrics.

- DuckDB recomputes ``visitor_stats``, ``keyword_stats`` and
  ``province_stats`` from the generated ODS files (the pattern of the
  repository's pipeline oracle test) and they must equal the batch
  replay's DWS tables exactly.
- The streaming catch-up's DWS tables must equal the batch replay's on
  the columns both compute exactly.
- Per-layer row counts are pinned for the default seed.

A failed check raises ``CheckFailed``; it is never turned into a metric.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow.dataset as ds


class CheckFailed(Exception):
    pass


# Row counts per boundary for seed 1 at the default scale. The stream's
# DWD and DWM counts carry the sentinel events (one page row, one order
# and detail, one order-wide row); otherwise they equal the batch's.
PINNED_SEED = 1
PINNED_ROWS = {
    "ods.log": 5595, "ods.dirty": 39, "ods.cdc": 4335,
    "page": 4000, "start": 1556, "display": 3241, "dirty": 39,
    "dwd_order_info": 1000, "dwd_order_detail": 2439, "dwd_payment_info": 828,
    "unique_visit": 300, "user_jump": 3015, "order_wide": 1771, "payment_wide": 1380,
    "visitor_stats": 3995, "product_stats": 6856, "province_stats": 900, "keyword_stats": 367,
}
PINNED_STREAM_ROWS = {
    "page": 4001, "start": 1556, "dwd_order_info": 1001, "dwd_order_detail": 2440, "dwd_payment_info": 828,
    "unique_visit": 300, "user_jump": 3015, "order_wide": 1772,
    "visitor_stats": 3995, "keyword_stats": 367, "product_stats": 1767,
}


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def _dataset(path: str):
    return ds.dataset(path, format="parquet", partitioning="hive")


def count_rows(path: str) -> int:
    """Rows of a parquet directory the pipeline committed, read with
    pyarrow so the checks add no Spark jobs."""
    return _dataset(path).count_rows()


def count_distinct(path: str, col: str) -> int:
    return len(set(_dataset(path).to_table(columns=[col]).column(col).to_pylist()))


def _rows(path: str, cols, where=None):
    table = _dataset(path).to_table(columns=cols, filter=where)
    return sorted(zip(*(table.column(c).to_pylist() for c in cols)))


def _diff(name, got, want):
    if got == want:
        return
    g, w = set(got), set(want)
    raise CheckFailed(f"{name}: {len(got)} rows vs {len(want)} expected; "
                      f"e.g. extra {sorted(g - w)[:2]} missing {sorted(w - g)[:2]}")


_STT = "strftime(make_timestamp((ts * 1000 // 10000000) * 10000000), '%Y-%m-%d %H:%M:%S')"


def oracle(ods_paths: dict, dims: dict, with_province: bool = True) -> dict[str, list[tuple]]:
    """visitor, keyword and province stats, and the order branch of
    product stats, recomputed in DuckDB."""
    con = duckdb.connect()
    log = os.path.join(ods_paths["log"], "log.json")
    cdc = os.path.join(ods_paths["cdc"], "cdc.json")
    # one VARCHAR per line, so a malformed line cannot swallow its
    # neighbour; json_valid drops the dirty lines
    con.execute(f"""
        CREATE VIEW ev AS
        SELECT j->>'$.common.mid' AS mid, j->>'$.common.ar' AS ar, j->>'$.common.ch' AS ch,
               j->>'$.common.vc' AS vc, j->>'$.common.is_new' AS claimed_new,
               j->>'$.page.page_id' AS page_id, j->>'$.page.last_page_id' AS last_page_id,
               j->>'$.page.item' AS item, CAST(j->>'$.page.during_time' AS BIGINT) AS during_time,
               (j->'$.start') IS NOT NULL AS is_start, CAST(j->>'$.ts' AS BIGINT) AS ts
        FROM (SELECT CAST(line AS JSON) j
              FROM read_csv('{log}', columns={{'line': 'VARCHAR'}}, delim='\x01', quote='', escape='',
                            header=false, auto_detect=false)
              WHERE json_valid(line))""")
    # T6: only claimed-new events burn the mid's seen-marker
    con.execute("""
        CREATE VIEW page AS SELECT * FROM (
          SELECT *, CASE WHEN claimed_new = '1'
                          AND COUNT(*) FILTER (WHERE claimed_new = '1') OVER (
                                PARTITION BY mid ORDER BY ts, page_id NULLS FIRST
                                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 0
                         THEN '0' ELSE claimed_new END AS is_new
          FROM ev) WHERE NOT is_start""")
    visitor = con.execute(f"""
        WITH pv AS (SELECT {_STT} stt, vc, ch, ar, is_new, 0 uv, 1 pv,
                           CASE WHEN last_page_id IS NULL THEN 1 ELSE 0 END sv, 0 uj, during_time dur
                    FROM page),
        uv AS (SELECT {_STT} stt, vc, ch, ar, is_new, 1 uv, 0 pv, 0 sv, 0 uj, 0 dur
               FROM (SELECT *, row_number() OVER (
                        PARTITION BY mid, strftime(make_timestamp(ts * 1000), '%Y-%m-%d')
                        ORDER BY ts, page_id) rn
                     FROM page WHERE last_page_id IS NULL)
               WHERE rn = 1),
        uj AS (SELECT {_STT} stt, vc, ch, ar, is_new, 0 uv, 0 pv, 0 sv, 1 uj, 0 dur
               FROM (SELECT *,
                        lead(ts) OVER (PARTITION BY mid ORDER BY ts, page_id NULLS FIRST) nxt,
                        lead(last_page_id IS NULL) OVER (PARTITION BY mid ORDER BY ts, page_id NULLS FIRST) nxt_entry
                     FROM page)
               WHERE last_page_id IS NULL
                 AND (nxt IS NULL OR nxt - ts > 60000 OR (nxt - ts <= 60000 AND nxt_entry))),
        u AS (SELECT * FROM pv UNION ALL SELECT * FROM uv UNION ALL SELECT * FROM uj)
        SELECT stt, vc, ch, ar, is_new, CAST(SUM(uv) AS BIGINT), CAST(SUM(pv) AS BIGINT),
               CAST(SUM(sv) AS BIGINT), CAST(SUM(uj) AS BIGINT), CAST(SUM(dur) AS BIGINT)
        FROM u GROUP BY ALL""").fetchall()
    keyword = con.execute(f"""
        SELECT kw, CAST(COUNT(*) AS BIGINT), stt FROM (
          SELECT unnest(string_split_regex(lower(item), '[^0-9a-z]+')) kw, {_STT} stt
          FROM page WHERE last_page_id = 'search' AND item IS NOT NULL)
        WHERE kw <> '' GROUP BY ALL""").fetchall()
    con.execute(f"""
        CREATE VIEW env AS SELECT tableName, type, after
        FROM read_json('{cdc}', columns={{'tableName': 'VARCHAR', 'type': 'VARCHAR', 'after': 'JSON'}},
                       format='newline_delimited')""")
    con.execute("""
        CREATE VIEW wide AS
        WITH oi AS (SELECT CAST(after->>'id' AS BIGINT) id, CAST(after->>'province_id' AS BIGINT) pid,
                           CAST(after->>'create_time' AS TIMESTAMP) t
                    FROM env WHERE tableName = 'order_info' AND type = 'insert'),
        od AS (SELECT CAST(after->>'order_id' AS BIGINT) oid, CAST(after->>'sku_id' AS BIGINT) sku,
                      CAST(after->>'sku_num' AS BIGINT) num,
                      CAST(after->>'split_total_amount' AS DECIMAL(16, 2)) amt,
                      CAST(after->>'create_time' AS TIMESTAMP) t
               FROM env WHERE tableName = 'order_detail' AND type = 'insert')
        SELECT oi.id, oi.pid, od.sku, od.num, od.amt, oi.t,
               epoch_ms(oi.t) // 10000 * 10000000 AS w
        FROM oi JOIN od
          ON oi.id = od.oid AND od.t BETWEEN oi.t - INTERVAL 5 SECOND AND oi.t + INTERVAL 5 SECOND""")
    fmt = "'%Y-%m-%d %H:%M:%S'"
    product_orders = con.execute(f"""
        SELECT strftime(make_timestamp(w), {fmt}), strftime(make_timestamp(w + 10000000), {fmt}),
               sku, CAST(SUM(num) AS BIGINT), SUM(amt)
        FROM wide GROUP BY ALL""").fetchall()
    province = []
    if with_province:
        con.register("prov", _arrow_rows(dims["dim_base_province"]))
        province = con.execute(f"""
            SELECT strftime(make_timestamp(w), {fmt}) stt, pid, p.name, p.area_code, p.iso_code,
                   p.iso_3166_2, SUM(amt), CAST(COUNT(DISTINCT wide.id) AS BIGINT)
            FROM wide LEFT JOIN prov p ON CAST(pid AS VARCHAR) = p.id GROUP BY ALL""").fetchall()
    con.close()
    return {"visitor_stats": visitor, "keyword_stats": keyword, "province_stats": province,
            "product_orders": product_orders}


def _arrow_rows(rows: list[dict]):
    import pyarrow as pa

    return pa.Table.from_pylist(rows)


def check_oracle(out: str, ods_paths: dict, dims: dict) -> None:
    want = oracle(ods_paths, dims)
    rd = lambda n: os.path.join(out, n)  # noqa: E731
    _diff("visitor_stats vs DuckDB",
          _rows(rd("visitor_stats"), ["stt", "vc", "ch", "ar", "is_new", "uv_ct", "pv_ct", "sv_ct", "uj_ct", "dur_sum"]),
          sorted(want["visitor_stats"]))
    _diff("keyword_stats vs DuckDB", _rows(rd("keyword_stats"), ["keyword", "ct", "stt"]),
          sorted(want["keyword_stats"]))
    _diff("province_stats vs DuckDB",
          _rows(rd("province_stats"), ["stt", "province_id", "province_name", "province_area_code",
                                       "province_iso_code", "province_3166_2_code", "order_amount",
                                       "order_count"]),
          sorted(want["province_stats"]))
    _diff("product_stats order columns vs DuckDB",
          _rows(rd("product_stats"), ["stt", "edt", "sku_id", "order_sku_num", "order_amount"],
                ds.field("order_sku_num") > 0),
          sorted(want["product_orders"]))


def check_stream_oracle(dws: str, ods_paths: dict) -> None:
    """The drain's DWS tables equal the DuckDB recomputation on the
    columns the streaming forms compute exactly (the approximate
    ``order_ct`` is left out). ``check_oracle`` holds the batch replay to
    the same recomputation, so the two modes agree on these columns."""
    want = oracle(ods_paths, {}, with_province=False)
    rd = lambda n: os.path.join(dws, n)  # noqa: E731
    _diff("stream visitor_stats vs DuckDB",
          _rows(rd("visitor_stats"), ["stt", "vc", "ch", "ar", "is_new", "pv_ct", "sv_ct", "dur_sum"]),
          sorted(r[:5] + r[6:8] + r[9:] for r in want["visitor_stats"]))
    _diff("stream keyword_stats vs DuckDB", _rows(rd("keyword_stats"), ["keyword", "ct", "stt"]),
          sorted(want["keyword_stats"]))
    _diff("stream product_stats vs DuckDB",
          _rows(rd("product_stats"), ["stt", "edt", "sku_id", "order_sku_num", "order_amount"]),
          sorted(want["product_orders"]))


def check_rows(seed: int, rows: dict, ods_counts: dict) -> None:
    expect(rows["dirty"] == rows["ods.dirty"] == ods_counts["dirty"],
           f"dirty rows {rows['dirty']} != {ods_counts['dirty']} malformed lines generated")
    expect(rows["ods.log"] == ods_counts["log_lines"], "log lines lost on read")
    expect(rows["page"] + rows["start"] + rows["dirty"] == ods_counts["log_lines"],
           "page + start + dirty rows do not partition the log")
    expect(rows["start"] == ods_counts["start"], "start rows != start events generated")
    expect(rows["ods.cdc"] == ods_counts["cdc_lines"], "CDC envelopes lost on read")
    _pinned(seed, rows, PINNED_ROWS)


def check_stream_rows(seed: int, rows: dict, ods_counts: dict) -> None:
    # +1: the backlog's sentinel page event (and its order row)
    expect(rows["page"] + rows["start"] + ods_counts["dirty"] == ods_counts["log_lines"] + 1,
           "page + start rows of the drain do not partition the log")
    _pinned(seed, rows, PINNED_STREAM_ROWS)


def _pinned(seed: int, rows: dict, pinned: dict) -> None:
    if seed == PINNED_SEED and pinned:
        diff = {k: (rows.get(k), v) for k, v in pinned.items() if rows.get(k) != v}
        expect(not diff, f"row counts moved from the pinned seed-{seed} values: {diff}")
