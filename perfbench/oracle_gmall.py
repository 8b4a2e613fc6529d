"""DuckDB recomputation of the warehouse outputs from the generated lines.

The raw lines are parsed here with ``json`` (not Spark), loaded into
DuckDB, and the DIM tables, the order-detail join, the cart-add stream
and every DWS window that the generator's final watermark closes are
recomputed in SQL.  Each expected row that is missing or different, and
each unexpected row, counts as one failed operation.
"""

from __future__ import annotations

import json
import sys

import pandas as pd

WINDOW_MS = 10_000
DELAY_MS = 5_000


def _parse(lines: list[str]) -> list[dict]:
    out = []
    for line in lines:
        try:
            rec = json.loads(line)
        except json.JSONDecodeError:
            continue  # corrupt: Spark's from_json yields a null row
        if isinstance(rec, dict):
            out.append(rec)
    return out


def _db_frame(lines: list[str]) -> pd.DataFrame:
    rows = [(r.get("database"), r.get("table"), r.get("type"),
             json.dumps(r["data"]) if isinstance(r.get("data"), dict) else None,
             json.dumps(r["old"]) if isinstance(r.get("old"), dict) else None,
             r.get("ts"))
            for r in _parse(lines)]
    return pd.DataFrame(rows, columns=["db", "tbl", "type", "data", "old", "ts"])


def _page_frame(lines: list[str]) -> pd.DataFrame:
    """The DWD page route: valid records (page or start, a mid and a ts)
    that are not start records."""
    rows = []
    for r in _parse(lines):
        common, page = r.get("common") or {}, r.get("page")
        if common.get("mid") is None or r.get("ts") is None:
            continue
        if r.get("start") is not None or page is None:
            continue
        rows.append((common["mid"], common.get("is_new"), common.get("vc"), common.get("ch"),
                     common.get("ar"), page.get("page_id"), page.get("last_page_id"),
                     page.get("item"), page.get("during_time"), r["ts"]))
    return pd.DataFrame(rows, columns=["mid", "is_new", "vc", "ch", "ar", "page_id",
                                       "last_page_id", "item", "during_time", "ts"])


def _s(col: str, src: str = "data") -> str:
    return f"json_extract_string({src}, '$.{col}')"


CART_ADD = f"""
SELECT {_s('id')} AS id, {_s('user_id')} AS user_id,
       CAST(CASE WHEN type = 'insert' THEN CAST({_s('sku_num')} AS BIGINT)
                 ELSE CAST({_s('sku_num')} AS BIGINT) - CAST({_s('sku_num', 'old')} AS BIGINT)
            END AS VARCHAR) AS sku_num,
       ts
FROM db WHERE db = 'gmall' AND tbl = 'cart_info' AND (
  type = 'insert' OR (type = 'update' AND {_s('sku_num', 'old')} IS NOT NULL
                      AND CAST({_s('sku_num')} AS BIGINT) > CAST({_s('sku_num', 'old')} AS BIGINT)))
"""

ORDER_DETAIL = f"""
WITH ins AS (SELECT * FROM db WHERE db = 'gmall' AND type = 'insert'),
od AS (SELECT {_s('id')} AS id, {_s('order_id')} AS order_id,
              {_s('split_total_amount')} AS amt FROM ins WHERE tbl = 'order_detail'),
oi AS (SELECT {_s('id')} AS id, {_s('user_id')} AS user_id, {_s('province_id')} AS province_id
       FROM ins WHERE tbl = 'order_info'),
oda AS (SELECT {_s('order_detail_id')} AS odid, {_s('activity_id')} AS activity_id,
               {_s('activity_rule_id')} AS activity_rule_id
        FROM ins WHERE tbl = 'order_detail_activity'),
odc AS (SELECT {_s('order_detail_id')} AS odid, {_s('coupon_id')} AS coupon_id
        FROM ins WHERE tbl = 'order_detail_coupon')
SELECT od.id, od.order_id, oi.user_id, oi.province_id, oda.activity_id,
       oda.activity_rule_id, odc.coupon_id, od.amt
FROM od JOIN oi ON od.order_id = oi.id
LEFT JOIN oda ON oda.odid = od.id LEFT JOIN odc ON odc.odid = od.id
"""

# latest event per row key; a delete as the latest event removes the row
DIM = """
WITH ev AS (
  SELECT json_extract_string(data, '$.' || ?) AS rowkey, data, type, ts,
         row_number() OVER () AS seq
  FROM db WHERE db = 'gmall' AND tbl = ?
    AND type NOT IN ('bootstrap-start', 'bootstrap-complete')
    AND data IS NOT NULL AND data <> '{}'),
latest AS (
  SELECT *, row_number() OVER (PARTITION BY rowkey ORDER BY ts DESC, seq DESC) AS rn
  FROM ev WHERE rowkey IS NOT NULL)
SELECT rowkey, data FROM latest WHERE rn = 1 AND type <> 'delete'
"""


def _windows(sql_rows: str, dims: list[str], measures: str) -> str:
    """Closed windows of a DWS table: `sql_rows` yields (ts, dims...) rows
    after the table's own filter; its watermark is max(ts) - 5 s."""
    d = "".join(f", {c}" for c in dims)
    return f"""
WITH r AS ({sql_rows}),
w AS (SELECT *, ts - ts % {WINDOW_MS} AS stt FROM r)
SELECT stt{d}, {measures} FROM w
WHERE stt + {WINDOW_MS} <= (SELECT max(ts) FROM r) - {DELAY_MS}
GROUP BY stt{d}
"""


FIRST_SEEN = """
SELECT min(ts) AS ts FROM ({rows})
GROUP BY key, CAST(make_timestamp(ts * 1000) AS DATE)
"""

DWS = {
    "kw_serving": _windows(
        """SELECT ts, unnest(list_filter(string_split_regex(lower(trim(item)), '\\s+'),
                                         t -> length(t) > 0)) AS keyword
           FROM page WHERE last_page_id = 'search' AND item IS NOT NULL""",
        ["keyword"], "count(*) AS keyword_count"),
    "traffic_serving": _windows(
        "SELECT ts, vc, ch, ar, is_new, last_page_id, during_time FROM page",
        ["vc", "ch", "ar", "is_new"],
        "count(*) AS pv_ct, sum(CASE WHEN last_page_id IS NULL THEN 1 ELSE 0 END) AS sv_ct, "
        "sum(during_time) AS dur_sum"),
    "uv_serving": _windows(
        FIRST_SEEN.format(rows="SELECT mid AS key, ts FROM page "
                               "WHERE page_id IN ('home', 'good_detail')"),
        [], "count(*) AS uv_ct"),
    "cart_uu_serving": _windows(
        FIRST_SEEN.format(rows="SELECT user_id AS key, ts * 1000 AS ts FROM cart "
                               "WHERE user_id IS NOT NULL"),
        [], "count(*) AS cart_add_uu_ct"),
}


def _diff(name: str, expected: set, actual: set) -> tuple[int, int]:
    missing, extra = expected - actual, actual - expected
    if missing or extra:
        print(f"perfbench: {name}: {len(missing)} expected rows missing or different, "
              f"{len(extra)} unexpected, e.g. {sorted(missing)[:2]} / {sorted(extra)[:2]}",
              file=sys.stderr)
    return len(expected) + len(extra), len(missing) + len(extra)


def check(spark, wh, db_lines, log_lines, dim_config, serving) -> tuple[int, int]:
    import duckdb
    from pyspark.sql import functions as F

    con = duckdb.connect()
    con.register("db", _db_frame(db_lines))
    con.register("page", _page_frame(log_lines))
    con.execute(f"CREATE TABLE cart AS {CART_ADD}")
    results = []

    cart = {tuple(r) for r in con.execute("SELECT id, user_id, sku_num, ts FROM cart").fetchall()}
    got = {(r.id, r.user_id, r.sku_num, r.ts)
           for r in spark.read.parquet(wh.cart_add_dir).collect()}
    results.append(_diff("cart_add", cart, got))

    od = set(con.execute(ORDER_DETAIL).fetchall())
    got = {(r.id, r.order_id, r.user_id, r.province_id, r.activity_id, r.activity_rule_id,
            r.coupon_id, r.split_total_amount) for r in wh.od_join.out.read(spark).collect()}
    results.append(_diff("order_detail_join", od, got))

    for source, sink, cols, _family, row_key, _op in dim_config:
        keep = cols.split(",")
        expected = {(k, tuple(sorted((c, v) for c, v in json.loads(d).items() if c in keep)))
                    for k, d in con.execute(DIM, [row_key, source]).fetchall()}
        df = wh.dim_wh.read_dim(spark, sink)
        got = set() if df is None else {
            (r.rowkey, tuple(sorted(r.data.items()))) for r in df.collect()}
        results.append(_diff(sink, expected, got))

    for attr, (dims, measures) in serving.items():
        expected = set(con.execute(DWS[attr]).fetchall())
        df = getattr(wh, attr).read(spark)
        got = set() if df is None else {
            tuple(r) for r in df.select(F.unix_millis("stt"), *dims, *measures).collect()}
        results.append(_diff(attr, expected, got))
    con.close()
    return sum(a for a, _ in results), sum(f for _, f in results)
