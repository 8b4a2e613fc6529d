"""Seeded gmall-shaped ``topic_db`` / ``topic_log`` generator.

The warehouse reads newline-JSON files through ``file_json_raw``; this
module writes them.  The shape follows the reference's e-commerce schema:
Maxwell CDC envelopes for ``topic_db`` (``ts`` in epoch seconds) and
nested behaviour-log events for ``topic_log`` (``ts`` in epoch millis).

Properties the warehouse's behaviour depends on, all drawn from the seed:

* ``mid`` and ``user_id`` follow a Zipf law, so a few keys are hot;
* one order id carries a large share of all order details;
* arrival order differs from event-time order by less than the 5 s
  watermark, so no record is late;
* a small share of records is dirty (corrupt JSON, no ``common.mid``,
  foreign database, bootstrap markers), which the ETL filters drop;
* all events fall on one UTC day, so the new-visitor fix is the identity
  and an oracle can recompute every output from the raw records;
* each stream ends with a heartbeat event 60 s after the data, which
  passes every DWS filter, so every data window closes.
"""

from __future__ import annotations

import json
import os

import numpy as np

DAY = 1_704_067_200_000 + 8 * 3_600_000  # 2024-01-01 08:00 UTC, millis
SPAN_MS = 300_000  # event time covered by the data
HEARTBEAT_MS = DAY + SPAN_MS + 60_000
KEYWORDS = (
    "phone case laptop bag shoe red blue cheap fast charger cable watch "
    "lamp desk chair mug tea coffee book pen"
).split()
PAGES = ["home", "good_detail", "good_list", "cart", "mine", "trade", "payment"]
LAST_PAGES = [None, "search", "home", "good_list", "good_detail", "cart"]
VCS = ["v2.1", "v2.2", "v3.0", "v3.1"]
CHS = ["xiaomi", "oppo", "vivo", "huawei", "appstore"]
ARS = [f"{110000 + 10000 * i}" for i in range(8)]
DIC_CODES = ["1201", "1202", "1203", "1204", "1101", "1102", "1103"]
N_SKU = 200


def _zipf(rng: np.random.Generator, n: int, size: int, a: float = 1.3) -> np.ndarray:
    """Zipf-distributed indices in [0, n)."""
    ranks = np.arange(1, n + 1, dtype=np.float64)
    p = ranks ** -a
    return rng.choice(n, size=size, p=p / p.sum())


def _arrival(rng: np.random.Generator, ts: np.ndarray, max_delay: int) -> np.ndarray:
    """Arrival order: sort by ts + delay, delay < max_delay, so every record
    trails the largest event time seen before it by less than max_delay."""
    return np.argsort(ts + rng.integers(0, max_delay, len(ts)), kind="stable")


def _mx(table: str, typ: str, data: dict, ts: int, old: dict | None = None,
        database: str = "gmall") -> str:
    return json.dumps({"database": database, "table": table, "type": typ,
                       "data": data, "old": old or {}, "ts": ts})


def log_lines(rng: np.random.Generator, n: int) -> list[str]:
    n_mid = max(50, n // 25)
    ts = DAY + np.sort(rng.choice(SPAN_MS, n, replace=False))
    mids = _zipf(rng, n_mid, n)
    mid_new = rng.random(n_mid) < 0.3
    mid_uid = np.where(rng.random(n_mid) < 0.7, np.arange(n_mid), -1)
    mid_attr = rng.integers(0, 1 << 30, n_mid)
    kind = rng.random(n)
    page_i = rng.integers(0, len(PAGES), n)
    last_i = rng.integers(0, len(LAST_PAGES), n)
    out = []
    for j in _arrival(rng, ts, 4000):
        m = int(mids[j])
        k = float(kind[j])
        if k < 0.004:
            out.append('{"common": {"mid": "m%d", "ts": ' % m)  # corrupt
            continue
        a = int(mid_attr[m])
        common = {
            "mid": f"m{m}", "is_new": "1" if mid_new[m] else "0",
            "vc": VCS[a % 4], "ch": CHS[(a >> 2) % 5], "ar": ARS[(a >> 5) % 8],
            "uid": None if mid_uid[m] < 0 else f"u{mid_uid[m]}",
            "sid": f"s{m}-{a % 3}", "md": "model", "os": "android", "ba": "brand",
        }
        if k < 0.008:
            del common["mid"]  # dirty: no device id
        rec: dict = {"common": common, "ts": int(ts[j])}
        if k < 0.06:
            rec["start"] = {"entry": "icon", "loading_time": int(a % 5000),
                            "open_ad_id": "1", "open_ad_ms": 100, "open_ad_skip_ms": 0}
        else:
            last = LAST_PAGES[last_i[j]]
            page = {"page_id": PAGES[page_i[j]], "during_time": int(a % 20000) + 100,
                    "last_page_id": last}
            if last == "search":
                words = rng.choice(len(KEYWORDS), 1 + int(a % 3))
                page.update(item=" ".join(KEYWORDS[w] for w in words), item_type="keyword")
            elif page["page_id"] == "good_detail":
                page.update(item=f"sku{a % N_SKU}", item_type="sku_id")
            rec["page"] = page
            if k > 0.8:
                rec["displays"] = [{"item": f"sku{(a + i) % N_SKU}", "item_type": "sku_id",
                                    "pos_id": str(i), "pos_seq": str(i), "order": str(i)}
                                   for i in range(1 + a % 3)]
            if k > 0.9:
                rec["actions"] = [{"action_id": "cart_add", "item": f"sku{a % N_SKU}",
                                   "item_type": "sku_id", "ts": int(ts[j])}]
            if 0.06 < k < 0.08:
                rec["err"] = {"error_code": str(a % 900), "msg": "boom"}
        out.append(json.dumps(rec))
    out.append(json.dumps({
        "common": {"mid": "heartbeat", "is_new": "1", "vc": VCS[0], "ch": CHS[0],
                   "ar": ARS[0], "uid": None, "sid": "hb"},
        "page": {"page_id": "good_detail", "during_time": 1, "item": "heartbeat",
                 "item_type": "keyword", "last_page_id": "search"},
        "ts": HEARTBEAT_MS,
    }))
    return out


def db_lines(rng: np.random.Generator, n: int) -> list[str]:
    """About n CDC records: dims, carts, orders, order details and their
    activity/coupon rows, comments, plus dirty envelopes."""
    t0 = DAY // 1000
    span = SPAN_MS // 1000
    recs: list[tuple[int, str]] = []  # (event ts seconds, line)

    def at() -> int:
        return t0 + int(rng.integers(0, span))

    # dims: bootstrap snapshot at t0, then updates/deletes with distinct ts
    recs.append((t0, _mx("base_dic", "bootstrap-start", {}, t0)))
    for c in DIC_CODES:
        recs.append((t0, _mx("base_dic", "bootstrap-insert",
                             {"dic_code": c, "dic_name": f"name{c}", "parent_code": "12"}, t0)))
    recs.append((t0, _mx("base_dic", "bootstrap-complete", {}, t0)))
    for i in range(N_SKU):
        recs.append((t0, _mx("sku_info", "bootstrap-insert",
                             {"id": f"sku{i}", "sku_name": f"item {i}",
                              "price": str(10 + i % 90), "spu_id": str(i // 4)}, t0)))
    for i in rng.choice(N_SKU, N_SKU // 4, replace=False):
        t = t0 + 5 + int(rng.integers(0, span - 5))
        typ = "delete" if i % 7 == 0 else "update"
        recs.append((t, _mx("sku_info", typ,
                            {"id": f"sku{i}", "sku_name": f"item {i} v2",
                             "price": str(20 + i % 90), "spu_id": str(i // 4)}, t,
                            old={"price": str(10 + i % 90)})))
    recs.append((t0 + 5, _mx("base_dic", "update",
                             {"dic_code": "1204", "dic_name": "renamed"}, t0 + 5,
                             old={"dic_name": "name1204"})))
    recs.append((t0 + 5, _mx("base_dic", "insert", {"dic_code": "9", "dic_name": "x"},
                             t0 + 5, database="other")))

    n_user = max(20, n // 20)
    # carts: inserts, increasing/decreasing updates, updates without old.sku_num
    n_cart = n // 4
    users = _zipf(rng, n_user, n_cart)
    for i in range(n_cart):
        t = at()
        base = {"id": f"c{i}", "user_id": f"u{users[i]}", "sku_id": f"sku{i % N_SKU}",
                "cart_price": "9.9", "sku_name": f"item {i % N_SKU}",
                "create_time": "2024-01-01 08:00:00", "is_checked": "1"}
        num = 1 + int(rng.integers(0, 4))
        recs.append((t, _mx("cart_info", "insert", dict(base, sku_num=str(num)), t)))
        r = rng.random()
        if r < 0.3:
            t2 = min(t + 1 + int(rng.integers(0, 20)), t0 + span - 1)
            new = num + 1 + int(rng.integers(0, 3))
            recs.append((t2, _mx("cart_info", "update", dict(base, sku_num=str(new)), t2,
                                 old={"sku_num": str(num)})))
        elif r < 0.4:
            t2 = min(t + 1, t0 + span - 1)
            recs.append((t2, _mx("cart_info", "update", dict(base, sku_num="0"), t2,
                                 old={"sku_num": str(num)})))
        elif r < 0.45:
            t2 = min(t + 1, t0 + span - 1)
            recs.append((t2, _mx("cart_info", "update", dict(base, is_checked="0"), t2,
                                 old={"is_checked": "1"})))

    # orders: one hot order id takes ~5% of all details
    n_order = n // 12
    for i in range(n_order):
        t = at()
        recs.append((t, _mx("order_info", "insert",
                            {"id": f"o{i}", "user_id": f"u{int(_zipf(rng, n_user, 1)[0])}",
                             "province_id": str(1 + i % 34)}, t)))
    n_od = n // 4
    hot = rng.random(n_od) < 0.05
    orders = np.where(hot, 0, rng.integers(0, n_order, n_od))
    for i in range(n_od):
        t = at()
        sku = int(rng.integers(0, N_SKU))
        recs.append((t, _mx("order_detail", "insert",
                            {"id": f"d{i}", "order_id": f"o{orders[i]}", "sku_id": f"sku{sku}",
                             "sku_name": f"item {sku}", "order_price": "9.9",
                             "sku_num": str(1 + i % 3), "create_time": "2024-01-01 08:00:00",
                             "split_total_amount": f"{9.9 * (1 + i % 3):.2f}",
                             "split_activity_amount": "1.0", "split_coupon_amount": "0.5"}, t)))
        r = rng.random()
        if r < 0.3:
            recs.append((t, _mx("order_detail_activity", "insert",
                                {"id": f"a{i}", "order_detail_id": f"d{i}",
                                 "activity_id": str(i % 5), "activity_rule_id": str(i % 9)}, t)))
        if r > 0.8:
            recs.append((t, _mx("order_detail_coupon", "insert",
                                {"id": f"k{i}", "order_detail_id": f"d{i}",
                                 "coupon_id": str(i % 11)}, t)))
    for i in range(n // 20):
        t = at()
        recs.append((t, _mx("comment_info", "insert",
                            {"id": f"cm{i}", "user_id": f"u{i % n_user}", "sku_id": f"sku{i % N_SKU}",
                             "appraise": DIC_CODES[i % 5] if i % 50 else "0000",
                             "comment_txt": "fine"}, t)))
    for i in range(max(1, n // 500)):
        t = at()
        recs.append((t, '{"database": "gmall", "table": "cart_info", "type": "insert", "da'))
    # heartbeat: a cart add 60 s after the data closes every cart-UU window
    hb = HEARTBEAT_MS // 1000
    recs.append((hb, _mx("cart_info", "insert",
                         {"id": "c_hb", "user_id": "u_hb", "sku_id": "sku0", "cart_price": "1",
                          "sku_name": "hb", "create_time": "t", "sku_num": "1"}, hb)))
    ts = np.array([r[0] for r in recs], dtype=np.int64) * 1000
    ts[-1] += 10_000_000  # the heartbeat always arrives last
    return [recs[j][1] for j in _arrival(rng, ts, 4000)]


def write_stream(lines: list[str], out_dir: str, n_files: int) -> None:
    """Split lines in arrival order over n_files files."""
    os.makedirs(out_dir, exist_ok=True)
    step = -(-len(lines) // n_files)
    for i in range(n_files):
        p = os.path.join(out_dir, f"part-{i:04d}.json")
        with open(p, "w") as f:
            f.write("\n".join(lines[i * step:(i + 1) * step]) + "\n")


def generate(seed: int, n_log: int, n_db: int) -> tuple[list[str], list[str]]:
    rng = np.random.default_rng([seed, 7])
    return db_lines(rng, n_db), log_lines(rng, n_log)
