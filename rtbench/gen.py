"""Deterministic input generators for the rtbench workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical ODS files and tables.  The engine only ever sees
what these functions write.

Stream inputs follow the gmall shapes the pipeline reads:
  * topic_log: behaviour-log JSON lines (page / start logs with displays
    and actions), mids Zipf-skewed;
  * topic_db:  order CDC JSON (order_info + order_detail inserts, skus
    Zipf-skewed), with corrections (an earlier detail re-emitted with a
    later ts and a new amount; CORRECTION_SHARE of the new details in a
    wave, in expectation) and a share of late events.

The wave mix (LOGS_PER_WAVE, ORDERS_PER_WAVE), the Zipf exponent and the
late and correction shares are a chosen synthetic shape: no measured
gmall traffic backs them.

Event time advances WAVE_SPAN_MS per wave.  Late events trail the wave
start by less than the pipeline's one-hour watermark delay, so no event
is ever dropped and the final tables do not depend on how waves were
batched — which is what lets a batch recompute check them exactly.
"""
import bisect
import json
import math
import os
import random

T0_MS = 1704067200000  # 2024-01-01T00:00:00Z
WAVE_SPAN_MS = 12 * 3600 * 1000  # a run's few waves still close days on the leaderboard
DAY_MS = 86400000
WATERMARK_MS = 3600000
LATE_MAX_MS = 50 * 60 * 1000

N_MIDS = 400
N_SKUS = 300
N_USERS = 200
N_PROVINCES = 34
LOGS_PER_WAVE = 40
ORDERS_PER_WAVE = 6
LATE_SHARE = 0.05
CORRECTION_SHARE = 0.15

PAGE_TYPES = {
    "home": "view", "search": "view", "good_detail": "click", "cart": "click",
    "payment": "purchase", "register": "signup", "error_page": "error",
}
PAGES = sorted(PAGE_TYPES)
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


def zipf_cum(n, s=1.1):
    acc, out = 0.0, []
    for i in range(1, n + 1):
        acc += 1.0 / (i ** s)
        out.append(acc)
    return out


_MID_CUM = zipf_cum(N_MIDS)
_SKU_CUM = zipf_cum(N_SKUS)


def _pick(rng, cum):
    return bisect.bisect_left(cum, rng.random() * cum[-1])


def _dumps(obj):
    return json.dumps(obj, separators=(",", ":"), sort_keys=True)


class StreamGen:
    """Sequential wave generator.  Waves must be drawn in order: the
    corrections of wave k pick details created by earlier waves."""

    def __init__(self, seed):
        self.seed = seed
        self.wave = 0
        self.next_order = 0
        self.details = []  # (detail_id, order_id, sku, user, province)

    def next_wave(self):
        k = self.wave
        self.wave += 1
        rng = random.Random(f"rtbench-wave:{self.seed}:{k}")
        base = T0_MS + k * WAVE_SPAN_MS

        def event_ts():
            if rng.random() < LATE_SHARE and k > 0:
                return base - rng.randint(60000, LATE_MAX_MS)
            return base + rng.randint(0, WAVE_SPAN_MS - 1)

        logs = []
        for _ in range(LOGS_PER_WAVE):
            mid = _pick(rng, _MID_CUM)
            common = {"mid": f"mid_{mid}", "uid": str(rng.randrange(N_USERS)),
                      "vc": "v2.1." + str(rng.randrange(3)), "ch": rng.choice(["xiaomi", "oppo", "web"]),
                      "ar": str(110000 + 1000 * rng.randrange(N_PROVINCES)), "is_new": rng.choice(["0", "1"])}
            ts = event_ts()
            if rng.random() < 0.15:
                logs.append({"common": common, "start": {"entry": rng.choice(["icon", "notice"]),
                             "loading_time": rng.randint(100, 5000)}, "ts": ts})
                continue
            page_id = rng.choice(PAGES)
            sku = _pick(rng, _SKU_CUM)
            rec = {"common": common, "ts": ts,
                   "page": {"page_id": page_id, "last_page_id": rng.choice(PAGES),
                            "item": f"sku_{sku}", "item_type": "sku_id",
                            "during_time": rng.randint(100, 30000)}}
            if rng.random() < 0.5:
                rec["displays"] = [{"item": f"sku_{_pick(rng, _SKU_CUM)}", "item_type": "sku_id",
                                    "pos_id": p} for p in range(rng.randint(1, 4))]
            if rng.random() < 0.3:
                rec["actions"] = [{"action_id": rng.choice(["cart_add", "favor_add", "get_coupon"]),
                                   "item": f"sku_{sku}", "ts": ts + 1000 * a}
                                  for a in range(rng.randint(1, 2))]
            logs.append(rec)

        cdc = []
        details_in_wave = []
        for _ in range(ORDERS_PER_WAVE):
            oid = self.next_order
            self.next_order += 1
            user, prov = rng.randrange(N_USERS), rng.randrange(N_PROVINCES)
            ts = event_ts()
            cdc.append({"database": "gmall", "table": "order_info", "type": "insert", "ts": ts,
                        "data": {"id": f"o{oid}", "user_id": str(user), "province_id": str(prov)}})
            for line in range(rng.randint(1, 3)):
                sku = _pick(rng, _SKU_CUM)
                cents = rng.randint(100, 99999)
                did = f"d{oid}_{line}"
                cdc.append({"database": "gmall", "table": "order_detail", "type": "insert", "ts": ts,
                            "data": {"id": did, "order_id": f"o{oid}", "sku_id": f"sku_{sku}",
                                     "sku_num": str(rng.randint(1, 5)),
                                     "split_total_amount": f"{cents // 100}.{cents % 100:02d}"}})
                details_in_wave.append((did, f"o{oid}", f"sku_{sku}", str(user), str(prov)))
        # corrections: for each new detail, with CORRECTION_SHARE odds, an
        # earlier detail is re-emitted (with its order) at a later ts and a
        # new amount; last-writer-wins keeps the new one
        n_corr = sum(rng.random() < CORRECTION_SHARE for _ in details_in_wave)
        if self.details:
            pool = self.details[-200:]
            for did, oid, sku, user, prov in rng.sample(pool, min(len(pool), n_corr)):
                ts = base + WAVE_SPAN_MS - 1 - rng.randint(0, 1000)
                cents = rng.randint(100, 99999)
                cdc.append({"database": "gmall", "table": "order_info", "type": "insert", "ts": ts,
                            "data": {"id": oid, "user_id": user, "province_id": prov}})
                cdc.append({"database": "gmall", "table": "order_detail", "type": "insert", "ts": ts,
                            "data": {"id": did, "order_id": oid, "sku_id": sku, "sku_num": "1",
                                     "split_total_amount": f"{cents // 100}.{cents % 100:02d}"}})
        self.details.extend(details_in_wave)
        return k, logs, cdc


def encode(records):
    return ("\n".join(_dumps(r) for r in records) + "\n").encode()


class StreamExpect:
    """Batch recompute of the pipeline's final DWS and serving tables
    straight from the generated records (no Spark)."""

    def __init__(self):
        self.latest = {}  # detail id -> (ts, sku, cents)
        self.uv = set()
        self.day_cents = {}  # (event_type, day) -> cents
        self.days = set()
        self.max_page_ts = None

    def add(self, logs, cdc):
        for r in logs:
            if "page" not in r:
                continue
            day = _day(r["ts"])
            self.uv.add((r["common"]["mid"], day))
            et = PAGE_TYPES[r["page"]["page_id"]]
            value = r["page"]["during_time"] / 1000.0
            key = (et, day)
            self.day_cents[key] = self.day_cents.get(key, 0) + math.floor(value * 100)
            self.days.add(day)
            self.max_page_ts = r["ts"] if self.max_page_ts is None else max(self.max_page_ts, r["ts"])
        orders = {r["data"]["id"] for r in cdc if r["table"] == "order_info"}
        for r in cdc:
            if r["table"] != "order_detail" or r["data"]["order_id"] not in orders:
                continue
            d = r["data"]
            whole, frac = d["split_total_amount"].split(".")
            cents = int(whole) * 100 + int(frac)
            prev = self.latest.get(d["id"])
            if prev is None or r["ts"] >= prev[0]:
                self.latest[d["id"]] = (r["ts"], d["sku_id"], cents)

    def details(self):
        return len(self.latest)

    def sku_table(self):
        out = {}
        for _, sku, cents in self.latest.values():
            s, n = out.get(sku, (0, 0))
            out[sku] = (s + cents, n + 1)
        return sorted([sku, s, n] for sku, (s, n) in out.items())

    def closed_days(self):
        if self.max_page_ts is None:
            return []
        wm = self.max_page_ts - WATERMARK_MS
        return sorted(d for d in self.days if _day_start(d) + DAY_MS <= wm)

    def leaderboard_rows(self, n=3):
        closed = set(self.closed_days())
        out = []
        for et in EVENT_TYPES:
            days = sorted(((-c, d) for (t, d), c in self.day_cents.items() if t == et and d in closed))
            for rnk, (neg, d) in enumerate(days[:n], 1):
                out.append([et, d, -neg, rnk])
        return sorted(out)


def _day(ts_ms):
    import datetime
    return datetime.datetime.fromtimestamp(ts_ms / 1000, datetime.timezone.utc).strftime("%Y-%m-%d")


def _day_start(day):
    import datetime
    d = datetime.datetime.strptime(day, "%Y-%m-%d").replace(tzinfo=datetime.timezone.utc)
    return int(d.timestamp() * 1000)


def write_stream_waves(seed, n_waves, stage_dir):
    """Stage n_waves waves under stage_dir/wave-<k>/{topic_log,topic_db}.json
    and return (per-wave cumulative expectations, final StreamExpect)."""
    gen, exp, waves = StreamGen(seed), StreamExpect(), []
    for _ in range(n_waves):
        k, logs, cdc = gen.next_wave()
        wdir = os.path.join(stage_dir, f"wave-{k:05d}")
        os.makedirs(wdir, exist_ok=True)
        log_bytes, db_bytes = encode(logs), encode(cdc)
        with open(os.path.join(wdir, "topic_log.json"), "wb") as f:
            f.write(log_bytes)
        with open(os.path.join(wdir, "topic_db.json"), "wb") as f:
            f.write(db_bytes)
        exp.add(logs, cdc)
        waves.append({"wave": k, "events": len(logs) + len(cdc), "bytes": len(log_bytes) + len(db_bytes),
                      "details_cum": exp.details(), "uv_cum": len(exp.uv)})
    return waves, exp


# ---------------------------------------------------------------------------
# warehouse tables (the TPC-H-ish star schema, events, documents, embeddings)

VOCAB = ("a the data query small row slow stream filter sort hash batch big group order column "
         "part table join window fast agg line key scan spark merge value customer vector").split()


def write_tables(seed, out_dir, scale):
    """Write the ten source tables the registered heads read, shaped like
    the repo's synthetic test data (uniform keys and values over the same
    domains): at scale 1, 1.5k customers, 15k orders, 60k lineitems, 10k
    events, 500 documents and 500 embeddings.  Returns {table: rows}."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    rs = np.random.default_rng(np.random.SeedSequence([seed, 7]))
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), max(10, int(100 * scale)), int(2000 * scale)
    n_ord, n_li, n_ev, n_doc = int(15000 * scale), int(60000 * scale), int(10000 * scale), int(500 * scale)

    def days(first, n_days, n):
        base = np.datetime64(first, "D")
        return (base + rs.integers(0, n_days, n).astype("timedelta64[D]")).astype("datetime64[us]")

    def money(lo, hi, n):
        return np.round(rs.uniform(lo, hi, n), 2)

    def pick(values, n):
        return rs.choice(values, n).tolist()

    def i32(a):
        return pa.array(np.asarray(a, dtype=np.int32))

    centers = rs.normal(size=(10, 64))
    labels = rs.integers(0, 10, n_doc)
    vecs = centers[labels] + rs.normal(scale=0.8, size=(n_doc, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    texts = [" ".join(pick(VOCAB, int(k))) for k in rs.integers(10, 90, n_doc)]
    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32(np.arange(25) % 5)},
        "customer": {"c_custkey": np.arange(n_cust, dtype=np.int64),
                     "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                     "c_nationkey": i32(rs.integers(0, 25, n_cust)),
                     "c_acctbal": money(-999.99, 9999.99, n_cust),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                                          n_cust)},
        "supplier": {"s_suppkey": np.arange(n_supp, dtype=np.int64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                     "s_nationkey": i32(rs.integers(0, 25, n_supp)),
                     "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {"p_partkey": np.arange(n_part, dtype=np.int64),
                 "p_name": [f"{a} {b}" for a, b in zip(
                     pick(["blue", "red", "small", "hot", "old", "new", "big", "cold"], n_part),
                     pick(["anvil", "bolt", "gear", "ring", "widget", "nut", "pipe", "valve"], n_part))],
                 "p_brand": [f"Brand#{i}" for i in rs.integers(1, 26, n_part)],
                 "p_type": pick(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"], n_part),
                 "p_size": i32(rs.integers(1, 51, n_part)),
                 "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 1)},
        "orders": {"o_orderkey": np.arange(n_ord, dtype=np.int64),
                   "o_custkey": rs.integers(0, n_cust, n_ord).astype(np.int64),
                   "o_orderstatus": pick(["F", "O", "P"], n_ord),
                   "o_totalprice": money(1000, 500000, n_ord),
                   "o_orderdate": days("1995-01-01", 2404, n_ord),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                           n_ord)},
        "lineitem": {"l_orderkey": rs.integers(0, n_ord, n_li).astype(np.int64),
                     "l_partkey": rs.integers(0, n_part, n_li).astype(np.int64),
                     "l_suppkey": rs.integers(0, n_supp, n_li).astype(np.int64),
                     "l_linenumber": i32(rs.integers(1, 8, n_li)),
                     "l_quantity": rs.integers(1, 51, n_li).astype(np.float64),
                     "l_extendedprice": money(900, 105000, n_li),
                     "l_discount": rs.integers(0, 11, n_li) / 100.0,
                     "l_tax": rs.integers(0, 9, n_li) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], n_li),
                     "l_linestatus": pick(["F", "O"], n_li),
                     "l_shipdate": days("1995-01-02", 2498, n_li)},
        "events": {"event_id": np.arange(n_ev, dtype=np.int64),
                   "ts": np.sort(np.datetime64("2024-01-01", "us")
                                 + rs.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]")),
                   "user_id": rs.integers(0, max(10, int(150 * scale)), n_ev).astype(np.int64),
                   "event_type": pick(EVENT_TYPES, n_ev),
                   "value": money(0.01, 500, n_ev),
                   "props": [f'{{"k": {k}}}' for k in rs.integers(0, 100, n_ev)]},
        "documents": {"doc_id": np.arange(n_doc, dtype=np.int64), "text": texts,
                      "lang": pick(["en"] * 6 + ["de", "fr", "es", "zh"], n_doc),
                      "source": [f"src{k}" for k in rs.integers(0, 20, n_doc)],
                      "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
        "embeddings": {"vec_id": np.arange(n_doc, dtype=np.int64),
                       "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                       "label": i32(labels)},
    }
    rows = {}
    for name, cols in tables.items():
        t = pa.table(cols)
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = t.num_rows
    return rows
