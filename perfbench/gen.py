"""Seeded generator of child-company CSVs for the medallion benchmark.

The inputs are shaped like the reference's child files at a tenth of
the sf0.1 shape (README.md says why): about 60k order lines in 15k
orders, 1.5k customers, 2k products and two gross prices per product and
year. They carry every anomaly class
the pipeline cleans:

- orders: five order-date formats (one with a weekday prefix), junk and
  NULL customer ids, NULL quantities, duplicate lines;
- customers: padded names, misspelled and missing cities, duplicate
  lines;
- products: the ``Protien`` typo, non-numeric ids, duplicate lines;
- prices: negative and ``unknown`` / ``not_available`` prices, three
  month formats, prices for unknown products.

The incremental days carry new lines, late lines back-dated into earlier
days and lines re-delivered from the last week.

``generate_tables`` writes the TPC-H-shaped parquet tables (and the
events, documents and embeddings tables) that the engine's registry
queries read, at the sf0.001 shape of the repository's fixed test tables.

Everything is synthetic and derived from the seed alone, so one seed
always writes the same files. Besides the landing files the engine
ingests, the generator writes the ground truth (clean order lines and
expected dimension row counts) the correctness checks compare with; the
engine never reads it.
"""

from __future__ import annotations

import calendar
import datetime as dt
import hashlib
import json
import re
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pandas as pd

N_CUSTOMERS = 1_500
N_PRODUCTS = 2_000
N_JUNK_PRODUCTS = 5
N_ORDERS = 15_000
MAX_LINES_PER_ORDER = 7
#: full-load order dates cover [LOAD_START, BATCH_START); incremental
#: day i carries the date BATCH_START + i
LOAD_START = dt.date(2024, 1, 1)
BATCH_START = dt.date(2025, 12, 1)
LOAD_DAYS = (BATCH_START - LOAD_START).days
#: the warm-up day plus the most timed days a run holds: a warm cycle
#: took 11 to 17 s on 4 cores, so a 6 s run holds one; the rest leave
#: room for a faster host
N_BATCHES = 5
BATCH_NEW_ORDERS = 60
BATCH_LATE_ORDERS = 8
LINES_PER_BATCH_ORDER = 4
BATCH_REDELIVERED_LINES = 30
#: late lines are back-dated up to this many days; re-delivered lines
#: are copies of lines sent for this many most recent days
LATE_DAYS = 45
REDELIVER_DAYS = 7
PRICE_YEARS = (2024, 2025)

CITIES = ["New York", "Boston", "Chicago", "Austin", "Dallas", "Seattle", "San Francisco"]
MISSPELLED_CITIES = ["Austn", "Austinn", "Chciago", "Chicgo", "Chicagoo", "Newyork", "New yok"]
#: raw category -> product-name stem
CATEGORIES = {
    "protien bars": "Protien Bar",
    "Protein Bars": "Protein Bar",
    "energy bars": "Energy Bar",
    "hydration drinks": "Hydration Mix",
    "protein shakes": "Protein Shake",
    "supplements": "Supplement",
    "snacks": "Snack Pack",
}
JUNK_CUSTOMER_IDS = np.array(["INVALID", "ABC987", ""], dtype=object)
PRICE_JUNK = np.array(["unknown", "not_available"], dtype=object)
SENTINEL = "999999"
RAW_COLS = ["order_id", "order_placement_date", "customer_id", "product_id", "order_qty"]


@dataclass(frozen=True)
class Inputs:
    """One generated input set."""

    landing: Path  # customers.csv, products.csv, gross_price.csv, orders/*.csv
    batches: list[Path]  # one order CSV per incremental day
    city_fixes: dict[int, str]  # per-id city repair for customers sent without one
    truth: Path  # ground truth, read only by the correctness checks
    input_bytes: int  # bytes of the full-load landing files


def _date_strings() -> np.ndarray:
    """(day, format) -> order-date string, for the five formats the
    pipeline's parser accepts; day 0 is LOAD_START."""
    days = pd.date_range(LOAD_START, BATCH_START + dt.timedelta(days=N_BATCHES), freq="D")
    out = np.empty((len(days), 5), dtype=object)
    for i, d in enumerate(days):
        out[i] = [
            f"{calendar.day_name[d.weekday()]}, {calendar.month_name[d.month]} {d.day}, {d.year}",
            f"{d.day:02d}-{d.month:02d}-{d.year}",
            f"{d.day:02d}/{d.month:02d}/{d.year}",
            f"{d.year}/{d.month:02d}/{d.day:02d}",
            f"{d.year}-{d.month:02d}-{d.day:02d}",
        ]
    return out


class _Orders:
    """Renders clean order lines into the raw rows a child sends."""

    def __init__(self, rng: np.random.Generator, codes: pd.DataFrame) -> None:
        self.rng = rng
        self.codes = codes
        self.dates = _date_strings()

    def reformat(self, raw: pd.DataFrame) -> pd.DataFrame:
        """The same rows with each date in a randomly chosen format."""
        fmt = self.rng.integers(0, 5, len(raw))
        return raw.assign(order_placement_date=self.dates[raw["day"].to_numpy(), fmt])

    def render(self, lines: pd.DataFrame, junk_share: float) -> pd.DataFrame:
        """Raw rows (RAW_COLS plus ``day``) for clean ``lines`` (day,
        order_id, customer_id, product_id, qty); a share of the customer
        ids is replaced by junk."""
        cust = lines["customer_id"].astype(str).to_numpy(dtype=object)
        junk = self.rng.random(len(cust)) < junk_share
        cust[junk] = JUNK_CUSTOMER_IDS[self.rng.integers(0, len(JUNK_CUSTOMER_IDS), junk.sum())]
        raw = pd.DataFrame(
            {
                "day": lines["day"].to_numpy(),
                "order_id": lines["order_id"].to_numpy(),
                "customer_id": cust,
                "product_id": lines["product_id"].to_numpy(),
                "order_qty": lines["qty"].to_numpy(),
            }
        )
        return self.reformat(raw)

    def anomalies(self, raw: pd.DataFrame, null_qty_share: float, dup_share: float) -> pd.DataFrame:
        """Extra rows that cleaning must drop: lines with a NULL quantity
        and re-sent duplicates of existing rows."""
        rng = self.rng
        nulls = raw.sample(n=max(1, int(len(raw) * null_qty_share)), random_state=int(rng.integers(1 << 31)))
        nulls = nulls.assign(order_id=nulls["order_id"] + "N", order_qty=None)
        dups = self.reformat(
            raw.sample(n=max(1, int(len(raw) * dup_share)), random_state=int(rng.integers(1 << 31)))
        )
        return pd.concat([nulls, dups], ignore_index=True)

    def truth(self, raw: pd.DataFrame) -> pd.DataFrame:
        """Daily-fact rows the pipeline must produce from clean ``raw``."""
        cust = raw["customer_id"].to_numpy(dtype=object)
        valid = np.array([c.isdigit() for c in cust])
        t = pd.DataFrame(
            {
                "date": (pd.Timestamp(LOAD_START) + pd.to_timedelta(raw["day"].to_numpy(), unit="D")).date,
                "order_id": raw["order_id"].to_numpy(),
                "product_id": raw["product_id"].to_numpy(),
                "customer_code": np.where(valid, cust, SENTINEL),
                "sold_quantity": raw["order_qty"].astype("float64").to_numpy(),
            }
        )
        return t.merge(self.codes, on="product_id").drop(columns="product_id")


def _customers(rng: np.random.Generator, n: int) -> tuple[pd.DataFrame, dict[int, str]]:
    ids = np.arange(100001, 100001 + n)
    stems = ["SprintX", "MacroBite", "PowerFuel", "VitaBoost", "PeakForm", "NutriCore", "FitLane"]
    kinds = ["nutrition", "superfoods", "Foods", "Labs", "Nutrition", "market", "Store"]
    a, b, pad = rng.integers(0, 7, len(ids)), rng.integers(0, 7, len(ids)), rng.random(len(ids)) < 0.1
    names = [
        f"  {stems[x]} {kinds[y]} {i} " if p else f"{stems[x]} {kinds[y]} {i}"
        for i, x, y, p in zip(ids, a, b, pad)
    ]
    city = np.array(CITIES, dtype=object)[rng.integers(0, len(CITIES), len(ids))]
    bad = rng.random(len(ids)) < 0.08
    city[bad] = np.array(MISSPELLED_CITIES, dtype=object)[rng.integers(0, len(MISSPELLED_CITIES), bad.sum())]
    missing = rng.random(len(ids)) < 0.01
    city[missing] = None
    # the rule table repairs half of the customers sent without a city
    fixes = {int(i): CITIES[int(rng.integers(0, len(CITIES)))] for i in ids[missing][::2]}
    df = pd.DataFrame({"customer_id": ids, "customer_name": names, "city": city})
    dups = df.sample(n=len(df) // 100, random_state=int(rng.integers(1 << 31)))
    return pd.concat([df, dups], ignore_index=True), fixes


def _products(rng: np.random.Generator, n: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Raw product rows, and (product_id, product_code) of the valid ids."""
    ids = np.arange(10001, 10001 + n)
    cats = np.array(list(CATEGORIES), dtype=object)[rng.integers(0, len(CATEGORIES), len(ids))]
    sizes = rng.choice([30, 45, 60, 100, 250, 500], len(ids))
    names = [f"{CATEGORIES[c]} {i} ({s}g)" for c, i, s in zip(cats, ids, sizes)]
    pad = rng.random(len(ids)) < 0.05
    junk_ids = [f"XYZ{k}" for k in range(1, N_JUNK_PRODUCTS + 1)]
    df = pd.DataFrame(
        {
            "product_name": [f" {n}  " if p else n for n, p in zip(names, pad)]
            + [f"Recovery Shake {j}" for j in junk_ids],
            "product_id": [str(i) for i in ids] + junk_ids,
            "category": list(cats) + ["protein shakes"] * N_JUNK_PRODUCTS,
        }
    )
    dups = df.sample(n=len(df) // 100, random_state=int(rng.integers(1 << 31)))
    codes = pd.DataFrame(
        {
            "product_id": ids.astype(str),
            "product_code": [
                hashlib.sha256(re.sub(r"(?i)Protien", "Protein", n).encode()).hexdigest()
                for n in names
            ],
        }
    )
    return pd.concat([df, dups], ignore_index=True), codes


def _prices(rng: np.random.Generator, n: int) -> pd.DataFrame:
    ids = np.arange(10001, 10001 + n)
    base = rng.uniform(1.0, 50.0, len(ids))
    parts = []
    for y in PRICE_YEARS:
        for _ in range(2):
            parts.append(
                pd.DataFrame(
                    {"product_id": ids, "year": y, "month": rng.integers(1, 13, len(ids)),
                     "price": np.round(base * rng.uniform(0.9, 1.2, len(ids)), 2)}
                )
            )
    df = pd.concat(parts, ignore_index=True)
    unknown = df.sample(n=len(df) // 100, random_state=int(rng.integers(1 << 31)))
    df = pd.concat([df, unknown.assign(product_id=unknown["product_id"] + 900000)], ignore_index=True)
    fmt = rng.integers(0, 3, len(df))
    month = [
        (f"{m}/1/{y % 100}", f"{y}-{m:02d}-01", f"{y}/{m:02d}/01")[f]
        for y, m, f in zip(df["year"], df["month"], fmt)
    ]
    price = np.array([f"{p:.2f}" for p in df["price"]], dtype=object)
    neg = rng.random(len(df)) < 0.02
    price[neg] = ["-" + p for p in price[neg]]
    junk = rng.random(len(df)) < 0.015
    price[junk] = PRICE_JUNK[rng.integers(0, 2, junk.sum())]
    return pd.DataFrame({"product_id": df["product_id"], "month": month, "gross_price": price})


def _lines(rng: np.random.Generator, n_customers: int, n_products: int, first_order: int,
           n_orders: int, day_lo: int, day_hi: int, lines_per_order: np.ndarray) -> pd.DataFrame:
    """Clean order lines (unique on order_id + product_id) for orders
    dated uniformly in [day_lo, day_hi)."""
    order = np.repeat(np.arange(n_orders), lines_per_order)
    lines = pd.DataFrame(
        {
            "order": order,
            "day": rng.integers(day_lo, day_hi, n_orders)[order],
            "customer_id": rng.integers(100001, 100001 + n_customers, n_orders)[order],
            "product_id": rng.integers(10001, 10001 + n_products, len(order)).astype(str),
            "qty": rng.integers(1, 51, len(order)),
        }
    ).drop_duplicates(["order", "product_id"])
    lines["order_id"] = [f"ORD{first_order + k:07d}" for k in lines.pop("order")]
    return lines.reset_index(drop=True)


def generate(seed: int, out: Path) -> Inputs:
    """Write one input set under ``out`` (which must not exist)."""
    rng = np.random.default_rng(seed)
    landing, truth, batch_dir = out / "landing", out / "truth", out / "batches"
    for d in (landing / "orders", truth, batch_dir):
        d.mkdir(parents=True)

    customers, fixes = _customers(rng, N_CUSTOMERS)
    customers.to_csv(landing / "customers.csv", index=False)
    products, codes = _products(rng, N_PRODUCTS)
    products.to_csv(landing / "products.csv", index=False)
    _prices(rng, N_PRODUCTS).to_csv(landing / "gross_price.csv", index=False)

    orders = _Orders(rng, codes)
    raw = orders.render(
        _lines(rng, N_CUSTOMERS, N_PRODUCTS, 0, N_ORDERS, 0, LOAD_DAYS,
               rng.integers(1, MAX_LINES_PER_ORDER + 1, N_ORDERS)),
        junk_share=0.01,
    )
    orders.truth(raw).to_parquet(truth / "base.parquet")
    sent = pd.concat([raw, orders.anomalies(raw, 0.005, 0.01)], ignore_index=True)
    # one landing file per month, as the child delivers them
    month_of_day = pd.date_range(LOAD_START, periods=LOAD_DAYS, freq="D").strftime("%Y_%m").to_numpy()
    for m, part in sent.groupby(month_of_day[sent["day"].to_numpy()]):
        part[RAW_COLS].to_csv(landing / "orders" / f"orders_{m}.csv", index=False)

    history = raw[raw["day"] >= LOAD_DAYS - REDELIVER_DAYS]
    next_order = N_ORDERS
    batches = []
    for i in range(N_BATCHES):
        today = LOAD_DAYS + i
        per_order = np.full(BATCH_NEW_ORDERS, LINES_PER_BATCH_ORDER)
        new = _lines(rng, N_CUSTOMERS, N_PRODUCTS, next_order, BATCH_NEW_ORDERS, today, today + 1, per_order)
        next_order += BATCH_NEW_ORDERS
        late = _lines(rng, N_CUSTOMERS, N_PRODUCTS, next_order, BATCH_LATE_ORDERS, today - LATE_DAYS, today,
                      np.full(BATCH_LATE_ORDERS, LINES_PER_BATCH_ORDER))
        next_order += BATCH_LATE_ORDERS
        fresh = orders.render(pd.concat([new, late], ignore_index=True), junk_share=0.01)
        orders.truth(fresh).to_parquet(truth / f"batch_{i:03d}.parquet")
        # a re-delivered line is a row sent in the last week, sent again
        recent = history[history["day"] >= today - REDELIVER_DAYS]
        again = orders.reformat(
            recent.sample(n=BATCH_REDELIVERED_LINES, random_state=int(rng.integers(1 << 31)))
        )
        sent = pd.concat([fresh, orders.anomalies(fresh, 0.01, 0.0), again], ignore_index=True)
        path = batch_dir / f"orders_{(BATCH_START + dt.timedelta(days=i)):%Y_%m_%d}.csv"
        sent.sample(frac=1.0, random_state=int(rng.integers(1 << 31)))[RAW_COLS].to_csv(path, index=False)
        batches.append(path)
        history = pd.concat([history, fresh], ignore_index=True)

    counts = {
        "customers": N_CUSTOMERS,
        "products": N_PRODUCTS + N_JUNK_PRODUCTS,
        "gross_price": N_PRODUCTS * len(PRICE_YEARS),
    }
    (truth / "counts.json").write_text(json.dumps(counts))
    input_bytes = sum(p.stat().st_size for p in landing.rglob("*.csv"))
    return Inputs(landing, batches, fixes, truth, input_bytes)


#: row counts of the TPC-H-shaped tables the operator headline reads,
#: the sf0.001 shape of the fixed test tables
TPCH_ROWS = {"customer": 150, "orders": 1_500, "part": 200, "supplier": 10,
             "events": 1_000, "documents": 500, "embeddings": 500}
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
WORDS = ("the a data spark join merge sort hash scan filter window batch stream table part order line "
         "customer value key row column vector query group agg big small fast slow dup").split()
EMB_DIM = 64


def generate_tables(seed: int, out: Path) -> Path:
    """Write the TPC-H-shaped parquet tables (plus events, documents and
    embeddings) that the registry queries read, one ``<table>.parquet``
    each, under ``out``; returns ``out``."""
    rng = np.random.default_rng(seed)
    n = TPCH_ROWS
    out.mkdir(parents=True)

    def days(k: int, lo: str, hi: str) -> np.ndarray:
        span = (pd.Timestamp(hi) - pd.Timestamp(lo)).days
        return (pd.Timestamp(lo) + pd.to_timedelta(rng.integers(0, span, k), unit="D")).to_numpy()

    tables = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS}),
        "nation": pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION_{k}" for k in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)}),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(n["customer"], dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(n["customer"])],
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": rng.choice(SEGMENTS, n["customer"]),
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{k:09d}" for k in range(n["supplier"])],
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(n["part"], dtype=np.int64),
            "p_name": [f"{a} widget" for a in rng.choice(["cold", "small", "blue", "steel", "bright"], n["part"])],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + np.arange(n["part"]) * 0.1, 2),
        }),
    }
    n_orders = n["orders"]
    tables["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n_orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(rng.uniform(900, 450_000, n_orders), 2),
        "o_orderdate": days(n_orders, "1992-01-01", "1998-08-02"),
        "o_orderpriority": rng.choice(PRIORITIES, n_orders),
    })
    per_order = rng.integers(1, 8, n_orders)
    k = int(per_order.sum())
    qty = rng.integers(1, 51, k).astype(np.float64)
    tables["lineitem"] = pd.DataFrame({
        "l_orderkey": np.repeat(np.arange(n_orders, dtype=np.int64), per_order),
        "l_partkey": rng.integers(0, n["part"], k).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], k).astype(np.int64),
        "l_linenumber": np.concatenate([np.arange(1, p + 1) for p in per_order]).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2_000, k), 2),
        "l_discount": rng.integers(0, 11, k) / 100,
        "l_tax": rng.integers(0, 9, k) / 100,
        "l_returnflag": rng.choice(["R", "A", "N"], k),
        "l_linestatus": rng.choice(["O", "F"], k),
        "l_shipdate": days(k, "1992-01-02", "1998-12-01"),
    })
    n_ev = n["events"]
    gaps = rng.exponential(2_600.0, n_ev)  # seconds; about a month of events
    tables["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": (pd.Timestamp("2024-01-01") + pd.to_timedelta(np.cumsum(gaps), unit="s")).to_numpy().astype("datetime64[us]"),
        "user_id": rng.integers(0, 15, n_ev).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.uniform(0, 200, n_ev), 2),
        "props": [f'{{"k": {v}}}' for v in rng.integers(0, 100, n_ev)],
    })
    texts = [" ".join(rng.choice(WORDS, int(m))) for m in rng.integers(5, 80, n["documents"])]
    tables["documents"] = pd.DataFrame({
        "doc_id": np.arange(n["documents"], dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "fr", "es", "de", "zh"], n["documents"]),
        "source": [f"src{k % 20}" for k in range(n["documents"])],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.normal(0, 0.15, (n["embeddings"], EMB_DIM)).astype(np.float32)
    tables["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n["embeddings"], dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32),
    })
    for name, df in tables.items():
        for col in df.columns:
            if df[col].dtype.kind == "M":
                df[col] = df[col].astype("datetime64[us]")
        df.to_parquet(out / f"{name}.parquet", index=False)
    return out
