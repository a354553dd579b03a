"""Seeded benchmark inputs.

Solar telemetry is generated in Kafka record shape — ``timestamp`` (the
record timestamp, which the reference topology windows on), ``key`` (the
panel) and a JSON ``value`` ``{"panel", "name", "power"}`` — one parquet
file per 30 s event-time window, so a file source can stand in for the
topic. Powers are whole watts and every panel has eight modules, so every
sum and mean the pipeline computes is exact in binary floating point and
the Spark and DuckDB results can be compared bit for bit.

The batch tables for ``query_mix`` follow the driver testdata schemas
(FIXTURES.md §3). They come from a fixed seed: the run seed only permutes
the query order, so the reference hashes are computed once per checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

WINDOW_S = 30
WATERMARK_S = 30
MODULES = 8
T0_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z, window aligned
ANOMALY_SHARE = 0.05  # modules planted 40-60 % off their panel's level


def solar_window(rng: np.random.Generator, index: int, panels: int) -> pa.Table:
    """One 30 s event-time window: every module of every panel reports
    once per second. ``ANOMALY_SHARE`` of the modules are planted with a
    power 40-60 % off their panel's level."""
    n_mod = panels * MODULES
    panel = np.repeat(np.arange(panels), MODULES)
    level = rng.integers(200, 300, panels)[panel]
    planted = rng.random(n_mod) < ANOMALY_SHARE
    scale = np.where(planted, rng.choice([0.4, 1.6], n_mod), 1.0)
    base = np.rint(level * scale).astype(np.int64)
    second = np.tile(np.arange(WINDOW_S), n_mod)
    mod_idx = np.repeat(np.arange(n_mod), WINDOW_S)
    power = base[mod_idx] + rng.integers(-5, 6, n_mod * WINDOW_S)
    ts = (T0_US + (index * WINDOW_S + second) * 1_000_000
          + rng.integers(0, 1_000_000, n_mod * WINDOW_S))
    order = rng.permutation(n_mod * WINDOW_S)
    panel_s = pa.array([f"p{p:04d}" for p in range(panels)])
    module_s = pa.array([f"m{m}" for m in range(MODULES)])
    panel_col = panel_s.take(pa.array(panel[mod_idx][order]))
    name_col = module_s.take(pa.array((mod_idx % MODULES)[order]))
    value = pc.binary_join_element_wise(
        '{"panel":"', panel_col, '","name":"', name_col, '","power":',
        pc.cast(pa.array(power[order]), pa.string()), "}", "")
    return pa.table({
        "timestamp": pa.array(ts[order], pa.timestamp("us", tz="UTC")),
        "key": panel_col,
        "value": value,
    })


def write_solar_files(out_dir: str, seed: int, n_files: int,
                      panels: int) -> list[dict]:
    """Write ``n_files`` window files named so their order is their name
    order; returns per-file facts: path, rows and max event time."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    files = []
    for i in range(n_files):
        table = solar_window(rng, i, panels)
        path = os.path.join(out_dir, f"w{i:05d}.parquet")
        pq.write_table(table, path)
        files.append({
            "path": path,
            "rows": table.num_rows,
            "max_ts_us": pc.max(table["timestamp"].cast(pa.int64())).as_py(),
        })
    return files


WORDS = ("a the data table row column key value hash join sort merge scan "
         "filter group agg window stream batch query spark fast slow big "
         "small line part order customer vector").split()
LANGS = ("en", "en", "en", "zh", "es", "de", "fr")


def write_tables(out_dir: str, seed: int, scale: float = 0.01) -> None:
    """The ten driver tables at ``scale`` (1.0 = 6M line items), with the
    testdata shapes: dense integer keys, two-decimal money, a month of
    events, short word-salad documents (a tenth of them near copies of
    another) and 64-dimensional embeddings."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = {k: max(1, int(v * scale)) for k, v in {
        "customer": 150_000, "supplier": 10_000, "part": 200_000,
        "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
        "documents": 50_000, "embeddings": 50_000}.items()}

    def money(lo, hi, size):
        return np.round(rng.uniform(lo, hi, size), 2)

    def day(start: str, days: int, size):
        base = np.datetime64(start, "us")
        return base + rng.integers(0, days, size) * np.timedelta64(86_400, "s")

    def names(prefix, count):
        return [f"{prefix}#{i:09d}" for i in range(count)]

    tables = {
        "region": {"r_regionkey": np.arange(5, dtype=np.int32),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": np.arange(25, dtype=np.int32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": np.arange(25, dtype=np.int32) % 5},
        "customer": {
            "c_custkey": np.arange(n["customer"]),
            "c_name": names("Customer", n["customer"]),
            "c_nationkey": rng.integers(0, 25, n["customer"]).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                        "HOUSEHOLD", "MACHINERY"], n["customer"])},
        "supplier": {
            "s_suppkey": np.arange(n["supplier"]),
            "s_name": names("Supplier", n["supplier"]),
            "s_nationkey": rng.integers(0, 25, n["supplier"]).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, n["supplier"])},
        "part": {
            "p_partkey": np.arange(n["part"]),
            "p_name": [" ".join(p) for p in rng.choice(
                ["small", "red", "blue", "steel", "ring", "widget", "bolt",
                 "large"], (n["part"], 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(["ECONOMY", "STANDARD", "PROMO", "LARGE",
                                  "MEDIUM", "SMALL"], n["part"]),
            "p_size": rng.integers(1, 51, n["part"]).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2)},
        "orders": {
            "o_orderkey": np.arange(n["orders"]),
            "o_custkey": rng.integers(0, n["customer"], n["orders"]),
            "o_orderstatus": rng.choice(["F", "O", "P"], n["orders"]),
            "o_totalprice": money(1000, 500_000, n["orders"]),
            "o_orderdate": day("1992-01-01", 2400, n["orders"]),
            "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                           "4-NOT SPECIFIED", "5-LOW"], n["orders"])},
        "lineitem": {
            "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]),
            "l_partkey": rng.integers(0, n["part"], n["lineitem"]),
            "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]),
            "l_linenumber": rng.integers(1, 8, n["lineitem"]).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n["lineitem"]).astype(np.float64),
            "l_extendedprice": money(900, 100_000, n["lineitem"]),
            "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
            "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n["lineitem"]),
            "l_linestatus": rng.choice(["F", "O"], n["lineitem"]),
            "l_shipdate": day("1992-01-02", 3300, n["lineitem"])},
        "events": {
            "event_id": np.arange(n["events"]),
            "ts": np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * 86_400_000_000, n["events"]).astype("timedelta64[us]"),
            "user_id": rng.integers(0, 150, n["events"]),
            "event_type": rng.choice(["click", "view", "purchase", "signup",
                                      "error"], n["events"]),
            "value": np.round(rng.exponential(50, n["events"]) + 0.01, 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n["events"])]},
        "embeddings": {
            "vec_id": np.arange(n["embeddings"]),
            "embedding": list(rng.normal(0, 0.15, (n["embeddings"], 64))
                              .astype(np.float32)),
            "label": rng.integers(0, 10, n["embeddings"]).astype(np.int32)},
    }
    docs = []
    for i in range(n["documents"]):
        if i > 10 and rng.random() < 0.1:  # near copy of an earlier document
            words = docs[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = rng.choice(WORDS)
        else:
            words = list(rng.choice(WORDS, rng.integers(10, 100)))
        docs.append(" ".join(words))
    tables["documents"] = {
        "doc_id": np.arange(n["documents"]), "text": docs,
        "lang": rng.choice(LANGS, n["documents"]),
        "source": [f"src{i % 5}" for i in range(n["documents"])],
        "n_chars": np.array([len(d) for d in docs])}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def closing_file(files: list[dict], w_end_us: int) -> int | None:
    """Index of the first file whose newest event moves the watermark
    (max event time minus 30 s) to or past ``w_end_us``: the file whose
    ingestion lets the window emit in append mode."""
    for i, f in enumerate(files):
        if f["max_ts_us"] - WATERMARK_S * 1_000_000 >= w_end_us:
            return i
    return None
