"""Seeded generator of the engine's fixture tables.

The registry reads ten parquet tables (`<dir>/<table>.parquet`): a
TPC-H-shaped star schema, an `events` stream, a `documents` corpus and an
`embeddings` table. This module writes tables of the same schema and the
same value shapes for any scale factor, from a seed alone, so the benchmark
needs no input from outside its checkout:

* row counts scale linearly with `sf` (lineitem 6,000,000 x sf), except the
  corpus tables, which keep a floor of 500 rows (as in FIXTURES.md);
* every column is drawn independently and uniformly from its domain, except
  `events.ts` (sorted, so `event_id` follows time), `events.value`
  (exponential, mean 50) and `documents.lang` (English-heavy);
* one document in twenty is an earlier document's text plus " dup", so the
  near-duplicate and clustering queries have true positives;
* embeddings are random unit vectors in 64 dimensions.

The ETL workload's simulated fetch is generated here too: `fetch_rows`
gives each ticker a seeded daily price series, and `failing_tickers` names
the tickers whose fetch raises, so the collector's per-item isolation runs.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.14, 0.14]

US = 1_000_000
DAY_US = 86_400 * US
EPOCH_1995 = 788_918_400 * US       # 1995-01-01
EPOCH_2024 = 1_704_067_200 * US     # 2024-01-01


def _ts(us):
    return pa.array(us.astype(np.int64), pa.timestamp("us"))


def _days(rng, n, first_day, last_day):
    """Midnight timestamps uniform over [first_day, last_day] (day numbers
    counted from 1995-01-01)."""
    return _ts(EPOCH_1995 + rng.integers(first_day, last_day + 1, n) * DAY_US)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _write(out_dir, name, columns):
    pq.write_table(pa.table(columns), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n):
    ids = np.arange(n, dtype=np.int64)
    vocab = np.asarray(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(VOCAB), rng.integers(10, 100))]))
    return {
        "doc_id": ids,
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel(), pa.float32())
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    }


def make_fixture(out_dir, sf, seed, min_corpus=500):
    """Write the ten fixture tables for scale factor `sf` under `out_dir`."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, int(round(sf * 1_000_000))])
    n_cust, n_supp, n_part = (max(1, int(k * sf)) for k in (150_000, 10_000, 200_000))
    n_ord, n_line, n_ev = (int(k * sf) for k in (1_500_000, 6_000_000, 1_000_000))
    n_users = max(1, int(15_000 * sf))
    n_docs, n_vecs = max(min_corpus, int(50_000 * sf)), max(min_corpus, int(20_000 * sf))

    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    _write(out_dir, "part", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 1)})
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500000),
        "o_orderdate": _days(rng, n_ord, 0, 2404),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105000),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, 1, 2499)})
    ts = np.sort(rng.integers(EPOCH_2024, EPOCH_2024 + 30 * DAY_US, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(ts),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": np.maximum(0.01, np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    _write(out_dir, "documents", _documents(rng, n_docs))
    _write(out_dir, "embeddings", _embeddings(rng, n_vecs))


def tickers(n):
    return [f"TCK{i:03d}" for i in range(n)]


def failing_tickers(seed, names, k):
    """The `k` tickers whose simulated fetch raises, drawn from the seed."""
    rng = np.random.default_rng([seed, 7])
    return sorted(np.asarray(names, dtype=object)[rng.choice(len(names), k, replace=False)])


def fetch_rows(out_path, seed, names, days):
    """Write every ticker's simulated daily bars, one tab-separated line a
    bar: ticker, date (epoch microseconds), open, high, low, close, volume,
    dividends, stock splits."""
    rng = np.random.default_rng([seed, 11])
    n = len(names) * days
    close = np.round(rng.uniform(5, 120, n), 2)
    spread = np.round(rng.uniform(0, 2, n), 2)
    day0 = 1_735_689_600 * US  # 2025-01-01
    cols = [np.repeat(np.asarray(names, dtype=object), days),
            np.tile(day0 + np.arange(days) * DAY_US, len(names)),
            np.round(close + rng.uniform(-1, 1, n), 2), close + spread,
            np.round(close - spread, 2), close, rng.integers(1_000, 1_000_000, n),
            np.where(rng.random(n) < 0.05, np.round(rng.uniform(0.1, 1, n), 2), 0.0),
            np.zeros(n)]
    with open(out_path, "w") as f:
        for row in zip(*cols):
            f.write("\t".join(map(str, row)) + "\n")


def stage_raw_events(fixture_dir):
    """The events as the ETL's raw layer: `ts` as a UTC instant, the type
    the program's own readers give it (Tables.events)."""
    t = pq.read_table(os.path.join(fixture_dir, "events.parquet"))
    t = t.set_column(1, "ts", t.column("ts").cast(pa.timestamp("us", tz="UTC")))
    pq.write_table(t, os.path.join(fixture_dir, "raw_events.parquet"))


def split_orders(fixture_dir, n_files):
    """The orders as `n_files` parquet files, the small-file layout that
    table maintenance compacts."""
    t = pq.read_table(os.path.join(fixture_dir, "orders.parquet"))
    out = os.path.join(fixture_dir, "orders_split")
    os.makedirs(out)
    step = -(-t.num_rows // n_files)
    for i in range(n_files):
        pq.write_table(t.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))
