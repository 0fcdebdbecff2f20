"""Seeded input generators for the benchmark.

``write_fixtures`` writes the ten fixture tables the declared queries
read (the TPC-H-ish star, ``events``, ``documents``, ``embeddings``),
with the column names, parquet types and value domains the queries and
their DuckDB oracles expect. ``write_increments`` writes the landing
parquet of the ``etl_load`` workload: overlapping increments of stock
bars, news documents and forex days that carry duplicate rows and NULL
cells, and returns the keys a correct keyed upsert must end up holding.

Only numpy and pyarrow run here: the engine sees nothing but the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _days(rng: np.random.Generator, start: str, n_days: int, n: int) -> np.ndarray:
    day0 = np.datetime64(start, "D").astype("datetime64[us]")
    return day0 + rng.integers(0, n_days, n) * np.timedelta64(1, "D")


# Seed of the fixture tables: the same for every run, so the oracle
# results of a checkout stay valid; ``--seed`` varies the query order.
FIXTURE_SEED = 42


def write_fixtures(out_dir: str, sf: float) -> None:
    """Write the fixture tables at scale factor ``sf`` into ``out_dir``."""
    rng = np.random.default_rng(FIXTURE_SEED)
    os.makedirs(out_dir, exist_ok=True)
    n_supp = int(10_000 * sf)
    n_cust = int(150_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_evt = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    _write(pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }), f"{out_dir}/region.parquet")
    _write(pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(rng.integers(0, 5, 25), pa.int32()),
    }), f"{out_dir}/nation.parquet")
    _write(pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    }), f"{out_dir}/supplier.parquet")
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                         "MACHINERY"])
    _write(pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": segments[rng.integers(0, 5, n_cust)],
    }), f"{out_dir}/customer.parquet")
    names = np.array([f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    _write(pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": names[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, len(types), n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    }), f"{out_dir}/part.parquet")
    priorities = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                           "5-LOW"])
    order_dates = _days(rng, "1995-01-01", 2405, n_ord)
    _write(pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": pa.array(order_dates, pa.timestamp("us")),
        "o_orderpriority": priorities[rng.integers(0, 5, n_ord)],
    }), f"{out_dir}/orders.parquet")
    l_order = rng.integers(0, n_ord, n_line)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = order_dates[l_order] + rng.integers(1, 122, n_line) * np.timedelta64(1, "D")
    _write(pa.table({
        "l_orderkey": l_order,
        "l_partkey": l_part,
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.02, 2.3, n_line) / 2, 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }), f"{out_dir}/lineitem.parquet")
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86_400_000_000, n_evt) * np.timedelta64(1, "us"))
    _write(pa.table({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, n_users, n_evt),
        "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
            rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    }), f"{out_dir}/events.parquet")
    texts: list[str] = []
    for i in range(n_docs):
        # one document in twenty is an earlier document plus one token,
        # so the dedup and near-duplicate queries have pairs to find
        if i >= 20 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    _write(pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "es", "fr", "zh"])[rng.integers(0, 5, n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }), f"{out_dir}/documents.parquet")
    vecs = rng.standard_normal((n_vecs, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32()),
    }), f"{out_dir}/embeddings.parquet")


# ---------------------------------------------------------------------------
# etl_load increments
# ---------------------------------------------------------------------------

TICKERS = ("AAPL", "FB", "GOOG", "IBM", "INTL", "MSFT")
# Increment ``i`` covers days ``[i*STEP, i*STEP + DAYS)``: each one
# re-delivers the last ``DAYS - STEP`` days of the one before. Six
# increments span 5*STEP + DAYS = 500 days, the size of the reference's
# stock feed (~500 consecutive daily stamps x 6 tickers, FIXTURES.md).
DAYS = 100
STEP = 80
_DESKS = ("Business", "Foreign", "Business Day", "Financial", "National",
          "Small Business", "Technology", "World")
_OTHER_DESKS = ("Sports", "Arts", "Style")
_CURRENCIES = ("eur", "gbp", "sek", "dkk")


def _null_some(rng: np.random.Generator, x: np.ndarray, frac: float) -> pa.Array:
    return pa.array(x, mask=rng.random(len(x)) < frac)


def write_increments(out_dir: str, seed: int, n_increments: int) -> dict:
    """Write ``n_increments`` landing increments under ``out_dir`` and
    return the expected target contents.

    Increments overlap (``DAYS``, ``STEP``); every increment also repeats
    a few of its own rows and blanks a few cells. The returned
    dict maps each domain to its increments (file paths); ``expected``
    holds each domain's number of distinct upsert keys over all
    increments and ``rows_offered`` the rows the pipelines hand to the
    sink (after their own filters, before the upsert dedup)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    day0 = dt.date(2020, 1, 1)
    stock_keys: set = set()
    news_keys: set = set()
    forex_keys: set = set()
    offered = 0
    out: dict = {"stocks": [], "news": [], "forex": []}
    headlines = [" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), 6))
                 for _ in range(64)]
    for i in range(n_increments):
        span = [day0 + dt.timedelta(days=i * STEP + d) for d in range(DAYS)]
        stamps = np.array(span, dtype="datetime64[D]").astype("datetime64[us]")

        frames = {}
        for t in TICKERS:
            idx = np.concatenate([np.arange(DAYS), rng.integers(0, DAYS, 2)])
            close = np.round(100 * np.exp(np.cumsum(rng.normal(0, 0.02, DAYS))), 4)[idx]
            open_ = np.round(close * rng.uniform(0.98, 1.02, len(idx)), 4)
            frames[t] = f"{out_dir}/stocks_{i}_{t}.parquet"
            _write(pa.table({
                "date": pa.array(stamps[idx], pa.timestamp("us")),
                "open": _null_some(rng, open_, 0.03),
                "high": np.maximum(open_, close) * 1.01,
                "low": np.minimum(open_, close) * 0.99,
                "close": _null_some(rng, close, 0.03),
                "volume": rng.integers(1_000, 1_000_000, len(idx)),
            }), frames[t])
            stock_keys.update((str(s), t) for s in stamps)
            offered += len(idx)
        out["stocks"].append(frames)

        n = 12 * DAYS
        when = [span[d] for d in rng.integers(0, DAYS, n)]
        pub = [f"{w.isoformat()} {h:02d}:00:00" for w, h in zip(when, rng.integers(0, 24, n))]
        heads = [headlines[j] for j in rng.integers(0, len(headlines), n)]
        heads = [h.upper() if rng.random() < 0.2 else h for h in heads]
        heads = ["" if rng.random() < 0.03 else h for h in heads]
        snippets = ["" if rng.random() < 0.03 else f"snippet {k}"
                    for k in rng.integers(0, 1000, n)]
        desks = [(_DESKS + _OTHER_DESKS)[k] for k in rng.integers(0, 11, n)]
        typo = rng.random(n) < 0.5
        _write(pa.table({
            "pub_date": pub,
            "snippet": snippets,
            "headline": heads,
            "new_desk": [d if t else None for d, t in zip(desks, typo)],
            "news_desk": [None if t else d for d, t in zip(desks, typo)],
            "keywords": [[f"KW{k}", f"kw{k + 1}"] for k in rng.integers(0, 50, n)],
        }), f"{out_dir}/news_{i}.parquet")
        out["news"].append(f"{out_dir}/news_{i}.parquet")
        kept = [(p, h.lower()) for p, h, s, d in zip(pub, heads, snippets, desks)
                if d in _DESKS and h and s]
        news_keys.update(kept)
        offered += len(kept)

        dates = np.array(span, dtype="datetime64[D]")
        rate_days = np.sort(rng.choice(DAYS, DAYS - 3, replace=False))
        btc_days = np.sort(rng.choice(DAYS, DAYS - 3, replace=False))
        rates = {"short_date": pa.array(dates[rate_days], pa.date32())}
        for c in _CURRENCIES:
            rates[f"usd_to_{c}"] = _null_some(rng, rng.uniform(0.5, 10.0, len(rate_days)), 0.03)
        _write(pa.table(rates), f"{out_dir}/rates_{i}.parquet")
        _write(pa.table({
            "short_date": pa.array(dates[btc_days], pa.date32()),
            "usd_to_btc": rng.uniform(1e-5, 1e-4, len(btc_days)),
        }), f"{out_dir}/btc_{i}.parquet")
        out["forex"].append((f"{out_dir}/rates_{i}.parquet", f"{out_dir}/btc_{i}.parquet"))
        covered = np.union1d(rate_days, btc_days)
        forex_keys.update(str(d) for d in dates[covered])
        offered += len(covered)
    out["expected"] = {"stocks": len(stock_keys), "news": len(news_keys),
                       "forex": len(forex_keys)}
    out["rows_offered"] = offered
    return out
