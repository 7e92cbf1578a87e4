"""Seeded input generators for the benchmark workloads.

Every generator takes the seed and writes only into the directory it is
given; the program under test receives nothing but these files. Each one
also returns the answers the output checks compare against, computed here
from the generated arrays with the same rules the pipelines implement.
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)


def _symbols(rng, n):
    """n distinct 3-4 letter tickers, sorted."""
    out = set()
    while len(out) < n:
        k = int(rng.integers(3, 5))
        out.add("".join(chr(65 + int(c)) for c in rng.integers(0, 26, k)))
    return sorted(out)


def _calendar(rng, days):
    """`days` weekdays from 2019-05-08 with ~2% holidays removed."""
    d, out = dt.date(2019, 5, 8), []
    while len(out) < days:
        if d.weekday() < 5 and rng.random() >= 0.02:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


def _bars(rng, n_days, null_close=0.01, anomalies=0.004):
    """One symbol's OHLCV arrays: a log-normal walk with ~1% null closes
    and a few rows whose open or close leaves the [low, high] range."""
    close = 20.0 * np.exp(rng.uniform(0, 3)) * np.exp(
        np.cumsum(rng.normal(0, 0.015, n_days)))
    open_ = close * np.exp(rng.normal(0, 0.005, n_days))
    high = np.maximum(open_, close) * (1 + rng.uniform(0.001, 0.02, n_days))
    low = np.minimum(open_, close) * (1 - rng.uniform(0.001, 0.02, n_days))
    bad = rng.random(n_days) < anomalies
    close = np.where(bad, high * 1.05, close)          # close above high
    bad_open = rng.random(n_days) < anomalies / 2
    open_ = np.where(bad_open, low * 0.95, open_)       # open below low
    rnd = lambda a: np.round(a, 4)
    close = rnd(close).astype(object)
    close[rng.random(n_days) < null_close] = None
    vol = rng.integers(10_000, 5_000_000, n_days)
    return rnd(open_), rnd(high), rnd(low), close, vol


def _anomaly_count(o, h, l, c):
    """Cleaning.inconsistencies: one row per (bar, failed check); a check
    is skipped when one of its fields is null (only close can be)."""
    n = int(np.sum(h < l)) + int(np.sum((o < l) | (o > h)))
    for ci, hi, lo in zip(c, h, l):
        if ci is not None and (ci < lo or ci > hi):
            n += 1
    return n


def _ragged(rng, n_days):
    """Listing window [start, end) with ragged edges on both sides."""
    start = int(rng.integers(0, n_days // 8))
    end = n_days - int(rng.integers(0, n_days // 8))
    return start, end


def etl_inputs(seed, out_dir, n_symbols, n_days):
    """Chart-JSON payloads (one `symbol<TAB>json` line per symbol) plus
    the EtlJob.Report the run must return."""
    rng = np.random.default_rng([seed, 1])
    cal = _calendar(rng, n_days)
    syms = _symbols(rng, n_symbols)
    all_dates, filled_rows, anomalies = set(), 0, 0
    path = os.path.join(out_dir, "payloads.tsv")
    with open(path, "w") as f:
        for s in syms:
            start, end = _ragged(rng, n_days)
            keep = np.arange(start, end)
            # a few missing sessions inside the listing window
            keep = keep[rng.random(len(keep)) >= 0.01]
            o, h, l, c, v = _bars(rng, len(keep))
            anomalies += _anomaly_count(o, h, l, c)
            # forward fill leaves only leading nulls, which dropInvalid drops
            first = next((i for i, x in enumerate(c) if x is not None), len(c))
            filled_rows += len(keep) - first
            all_dates.update(cal[i] for i in keep[first:])
            ts = [int((cal[i] - EPOCH).days) * 86400 + 48600 for i in keep]
            chart = {"chart": {"result": [{"timestamp": ts, "indicators": {"quote": [{
                "open": o.tolist(), "high": h.tolist(), "low": l.tolist(),
                "close": list(c), "volume": v.tolist()}]}}]}}
            f.write(s + "\t" + json.dumps(chart) + "\n")
    days = len(all_dates)
    aligned = days * len(syms)
    return {"symbols": len(syms), "calendar_days": days,
            "aligned_rows": aligned, "missing_close": aligned - filled_rows,
            "anomalies": anomalies, "csv_columns": 1 + 5 * len(syms)}


def dashboard_inputs(seed, out_dir, n_symbols, n_days):
    """A wide CSV in the reference format (Date,SYM_Field..., None for
    nulls) over one calendar, with ragged listing windows."""
    rng = np.random.default_rng([seed, 2])
    cal = _calendar(rng, n_days)
    syms = _symbols(rng, n_symbols)
    cols = []
    for _ in syms:
        start, end = _ragged(rng, n_days)
        o, h, l, c, v = _bars(rng, end - start, anomalies=0.0)
        pad = lambda a: [None] * start + list(a) + [None] * (n_days - end)
        cols.append([pad(x) for x in (o, h, l, c, v)])
    fmt = lambda x: "None" if x is None else repr(x)
    path = os.path.join(out_dir, "wide.csv")
    with open(path, "w") as f:
        f.write(",".join(["Date"] + [f"{s}_{fld}" for s in syms
                                     for fld in ("Open", "High", "Low", "Close", "Volume")]) + "\n")
        for i, d in enumerate(cal):
            f.write(",".join([d.isoformat()] + [fmt(col[k][i]) for col in cols
                                                for k in range(5)]) + "\n")
    return {"symbols": len(syms), "days": n_days}


# ---- catalog tables: the TPC-H-ish star schema plus the events,
# documents and embeddings tables, with the row counts, key ranges and
# value distributions measured on the project's own sf 0.01 test tables
# (perfbench/calibrate.py prints both side by side) ----------------------

_WORDS = ("a the row key agg scan slow fast table value part hash merge batch "
          "line sort window column order small big join filter group query "
          "data spark stream customer vector").split()


def _ts_us(days_from, lo, hi, rng, n):
    base = (days_from - EPOCH).days
    return pa.array((base + rng.integers(lo, hi, n)) * 86_400_000_000,
                    type=pa.timestamp("us"))


def catalog_tables(seed, out_dir, sf):
    """Writes the ten catalog tables as parquet under out_dir."""
    rng = np.random.default_rng([seed, 3])
    n = lambda base: max(1, int(base * sf))
    nc, ns, npart, no, nl = n(150_000), n(10_000), n(200_000), n(1_500_000), n(6_000_000)
    # documents and embeddings have a floor of 500 rows at small sf
    ne, nd, nv = n(1_000_000), max(500, n(50_000)), max(500, n(20_000))
    i32 = lambda a: pa.array(a, type=pa.int32())
    money = lambda lo, hi, k: np.round(rng.uniform(lo, hi, k), 2)
    pick = lambda opts, k: np.array(opts)[rng.integers(0, len(opts), k)]
    tables = {
        "region": {"r_regionkey": i32(range(5)),
                   "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]},
        "nation": {"n_nationkey": i32(range(25)), "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": i32([i % 5 for i in range(25)])},
        "customer": {"c_custkey": np.arange(nc), "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                     "c_nationkey": i32(rng.integers(0, 25, nc)), "c_acctbal": money(-999.99, 9999.99, nc),
                     "c_mktsegment": pick(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], nc)},
        "supplier": {"s_suppkey": np.arange(ns), "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                     "s_nationkey": i32(rng.integers(0, 25, ns)), "s_acctbal": money(-999.99, 9999.99, ns)},
        "part": {"p_partkey": np.arange(npart),
                 "p_name": [f"{a} {b}" for a, b in zip(
                     pick(["small", "large", "red", "blue", "hot", "old", "shiny", "cold"], npart),
                     pick(["ring", "bolt", "widget", "gear", "gizmo", "nut", "pin", "cog"], npart))],
                 "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
                 "p_type": pick(["SMALL", "MEDIUM", "LARGE", "ECONOMY", "STANDARD", "PROMO"], npart),
                 "p_size": i32(rng.integers(1, 51, npart)),
                 "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2)},
        "orders": {"o_orderkey": np.arange(no), "o_custkey": rng.integers(0, nc, no),
                   "o_orderstatus": pick(["F", "O", "P"], no), "o_totalprice": money(1000, 500000, no),
                   "o_orderdate": _ts_us(dt.date(1995, 1, 1), 0, 2405, rng, no),
                   "o_orderpriority": pick(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], no)},
        "lineitem": {"l_orderkey": rng.integers(0, no, nl), "l_partkey": rng.integers(0, npart, nl),
                     "l_suppkey": rng.integers(0, ns, nl), "l_linenumber": i32(rng.integers(1, 8, nl)),
                     "l_quantity": rng.integers(1, 51, nl).astype(float),
                     "l_extendedprice": money(900, 105000, nl),
                     "l_discount": rng.integers(0, 11, nl) / 100.0, "l_tax": rng.integers(0, 9, nl) / 100.0,
                     "l_returnflag": pick(["A", "N", "R"], nl), "l_linestatus": pick(["O", "F"], nl),
                     "l_shipdate": _ts_us(dt.date(1995, 1, 2), 0, 2498, rng, nl)},
        # uniform over users and over 30 days: ~67 events per user, and
        # ~5% of one user's gaps fall within s2_sessionize's 30 minutes,
        # so ~95% of sessions hold one event, as in the measured table
        "events": {"event_id": np.arange(ne),
                   "ts": pa.array(1_704_067_200_000_000 + np.sort(rng.integers(0, 30 * 86_400_000_000, ne)),
                                  type=pa.timestamp("us")),
                   "user_id": rng.integers(0, n(15_000), ne),
                   "event_type": pick(["click", "view", "purchase", "signup", "error"], ne),
                   # exponential, mean 50: median 34.6, p10 5.2 measured
                   "value": np.maximum(0.01, np.round(rng.exponential(50.0, ne), 2)),
                   "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]},
    }
    # 10-99 words drawn uniformly from a 30-word vocabulary; about 5% of
    # the documents end in an extra "dup" token; 44% are "en"
    texts = [" ".join(pick(_WORDS, int(rng.integers(10, 100))))
             + (" dup" if rng.random() < 0.05 else "") for _ in range(nd)]
    lang = np.array(["en", "es", "de", "fr", "zh"])[
        rng.choice(5, nd, p=[0.44, 0.14, 0.14, 0.14, 0.14])]
    tables["documents"] = {"doc_id": np.arange(nd), "text": texts, "lang": lang,
                           "source": [f"src{i % 20}" for i in range(nd)],
                           "n_chars": np.array([len(t) for t in texts])}
    # isotropic unit vectors, 64-d; the label is uniform over 10 values
    # and carries no geometry (same-label and other-label mean cosines
    # are both ~0)
    vecs = rng.normal(0, 1, (nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    tables["embeddings"] = {"vec_id": np.arange(nv),
                            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
                            "label": i32(rng.integers(0, 10, nv))}
    for name, cols in tables.items():
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))
