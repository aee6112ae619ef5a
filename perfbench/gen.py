"""Seeded input generators for the benchmark.

* `tables(out_dir, scale)` writes the ten registry tables (region ..
  embeddings) with the schemas, value ranges and planted near/exact
  duplicates of the TPC-H-ish test layout the registry keys and their
  DuckDB oracles are written against. The data depend only on `scale`
  (fixed generator seed), so oracle reference results can be cached
  per data directory.
* `lake(out_dir, seed)` writes a Dukascopy-format raw CSV lake
  (`<SYMBOL>/<yyyymmdd>.csv`, `DateTime yyyyMMdd HH:mm:ss.SSS,Bid,Ask,
  Volume`) plus the same ticks as per-symbol gold parquet
  (`datetime, bid, ask`), and returns a manifest of counts and
  checksums the benchmark compares its read-backs with.
"""
import json
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
ADJ = "blue cold hot red small new old large".split()
NOUN = "ring plate gear rod bolt anvil widget gizmo".split()


def _write(df, path, schema=None):
    t = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(t, path, compression="snappy")


def _days(rng, start, n_days, size):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, n_days, size).astype("timedelta64[D]")


def tables(out, scale):
    """Registry tables at `scale` (1.0 = the sf1 row counts)."""
    rng = np.random.default_rng(42)
    os.makedirs(out, exist_ok=True)
    n_cust, n_supp, n_part = (int(150000 * scale), int(10000 * scale),
                              int(200000 * scale))
    n_ord, n_line, n_evt = (int(1500000 * scale), int(6000000 * scale),
                            int(1000000 * scale))
    n_users = int(15000 * scale)
    n_docs, n_vecs = max(500, int(50000 * scale)), max(500, int(20000 * scale))

    _write(pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        f"{out}/region.parquet")
    nk = np.arange(25, dtype=np.int32)
    _write(pd.DataFrame({"n_nationkey": nk,
                         "n_name": [f"NATION_{i}" for i in nk],
                         "n_regionkey": (nk % 5).astype(np.int32)}),
           f"{out}/nation.parquet")
    ck = np.arange(n_cust, dtype=np.int64)
    _write(pd.DataFrame({
        "c_custkey": ck,
        "c_name": [f"Customer#{i:09d}" for i in ck],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust)}),
        f"{out}/customer.parquet")
    sk = np.arange(n_supp, dtype=np.int64)
    _write(pd.DataFrame({
        "s_suppkey": sk,
        "s_name": [f"Supplier#{i:09d}" for i in sk],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet")
    pk = np.arange(n_part, dtype=np.int64)
    _write(pd.DataFrame({
        "p_partkey": pk,
        "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                              "STANDARD"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900.0 + (pk % 1000) / 10.0}),
        f"{out}/part.parquet")
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _days(rng, "1995-01-01", 2405, n_ord),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord)}),
        f"{out}/orders.parquet")
    _write(pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900.0, 105000.0, n_line), 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2499, n_line)}),
        f"{out}/lineitem.parquet")
    span_us = 30 * 86400 * 10**6
    ts = np.sort(rng.integers(0, span_us, n_evt))
    _write(pd.DataFrame({
        "event_id": np.arange(n_evt, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_evt).astype(np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup",
                                  "view"], n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]}),
        f"{out}/events.parquet")

    texts = [" ".join(rng.choice(WORDS, n))
             for n in rng.integers(10, 101, n_docs)]
    # planted near-duplicates (another doc's text + " dup", 5%) and a
    # few exact duplicates, as in the reference corpus layout
    for i in rng.choice(n_docs, n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    for _ in range(max(2, n_docs // 600)):
        a, b = rng.choice(n_docs, 2, replace=False)
        texts[b] = texts[a]
    dk = np.arange(n_docs, dtype=np.int64)
    _write(pd.DataFrame({
        "doc_id": dk, "text": texts,
        "lang": rng.choice(["en", "zh", "es", "fr", "de"], n_docs,
                           p=[0.41, 0.15, 0.15, 0.15, 0.14]),
        "source": [f"src{i % 20}" for i in dk],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        f"{out}/documents.parquet")
    x = rng.standard_normal((n_vecs, 64))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    schema = pa.schema([("vec_id", pa.int64()),
                        ("embedding", pa.list_(pa.float32())),
                        ("label", pa.int32())])
    _write(pd.DataFrame({"vec_id": np.arange(n_vecs, dtype=np.int64),
                         "embedding": list(x),
                         "label": rng.integers(0, 10, n_vecs).astype(np.int32)}),
           f"{out}/embeddings.parquet", schema)


SYMBOLS = ("BTCUSD", "US2000", "US30", "XAUUSD")
# one trading day per year over three years, so year partitions differ
DAYS = ("2022-03-01", "2022-03-02", "2023-03-01", "2023-03-02",
        "2024-03-01", "2024-03-04")
# the paper's two session windows (UTC): 07:50-08:00 and 13:50-14:00
WINDOWS_S = ((7 * 3600 + 50 * 60, 600), (13 * 3600 + 50 * 60, 600))
DUP_SHARE, OOO_SHARE = 0.02, 0.03


def lake(out, seed, ticks_per_file=1500):
    """Raw CSV lake + gold parquet for `seed`; returns the manifest."""
    rng = np.random.default_rng(seed)
    csv_root, gold_root = f"{out}/csv", f"{out}/gold"
    rows = dups = ooo = csv_bytes = 0
    bid_cents = ask_cents = 0
    per_symbol, per_year = {}, {}
    for si, sym in enumerate(SYMBOLS):
        os.makedirs(f"{csv_root}/{sym}", exist_ok=True)
        os.makedirs(f"{gold_root}/{sym}", exist_ok=True)
        px = float(rng.uniform(100.0, 2000.0))
        frames = []
        for day in DAYS:
            n = int(ticks_per_file * rng.uniform(0.8, 1.2))
            # 85% of ticks inside the two session windows, the rest
            # spread over the day
            w = rng.integers(0, 2, n)
            ins = rng.random(n) < 0.85
            sec = np.where(ins,
                           np.array([WINDOWS_S[k][0] for k in w]) +
                           rng.uniform(0, 600, n),
                           rng.uniform(0, 86400, n))
            ms = np.sort(np.floor(sec * 1000).astype(np.int64))
            steps = rng.normal(0, 0.0004, n).cumsum()
            bid = np.round(px * np.exp(steps), 2)
            ask = np.round(bid + rng.integers(1, 20, n) / 100.0, 2)
            vol = np.round(rng.uniform(0.1, 5.0, n), 2)
            idx = np.arange(n)
            # planted duplicates: exact copies of earlier rows
            nd = int(n * DUP_SHARE)
            idx = np.concatenate([idx, rng.choice(n, nd)])
            idx.sort(kind="stable")
            # planted out-of-order rows: swap adjacent pairs
            no = int(len(idx) * OOO_SHARE)
            for j in rng.choice(len(idx) - 1, no, replace=False):
                idx[j], idx[j + 1] = idx[j + 1], idx[j]
            t = np.datetime64(day, "ms") + ms[idx].astype("timedelta64[ms]")
            df = pd.DataFrame({"ts": t, "bid": bid[idx], "ask": ask[idx],
                               "vol": vol[idx]})
            txt = ("DateTime,Bid,Ask,Volume\n" + "".join(
                f"{pd.Timestamp(a).strftime('%Y%m%d %H:%M:%S.%f')[:-3]},"
                f"{b!r},{c!r},{v!r}\n"
                for a, b, c, v in zip(df.ts.values, df.bid, df.ask, df.vol)))
            path = f"{csv_root}/{sym}/{day.replace('-', '')}.csv"
            with open(path, "w") as f:
                f.write(txt)
            csv_bytes += len(txt)
            rows += len(df)
            dups += nd
            ooo += no
            bid_cents += int(np.round(df.bid * 100).sum())
            ask_cents += int(np.round(df.ask * 100).sum())
            frames.append(df)
            per_year[day[:4]] = per_year.get(day[:4], 0) + len(df)
            px = float(bid[-1])
        g = pd.concat(frames, ignore_index=True)
        per_symbol[sym] = len(g)
        _write(pd.DataFrame({"datetime": g.ts.astype("datetime64[ms]"),
                             "bid": g.bid, "ask": g.ask}),
               f"{gold_root}/{sym}/part-0.parquet")
    man = {"seed": seed, "rows": rows, "bid_cents": bid_cents,
           "ask_cents": ask_cents, "csv_bytes": csv_bytes,
           "symbols": len(SYMBOLS), "days": len(DAYS),
           "dup_share": dups / rows, "ooo_share": ooo / rows,
           "per_symbol": per_symbol, "per_year": per_year}
    with open(f"{out}/manifest.json", "w") as f:
        json.dump(man, f)
    with open(f"{out}/manifest.properties", "w") as f:
        f.write("".join(f"{k}={v}\n" for k, v in man.items()
                        if not isinstance(v, dict)))
        for group in ("per_symbol", "per_year"):
            f.write("".join(f"{group}.{k}={v}\n"
                            for k, v in man[group].items()))
    return man
