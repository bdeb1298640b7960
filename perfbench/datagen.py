"""Seeded generator for the benchmark's input tables.

Writes the TPC-H-like star (region, nation, customer, orders, lineitem),
the `events` table and the `documents` corpus as one parquet file each,
with the column names and physical types the library's `graft.Tables`
loaders read. The same (seed, scale) always yields byte-identical data.

`scale` follows the TPC-H convention: scale 1 is 1.5M orders; the
benchmark runs at 0.01-0.02.
"""
import os

import numpy as np
import pandas as pd

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table value vector window").split()
# language markers the library's language-id counts (TextFunctions.LangMarkers)
MARKERS = {
    "en": ["the", "a", "of", "and", "to", "is", "in"],
    "es": ["el", "la", "de", "y", "que", "los", "es"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
    "fr": ["le", "la", "les", "et", "est", "un", "pour"],
    "zh": ["的", "是", "不", "了", "在"],
}
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.5, 0.15, 0.15, 0.12, 0.08]
DAY0 = np.datetime64("1995-01-01")
N_DAYS = int((np.datetime64("2001-08-01") - DAY0).astype(int))


def _write(df, out_dir, name):
    df.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)


def sizes(scale):
    n_orders = max(300, int(1_500_000 * scale))
    return {
        "customer": max(50, n_orders // 10),
        "orders": n_orders,
        "events": max(200, int(1_000_000 * scale) // 2),
        "documents": max(80, int(50_000 * scale)),
    }


def star(rng, scale):
    n = sizes(scale)
    region = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    nc = n["customer"]
    customer = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": rng.choice(SEGMENTS, nc)})
    no = n["orders"]
    odate = DAY0 + rng.integers(0, N_DAYS, no).astype("timedelta64[D]")
    orders = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, no), 2),
        "o_orderdate": odate.astype("datetime64[us]"),
        "o_orderpriority": rng.choice(PRIORITIES, no)})
    per = rng.integers(1, 8, no)
    nl = int(per.sum())
    lkey = np.repeat(orders["o_orderkey"].to_numpy(), per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    qty = rng.integers(1, 51, nl).astype(np.float64)
    lineitem = pd.DataFrame({
        "l_orderkey": lkey,
        "l_partkey": rng.integers(0, max(200, no // 7), nl).astype(np.int64),
        "l_suppkey": rng.integers(0, max(10, no // 150), nl).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], nl),
        "l_linestatus": rng.choice(["F", "O"], nl),
        "l_shipdate": (np.repeat(odate, per)
                       + rng.integers(1, 122, nl).astype("timedelta64[D]")
                       ).astype("datetime64[us]")})
    ne = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    ts = ts0 + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    events = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(20, ne // 60), ne).astype(np.int64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.uniform(0.0, 50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})
    return {"region": region, "nation": nation, "customer": customer,
            "orders": orders, "lineitem": lineitem, "events": events}


def documents(rng, scale):
    """A corpus with ~15% near-duplicates (a few words changed from an
    earlier document), so the MinHash/LSH stage finds real candidates."""
    nd = sizes(scale)["documents"]
    texts, langs = [], []
    for i in range(nd):
        if i > 10 and rng.random() < 0.15:
            j = int(rng.integers(0, i))
            toks = texts[j].split()
            for _ in range(max(1, len(toks) // 25)):
                toks[int(rng.integers(0, len(toks)))] = "dup"
            texts.append(" ".join(toks))
            langs.append(langs[j])
            continue
        lang = str(rng.choice(LANGS, p=LANG_P))
        n_tok = int(rng.integers(8, 90))
        toks = list(rng.choice(WORDS, n_tok))
        for _ in range(int(rng.integers(1, 6))):
            toks.insert(int(rng.integers(0, len(toks) + 1)), str(rng.choice(MARKERS[lang])))
        if rng.random() < 0.1:  # repetitive boilerplate
            toks = (toks[:6] * 6)[:len(toks)]
        texts.append(" ".join(toks))
        langs.append(lang)
    return pd.DataFrame({
        "doc_id": np.arange(nd, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, nd)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})


def etl_snapshots(out_dir, seed, orders, customer):
    """Cumulative source snapshots for `etl_daily` under `out_dir/etl`:
    `base` holds the first ~60% of `orders` by key (the backfill), and
    each `s<i>` that backfill plus one increment: daily slices of 0.5-2%
    of orders, except `s1`, a catch-up slice of 5-10% after missed days
    (it holds more than `s0`, so it can follow it).
    `snapshots.csv` lists them (base first) with their kind, increment and
    total rows. The order is the same for every seed; the seed draws the
    slice sizes."""
    rng = np.random.default_rng([seed, 3])
    n = len(orders)
    k0 = int(n * 0.6)
    daily = rng.uniform(0.005, 0.02, 8)
    kinds = [("daily", daily[0]), ("catchup", rng.uniform(0.05, 0.10))] + [
        ("daily", f) for f in daily[1:]]
    snaps = [("base", "backfill", 0)] + [
        (f"s{i}", kind, max(1, int(n * f))) for i, (kind, f) in enumerate(kinds)]
    lines = ["name,kind,increment,total"]
    for name, kind, inc in snaps:
        d = os.path.join(out_dir, "etl", name)
        os.makedirs(d, exist_ok=True)
        _write(orders.iloc[:k0 + inc], d, "orders")
        _write(customer, d, "customer")
        lines.append(f"{name},{kind},{inc},{k0 + inc}")
    with open(os.path.join(out_dir, "etl", "snapshots.csv"), "w") as f:
        f.write("\n".join(lines) + "\n")


def generate(out_dir, seed, scale, tables=("star", "documents")):
    """Write the requested table groups under `out_dir`; returns row counts.
    Groups: `star` (the star schema and events), `etl` (the star plus the
    `etl_daily` snapshots), `documents`."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    if "star" in tables or "etl" in tables:
        frames = star(np.random.default_rng([seed, 1]), scale)
        for name, df in frames.items():
            _write(df, out_dir, name)
            counts[name] = len(df)
        if "etl" in tables:
            etl_snapshots(out_dir, seed, frames["orders"], frames["customer"])
    if "documents" in tables:
        df = documents(np.random.default_rng([seed, 2]), scale)
        _write(df, out_dir, "documents")
        counts["documents"] = len(df)
    return counts
