"""Seeded generators for the benchmark's inputs.

`tables` writes the ten parquet tables the engine's queries read (the
star schema, `events`, `documents` and `embeddings`) with the same
schemas, physical types and value distributions as the repository's
reference test data. They are generated, not copied, so a benchmark
checkout needs nothing outside itself.

`landing_plan` cuts the `events` table into the landing batches of the
`etl_incremental` workload and derives, from the seed alone, every count
the pipeline must report for them.
"""
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The tables are a fixed input: their seed never changes, so expected
# query digests recorded once stay valid. `--seed` varies only what the
# workloads do with them.
TABLE_SEED = 42

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "plate", "ring", "rod", "spring", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]

DAY_US = 86_400_000_000
EPOCH_2024_US = 1_704_067_200_000_000


def _days(start, end, n, rng):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * DAY_US).astype("datetime64[us]")


def _write(df, path, schema):
    table = pa.Table.from_pandas(df, schema=schema, preserve_index=False)
    pq.write_table(table, path)


def events_frame(sf):
    """The `events` table; also the source the landing batches are cut from."""
    rng = np.random.default_rng([TABLE_SEED, 8])
    n = int(1_000_000 * sf)
    ts = np.sort(rng.integers(EPOCH_2024_US, EPOCH_2024_US + 30 * DAY_US, n))
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts.astype("datetime64[us]"),
        "user_id": rng.integers(0, max(1, int(15_000 * sf)), n),
        "event_type": rng.choice(EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def tables(sf, out):
    os.makedirs(out, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    us = pa.timestamp("us")

    def rng(k):
        return np.random.default_rng([TABLE_SEED, k])

    _write(pd.DataFrame({"r_regionkey": np.arange(5), "r_name": REGIONS}),
           f"{out}/region.parquet",
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(pd.DataFrame({"n_nationkey": np.arange(25),
                         "n_name": [f"NATION_{i}" for i in range(25)],
                         "n_regionkey": np.arange(25) % 5}),
           f"{out}/nation.parquet",
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))

    r, n = rng(1), int(150_000 * sf)
    _write(pd.DataFrame({
        "c_custkey": np.arange(n), "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": r.integers(0, 25, n),
        "c_acctbal": np.round(r.uniform(-999.99, 9999.99, n), 2),
        "c_mktsegment": r.choice(SEGMENTS, n)}),
        f"{out}/customer.parquet",
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32),
                   ("c_acctbal", f64), ("c_mktsegment", s)]))
    r, n_supp = rng(2), int(10_000 * sf)
    _write(pd.DataFrame({
        "s_suppkey": np.arange(n_supp),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": r.integers(0, 25, n_supp),
        "s_acctbal": np.round(r.uniform(-999.99, 9999.99, n_supp), 2)}),
        f"{out}/supplier.parquet",
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32),
                   ("s_acctbal", f64)]))
    r, n_part = rng(3), int(200_000 * sf)
    keys = np.arange(n_part)
    _write(pd.DataFrame({
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}"
                   for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in r.integers(1, 26, n_part)],
        "p_type": r.choice(PART_TYPES, n_part),
        "p_size": r.integers(1, 51, n_part),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)}),
        f"{out}/part.parquet",
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s),
                   ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    r, n_ord = rng(4), int(1_500_000 * sf)
    _write(pd.DataFrame({
        "o_orderkey": np.arange(n_ord), "o_custkey": r.integers(0, n, n_ord),
        "o_orderstatus": r.choice(["F", "O", "P"], n_ord),
        "o_totalprice": np.round(r.uniform(1000.0, 500_000.0, n_ord), 2),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, r),
        "o_orderpriority": r.choice(PRIORITIES, n_ord)}),
        f"{out}/orders.parquet",
        pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s),
                   ("o_totalprice", f64), ("o_orderdate", us),
                   ("o_orderpriority", s)]))
    r, n_li = rng(5), int(6_000_000 * sf)
    _write(pd.DataFrame({
        "l_orderkey": r.integers(0, n_ord, n_li),
        "l_partkey": r.integers(0, n_part, n_li),
        "l_suppkey": r.integers(0, n_supp, n_li),
        "l_linenumber": r.integers(1, 8, n_li),
        "l_quantity": r.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(r.uniform(900.0, 105_000.0, n_li), 2),
        "l_discount": r.integers(0, 11, n_li) / 100.0,
        "l_tax": r.integers(0, 9, n_li) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n_li),
        "l_linestatus": r.choice(["F", "O"], n_li),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_li, r)}),
        f"{out}/lineitem.parquet",
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64),
                   ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64),
                   ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", us)]))
    _write(events_frame(sf), f"{out}/events.parquet",
           pa.schema([("event_id", i64), ("ts", us), ("user_id", i64),
                      ("event_type", s), ("value", f64), ("props", s)]))

    # documents: 5% are near-duplicates (another document plus " dup")
    r, n_doc = rng(6), max(500, int(50_000 * sf))
    texts = [" ".join(r.choice(VOCAB, k)) for k in r.integers(10, 101, n_doc)]
    for i in np.flatnonzero(r.random(n_doc) < 0.05):
        texts[i] = texts[int(r.integers(0, n_doc))] + " dup"
    _write(pd.DataFrame({
        "doc_id": np.arange(n_doc), "text": texts,
        "lang": r.choice(LANGS, n_doc, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": [len(t) for t in texts]}),
        f"{out}/documents.parquet",
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s),
                   ("n_chars", i64)]))
    # embeddings: 64-d unit vectors, ten labels
    r, n_emb = rng(7), max(500, int(20_000 * sf))
    v = r.standard_normal((n_emb, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(pd.DataFrame({"vec_id": np.arange(n_emb), "embedding": list(v),
                         "label": r.integers(0, 10, n_emb)}),
           f"{out}/embeddings.parquet",
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())),
                      ("label", i32)]))


# ---- digests: the same row hash as graftbench.Digest (DigestSink.scala) ----

M64 = (1 << 64) - 1
NULL_HASH = np.uint64(0x9E3779B97F4A7C15)


def mix(z):
    """splitmix64 finalizer over a numpy uint64 array."""
    z = z.astype(np.uint64)
    with np.errstate(over="ignore"):
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


def fnv(data: bytes):
    h = 0xCBF29CE484222325
    for b in data:
        h = ((h ^ b) * 0x100000001B3) & M64
    return mix(np.array([h], dtype=np.uint64))[0]


def event_row_hashes(df):
    """Row hashes of events rows as the engine reads them back from a sink:
    (event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING,
    value DOUBLE), with `ts` as epoch microseconds."""
    types = {t: fnv(t.encode()) for t in df["event_type"].unique()}
    fields = [
        mix(df["event_id"].to_numpy(np.int64).view(np.uint64)),
        mix(df["ts_us"].to_numpy(np.int64).view(np.uint64)),
        mix(df["user_id"].to_numpy(np.int64).view(np.uint64)),
        df["event_type"].map(types).to_numpy(np.uint64),
        mix(df["value"].to_numpy(np.float64).view(np.uint64)),
    ]
    h = np.zeros(len(df), dtype=np.uint64)
    for f in fields:
        h = mix(h ^ f)
    return h


def digest(hashes):
    """(count, signed 64-bit wrapping hash sum), as the engine reports it."""
    total = int(np.sum(hashes, dtype=np.uint64)) if len(hashes) else 0
    return {"count": int(len(hashes)),
            "hash": str(total - (1 << 64) if total >= 1 << 63 else total)}


# ---- etl_incremental landing batches ----

# Totals are fixed; the seed moves only the cuts and which rows are late or
# re-delivered, so every seed lands the same number of rows.
FRESH_ROWS = 12_000      # first rows of `events` (by time) that land once
INCREMENTS = 6
LATE_ROWS = 120          # withheld from the backfill, delivered later
REDELIVERED_ROWS = 300   # copies of rows an earlier batch already landed
FILES_PER_BATCH = 2
READ_TOP = 200


def landing_plan(seed, events):
    """Cuts `events` (as `events_frame` returns it) into a backfill and
    INCREMENTS increments, and derives what every pipeline run, read and
    sink must report for them.

    Returns (batches, final): each batch is {"name", "rows": DataFrame of
    event_id, ts_us, user_id, event_type, value, "expect": {...}}; final
    holds the streaming sink's digest and the landed row count.
    """
    rng = np.random.default_rng([seed, 0xE71])
    src = events.iloc[:FRESH_ROWS].copy()
    src["ts_us"] = src["ts"].to_numpy("datetime64[us]").astype(np.int64)
    src = src[["event_id", "ts_us", "user_id", "event_type", "value"]]

    backfill_end = int(rng.uniform(0.45, 0.6) * FRESH_ROWS)
    inner = np.sort(rng.choice(np.arange(backfill_end + 500, FRESH_ROWS - 500, 250),
                               INCREMENTS - 1, replace=False))
    bounds = [0, backfill_end, *inner.tolist(), FRESH_ROWS]
    parts = [np.arange(a, b) for a, b in zip(bounds, bounds[1:])]

    late = rng.choice(parts[0], LATE_ROWS, replace=False)
    late_to = rng.integers(1, INCREMENTS + 1, LATE_ROWS)
    parts[0] = np.setdiff1d(parts[0], late)
    for k in range(1, INCREMENTS + 1):
        parts[k] = np.concatenate([parts[k], late[late_to == k]])
    # re-deliveries split over the increments; each copies rows landed before
    split = np.bincount(rng.integers(1, INCREMENTS + 1, REDELIVERED_ROWS),
                        minlength=INCREMENTS + 1)
    landed = parts[0]
    for k in range(1, INCREMENTS + 1):
        fresh = parts[k]
        parts[k] = np.concatenate([fresh, rng.choice(landed, split[k], replace=False)])
        landed = np.concatenate([landed, fresh])

    hashes = event_row_hashes(src)
    ts = src["ts_us"].to_numpy()
    sink = np.array([], dtype=np.int64)      # row indexes in the batch sink
    batches = []
    for k, idx in enumerate(parts):
        idx = rng.permutation(idx)
        wm = ts[sink].max() if len(sink) else None
        appended = idx if wm is None else idx[ts[idx] > wm]
        sink = np.concatenate([sink, appended])
        order = np.lexsort((src["event_id"].to_numpy()[sink], ts[sink]))
        by_time = sink[order]
        batches.append({
            "name": f"b{k:03d}",
            "rows": src.iloc[idx],
            "expect": {
                "report": {"rowsRead": int(len(idx)), "rowsAppended": int(len(appended)),
                           "filesArchived": FILES_PER_BATCH, "corruptRows": 0},
                "read_oldest": digest(hashes[by_time[:READ_TOP]]),
                "read_newest": digest(hashes[by_time[-READ_TOP:]]),
                "read_sorted": digest(hashes[sink]),
            },
        })
    all_landed = np.concatenate(parts)
    return batches, {"stream_sink": digest(hashes[all_landed]),
                     "landed_rows": int(len(all_landed))}


def warmup_batches(events):
    """One small batch from beyond the rows `landing_plan` uses, for the
    set-up's warm-up pass through the same pipeline."""
    src = events.iloc[FRESH_ROWS:FRESH_ROWS + 200].copy()
    src["ts_us"] = src["ts"].to_numpy("datetime64[us]").astype(np.int64)
    return [{"name": "w000", "rows": src[["event_id", "ts_us", "user_id", "event_type", "value"]]}]


def write_batches(batches, out):
    """Writes each batch as FILES_PER_BATCH header-first CSV files."""
    for b in batches:
        d = os.path.join(out, b["name"])
        os.makedirs(d, exist_ok=True)
        for j, chunk in enumerate(np.array_split(np.arange(len(b["rows"])), FILES_PER_BATCH)):
            b["rows"].iloc[chunk].to_csv(os.path.join(d, f"{b['name']}_{j}.csv"), index=False)
