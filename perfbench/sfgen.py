"""Seeded TPC-H-shaped tables for the sf-queries workload.

Writes one parquet file per table (the layout graft's `Tables` reads), with
the same schemas, value domains and row counts per scale as the
repository's sf test data (TESTDATA.md) at sf0.02, which keeps a run
short, plus `stream/events.jsonl`, the raw JSON-lines feed the streaming op
drains. Everything is a function of the seed: the same seed
gives byte-identical files.
"""
import json
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# shared with Gen.scala's part-name vocabulary
ADJECTIVES = ["large", "small", "hot", "cold", "blue", "red", "old", "new"]
NOUNS = ["ring", "bolt", "plate", "gear", "nut", "screw", "pipe", "valve"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["spark", "column", "scan", "query", "table", "value", "filter", "fast",
         "slow", "line", "part", "order", "customer", "stream", "hash", "key",
         "group", "sort", "batch", "agg", "vector", "small", "join", "plan"]
LANGS = ["en", "en", "en", "es", "fr", "de", "zh"]
SCALE = 0.02
STREAM_EVENTS = 10000  # the feed holds events with event_id < STREAM_EVENTS (SfQueries.streamOracle)


def _pick(rng, values, n):
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    type=pa.string())


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _days(rng, start, span, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def tables(seed):
    """Return {name: pyarrow.Table} for the tables the sf-queries ops read."""
    scale = SCALE
    rng = np.random.Generator(np.random.PCG64(seed))
    n_cust, n_part = int(150000 * scale), int(200000 * scale)
    n_ord, n_line = int(1500000 * scale), int(6000000 * scale)
    n_ev, n_doc = int(1000000 * scale), int(50000 * scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust)})
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    out["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10.0, 2)})
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500000, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord)})
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    partkey = rng.integers(0, n_part, n_line)
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": partkey,
        "l_suppkey": rng.integers(0, int(10000 * scale), n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * (900 + (partkey % 1000) / 10.0) * 2.1, 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)})
    ts = np.sort(np.datetime64("2024-01-01", "us")
                 + rng.integers(0, 30 * 86400 * 10**6, n_ev).astype("timedelta64[us]"))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, int(15000 * scale), n_ev),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": _money(rng, 0, 200, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    lengths = rng.integers(10, 90, n_doc)
    word_ix = rng.integers(0, len(WORDS), int(lengths.sum()))
    texts, pos = [], 0
    for n in lengths:
        texts.append(" ".join(WORDS[i] for i in word_ix[pos:pos + n]))
        pos += n
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, LANGS, n_doc),
        "source": _pick(rng, [f"src{i}" for i in range(20)], n_doc),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    return out


def generate(seed, out_dir):
    """Write the tables and the stream feed under out_dir; return bytes written."""
    out_dir = Path(out_dir)
    (out_dir / "stream").mkdir(parents=True, exist_ok=True)
    total = 0
    for name, table in tables(seed).items():
        path = out_dir / f"{name}.parquet"
        pq.write_table(table, path, compression="snappy", row_group_size=1 << 24)
        total += path.stat().st_size
    ev = pq.read_table(out_dir / "events.parquet",
                       columns=["event_id", "user_id", "event_type", "value"]).slice(0, STREAM_EVENTS)
    feed = out_dir / "stream" / "events.jsonl"
    with open(feed, "w") as f:
        for row in ev.to_pylist():
            f.write(json.dumps(row) + "\n")
    return total + feed.stat().st_size
