"""Seeded inputs for the benchmark: the ten analytics tables and the live
feed's wire-frame files, plus the plain-Python OHLC reference the feed's
bars are checked against.

Everything here is a pure function of the seed: the same seed writes
byte-identical files, so two runs with one seed feed the program the same
bytes. The tables follow the schemas and value ranges of the program's
test data at scale factor 0.01 (lineitem 60k rows); the feed follows the
reference wire format through the program's own ``sources.binary``
encoder.
"""

from __future__ import annotations

import os
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_ROWS = {
    "region": 5, "nation": 25, "customer": 1500, "supplier": 100,
    "part": 2000, "orders": 15000, "lineitem": 60000, "events": 10000,
    "documents": 500, "embeddings": 500,
}

_WORDS = ("join hash row batch scan column customer filter small slow merge "
          "order vector line table data agg value key stream window a spark "
          "part group big sort query fast the").split()
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.44, 0.14, 0.14, 0.14, 0.14)
_EPOCH_US = {
    "1995-01-01": int(datetime(1995, 1, 1, tzinfo=timezone.utc).timestamp()
                      * 1e6),
    "2024-01-01": int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
                      * 1e6),
}
_DAY_US = 86_400_000_000


def _cents(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, max_days, n):
    return pa.array(_EPOCH_US[start] + rng.integers(0, max_days, n) * _DAY_US,
                    pa.timestamp("us"))


def _tables(rng) -> dict[str, pa.Table]:
    r = TABLE_ROWS
    words8 = ("small red blue hot old large cold new".split(),
              "ring widget bolt gear plate rod pin cup".split())
    n_docs = r["documents"]
    texts, langs = [], rng.choice(_LANGS, n_docs, p=_LANG_P)
    for i in range(n_docs):
        if i > 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    emb = rng.standard_normal((r["embeddings"], 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    gaps = np.maximum(rng.exponential(259.2e6, r["events"]), 1).astype(np.int64)
    n_li = r["lineitem"]
    return {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": np.arange(r["customer"], dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(r["customer"])],
            "c_nationkey": rng.integers(0, 25, r["customer"]).astype(np.int32),
            "c_acctbal": _cents(rng, -999.99, 9999.99, r["customer"]),
            "c_mktsegment": rng.choice(["MACHINERY", "FURNITURE", "BUILDING",
                                        "AUTOMOBILE", "HOUSEHOLD"],
                                       r["customer"])}),
        "supplier": pa.table({
            "s_suppkey": np.arange(r["supplier"], dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(r["supplier"])],
            "s_nationkey": rng.integers(0, 25, r["supplier"]).astype(np.int32),
            "s_acctbal": _cents(rng, -999.99, 9999.99, r["supplier"])}),
        "part": pa.table({
            "p_partkey": np.arange(r["part"], dtype=np.int64),
            "p_name": [f"{rng.choice(words8[0])} {rng.choice(words8[1])}"
                       for _ in range(r["part"])],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, r["part"])],
            "p_type": rng.choice(["MEDIUM", "STANDARD", "LARGE", "PROMO",
                                  "SMALL", "ECONOMY"], r["part"]),
            "p_size": rng.integers(1, 51, r["part"]).astype(np.int32),
            "p_retailprice": np.round(
                900 + (np.arange(r["part"]) % 1000) / 10, 2)}),
        "orders": pa.table({
            "o_orderkey": np.arange(r["orders"], dtype=np.int64),
            "o_custkey": rng.integers(0, r["customer"], r["orders"]),
            "o_orderstatus": rng.choice(["P", "O", "F"], r["orders"]),
            "o_totalprice": _cents(rng, 1000, 500000, r["orders"]),
            "o_orderdate": _days(rng, "1995-01-01", 2404, r["orders"]),
            "o_orderpriority": rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                r["orders"])}),
        "lineitem": pa.table({
            "l_orderkey": rng.integers(0, r["orders"], n_li),
            "l_partkey": rng.integers(0, r["part"], n_li),
            "l_suppkey": rng.integers(0, r["supplier"], n_li),
            "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _cents(rng, 900, 105000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], n_li),
            "l_linestatus": rng.choice(["O", "F"], n_li),
            "l_shipdate": _days(rng, "1995-01-01", 2499, n_li)}),
        "events": pa.table({
            "event_id": np.arange(r["events"], dtype=np.int64),
            "ts": pa.array(_EPOCH_US["2024-01-01"] + np.cumsum(gaps),
                           pa.timestamp("us")),
            "user_id": rng.integers(0, 150, r["events"]),
            "event_type": rng.choice(["signup", "error", "click", "view",
                                      "purchase"], r["events"]),
            "value": np.maximum(np.round(rng.exponential(50, r["events"]), 2),
                                0.01),
            "props": [f'{{"k": {k}}}' for k in
                      rng.integers(0, 100, r["events"])]}),
        "documents": pa.table({
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}),
        "embeddings": pa.table({
            "vec_id": np.arange(r["embeddings"], dtype=np.int64),
            "embedding": pa.array(list(emb), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, r["embeddings"]).astype(np.int32)}),
    }


def write_tables(out_dir: str, seed: int) -> str:
    """Write the ten tables as ``<out_dir>/<name>.parquet``; returns out_dir."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in _tables(np.random.default_rng([seed, 1])).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# ---------------------------------------------------------------------------
# Live feed: each file is one micro-batch of FRAMES_PER_FILE frames of
# PAIRS_PER_FRAME pairs (the reference's per-message cap). Symbol popularity
# is Zipf-skewed; created_at advances FRAME_STEP_S per frame, so each file
# spans one 5-minute bar window and the 10-minute watermark keeps about
# three windows of state open while older ones close and are evicted.
# 50 frames per file keeps a batch near 1.5 s at two threads, about half
# fixed stream cost and half per-row work, so both kinds of change show.
# ---------------------------------------------------------------------------

FRAMES_PER_FILE = 50
PAIRS_PER_FRAME = 50
FRAME_STEP_S = 6
N_SYMBOLS = 200
FEED_T0 = 1_756_793_100  # a 5-minute boundary
BAR_SECONDS = 300


class FeedGenerator:
    """File ``i`` of the feed for one seed; files are independent of each
    other's generation order (each draws from its own (seed, i) stream).

    A symbol's traits follow its popularity rank, not the seed: chain and
    protocol, fixed-width names, and the decade of its price. The seed picks
    which symbol id holds each rank and every per-pair draw. Measured
    reason: with seeded traits, which names and price decades happened to be
    popular changed the decoder's work by up to 20% between seeds."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 2])
        rank = np.arange(N_SYMBOLS)
        self.popularity = 1.0 / (rank + 1) ** 1.1
        self.popularity /= self.popularity.sum()
        self.symbol_id = rng.permutation(N_SYMBOLS)
        self.base_price = (10 ** (-6 + 5 * rank / N_SYMBOLS)
                           * rng.uniform(1, 2, N_SYMBOLS))
        self.seed = seed

    def pairs(self, file_idx: int) -> list[list[dict]]:
        """Pair dicts per frame of file ``file_idx``."""
        rng = np.random.default_rng([self.seed, 3, file_idx])
        n = FRAMES_PER_FILE * PAIRS_PER_FRAME
        ranks = rng.choice(N_SYMBOLS, n, p=self.popularity)
        price = self.base_price[ranks] * np.exp(rng.normal(0, 0.02, n))
        vol = np.round(rng.uniform(1e5, 1e7, n), 2)
        liq = np.round(rng.uniform(1e4, 1e6, n), 2)
        chg = np.round(rng.uniform(1, 1000, n), 2)
        frames = []
        for f in range(FRAMES_PER_FILE):
            ts = FEED_T0 + (file_idx * FRAMES_PER_FILE + f) * FRAME_STEP_S
            frame = []
            for k in range(f * PAIRS_PER_FRAME, (f + 1) * PAIRS_PER_FRAME):
                r = int(ranks[k])
                s = int(self.symbol_id[r])
                frame.append({
                    "chain": "solana" if r % 3 else "ethereum",
                    "protocol": ("pumpfun", "raydium", "orca", "meteora")[r % 4],
                    "pair_address": f"PAIR{s:05d}" + "x" * 32,
                    "base_token_name": f"Token {s:03d}",
                    "base_token_symbol": f"SYM{s:03d}",
                    "base_token_address": f"MINT{s:05d}" + "y" * 32,
                    "price": float(price[k]),
                    "price_usd": float(price[k]),
                    "price_change_h24": float(chg[k]),
                    "liquidity_usd": float(liq[k]),
                    "volume_h24": float(vol[k]),
                    "fdv": float(liq[k]) * 10,
                    "created_at": ts,
                })
            frames.append(frame)
        return frames

    def write_file(self, file_idx: int, path: str) -> list[list[dict]]:
        """Write file ``file_idx`` as a RAW_MESSAGES parquet file (msg_id,
        payload); returns its pairs per frame."""
        from dexscraper_spark.sources.binary import make_frame
        frames = self.pairs(file_idx)
        msg0 = file_idx * FRAMES_PER_FILE
        pq.write_table(pa.table({
            "msg_id": pa.array(range(msg0, msg0 + len(frames)), pa.int64()),
            "payload": pa.array([make_frame(f) for f in frames], pa.binary()),
        }), path)
        return frames


def reference_bars(files: dict[int, list[list[dict]]]) -> dict:
    """OHLC per (symbol, bar start) in plain Python over the given files'
    pairs, ordered by (created_at, msg_id, record_position) like the
    program's streaming bars. Values: (open, high, low, close, volume,
    trades)."""
    from dexscraper_spark.sources.binary import RECORD_SIZE
    acc: dict = {}
    for file_idx, frames in files.items():
        for f, frame in enumerate(frames):
            msg_id = file_idx * FRAMES_PER_FILE + f
            for pos, p in enumerate(frame):
                key = (p["base_token_symbol"],
                       p["created_at"] // BAR_SECONDS * BAR_SECONDS)
                order = (p["created_at"], msg_id, pos * RECORD_SIZE)
                acc.setdefault(key, []).append(
                    (order, p["price_usd"], p["volume_h24"]))
    bars = {}
    for key, rows in acc.items():
        rows.sort()
        prices = [r[1] for r in rows]
        bars[key] = (rows[0][1], max(prices), min(prices), rows[-1][1],
                     rows[-1][2], len(rows))
    return bars
