"""Seeded input generators. The same seed always writes the same bytes.

Two kinds of input:

- ``write_tables``: the star-schema, events and corpus tables the
  registered queries read (the column names, types and value domains
  of the engine's sf0.1 test tables), one parquet file per table;
- ``write_logs``: apache-access and authfail text lines in many small
  files, 1% planted dead letters, timestamps over the 48 h before an
  injected ``now``; maillog messages one per file. Returns the counts
  the output checks compare against.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

WORDS = (
    "batch part spark line column order small sort fast value scan a hash "
    "slow group agg filter query window row key table stream merge data big "
    "join index page cache disk node task stage shuffle plan rule cost tree "
    "log event time user file block split read write commit state frame"
).split()
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("red", "new", "hot", "cold", "small", "large", "old")
PART_NOUN = ("bolt", "anvil", "ring", "rod", "plate", "gear", "widget")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "fr", "zh", "de", "es")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(base: datetime, offsets: np.ndarray) -> np.ndarray:
    return np.datetime64(base, "us") + offsets.astype("timedelta64[D]")


def _documents(rng, n: int) -> dict:
    """Word-sequence documents; 3% are near copies of an earlier
    original, each original copied at most once, with one interior word
    replaced (word-bigram Jaccard 0.87 or more), so the dedup queries
    have answers far from the 0.6 threshold (MinHash LSH misses such a
    pair with odds below 1e-9); the rest share only background vocabulary."""
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and i > 10 and rng.random() < 0.03:
            words = texts[originals.pop(int(rng.integers(0, len(originals))))].split()
            words[int(rng.integers(1, len(words) - 1))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            originals.append(i)
            words = [WORDS[k] for k in rng.integers(0, len(WORDS), int(rng.integers(30, 90)))]
        texts.append(" ".join(words))
    lang = np.array(LANGS)[rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])]
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int, dim: int = 64) -> dict:
    """Unit vectors around ten label centroids."""
    label = rng.integers(0, 10, n).astype(np.int32)
    centroids = rng.normal(size=(10, dim))
    vecs = centroids[label] + 1.5 * rng.normal(size=(n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    return {
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": label,
    }


def write_tables(out_dir: str, seed: int, rows: dict | None = None) -> dict:
    """Write every table the engine's catalog knows; returns row counts."""
    rows = {**SF01_ROWS, **(rows or {})}
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    _write(out_dir, "region", {
        "r_regionkey": np.arange(5, dtype=np.int32), "r_name": list(REGIONS)})
    _write(out_dir, "nation", {
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    n = rows["customer"]
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n)],
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    })
    n = rows["supplier"]
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n)],
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n),
    })
    n = rows["part"]
    keys = np.arange(n, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 7, n), rng.integers(0, 7, n))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(0, 25, n)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900 + (keys % 1000) / 10, 2),
    })
    n_orders = rows["orders"]
    order_day = rng.integers(0, 2404, n_orders)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, rows["customer"], n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, 1000, 500_000, n_orders),
        "o_orderdate": _days(datetime(1995, 1, 1), order_day),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    })
    n = rows["lineitem"]
    okey = rng.integers(0, n_orders, n)
    _write(out_dir, "lineitem", {
        "l_orderkey": okey,
        "l_partkey": rng.integers(0, rows["part"], n),
        "l_suppkey": rng.integers(0, rows["supplier"], n),
        "l_linenumber": rng.integers(1, 8, n).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105_000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _days(datetime(1995, 1, 1), order_day[okey] + rng.integers(1, 122, n)),
    })
    n = rows["events"]
    ts_us = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n))
    _write(out_dir, "events", {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64(datetime(2024, 1, 1), "us") + ts_us.astype("timedelta64[us]"),
        "user_id": rng.integers(0, 1500, n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": np.round(rng.gamma(2.0, 25.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })
    _write(out_dir, "documents", _documents(rng, rows["documents"]))
    _write(out_dir, "embeddings", _embeddings(rng, rows["embeddings"]))
    return rows


# --- server logs -----------------------------------------------------------

APACHE_DEAD = "not a parsable line"
AUTH_DEAD = "syslog noise that is not an auth failure"


def _stamp(rng, now: datetime, n: int) -> list[datetime]:
    """n timestamps uniform over the 48 h before ``now`` (whole seconds)."""
    secs = rng.integers(1, 48 * 3600, n)
    return [now - timedelta(seconds=int(s)) for s in secs]


def write_logs(src_root: str, seed: int, now: datetime, files: int,
               lines_per_file: int, messages: int) -> dict:
    """Write one pass of log input under ``src_root``/{apache,authfail,
    maillog}; returns the counts the output checks use."""
    rng = np.random.default_rng(seed)
    day_ago = now - timedelta(days=1)
    c = {"apache_good": 0, "apache_dead": 0, "apache_24h": 0,
         "apache_bytesin_24h": 0, "apache_bytesout_24h": 0,
         "auth_good": 0, "auth_dead": 0, "auth_24h": 0, "mail": messages}
    for d in ("apache", "authfail", "maillog"):
        os.makedirs(os.path.join(src_root, d), exist_ok=True)
    for f in range(files):
        out = []
        for ts in _stamp(rng, now, lines_per_file):
            if rng.random() < 0.01:
                out.append(APACHE_DEAD)
                c["apache_dead"] += 1
                continue
            page = int(rng.integers(0, 40))
            bin_, bout = int(rng.integers(100, 900)), int(rng.integers(200, 90_000))
            status = 200 if rng.random() < 0.94 else 404
            out.append(
                f"{ts:%Y-%m-%d %H:%M:%S} +0000|example.com|443|"
                f"203.0.{int(rng.integers(0, 256))}.{int(rng.integers(1, 255))}|"
                f"{bin_}|{bout}|{int(rng.integers(50, 90_000))}|{status}|"
                f'["-", "GET /page/{page} HTTP/1.1", "GET", "/page/{page}", '
                f'"HTTP/1.1", "-", "bench-agent/1.0"]'
            )
            c["apache_good"] += 1
            if ts >= day_ago:
                c["apache_24h"] += 1
                c["apache_bytesin_24h"] += bin_
                c["apache_bytesout_24h"] += bout
        with open(os.path.join(src_root, "apache", f"access_{f:04d}.log"), "w") as fh:
            fh.write("\n".join(out) + "\n")
    for f in range(files):
        out = []
        for ts in _stamp(rng, now, lines_per_file):
            if rng.random() < 0.01:
                out.append(AUTH_DEAD)
                c["auth_dead"] += 1
                continue
            out.append(
                f"{ts:%Y-%m-%dT%H:%M:%S}+00:00 host sshd[{int(rng.integers(1, 9000))}]: "
                f"Failed password for user{int(rng.integers(0, 50))} from "
                f"198.51.100.{int(rng.integers(1, 60))} port {int(rng.integers(1, 60000))} ssh2"
            )
            c["auth_good"] += 1
            c["auth_24h"] += ts >= day_ago
        with open(os.path.join(src_root, "authfail", f"auth_{f:04d}.log"), "w") as fh:
            fh.write("\n".join(out) + "\n")
    for i in range(messages):
        s, r = int(rng.integers(0, 25)), int(rng.integers(0, 40))
        body = f"message body {i}\n" * int(rng.integers(1, 6))
        msg = (
            f"From: Sender {s} <sender{s}@example.com>\r\n"
            f"To: User {r} <user{r}@example.org>\r\n"
            f"CC: User {(r + 7) % 40} <user{(r + 7) % 40}@example.org>\r\n"
            f"Subject: message {i}\r\n"
            f"Date: {now - timedelta(minutes=int(rng.integers(1, 1440))):%a, %d %b %Y %H:%M:%S} +0000\r\n"
            f"\r\n{body}"
        )
        with open(os.path.join(src_root, "maillog", f"msg_{i:05d}.eml"), "wb") as fh:
            fh.write(msg.encode())
    return c
