"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed, so the same seed gives
byte-identical inputs. Three kinds of input:

* ``write_tables`` - the TPC-H-ish star schema plus ``events``,
  ``documents`` and ``embeddings`` that the registry queries read,
  shaped like the driver's test data. Every summed or multiplied number
  is a dyadic fraction (a multiple of a power of two) small enough that
  all sums and products are exact in a double, so the Spark result and
  the DuckDB reference agree bit for bit whatever the summation order.
* ``weblog_chunk`` - COMBINEDAPACHELOG lines, about 1% garbled.
* ``drift_chunk`` - JSON lines whose key-set shapes grow over the run.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window group big small data vector"
).split()
_LANGS = ["de", "en", "es", "fr", "zh"]
_US_PER_DAY = 86_400_000_000


def _days(first: str, n_days: int, rng: np.random.Generator, size: int) -> np.ndarray:
    start = np.datetime64(first, "us")
    return start + rng.integers(0, n_days, size) * np.timedelta64(_US_PER_DAY, "us")


def _write(path: str, cols: dict) -> None:
    # one row group per file: one scan task in Spark, one thread in DuckDB
    pq.write_table(pa.table(cols), path, row_group_size=1 << 30)


def write_tables(root: str, seed: int, scale: float) -> dict[str, int]:
    """Write the ten registry tables at ``scale`` (1.0 = the driver's
    sf1 row counts) under ``root``; return rows per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(root, exist_ok=True)
    n_cust = max(150, int(150_000 * scale))
    n_supp = max(10, int(10_000 * scale))
    n_part = max(200, int(200_000 * scale))
    n_ord = max(1500, int(1_500_000 * scale))
    n_line = 4 * n_ord
    n_ev = max(1000, int(1_000_000 * scale))
    n_users = max(15, int(15_000 * scale))
    n_docs = max(50, int(50_000 * scale))
    n_emb = max(200, int(20_000 * scale))

    _write(f"{root}/region.parquet", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(f"{root}/nation.parquet", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    _write(f"{root}/customer.parquet", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": rng.integers(-4_000, 40_000, n_cust) / 4.0,
        "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    _write(f"{root}/supplier.parquet", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": rng.integers(-4_000, 40_000, n_supp) / 4.0,
    })
    _write(f"{root}/part.parquet", {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [f"{_WORDS[i % 23]} {_WORDS[(i // 23) % 23]}" for i in range(n_part)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])[
            rng.integers(0, 6, n_part)
        ],
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": rng.integers(3_600, 4_000, n_part) / 4.0,
    })
    _write(f"{root}/orders.parquet", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": rng.integers(4_000, 2_000_000, n_ord) / 4.0,
        "o_orderdate": _days("1995-01-01", 2400, rng, n_ord),
        "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    _write(f"{root}/lineitem.parquet", {
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line, dtype=np.int32)),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": rng.integers(3_600, 420_000, n_line) / 4.0,
        "l_discount": rng.integers(0, 7, n_line) / 64.0,
        "l_tax": rng.integers(0, 11, n_line) / 128.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days("1995-01-01", 2600, rng, n_line),
    })
    ts = np.sort(rng.integers(0, 30 * _US_PER_DAY, n_ev))
    _write(f"{root}/events.parquet", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": np.array(_EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": np.minimum(rng.exponential(50.0, n_ev) * 64, 32_000).astype(np.int64) / 64.0
        + 1 / 64.0,
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    words = np.array(_WORDS)
    texts = [
        " ".join(words[rng.integers(0, len(words), rng.integers(8, 90))])
        for _ in range(n_docs)
    ]
    for i in rng.integers(0, n_docs, max(1, n_docs // 500)):  # a few exact dupes
        texts[(i + 1) % n_docs] = texts[i]
    _write(f"{root}/documents.parquet", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": np.array(_LANGS)[rng.integers(0, 5, n_docs)],
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    # components are multiples of 1/16 so dot products and norms are exact
    emb = (rng.integers(-16, 17, (n_emb, 64)) / 16.0).astype(np.float32)
    _write(f"{root}/embeddings.parquet", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(emb), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb, dtype=np.int32)),
    })
    return {
        "customer": n_cust, "supplier": n_supp, "part": n_part, "orders": n_ord,
        "lineitem": n_line, "events": n_ev, "documents": n_docs, "embeddings": n_emb,
    }


_VERBS = ["GET", "GET", "GET", "POST", "PUT"]
_PATHS = ["/index.html", "/cart", "/checkout", "/about", "/api/v1/items",
          "/static/app.js", "/login", "/search"]
_STATUS = ["200", "200", "200", "200", "301", "404", "500"]
_UAS = ["Mozilla/5.0", "curl/8.0", "python-requests/2.31"]


def weblog_chunk(seed: int, chunk: int, lines: int) -> tuple[list[str], dict]:
    """One chunk of COMBINEDAPACHELOG lines with ~1% garbled rows. The
    ident field of a healthy line, and the text of a garbled one, name
    the chunk, so the output can be checked file by file.

    Returns the lines and the reference the run is checked against:
    line and garbled counts, and the sum of the byte counts of the
    healthy lines (a per-file checksum of a parsed field)."""
    rng = np.random.default_rng([seed, chunk])
    garbled = rng.random(lines) < 0.01
    h = rng.integers(0, 1 << 31, lines)
    nbytes = 200 + h % 4000
    out, n_bad, byte_sum = [], 0, 0
    for i in range(lines):
        if garbled[i]:
            out.append(f"garbled line {chunk}-{i} without structure\n")
            n_bad += 1
            continue
        hv = int(h[i])
        j = chunk * lines + i
        ts = f"10/Oct/2024:{10 + (j // 3600) % 12:02d}:{(j // 60) % 60:02d}:{j % 60:02d} +0000"
        out.append(
            f'10.{(hv >> 8) % 32}.{(hv >> 16) % 256}.{hv % 256} c{chunk} user{hv % 997} [{ts}] '
            f'"{_VERBS[hv % 5]} {_PATHS[(hv >> 4) % 8]} HTTP/1.1" '
            f'{_STATUS[(hv >> 7) % 7]} {int(nbytes[i])} "-" "{_UAS[(hv >> 11) % 3]}"\n'
        )
        byte_sum += int(nbytes[i])
    return out, {"lines": lines, "garbled": n_bad, "bytes_sum": byte_sum}


def drift_chunk(seed: int, chunk: int, lines: int, n_chunks: int,
                n_shapes: int = 40) -> tuple[list[str], dict[str, int]]:
    """One chunk of JSON lines whose key-set shapes grow: chunk c draws
    from the first ``1 + c * n_shapes // n_chunks`` shapes, so the state
    store gains keys across the run. Returns lines and rows per key set."""
    rng = np.random.default_rng([seed, 1_000_003, chunk])
    live = 1 + (chunk * n_shapes) // n_chunks
    shapes = rng.integers(0, live, lines)
    counts: dict[str, int] = {}
    out = []
    for i, s in enumerate(shapes):
        s = int(s)
        obj = {"event_id": chunk * lines + i, "kind": f"k{s % 7}"}
        for j in range(s % 5):
            obj[f"field_{(s + j) % n_shapes:02d}"] = j
        if s >= 5:
            obj[f"x{s}"] = 1  # every shape gets its own key set
        out.append(json.dumps(obj) + "\n")
        key = ",".join(sorted(obj))
        counts[key] = counts.get(key, 0) + 1
    return out, counts
