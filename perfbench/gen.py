"""Seeded input generators for the benchmark workloads.

Every table the workloads read is generated here from the workload seed,
so the program only ever sees generated inputs.  Shapes, key domains and
value distributions follow the star-schema + events + documents +
embeddings tables the repository's tests and oracle queries are written
against (row counts scale with ``sf`` the same way: 6M lineitem rows per
unit of sf).  Timestamps are written as naive microsecond parquet
timestamps, the encoding those tables use.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
              "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table the value vector window").split()
_LANGS = np.array(["en", "zh", "de", "es", "fr"])
_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
_DAY_US = 86_400 * 1_000_000


def _us(date: str) -> int:
    return int(np.datetime64(date, "us").astype(np.int64))


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """All ten tables at scale ``sf`` from ``seed``."""
    rng = np.random.default_rng([seed, 1])
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_line = max(1, round(6_000_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_vecs = max(500, round(20_000 * sf))

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": _REGIONS,
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PART_TYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": 900 + (pk % 1000) / 10.0,
    })
    d0, d1 = _us("1995-01-01"), _us("2001-08-02")
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _ts(rng.integers(0, (d1 - d0) // _DAY_US, n_ord)
                           * _DAY_US + d0),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
    })
    s0, s1 = _us("1995-01-02"), _us("2001-11-05")
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_line),
        "l_partkey": rng.integers(0, n_part, n_line),
        "l_suppkey": rng.integers(0, n_supp, n_line),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["F", "O"], n_line),
        "l_shipdate": _ts(rng.integers(0, (s1 - s0) // _DAY_US, n_line)
                          * _DAY_US + s0),
    })
    t["events"] = events(rng, sf)
    t["documents"] = documents(rng, n_docs)
    t["embeddings"] = embeddings(rng, n_vecs)
    return t


def events(rng, sf: float) -> pa.Table:
    """Time-ordered events over January 2024 from 15,000·sf users."""
    n = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    return pa.table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts(np.sort(rng.integers(0, 30 * _DAY_US, n)) + _us("2024-01-01")),
        "user_id": rng.integers(0, n_users, n),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def documents(rng, n: int) -> pa.Table:
    """Bag-of-words docs over a 30-word vocabulary; ~5% are a copy of
    another doc with a trailing ``dup`` token (planted near-duplicates)."""
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 101))])
             for _ in range(n)]
    for i in np.flatnonzero(rng.random(n) < 0.05):
        texts[i] = texts[(i + rng.integers(1, n)) % n] + " dup"
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit-norm float32 vectors around weak per-label centroids."""
    label = rng.integers(0, labels, n)
    centers = rng.normal(0.0, 0.02, (labels, dim))
    x = centers[label] + rng.normal(0.0, 0.125, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(x), type=pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_star(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``<out_dir>/<table>.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in star_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def datacube_events(seed: int, sf: float) -> pa.Table:
    """The datacube workload's raw input: one events stream with each user
    placed at a seeded (admin1, country, lat, lng) — 25 admin1 areas nested
    in 5 countries and whole-degree cell centres, the cardinalities of the
    repository's events → datacube staging."""
    rng = np.random.default_rng([seed, 2])
    ev = events(rng, sf)
    n_users = max(1, round(15_000 * sf))
    admin1 = rng.integers(0, 25, n_users)
    lat = rng.integers(-90, 90, n_users) + 0.5
    lng = rng.integers(-180, 180, n_users) + 0.5
    user = ev["user_id"].to_numpy()
    return pa.table({
        "timestamp": ev["ts"].cast(pa.int64()).to_numpy() // 1000,
        "country": np.char.add("c", (admin1 % 5).astype(str))[user],
        "admin1": np.char.add("a", admin1.astype(str))[user],
        "lat": lat[user],
        "lng": lng[user],
        "feature": ev["event_type"],
        "value": ev["value"],
        "qual1": ev["event_type"],
        "w": np.ones(len(user)),
    })


