"""Deterministic input generation for the benchmark.

Two kinds of input:

* the base tables (``region`` … ``embeddings``), in the schema and value
  distributions the engine's catalog expects (``stonedb_spark/catalog.py``
  TABLES).  They are generated from a fixed data seed, one parquet file
  with one row group per table, and cached on disk under a key of the
  generator version and scale.  The cache is verified by content digest
  on every run and is not part of the measured set-up time.
* the ingest batches of the ``pipeline-htap`` workload: CSV files of
  ``orders`` rows with a fixed count of malformed rows each, generated
  from the run's ``--seed``.

Row counts follow the TPC-H ratios (sf0.1: 600k lineitem rows, 17 MB).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1
DATA_SEED = 42

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]

ORDERS_SCHEMA = pa.schema(
    [
        ("o_orderkey", pa.int64()),
        ("o_custkey", pa.int64()),
        ("o_orderstatus", pa.string()),
        ("o_totalprice", pa.float64()),
        ("o_orderdate", pa.timestamp("us")),
        ("o_orderpriority", pa.string()),
    ]
)

_DAY_US = 86_400 * 1_000_000


def _days(rng, n, start, end):
    """Whole-day timestamps in [start, end] as timestamp[us]."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi + 1, n) * _DAY_US, pa.timestamp("us"))


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _counts(sf: float) -> dict[str, int]:
    return {
        "customer": max(150, round(150_000 * sf)),
        "supplier": max(10, round(10_000 * sf)),
        "part": max(200, round(200_000 * sf)),
        "orders": max(1_500, round(1_500_000 * sf)),
        "lineitem": max(6_000, round(6_000_000 * sf)),
        "events": max(1_000, round(1_000_000 * sf)),
        "users": max(15, round(15_000 * sf)),
        "documents": max(500, round(50_000 * sf)),
        "embeddings": max(500, round(20_000 * sf)),
    }


def _documents(rng, n):
    texts = []
    for i in range(n):
        if i >= 20 and rng.random() < 0.05:
            # near-duplicate of an earlier document: what the dedup
            # operators are there to find
            texts.append(texts[rng.integers(0, i)] + " dup" * int(rng.integers(1, 3)))
        else:
            words = np.asarray(_VOCAB, dtype=object)[rng.integers(0, len(_VOCAB), rng.integers(10, 100))]
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _pick(rng, _LANGS, n, _LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng, n, dim=64, labels=10):
    label = rng.integers(0, labels, n)
    centers = rng.normal(0.0, 0.05, (labels, dim))
    vecs = centers[label] + rng.normal(0.0, 0.12, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    flat = pa.array(vecs.astype(np.float32).ravel(), pa.float32())
    offsets = pa.array(np.arange(0, (n + 1) * dim, dim), pa.int32())
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.ListArray.from_arrays(offsets, flat),
            "label": pa.array(label, pa.int32()),
        }
    )


def generate_tables(sf: float) -> dict[str, pa.Table]:
    """All base tables at scale ``sf``, from the fixed data seed."""
    rng = np.random.default_rng([DATA_SEED, GENERATOR_VERSION])
    c = _counts(sf)
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(_REGIONS)}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    n = c["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "c_acctbal": _money(rng, n, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n),
        }
    )
    n = c["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
            "s_acctbal": _money(rng, n, -999.99, 9999.99),
        }
    )
    n = c["part"]
    keys = np.arange(n)
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": _pick(rng, names, n),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n)]),
            "p_type": _pick(rng, _PART_TYPES, n),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
        }
    )
    out["orders"] = generate_orders(rng, 0, c["orders"], c["customer"])
    n = c["lineitem"]
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, c["orders"], n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, c["part"], n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, c["supplier"], n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": rng.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": _money(rng, n, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n) / 100.0,
            "l_tax": rng.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n),
            "l_linestatus": _pick(rng, ["F", "O"], n),
            "l_shipdate": _days(rng, n, "1995-01-02", "2001-11-04"),
        }
    )
    n = c["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(t0, t0 + 30 * _DAY_US, n))
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, c["users"], n), pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )
    out["documents"] = _documents(rng, c["documents"])
    out["embeddings"] = _embeddings(rng, c["embeddings"])
    return out


def generate_orders(rng, first_key: int, n: int, n_customers: int) -> pa.Table:
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_customers, n), pa.int64()),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n),
            "o_totalprice": _money(rng, n, 1000.0, 500000.0),
            "o_orderdate": _days(rng, n, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n),
        },
        schema=ORDERS_SCHEMA,
    )


def file_digest(paths: list[str]) -> str:
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.basename(p).encode())
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def ensure_tables(cache_root: str, sf: float) -> tuple[str, str]:
    """Return ``(sf_dir, digest)`` for the base tables at ``sf``,
    generating them on first use.  A cached directory whose content no
    longer matches its recorded digest is regenerated."""
    sf_dir = os.path.join(cache_root, f"tables-v{GENERATOR_VERSION}-sf{sf:g}")
    manifest = os.path.join(sf_dir, "MANIFEST.json")
    paths = [os.path.join(sf_dir, f"{t}.parquet") for t in TABLES]
    if os.path.exists(manifest) and all(os.path.exists(p) for p in paths):
        with open(manifest) as f:
            recorded = json.load(f)["digest"]
        if file_digest(paths) == recorded:
            return sf_dir, recorded
    shutil.rmtree(sf_dir, ignore_errors=True)
    tmp = sf_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in generate_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=max(1, table.num_rows))
    digest = file_digest([os.path.join(tmp, f"{t}.parquet") for t in TABLES])
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump({"digest": digest, "sf": sf, "generator_version": GENERATOR_VERSION}, f)
    os.replace(tmp, sf_dir)
    return sf_dir, digest


def write_ingest_batch(
    path: str, seed: int, index: int, first_key: int, rows: int, malformed: int, n_customers: int
) -> tuple[int, float]:
    """Write one CSV batch of ``rows`` lines, ``malformed`` of which do
    not parse under the orders schema.  Returns the count and
    ``o_totalprice`` sum of the well-formed rows."""
    rng = np.random.default_rng([seed, index])
    good = rows - malformed
    t = generate_orders(rng, first_key, good, n_customers).to_pandas()
    t["o_orderdate"] = t["o_orderdate"].dt.strftime("%Y-%m-%d %H:%M:%S")
    lines = t.to_csv(header=False, index=False, lineterminator="\n").splitlines()
    bad_at = np.sort(rng.choice(rows, malformed, replace=False))
    out, it = [], iter(lines)
    bad_set = set(bad_at.tolist())
    for i in range(rows):
        if i in bad_set:
            # a key that is not a number, or a price with two decimal points
            if i % 2:
                out.append(f"k{i}x,{i},O,12.5,1996-01-01 00:00:00,1-URGENT")
            else:
                out.append(f"{first_key + rows + i},{i},O,1.2.3,1996-01-01 00:00:00,1-URGENT")
        else:
            out.append(next(it))
    with open(path, "w") as f:
        f.write("\n".join(out) + "\n")
    return good, float(t["o_totalprice"].sum())
