"""Seeded synthetic inputs for the benchmark workloads.

The tables mirror the schemas and value distributions of the engine's
TPC-H-ish test tables (catalog.TABLES): independent uniform columns,
dense 0-based keys, a 31-word lower-case document vocabulary whose one
selective token ``dup`` marks near-duplicates (about 5% of documents are
an earlier document plus `` dup``), and unit-norm 64-d embeddings. Row
counts scale with ``sf`` exactly as the shipped fixtures do, except the
documents/embeddings floors, which are explicit arguments here.

``pickup_rows`` is the K-Means input: synthetic pickup locations
(planted Gaussian clusters plus uniform noise over the NYC bounding box
of the paper's Uber data), sized by the number of DISTINCT 3-dp
locations so the sweep runs over exactly the paper's 22,000 points.
It is labelled synthetic; no real trip data is used.

Everything derives from one ``numpy.random.Generator`` per table,
seeded from (seed, table name), so the same seed always gives the same
bytes and a different seed gives different inputs.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.1475, 0.1475, 0.1475, 0.1475)
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("large", "hot", "blue", "old", "cold", "small", "red", "new")
PART_NOUN = ("ring", "bolt", "plate", "gear", "nut", "pipe", "valve", "wire")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
EMBED_DIM = 64

# NYC bounding box of the paper's pickup data (FIXTURES.md §3).
LAT_RANGE = (40.55, 40.95)
LON_RANGE = (-74.25, -73.60)


def rng_for(seed: int, name: str) -> np.random.Generator:
    digest = hashlib.sha256(f"{seed}:{name}".encode()).digest()
    return np.random.default_rng(int.from_bytes(digest[:8], "little"))


def _days(rng, lo: dt.date, hi: dt.date, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + (rng.integers(0, span + 1, n) * 86_400_000_000).astype(
        "timedelta64[us]"
    )


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def documents(seed: int, n: int) -> pa.Table:
    rng = rng_for(seed, "documents")
    vocab = np.asarray(VOCAB, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))])
        for _ in range(n)
    ]
    # near-duplicates: about 5% of documents copy another one and append
    # the selective token (the copy may have either the lower or the
    # higher doc_id, as in the shipped fixture)
    n_dup = n // 20
    targets = rng.choice(n, n_dup, replace=False)
    sources = rng.choice(np.setdiff1d(np.arange(n), targets), n_dup)
    for t, s in zip(targets, sources):
        texts[t] = texts[s] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def tables(seed: int, sf: float, n_docs: int, n_embeddings: int) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor ``sf``."""
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(list(REGIONS)),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })

    r = rng_for(seed, "customer")
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(r.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(r, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(r, SEGMENTS, n_cust),
    })

    r = rng_for(seed, "supplier")
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(r.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(r, -999.99, 9999.99, n_supp)),
    })

    r = rng_for(seed, "part")
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys),
        "p_name": pa.array([
            f"{PART_ADJ[a]} {PART_NOUN[b]}"
            for a, b in zip(r.integers(0, 8, n_part), r.integers(0, 8, n_part))
        ]),
        "p_brand": pa.array([f"Brand#{b}" for b in r.integers(1, 26, n_part)]),
        "p_type": _pick(r, PART_TYPES, n_part),
        "p_size": pa.array(r.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (keys % 1000) / 10.0, 1)),
    })

    r = rng_for(seed, "orders")
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(r.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _pick(r, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(r, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": pa.array(_days(r, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord)),
        "o_orderpriority": _pick(r, PRIORITIES, n_ord),
    })

    r = rng_for(seed, "lineitem")
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n_ord, n_line).astype(np.int64)),
        "l_partkey": pa.array(r.integers(0, n_part, n_line).astype(np.int64)),
        "l_suppkey": pa.array(r.integers(0, n_supp, n_line).astype(np.int64)),
        "l_linenumber": pa.array(r.integers(1, 8, n_line).astype(np.int32)),
        "l_quantity": pa.array(r.integers(1, 51, n_line).astype(np.float64)),
        "l_extendedprice": pa.array(_money(r, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(r.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(r.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(r, ("A", "N", "R"), n_line),
        "l_linestatus": _pick(r, ("F", "O"), n_line),
        "l_shipdate": pa.array(_days(r, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)),
    })

    r = rng_for(seed, "events")
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(r.integers(0, 30 * 86_400_000_000, n_ev))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(t0 + offs.astype("timedelta64[us]")),
        "user_id": pa.array(r.integers(0, n_users, n_ev).astype(np.int64)),
        "event_type": _pick(r, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(r.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in r.integers(0, 100, n_ev)]),
    })

    out["documents"] = documents(seed, n_docs)

    r = rng_for(seed, "embeddings")
    vec = r.standard_normal((n_embeddings, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_embeddings, dtype=np.int64)),
        "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n_embeddings).astype(np.int32)),
    })
    return out


def write_tables(tbls: dict[str, pa.Table], out_dir: str) -> int:
    """One single-row-group snappy parquet file per table, as in the
    shipped fixtures. Returns the bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, t in tbls.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path, compression="snappy", row_group_size=max(1, t.num_rows))
        total += os.path.getsize(path)
    return total


def pickup_rows(seed: int, n_distinct: int = 22_000, n_clusters: int = 12):
    """(lat, lon) float64 arrays whose 3-dp HALF_UP rounding has exactly
    ``n_distinct`` distinct locations, with repeats so weights exceed 1.

    Planted clusters (Gaussian, ~1 km sd) hold 80% of the draws, uniform
    noise over the bounding box the rest. Draws continue until the
    distinct-location target is met; the table is then cut to the first
    row that reaches it, so the count is exact for every seed."""
    rng = rng_for(seed, "pickups")
    centers = np.column_stack([
        rng.uniform(LAT_RANGE[0] + 0.05, LAT_RANGE[1] - 0.05, n_clusters),
        rng.uniform(LON_RANGE[0] + 0.05, LON_RANGE[1] - 0.05, n_clusters),
    ])
    lat_parts, lon_parts, seen = [], [], set()
    while len(seen) < n_distinct:
        m = n_distinct
        clustered = rng.random(m) < 0.8
        c = centers[rng.integers(0, n_clusters, m)]
        lat = np.where(
            clustered, c[:, 0] + rng.normal(0, 0.012, m), rng.uniform(*LAT_RANGE, m)
        )
        lon = np.where(
            clustered, c[:, 1] + rng.normal(0, 0.012, m), rng.uniform(*LON_RANGE, m)
        )
        lat = np.clip(lat, *LAT_RANGE).round(4) + 1e-5 * rng.integers(1, 9, m)
        lon = np.clip(lon, *LON_RANGE).round(4) - 1e-5 * rng.integers(1, 9, m)
        for i, key in enumerate(zip(round3(lat), round3(lon))):
            seen.add(key)
            if len(seen) == n_distinct:
                lat_parts.append(lat[: i + 1])
                lon_parts.append(lon[: i + 1])
                break
        else:
            lat_parts.append(lat)
            lon_parts.append(lon)
    return np.concatenate(lat_parts), np.concatenate(lon_parts)


def round3(x: np.ndarray) -> np.ndarray:
    """3-dp HALF_UP on the decimal value, as Spark's F.round does for
    doubles (it rounds the BigDecimal of the double's shortest repr)."""
    from decimal import ROUND_HALF_UP, Decimal

    q = Decimal("0.001")
    return np.array(
        [float(Decimal(repr(float(v))).quantize(q, rounding=ROUND_HALF_UP)) for v in x]
    )
