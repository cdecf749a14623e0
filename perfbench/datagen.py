"""Seeded input generators for the benchmark.

Two input sets, both written as parquet under a directory the caller owns:

* ``write_query_tables`` — the ten tables the query registry reads
  (``region nation customer supplier part orders lineitem events documents
  embeddings``), with the schemas and value distributions of the read-only
  testdata (TESTDATA.md), at a chosen scale.  Each table is generated from the seed,
  so the benchmark never reads data from outside its checkout.
* ``write_device_status`` — status documents in the
  ``fixtures.DEVICE_STATUS_SCHEMA`` shape plus the device dimension, for the
  sync job.  Unlike ``fixtures.device_status_rows`` (every row 1 ms apart, so
  one ``event_date``), documents are spread over ``days`` days, which is what
  the date-partitioned sink sees in production.

Everything is numpy + pyarrow: no Spark job runs while inputs are made.
"""

from __future__ import annotations

import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per table; "sf0.01" is the default benchmark size, "sf0.001" the
# self-test size.  documents/embeddings do not scale below sf0.01 in the
# read-only testdata either.
SCALES = {
    "sf0.01": dict(customer=1500, orders=15000, lineitem=60000, part=2000,
                   supplier=100, events=10000, users=150, documents=500,
                   embeddings=500),
    "sf0.001": dict(customer=150, orders=1500, lineitem=6000, part=200,
                    supplier=10, events=1000, users=15, documents=500,
                    embeddings=500),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "old", "small", "new", "hot", "large", "cold", "red"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "fr", "es", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]


def _write(table: pa.Table, path: str, row_groups: int = 1) -> None:
    rows = max(1, -(-table.num_rows // row_groups))
    pq.write_table(table, path, row_group_size=rows)


def _days(rng, n, start: datetime, span_days: int):
    base = np.datetime64(start.replace(tzinfo=None), "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def write_query_tables(out_dir: str, seed: int, scale: str = "sf0.01") -> None:
    """Write the ten registry tables to ``{out_dir}/{name}.parquet``."""
    n = SCALES[scale]
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{k}" for k in range(25)], s),
        "n_regionkey": pa.array([k % 5 for k in range(25)], i32)})

    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{k:09d}" for k in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, nc), 2), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s)})

    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{k:09d}" for k in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.99, 9999.99, ns), 2), f64)})

    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart),
                                                       rng.choice(PART_NOUN, npart))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(np.round(900.0 + rng.integers(0, 1000, npart) * 0.1, 1), f64)})

    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
        "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, no), 2), f64),
        "o_orderdate": pa.array(_days(rng, no, datetime(1995, 1, 1), 2404), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s)})

    nl = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64), f64),
        "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, nl), 2), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(_days(rng, nl, datetime(1995, 1, 2), 2499), ts)})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 86_400 * 1_000_000
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(t0 + np.sort(rng.integers(0, span_us, ne)).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s)})

    nd = n["documents"]
    texts: list[str] = []
    for k in range(nd):
        if k > 10 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, k))] + " dup")
        else:
            texts.append(" ".join(rng.choice(VOCAB, int(rng.integers(10, 101)))))
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(LANGS, nd, p=LANG_P), s),
        "source": pa.array([f"src{k % 20}" for k in range(nd)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n["embeddings"]
    vec = rng.standard_normal((nv, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32)})

    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))


# --- sync input --------------------------------------------------------------

SYNC_BASE = datetime(2020, 1, 1, tzinfo=timezone.utc)
SOURCE = "dimo/integration/test-integration-id"
MAKES = ["Ford", "Toyota", "Tesla", "BMW"]
MODELS = ["F150", "Corolla", "Model3", "X5"]
# subjects present in the documents but not resolvable to a token: one the
# dimension maps to NULL, one the dimension does not list at all
GHOST_SUBJECTS = ["ghost-0", "orphan-0"]


def write_device_status(out_dir: str, seed: int, docs: int, devices: int,
                        days: int) -> dict[str, datetime]:
    """Write ``{out_dir}/status`` (status documents) and ``{out_dir}/device``
    (subject → token_id).  Null rates follow FIXTURES.md; about 0.01 % of
    documents are malformed, 0.5 % come from unresolvable subjects and 0.5 %
    are exact re-reads of another document (the overlap dedup absorbs).
    Returns the sync window bounds."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_ghost = max(2, docs // 200)
    n_dup = max(1, docs // 200)
    n_main = docs - n_ghost - n_dup
    subj_idx = rng.integers(1, devices + 1, n_main)
    subjects = [str(k) for k in subj_idx] + [GHOST_SUBJECTS[k % 2] for k in range(n_ghost)]
    m = len(subjects)
    # unique millisecond timestamps spread over the window
    span_ms = days * 86_400_000
    offs = rng.choice(span_ms, m, replace=False)
    base = np.datetime64(SYNC_BASE.replace(tzinfo=None), "ms")
    times = base + offs.astype("timedelta64[ms]")

    def nullable(vals, rate):
        return [None if r < rate else v for v, r in zip(vals.tolist(), rng.random(m))]

    dev = np.array([int(s) if s.isdigit() else 0 for s in subjects])
    cols = {
        "subject": subjects,
        "id": [None if r < 0.12 else f"evt-{seed}-{k}" for k, r in enumerate(rng.random(m))],
        "source": [SOURCE] * m,
        "specversion": ["1.0"] * m,
        "type": ["zone.dimo.device.status.update"] * m,
        "dataschema": [None] * m,
        "time": times,
        "data_speed": nullable(rng.integers(0, 121, m), 0.10),
        "data_engineSpeed": nullable(rng.uniform(600, 4000, m), 0.10),
        "data_fuelPercentRemaining": nullable(rng.uniform(0, 1, m), 0.10),
        "data_odometer": nullable(10_000.0 * dev + rng.uniform(0, 5000, m), 0.10),
        "data_coolantTemp": nullable(rng.integers(60, 111, m), 0.10),
        "data_ambientTemp": nullable(rng.uniform(-20, 45, m), 0.20),
        "data_batteryVoltage": nullable(rng.uniform(11, 15, m), 0.10),
        "data_soc": nullable(rng.uniform(0, 1, m), 0.50),
        "data_latitude": rng.uniform(24, 49, m).tolist(),
        "data_longitude": rng.uniform(-125, -66, m).tolist(),
        "data_altitude": rng.uniform(0, 2000, m).tolist(),
        "data_nsat": rng.integers(4, 15, m).tolist(),
        "data_runTime": rng.integers(0, 10_001, m).tolist(),
        "data_throttlePosition": rng.uniform(0, 1, m).tolist(),
        "data_engineLoad": rng.uniform(0, 1, m).tolist(),
        "data_make": [MAKES[(d - 1) % 4] for d in dev],
        "data_model": [MODELS[(d - 1) % 4] for d in dev],
        "data_year": [2015 + (d - 1) % 9 for d in dev],
        "is_malformed": [False] * m,
    }
    data_cols = [c for c in cols if c.startswith("data_")]
    for k in rng.choice(m, max(1, docs // 10_000), replace=False):
        cols["source"][k] = "bad"
        cols["is_malformed"][k] = True
        for c in data_cols:
            cols[c][k] = None

    schema = pa.schema([
        ("subject", pa.string()), ("id", pa.string()), ("source", pa.string()),
        ("specversion", pa.string()), ("type", pa.string()),
        ("dataschema", pa.string()), ("time", pa.timestamp("us", tz="UTC")),
        ("data_speed", pa.int64()), ("data_engineSpeed", pa.float64()),
        ("data_fuelPercentRemaining", pa.float64()), ("data_odometer", pa.float64()),
        ("data_coolantTemp", pa.int64()), ("data_ambientTemp", pa.float64()),
        ("data_batteryVoltage", pa.float64()), ("data_soc", pa.float64()),
        ("data_latitude", pa.float64()), ("data_longitude", pa.float64()),
        ("data_altitude", pa.float64()), ("data_nsat", pa.int64()),
        ("data_runTime", pa.int64()), ("data_throttlePosition", pa.float64()),
        ("data_engineLoad", pa.float64()), ("data_make", pa.string()),
        ("data_model", pa.string()), ("data_year", pa.int64()),
        ("is_malformed", pa.bool_()),
    ])
    table = pa.table({c: cols[c] for c in schema.names}, schema=schema)
    dup_rows = rng.choice(m, n_dup, replace=False)
    table = pa.concat_tables([table, table.take(dup_rows)])
    table = table.sort_by("time")
    status_dir = os.path.join(out_dir, "status")
    os.makedirs(status_dir, exist_ok=True)
    _write(table, os.path.join(status_dir, "part-0.parquet"), row_groups=16)

    dim = pa.table({
        "subject": [str(k) for k in range(1, devices + 1)] + [GHOST_SUBJECTS[0]],
        "token_id": pa.array(list(range(1, devices + 1)) + [None], pa.int64()),
    })
    device_dir = os.path.join(out_dir, "device")
    os.makedirs(device_dir, exist_ok=True)
    _write(dim, os.path.join(device_dir, "part-0.parquet"))
    start = SYNC_BASE
    return {
        "start": start,
        "mid": start + timedelta(days=days - days // 2),
        "stop": start + timedelta(days=days),
    }
