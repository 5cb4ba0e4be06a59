"""Seeded input generators for the benchmark.

* :func:`write_tables` writes the TPC-H-shaped star schema plus the
  ``events`` and ``documents`` tables the engine's query registry reads
  (one parquet file per table, the layout the engine's test data has),
  at scale factor ``sf``: 6M x sf lineitem rows. ``events.ts`` is stored
  as INT64 TIMESTAMP(NANOS), the form ``sources.tables.events_table``
  reads as a raw nanosecond count (``spark.sql.legacy.parquet.nanosAsLong``);
  the other timestamp columns are microseconds.
* :func:`criteo_batch` builds one Criteo-shaped training batch (label,
  row_hash, 13 float ``int*_norm`` and 26 string ``cat*`` columns) whose
  categorical cardinalities follow the reference trainer's ``vocab_size``
  catalog range (98 ... 1764 distinct values per column).

Everything is a pure function of its seed, so the same seed gives the same
data on every machine.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: bump when the generated tables change, so cached copies are rebuilt
TABLES_VERSION = 2

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_WORDS = ("a agg batch big column customer data fast filter group hash join "
          "key line merge order part query row scan slow small sort spark "
          "stream table value vector window shuffle index").split()

_DAY_US = 86_400_000_000


def _days_since_epoch(y: int, m: int, d: int) -> int:
    return int(np.datetime64(f"{y:04d}-{m:02d}-{d:02d}", "D").astype(int))


def _dates(rng: np.random.Generator, n: int, lo: tuple, hi: tuple) -> pa.Array:
    days = rng.integers(_days_since_epoch(*lo), _days_since_epoch(*hi) + 1, n)
    return pa.array(days.astype(np.int64) * _DAY_US, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)],
                    pa.string())


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_li, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users, n_docs = max(int(15_000 * sf), 10), max(int(50_000 * sf), 20)
    i32 = pa.int32()
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": pa.array(_REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    partkey = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": partkey,
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, _PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (partkey % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, n_ord, (1995, 1, 1), (2001, 8, 1)),
        "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
        "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, (1995, 1, 2), (2001, 11, 4))})
    start = _days_since_epoch(2024, 1, 1) * _DAY_US
    ts = np.sort(rng.integers(start, start + 30 * _DAY_US, n_ev))
    # nanoseconds with a sub-microsecond part, so the engine's ``div 1000``
    # truncation is exercised
    ts_ns = ts * 1000 + rng.integers(0, 1000, n_ev)
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts_ns, pa.timestamp("ns")),
        "user_id": rng.integers(0, n_users, n_ev),
        "event_type": _pick(rng, _EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    words = np.asarray(_WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), k)])
             for k in rng.integers(8, 90, n_docs)]
    lang_p = [0.4, 0.15, 0.15, 0.15, 0.15]
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(_LANGS, dtype=object)[
            rng.choice(5, n_docs, p=lang_p)], pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64)})
    return t


def write_tables(out_dir: str, sf: float, seed: int) -> None:
    """Write every table as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, tbl in build_tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------------- Criteo

N_INT, N_CAT = 13, 26
#: per-column category counts, log-spaced over the reference trainer's
#: vocab_size range (98 ... 1764)
CAT_CARDINALITIES = [int(round(v)) for v in np.geomspace(98, 1764, N_CAT)]

CRITEO_DDL = ", ".join(
    ["label long", "row_hash long"]
    + [f"int{i}_norm float" for i in range(1, N_INT + 1)]
    + [f"cat{j} string" for j in range(1, N_CAT + 1)])


def criteo_batch(seed: int, batch: int, n_rows: int) -> pa.Table:
    """Batch ``batch`` of the stream seeded by ``seed``: a pure function of
    both. Labels follow a logistic model of two numeric features and one
    categorical, so a linear model trained on it reaches AUC well above
    0.5."""
    rng = np.random.default_rng([seed, batch])
    x = rng.standard_normal((n_rows, N_INT)).astype(np.float32)
    cols: dict[str, object] = {}
    cats = []
    for card in CAT_CARDINALITIES:
        # skewed towards low ids (density ~ 1/sqrt(id)) over the full range
        cats.append((card * rng.random(n_rows) ** 2).astype(np.int64))
    logit = 1.5 * x[:, 0] - 1.0 * x[:, 1] + np.where(cats[0] % 7 == 0, 1.0, -0.2)
    cols["label"] = (rng.random(n_rows) < 1 / (1 + np.exp(-logit))).astype(np.int64)
    # unique per row across the whole stream: batch id in the high bits
    cols["row_hash"] = (np.int64(batch) << np.int64(32)) | rng.permutation(
        np.arange(n_rows, dtype=np.int64) * 7919 % (1 << 31))
    for k in range(N_INT):
        cols[f"int{k + 1}_norm"] = x[:, k]
    for j, v in enumerate(cats):
        names = np.char.add(f"c{j + 1}_", v.astype(str)).astype(object)
        cols[f"cat{j + 1}"] = pa.array(names, pa.string())
    return pa.table(cols)
