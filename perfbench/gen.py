"""Seeded input generator for the lakehouse benchmark.

Everything the program under test sees is built here from ``--seed``
with numpy: a TPC-H-shaped lake (the ten catalog tables, same columns
and types as the project's test data), and CDC drops with deliberate
dirt for the landing zone. Alongside the files the generator returns
the EXPECTED outcome of every operation, computed with numpy (an
independent model of validate -> dedup -> merge -> reject-append), so
the checker never trusts the engine to grade itself. Query expectations come from the
registry's DuckDB oracles run over the same generated lake.

The same seed gives byte-identical files and identical expectations.
"""

from __future__ import annotations

import hashlib
import math
import os
from collections import Counter
from dataclasses import dataclass, field
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH = datetime(1970, 1, 1)
ORDER_DAY0 = datetime(1995, 1, 1)
ORDER_DAYS = 2403  # 1995-01-01 .. 2001-08-01, the test-data span
EVENT_T0 = datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86400 * 1_000_000

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "old", "cold", "red", "small", "new"]
PART_NOUN = ["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
EMB_DIM = 64

CDC_UPDATE_FRAC = 0.01  # per cycle: 1% of the orders updated ...
CDC_INSERT_FRAC = 0.005  # ... and 0.5% inserted, ~1.5% of the table per cycle

# -------------------------------------------------------------- helpers


def seeded_rng(seed: int, *stream: int | str) -> np.random.Generator:
    """Independent stream per (seed, purpose): adding a purpose never
    shifts the numbers another purpose draws."""
    salt = [int(hashlib.md5(str(s).encode()).hexdigest()[:8], 16) for s in stream]
    return np.random.default_rng([seed, *salt])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _cents(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def to_cents(values: np.ndarray) -> np.ndarray:
    return np.rint(values * 100).astype("int64")


def _ints(col, null: int = -1) -> np.ndarray:
    """An integer column as int64 numpy, nulls replaced by ``null``."""
    return pc.fill_null(col, null).to_numpy().astype("int64")


def write_table(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _day_us(day: np.ndarray) -> np.ndarray:
    return (int((ORDER_DAY0 - EPOCH).total_seconds()) + day.astype("int64") * 86400) * 1_000_000


# ------------------------------------------------------------ base lake


def orders_table(rng: np.random.Generator, keys: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(STATUSES, n)),
            "o_totalprice": pa.array(_cents(rng.uniform(1000, 500000, n))),
            "o_orderdate": _ts(_day_us(rng.integers(0, ORDER_DAYS, n))),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n)),
        }
    )


def lineitem_table(rng: np.random.Generator, orders: pa.Table, n_part: int, n_supp: int) -> pa.Table:
    okeys = orders["o_orderkey"].to_numpy()
    odays = orders["o_orderdate"].cast(pa.int64()).to_numpy()
    lines = rng.integers(1, 8, len(okeys))
    ok = np.repeat(okeys, lines)
    n = len(ok)
    ln = np.arange(n) - np.repeat(np.cumsum(lines) - lines, lines) + 1
    qty = rng.integers(1, 51, n).astype("float64")
    ship = np.repeat(odays, lines) + rng.integers(1, 122, n).astype("int64") * 86_400_000_000
    return pa.table(
        {
            "l_orderkey": pa.array(ok, pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(ln, pa.int32()),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(_cents(qty * rng.uniform(900, 2100, n))),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n)),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n)),
            "l_shipdate": _ts(ship),
        }
    )


def part_table(rng: np.random.Generator, keys: np.ndarray) -> pa.Table:
    n = len(keys)
    adj, noun = np.array(PART_ADJ), np.array(PART_NOUN)
    names = np.char.add(np.char.add(adj[rng.integers(0, 8, n)], " "), noun[rng.integers(0, 8, n)])
    return pa.table(
        {
            "p_partkey": pa.array(keys, pa.int64()),
            "p_name": pa.array(names.tolist()),
            "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, n).astype(str)).tolist()),
            "p_type": pa.array(rng.choice(PART_TYPES, n)),
            "p_size": pa.array(rng.integers(1, 51, n), pa.int32()),
            "p_retailprice": pa.array(900.0 + (keys % 1000) / 10.0),
        }
    )


def events_table(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    us = np.sort(rng.integers(0, EVENT_SPAN_US, n)) + int((EVENT_T0 - EPOCH).total_seconds()) * 1_000_000
    return pa.table(
        {
            "event_id": pa.array(np.arange(n), pa.int64()),
            "ts": _ts(us),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n)),
            "value": pa.array(_cents(rng.exponential(50.0, n))),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.03:  # exact and near duplicates for the dedup family
            src = texts[int(rng.integers(0, len(texts)))]
            texts.append(src if rng.random() < 0.5 else src + " dup")
        else:
            texts.append(" ".join(rng.choice(WORDS, int(rng.integers(10, 101)))))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts),
            "lang": pa.array(rng.choice(LANGS, n)),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def embeddings_table(rng: np.random.Generator, n: int) -> pa.Table:
    centers = rng.normal(0, 1, (10, EMB_DIM))
    label = rng.integers(0, 10, n)
    v = centers[label] + rng.normal(0, 0.8, (n, EMB_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def _dims(orders: int) -> tuple[int, int, int]:
    """(customers, parts, suppliers) for ``orders`` orders, in TPC-H
    ratios (sf0.1: 150k orders, 15k customer, 20k part, 1k supplier;
    lineitem averages 4 lines per order)."""
    return max(orders // 10, 10), max(orders * 2 // 15, 10), max(orders // 150, 10)


def lake_tables(seed: int, orders: int, events: int, docs: int, vecs: int) -> dict[str, pa.Table]:
    """The ten catalog tables, TPC-H ratios scaled from ``orders``."""
    n_cust, n_part, n_supp = _dims(orders)
    r = seeded_rng(seed, "lake")
    o = orders_table(r, np.arange(orders), n_cust)
    return {
        "region": pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), pa.int32()),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
                "c_acctbal": pa.array(_cents(r.uniform(-999.99, 9999.99, n_cust))),
                "c_mktsegment": pa.array(r.choice(SEGMENTS, n_cust)),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(r.integers(0, 25, n_supp), pa.int32()),
                "s_acctbal": pa.array(_cents(r.uniform(-999.99, 9999.99, n_supp))),
            }
        ),
        "part": part_table(r, np.arange(n_part)),
        "orders": o,
        "lineitem": lineitem_table(r, o, n_part, n_supp),
        "events": events_table(r, events, max(events // 60, 10)),
        "documents": documents_table(r, docs),
        "embeddings": embeddings_table(r, vecs),
    }


def write_lake(tables: dict[str, pa.Table], sf_dir: str) -> None:
    for name, t in tables.items():
        write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


# ------------------------------------------------- ingest: the model


RULES = {
    "products": [("p_partkey", "Null p_partkey"), ("p_name", "Null product_name")],
    "orders": [("o_orderkey", "Null o_orderkey"), ("o_orderdate", "Invalid timestamp")],
    "order_items": [
        ("l_orderkey", "Null l_orderkey"),
        ("l_linenumber", "Null l_linenumber"),
        ("l_shipdate", "Invalid timestamp"),
    ],
}
KEYS = {"products": ("p_partkey",), "orders": ("o_orderkey",), "order_items": ("l_orderkey", "l_linenumber")}
#: money column per dataset, checked as a sum of integer cents
MONEY = {"products": "p_retailprice", "orders": "o_totalprice", "order_items": "l_extendedprice"}
DATASETS = ("products", "orders", "order_items")


def key_codes(dataset: str, table: pa.Table) -> np.ndarray:
    """One int64 per row standing for the row's primary key (line
    numbers stay below 16)."""
    if dataset == "order_items":
        return _ints(table["l_orderkey"]) * 16 + _ints(table["l_linenumber"])
    return _ints(table[KEYS[dataset][0]])


def table_digest(dataset: str, table: pa.Table) -> dict:
    """Row count, per-key-column sums and the money sum in cents: the
    checkable summary of one curated table."""
    codes = key_codes(dataset, table)
    sums = [int((codes // 16).sum()), int((codes % 16).sum())] if dataset == "order_items" else [int(codes.sum())]
    cents = to_cents(pc.fill_null(table[MONEY[dataset]], 0.0).to_numpy())
    return {"rows": table.num_rows, "key_sums": sums, "cents": int(cents.sum())}


@dataclass
class LakeModel:
    """Numpy model of the curated + rejected zones: per dataset the
    key code -> money (cents) map, and per dataset the Counter of
    rejection messages. Replays the pipeline's contract: rules in
    order (first failure wins), then FK checks against the curated
    dims, exact-duplicate PKs collapse, survivors replace or insert."""

    curated: dict[str, dict[int, int]] = field(default_factory=lambda: {d: {} for d in KEYS})
    rejected: dict[str, Counter] = field(default_factory=lambda: {d: Counter() for d in KEYS})

    def load(self, dataset: str, table: pa.Table) -> None:
        """Seed a curated table with clean rows (the preloaded lake)."""
        cents = to_cents(table[MONEY[dataset]].to_numpy())
        self.curated[dataset].update(zip(key_codes(dataset, table).tolist(), cents.tolist()))

    def apply(self, dataset: str, table: pa.Table) -> dict:
        """Validate -> dedup -> merge one drop; return the stage counts."""
        code = np.zeros(table.num_rows, np.int8)  # 0 = valid, i = messages[i - 1]
        messages: list[str] = []

        def fail(cond: np.ndarray, msg: str) -> None:
            messages.append(msg)
            code[(code == 0) & cond] = len(messages)

        for col, msg in RULES[dataset]:
            fail(~np.asarray(table[col].is_valid()), msg)
        if dataset == "orders":
            fail(pc.fill_null(table["o_totalprice"], 1.0).to_numpy() <= 0, "Non-positive o_totalprice")
        if dataset == "order_items":
            orders = np.fromiter(self.curated["orders"], "int64")
            parts = np.fromiter(self.curated["products"], "int64")
            fail(~np.isin(_ints(table["l_orderkey"]), orders), "Invalid order reference")
            pk = _ints(table["l_partkey"])
            fail((pk != -1) & ~np.isin(pk, parts), "Invalid product reference")
        for i, n in zip(*np.unique(code[code > 0], return_counts=True)):
            self.rejected[dataset][messages[i - 1]] += int(n)
        ok = code == 0
        keys = key_codes(dataset, table)[ok]
        cents = to_cents(table[MONEY[dataset]].to_numpy(zero_copy_only=False)[ok])
        valid = dict(zip(keys.tolist(), cents.tolist()))
        if len(set(zip(keys.tolist(), cents.tolist()))) != len(valid):
            raise ValueError(f"generator produced conflicting duplicates for {dataset}")
        self.curated[dataset].update(valid)
        return {
            "rows_in": table.num_rows,
            "rejected": int((~ok).sum()),
            "valid": len(valid),
            "table_rows": len(self.curated[dataset]),
        }

    def snapshot(self) -> dict:
        """The checkable summary of the lake (``table_digest`` per
        curated table, per-message counts per rejected zone)."""
        out: dict = {"tables": {}, "rejected": {}}
        for ds, m in self.curated.items():
            if not m:
                continue
            codes = np.fromiter(m, "int64")
            sums = [int((codes // 16).sum()), int((codes % 16).sum())] if ds == "order_items" else [int(codes.sum())]
            out["tables"][ds] = {"rows": len(m), "key_sums": sums, "cents": sum(m.values())}
        for ds, c in self.rejected.items():
            if c:
                out["rejected"][ds] = dict(sorted(c.items()))
        return out


def _replace(table: pa.Table, col: str, idx, values=None) -> pa.Table:
    """``table`` with ``col`` set to ``values`` (None: null) at rows ``idx``."""
    mask = np.zeros(table.num_rows, bool)
    mask[idx] = True
    cur = table[col].combine_chunks()
    if values is None:
        new = pa.nulls(table.num_rows, cur.type)
    else:
        full = pc.fill_null(cur, 0).to_numpy(zero_copy_only=False).copy()
        full[idx] = values
        new = pa.array(full, cur.type)
    return table.set_column(table.schema.get_field_index(col), col, pc.if_else(pa.array(mask), new, cur))


def _pick(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    return np.sort(rng.choice(n, size=min(k, n), replace=False))


def _dup_rows(rng: np.random.Generator, table: pa.Table, k: int, among: np.ndarray | None = None) -> pa.Table:
    """Append ``k`` exact copies of random rows (duplicate PKs whose
    survivor is unambiguous), drawn from row indices ``among``."""
    pool = np.arange(table.num_rows) if among is None else among
    return pa.concat_tables([table, table.take(rng.choice(pool, k))])


def dirty_orders(rng: np.random.Generator, t: pa.Table, frac: float) -> pa.Table:
    k = max(1, int(t.num_rows * frac))
    picks = _pick(rng, t.num_rows, 3 * k)
    t = _replace(t, "o_orderkey", picks[0::3])
    t = _replace(t, "o_orderdate", picks[1::3])
    neg = picks[2::3]
    t = _replace(t, "o_totalprice", neg, -(np.arange(len(neg)) % 5).astype("float64"))
    return _dup_rows(rng, t, k)


def dirty_items(rng: np.random.Generator, t: pa.Table, frac: float, orphan_key0: int) -> pa.Table:
    k = max(1, int(t.num_rows * frac))
    picks = _pick(rng, t.num_rows, 3 * k)
    t = _replace(t, "l_shipdate", picks[0::3])
    t = _replace(t, "l_linenumber", picks[1::3])
    orphan = picks[2::3]
    t = _replace(t, "l_orderkey", orphan, orphan_key0 + np.arange(len(orphan)))
    # duplicate only rows whose key is intact, so each copy's key is real
    return _dup_rows(rng, t, k, among=np.flatnonzero(np.asarray(t["l_linenumber"].is_valid())))


CORRUPT_NAME = "order_items_zz_corrupt.parquet"


@dataclass
class Drop:
    """One landing cycle's files and its expected outcome."""

    files: dict[str, pa.Table]  # file name -> table (corrupt drop excluded)
    corrupt: bool
    expected: dict = field(default_factory=dict)


def land(drop: Drop, landing: str) -> tuple[int, int]:
    """Write a drop into the landing zone; returns (rows, bytes) landed."""
    rows = size = 0
    for name, t in drop.files.items():
        size += write_table(t, os.path.join(landing, name))
        rows += t.num_rows
    if drop.corrupt:
        os.makedirs(landing, exist_ok=True)
        with open(os.path.join(landing, CORRUPT_NAME), "wb") as f:
            f.write(b"PAR1 this is not a parquet file PAR1")
    return rows, size


def dataset_of(name: str) -> str:
    return "order_items" if name.startswith("order_items") else name.split("_")[0]


def _expect(model: LakeModel, drop: Drop) -> None:
    stages = {}
    for ds in DATASETS:
        for name, t in sorted(drop.files.items()):
            if dataset_of(name) == ds:
                stages[name] = model.apply(ds, t)
    drop.expected = {
        "archived": sorted(drop.files),
        "quarantined": [CORRUPT_NAME] if drop.corrupt else [],
        "stages": stages,
        **model.snapshot(),
    }


def clean_tables(seed: int, orders: int) -> dict[str, pa.Table]:
    """products, orders and order_items of ``orders`` orders, no dirt."""
    r = seeded_rng(seed, "base")
    n_cust, n_part, n_supp = _dims(orders)
    o = orders_table(r, np.arange(orders), n_cust)
    return {
        "products": part_table(r, np.arange(n_part)),
        "orders": o,
        "order_items": lineitem_table(r, o, n_part, n_supp),
    }


def preloaded_model(base: dict[str, pa.Table]) -> LakeModel:
    model = LakeModel()
    for ds, t in base.items():
        model.load(ds, t)
    return model


def cdc_drops(seed: int, base: dict[str, pa.Table], cycles: int) -> list[Drop]:
    """``cycles`` CDC drops in sequence against the preloaded lake
    ``base``: per cycle ~1% of the orders updated and ~0.5% inserted,
    the inserts' items plus re-sent lines of some updated orders, and
    a little dirt (null PK / timestamp, non-positive totals, orphan
    FKs, duplicate PKs). The last cycle also lands one corrupt file,
    which must be quarantined. Each drop's expectation is the lake
    after it."""
    model = preloaded_model(base)
    next_key = int(base["orders"]["o_orderkey"].to_numpy().max()) + 1
    n_cust, _, n_supp = _dims(base["orders"].num_rows)
    n_part = base["products"].num_rows
    drops = []
    for cycle in range(cycles):
        r = seeded_rng(seed, "cdc", cycle)
        existing = np.fromiter(model.curated["orders"], "int64")
        n_upd = max(1, int(len(existing) * CDC_UPDATE_FRAC))
        n_ins = max(1, int(len(existing) * CDC_INSERT_FRAC))
        upd_keys = np.sort(r.choice(existing, n_upd, replace=False))
        o = orders_table(r, np.concatenate([upd_keys, np.arange(next_key, next_key + n_ins)]), n_cust)
        next_key += n_ins
        items_new = lineitem_table(r, o.slice(n_upd), n_part, n_supp)
        items_upd = lineitem_table(r, o.slice(0, n_upd // 2), n_part, n_supp)
        items_upd = items_upd.filter(pc.equal(items_upd["l_linenumber"], 1))
        drop = Drop(
            files={
                f"orders_{cycle + 1:04d}.parquet": dirty_orders(r, o, 0.02),
                f"order_items_{cycle + 1:04d}.parquet": dirty_items(
                    r, pa.concat_tables([items_new, items_upd]), 0.01, orphan_key0=10**9 + cycle * 10**5
                ),
            },
            corrupt=cycle == cycles - 1,
        )
        _expect(model, drop)
        drops.append(drop)
    return drops


# ------------------------------------------------------------- queries


def rowset_digest(cols: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result, with the registry's
    cross-engine normalization (columns sorted by name, Decimal
    normalized, floats by repr)."""
    from decimal import Decimal

    def norm(v):
        if isinstance(v, Decimal):
            return ("dec", str(v.normalize()))
        if isinstance(v, float):
            return ("f", "nan" if math.isnan(v) else repr(v))
        if isinstance(v, bool) or not isinstance(v, int):
            return ("o", str(v))
        return ("i", v)

    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    body = sorted(tuple(norm(r[i]) for i in idx) for r in rows)
    head = [cols[i] for i in idx]
    return hashlib.sha256(repr((head, body)).encode()).hexdigest()[:16]


def oracle_digests(sf_dir: str, names: list[str]) -> dict[str, str]:
    """Expected digest per query from its DuckDB oracle."""
    import duckdb

    from lakehouse_architecture_transaction_spark.catalog import TABLES, table_path
    from lakehouse_architecture_transaction_spark.plans import REGISTRY

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{table_path(sf_dir, t)}')")
        out = {}
        for name in names:
            res = con.execute(REGISTRY[name].oracle)
            out[name] = rowset_digest([d[0] for d in res.description], res.fetchall())
        return out
    finally:
        con.close()
