"""Seeded input generator for the benchmark — numpy, pyarrow and json
only, so the engine under test never computes its own inputs or its
own oracle.

Everything is a pure function of ``seed``: the same seed writes
byte-identical files (each table and each changeset draws from its own
``default_rng([seed, stream])`` so adding a table never shifts another
table's values). Shapes follow the sf0.1 fixture: uniform TPC-H-like
columns, a time-ordered event log, a 30-word templated corpus with ~5 %
near-duplicates, and unit-norm 64-d embeddings.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1 row counts (FIXTURES.md).
ROWS = {
    "supplier": 1_000,
    "customer": 15_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

_STREAM = {name: i for i, name in enumerate(
    ["region", "nation", "supplier", "customer", "part", "orders", "lineitem",
     "events", "documents", "embeddings", "sync", "stream"]
)}

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()

_US = np.timedelta64(1, "us")
_DAY_US = 86_400_000_000


def _rng(seed: int, stream: str, *sub: int) -> np.random.Generator:
    return np.random.default_rng([seed, _STREAM[stream], *sub])


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us")
    return pa.array(start + offsets_us.astype(np.int64) * _US, pa.timestamp("us"))


def _pick(rng, values, n, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)],
                    pa.string())


def _money(rng, lo, hi, n) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


# --- fixture tables ---------------------------------------------------------


def _region(seed):
    return pa.table({"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": pa.array(_REGIONS)})


def _nation(seed):
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _supplier(seed):
    n, rng = ROWS["supplier"], _rng(seed, "supplier")
    return pa.table({
        "s_suppkey": pa.array(np.arange(n), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
    })


def customer_rows(seed: int, keys: np.ndarray, rng=None) -> dict:
    """Customer column arrays for ``keys`` (also used for upserts)."""
    rng = rng or _rng(seed, "customer")
    n = len(keys)
    return {
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array([f"Customer#{int(k):09d}" for k in keys]),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n)),
        "c_mktsegment": _pick(rng, _SEGMENTS, n),
    }


def _customer(seed):
    return pa.table(customer_rows(seed, np.arange(ROWS["customer"])))


def orders_rows(seed: int, keys: np.ndarray, rng=None) -> dict:
    """Orders column arrays for ``keys`` (also used for upserts)."""
    rng = rng or _rng(seed, "orders")
    n = len(keys)
    return {
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, ROWS["customer"], n), pa.int64()),
        "o_orderstatus": _pick(rng, _STATUS, n),
        "o_totalprice": pa.array(_money(rng, 1000, 500000, n)),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2405, n) * _DAY_US),
        "o_orderpriority": _pick(rng, _PRIORITY, n),
    }


def _orders(seed):
    return pa.table(orders_rows(seed, np.arange(ROWS["orders"])))


def _lineitem(seed):
    n, rng = ROWS["lineitem"], _rng(seed, "lineitem")
    flags = ["A", "N", "R"]
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, ROWS["orders"], n), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, ROWS["part"], n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, ROWS["supplier"], n), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900, 105000, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": _pick(rng, flags, n),
        "l_linestatus": _pick(rng, ["F", "O"], n),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n) * _DAY_US),
    })


def _events(seed):
    n, rng = ROWS["events"], _rng(seed, "events")
    offsets = np.sort(rng.choice(30 * _DAY_US, n, replace=False))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": _ts("2024-01-01", offsets),
        "user_id": pa.array(rng.integers(0, 1500, n), pa.int64()),
        "event_type": _pick(rng, _EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })


def _documents(seed):
    n, rng = ROWS["documents"], _rng(seed, "documents")
    lens = rng.integers(10, 101, n)
    texts = [" ".join(np.asarray(_VOCAB)[rng.integers(0, len(_VOCAB), k)]) for k in lens]
    # ~5 % near-duplicates: a copy of an earlier document plus one token.
    for i in rng.choice(np.arange(1, n), n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(seed):
    n, rng = ROWS["embeddings"], _rng(seed, "embeddings")
    m = rng.standard_normal((n, 64))
    m = (m / np.linalg.norm(m, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(m), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n), pa.int32()),
    })


TABLES = {
    "region": _region, "nation": _nation, "supplier": _supplier,
    "customer": _customer, "orders": _orders,
    "lineitem": _lineitem, "events": _events, "documents": _documents,
    "embeddings": _embeddings,
}


def write_tables(out_dir: str, seed: int, names) -> None:
    """Write ``{out_dir}/{name}.parquet`` for each table in ``names``."""
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        pq.write_table(TABLES[name](seed), os.path.join(out_dir, f"{name}.parquet"))


# --- changesets -------------------------------------------------------------

SYNC_TABLES = {"orders": "o_orderkey", "customer": "c_custkey"}
_ROW_FNS = {"orders": orders_rows, "customer": customer_rows}


class _Replica:
    """Last-writer-wins model of one table: key -> row tuple."""

    def __init__(self, table: pa.Table, key: str) -> None:
        self.key = key
        self.columns = table.column_names
        self.schema = table.schema
        cols = [table.column(c).to_pylist() for c in self.columns]
        self.rows = {r[0]: r for r in zip(*cols)}
        self.next_key = max(self.rows) + 1

    def snapshot(self) -> pa.Table:
        rows = [self.rows[k] for k in sorted(self.rows)]
        return pa.table(
            {c: [r[i] for r in rows] for i, c in enumerate(self.columns)},
            schema=self.schema,
        )


def _changeset(rng, seed, table, model: _Replica, n_touch, ts0):
    """One changeset's records as ``(ts, key, action, row|None)``:
    ~10 % deletes, ~10 % fresh-key inserts, the rest updates, and ~5 %
    of touched keys changed 2–3 times. ``ts`` values are unique, so the
    last writer by ``meta.ts`` is unambiguous."""
    n_del = n_ins = max(1, n_touch // 10)
    n_upd = n_touch - n_del - n_ins
    live = np.fromiter(model.rows, np.int64, len(model.rows))
    chosen = rng.choice(live, n_del + n_upd, replace=False)
    inserts = np.arange(model.next_key, model.next_key + n_ins, dtype=np.int64)
    model.next_key += n_ins
    plan = [(int(k), "D") for k in chosen[:n_del]]
    plan += [(int(k), "U") for k in chosen[n_del:]]
    plan += [(int(k), "U") for k in inserts]
    for i in rng.choice(len(plan), max(1, len(plan) // 20), replace=False):
        k = plan[i][0]
        for _ in range(int(rng.integers(1, 3))):
            plan.append((k, "D" if rng.random() < 0.3 else "U"))
    upsert_keys = np.array([k for k, a in plan if a == "U"], np.int64)
    cols = _ROW_FNS[table](seed, upsert_keys, rng)
    names = list(cols)
    values = list(zip(*[cols[c].to_pylist() for c in names]))
    ts = ts0 + rng.permutation(len(plan))
    it = iter(values)
    return [
        (int(t), k, a, next(it) if a == "U" else None)
        for t, (k, a) in zip(ts, plan)
    ]


def _apply(model: _Replica, records) -> None:
    for _, k, action, row in sorted(records, key=lambda r: r[0]):
        if action == "D":
            model.rows.pop(k, None)
        else:
            model.rows[k] = row


def _envelope(key_col, columns, record) -> str:
    ts, k, action, row = record
    rec = {"key": {key_col: k}, "meta": {"action": action, "ts": ts}}
    if row is not None:
        rec["value"] = {
            c: (v.isoformat(sep=" ") if isinstance(v, dt.datetime) else v)
            for c, v in zip(columns[1:], row[1:])
        }
    return json.dumps(rec, sort_keys=True)


def _write_parts(path: str, lines: list[str], parts: int) -> None:
    os.makedirs(path, exist_ok=True)
    for p in range(parts):
        with open(os.path.join(path, f"part-{p:05d}.jsonl"), "w") as fh:
            fh.writelines(line + "\n" for line in lines[p::parts])


def write_sync_inputs(src_dir: str, out_dir: str, seed: int, schedule) -> dict:
    """Changesets for ``schedule`` (a list of per-cycle churn fractions)
    under ``{out_dir}/cycle{i}/{table}/part-*.jsonl``, in shuffled
    order across 4 parts, plus the expected snapshot once every cycle is
    applied at ``{out_dir}/expected/{table}.parquet``.
    Returns {"records": per-cycle record counts}."""
    models = {
        t: _Replica(pq.read_table(os.path.join(src_dir, f"{t}.parquet")), k)
        for t, k in SYNC_TABLES.items()
    }
    base_rows = {t: len(m.rows) for t, m in models.items()}
    records_per_cycle = []
    ts0 = 1
    for i, frac in enumerate(schedule):
        n = 0
        for t, key in SYNC_TABLES.items():
            rng = _rng(seed, "sync", i, list(SYNC_TABLES).index(t))
            recs = _changeset(rng, seed, t, models[t], round(frac * base_rows[t]), ts0)
            ts0 += len(recs)
            n += len(recs)
            order = rng.permutation(len(recs))
            cols = models[t].columns
            _write_parts(os.path.join(out_dir, f"cycle{i}", t),
                         [_envelope(key, cols, recs[j]) for j in order], 4)
            _apply(models[t], recs)
        records_per_cycle.append(n)
    exp = os.path.join(out_dir, "expected")
    os.makedirs(exp, exist_ok=True)
    for t, m in models.items():
        pq.write_table(m.snapshot(), os.path.join(exp, f"{t}.parquet"))
    return {"records": records_per_cycle}


def write_stream_inputs(src_dir: str, out_dir: str, seed: int, batches: int,
                        per_batch: int) -> dict:
    """One ~``per_batch``-record JSONL file per micro-batch for
    ``orders`` at ``{out_dir}/batch{i:05d}.jsonl`` (landed by the
    workload a round at a time), plus the expected snapshot once every
    batch is applied at ``{out_dir}/expected/orders.parquet``."""
    model = _Replica(pq.read_table(os.path.join(src_dir, "orders.parquet")), "o_orderkey")
    n_touch = round(per_batch / 1.05)
    ts0 = 1
    counts = []
    for i in range(batches):
        rng = _rng(seed, "stream", i)
        recs = _changeset(rng, seed, "orders", model, n_touch, ts0)
        ts0 += len(recs)
        order = rng.permutation(len(recs))
        with open(os.path.join(out_dir, f"batch{i:05d}.jsonl"), "w") as fh:
            fh.writelines(_envelope("o_orderkey", model.columns, recs[j]) + "\n"
                          for j in order)
        _apply(model, recs)
        counts.append(len(recs))
    exp = os.path.join(out_dir, "expected")
    os.makedirs(exp, exist_ok=True)
    pq.write_table(model.snapshot(), os.path.join(exp, "orders.parquet"))
    return {"records": counts}
