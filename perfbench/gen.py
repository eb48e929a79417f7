"""Seeded input generator for the benchmark workloads.

Every input is a function of the seed alone, written into a directory
that is new for each call: a file is never rewritten in place, so the
program's ``(path, mtime)``-keyed binlog memo can never replay a stale
recording.

* ``changelog(...)`` writes one ``events.parquet`` shaped as a MySQL
  changelog: pk Zipf-skewed over a key domain, update-heavy op mix with
  a few inserts and deletes, ops in same-op runs (so a binlog
  transaction carries several rows), a sprinkle of NULL pk and NULL
  value rows, and ``event_id`` = 0..n-1 in log order.
* ``fixture(...)`` writes the ten tables of the engine's fixture schema
  (TPC-H-ish star + events + documents + embeddings) with the value
  domains the registered queries filter on, each table written with
  many row groups.

Both return the statistics the benchmark reports next to its metrics.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: update-heavy op mix; each op maps to the event_type the program's
#: changelog decode turns back into it (signup->insert, error->delete).
_OPS = (("update", 0.85), ("insert", 0.10), ("delete", 0.05))
_UPDATE_TYPES = ("click", "view", "purchase")
_EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
_WORDS = (
    "a the join hash row batch scan column customer filter small slow merge "
    "order vector line table data agg value key stream window spark part "
    "group big sort query fast"
).split()
_LANGS = (("en", 0.44), ("es", 0.14), ("fr", 0.14), ("de", 0.14), ("zh", 0.14))
_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_ROW_GROUPS = 16


def new_dir(root: str, tag: str) -> str:
    """A directory that did not exist before this call."""
    path = os.path.join(root, f"{tag}-{uuid.uuid4().hex[:12]}")
    os.makedirs(path)
    return path


def _write(table: pa.Table, path: str) -> int:
    """Write ``table`` with ~_ROW_GROUPS row groups; return the count."""
    rg = max(1, -(-table.num_rows // _ROW_GROUPS))
    pq.write_table(table, path, row_group_size=rg)
    return pq.ParquetFile(path).metadata.num_row_groups


def _choice(rng, pairs, n):
    names, probs = zip(*pairs)
    return np.asarray(names, dtype=object)[rng.choice(len(names), n, p=probs)]


def _events_table(rng, ids, user_id, event_type, with_nulls: bool) -> pa.Table:
    n = len(ids)
    ts0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(259_000_000 * 10_000 / max(n, 1), n).astype("int64")
    ts = ts0 + np.cumsum(gaps).astype("timedelta64[us]")
    value = np.round(rng.exponential(50.0, n) + 0.01, 2)
    uid_mask = val_mask = None
    if with_nulls:
        uid_mask = rng.random(n) < 0.005
        val_mask = rng.random(n) < 0.01
    props = [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]
    return pa.table(
        {
            "event_id": pa.array(ids, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(user_id, pa.int64(), mask=uid_mask),
            "event_type": pa.array(event_type, pa.string()),
            "value": pa.array(value, pa.float64(), mask=val_mask),
            "props": pa.array(props, pa.string()),
        }
    )


def changelog(out_dir: str, seed: int, events: int, keys: int,
              zipf_s: float = 1.1, mean_run: float = 8.0) -> dict:
    """Write ``out_dir/events.parquet`` as a seeded changelog; return stats."""
    rng = np.random.default_rng([seed, 1])
    ranks = np.arange(1, keys + 1, dtype=np.float64)
    p = ranks ** -zipf_s
    pk_of_rank = rng.permutation(keys)
    pk = pk_of_rank[rng.choice(keys, events, p=p / p.sum())]
    runs = []
    total = 0
    while total < events:
        n = int(min(rng.geometric(1.0 / mean_run), events - total))
        runs.append(n)
        total += n
    run_ops = _choice(rng, _OPS, len(runs))
    ops = np.repeat(run_ops, runs)
    etype = np.where(
        ops == "insert", "signup",
        np.where(ops == "delete", "error",
                 np.asarray(_UPDATE_TYPES)[rng.integers(0, 3, events)]),
    )
    tbl = _events_table(rng, np.arange(events), pk, etype, with_nulls=True)
    groups = _write(tbl, os.path.join(out_dir, "events.parquet"))
    counts = np.bincount(pk, minlength=keys)
    same_op_runs = int((run_ops[1:] != run_ops[:-1]).sum()) + 1
    top = np.sort(counts)[::-1]
    return {
        "events": events,
        "row_groups": groups,
        "keys_touched": int((counts > 0).sum()),
        "pk_top1_share": round(float(top[0]) / events, 4),
        "pk_top1pct_share": round(float(top[: max(1, keys // 100)].sum()) / events, 4),
        "op_mix": {op: round(float((ops == op).mean()), 4) for op, _ in _OPS},
        "op_runs": len(runs),
        "mean_op_run": round(events / len(runs), 2),
        # adjacent runs of one op are one statement run on the binlog
        "same_op_runs": same_op_runs,
        "mean_same_op_run": round(events / same_op_runs, 2),
        "null_pk": int(tbl.column("user_id").null_count),
        "null_value": int(tbl.column("value").null_count),
    }


def fixture(out_dir: str, seed: int, sf: float, docs: int, vectors: int) -> dict:
    """Write the ten fixture tables at scale ``sf``; return stats."""
    rng = np.random.default_rng([seed, 2])
    n_cust = int(150_000 * sf)
    n_supp = max(10, int(10_000 * sf))
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_line = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    day = np.timedelta64(1, "D")
    d0 = np.datetime64("1995-01-01", "D")
    tables: dict[str, pa.Table] = {}

    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": list(_REGIONS),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": np.asarray(_SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    retail = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.asarray(names)[rng.integers(0, len(names), n_part)],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.asarray(_PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": retail,
    })
    odate = d0 + rng.integers(0, 2404, n_ord) * day
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.asarray(("F", "O", "P"))[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": np.asarray(_PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    l_order = rng.integers(0, n_ord, n_line)
    l_part = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    ship = odate[l_order] + rng.integers(1, 122, n_line) * day
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(l_part, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * retail[l_part] * rng.uniform(0.9, 2.3, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": np.asarray(("A", "N", "R"))[rng.integers(0, 3, n_line)],
        "l_linestatus": np.asarray(("F", "O"))[rng.integers(0, 2, n_line)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    users = max(50, int(15_000 * sf))
    tables["events"] = _events_table(
        rng, np.arange(n_ev), rng.integers(0, users, n_ev),
        np.asarray(_EVENT_TYPES)[rng.integers(0, 5, n_ev)], with_nulls=False,
    )
    tables["documents"] = _documents(rng, docs)
    tables["embeddings"] = _embeddings(rng, vectors)

    stats: dict = {"sf": sf, "rows": {}, "row_groups": {}}
    for name, tbl in tables.items():
        stats["rows"][name] = tbl.num_rows
        stats["row_groups"][name] = _write(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return stats


def _documents(rng, n: int) -> pa.Table:
    """Word-salad corpus with near-duplicate (copy + " dup") and exact
    duplicate documents, so the dedup keys have real pairs to find."""
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.08:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and r < 0.09:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 100))
            texts.append(" ".join(np.asarray(_WORDS)[rng.integers(0, len(_WORDS), k)]))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": _choice(rng, _LANGS, n).astype(str),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) + int(rng.integers(-5, 6)) for t in texts], pa.int64()),
    })


def _embeddings(rng, n: int, dim: int = 64, labels: int = 10) -> pa.Table:
    """Unit vectors scattered around ``labels`` cluster centres."""
    centres = rng.normal(0.0, 1.0, (labels, dim))
    label = rng.integers(0, labels, n)
    x = 0.15 * centres[label] + rng.normal(0.0, 1.0, (n, dim))
    x = (x / np.linalg.norm(x, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(x), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })
