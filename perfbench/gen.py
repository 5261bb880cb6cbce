"""Seeded input generators for the benchmark.

Every input a run uses is made here from the run's seed; the program
only ever receives the generated files. The same seed gives the same
bytes. Sizes and shapes come from `SIZES` in run.py.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def rng_for(seed, stream):
    """An independent generator per input, so one input's size never
    shifts another's values."""
    return np.random.default_rng([seed, stream])


# ------------------------------------------------------------------ events

def event_names(rng, n, cardinality, drop_share):
    """Event names: a Zipf-like mix over `cardinality` names, plus a
    `drop_share` of `noise` events the pipeline's match/drop removes."""
    weights = 1.0 / np.arange(1, cardinality + 1) ** 0.8
    names = rng.choice(cardinality, size=n, p=weights / weights.sum())
    noise = rng.random(n) < drop_share
    return ["noise" if z else f"n{x}" for x, z in zip(names, noise)]


def write_events(path, rng, first_id, n, cardinality, width, drop_share):
    """NDJSON events `{n, d: {id, k, f0..f<width-1>}}` with unique,
    increasing ids. Returns (ids, names) of the events written."""
    names = event_names(rng, n, cardinality, drop_share)
    ks = rng.integers(0, 1000, size=n)
    pad = rng.integers(0, 1 << 30, size=(n, width))
    ids = list(range(first_id, first_id + n))
    with open(path, "w") as f:
        for i in range(n):
            d = {"id": ids[i], "k": int(ks[i])}
            for j in range(width):
                d[f"f{j}"] = f"{pad[i, j]:x}"
            f.write(json.dumps({"n": names[i], "d": d}, separators=(",", ":")))
            f.write("\n")
    return ids, names


# -------------------------------------------------------------------- lake

def table(keys, vals, payload_width, rng):
    pad = rng.integers(0, 1 << 30, size=len(keys))
    return pa.table({
        "k": pa.array(np.asarray(keys, dtype=np.int64)),
        "v": pa.array(np.asarray(vals, dtype=np.int64)),
        "p": pa.array([f"{x:x}" * payload_width for x in pad]),
    })


def skewed_pick(rng, live_sorted, size, skew):
    """`size` distinct live keys, the low keys far more likely (Zipf
    weights over key rank): merges and deletes hit a few hot files."""
    size = min(size, len(live_sorted))
    w = 1.0 / np.arange(1, len(live_sorted) + 1) ** skew
    return rng.choice(live_sorted, size=size, replace=False, p=w / w.sum())


def lake_ops(out_dir, rng, rows, cycles, append, merge, merge_new, delete, skew, width):
    """lake_churn's initial table and its op sequence, one set of files
    per cycle: `c<i>-append`, `c<i>-merge` (upserts, some new keys),
    `c<i>-dmor` and `c<i>-del` (keys to delete, merge-on-read and
    copy-on-write). Keys are chosen from the live rows of a model run
    alongside, so every op acts on rows that exist."""
    os.makedirs(out_dir, exist_ok=True)
    live = {}
    keys = np.arange(rows, dtype=np.int64)
    vals = rng.integers(0, 1 << 40, size=rows)
    pq.write_table(table(keys, vals, width, rng), f"{out_dir}/init.parquet")
    live.update(zip(keys.tolist(), vals.tolist()))
    next_key = rows
    for c in range(cycles):
        ak = np.arange(next_key, next_key + append, dtype=np.int64)
        next_key += append
        av = rng.integers(0, 1 << 40, size=append)
        pq.write_table(table(ak, av, width, rng), f"{out_dir}/c{c}-append.parquet")
        live.update(zip(ak.tolist(), av.tolist()))

        srt = np.array(sorted(live), dtype=np.int64)
        n_new = int(merge * merge_new)
        mk = np.concatenate([skewed_pick(rng, srt, merge - n_new, skew),
                             np.arange(next_key, next_key + n_new, dtype=np.int64)])
        next_key += n_new
        mv = rng.integers(0, 1 << 40, size=len(mk))
        pq.write_table(table(mk, mv, width, rng), f"{out_dir}/c{c}-merge.parquet")
        live.update(zip(mk.tolist(), mv.tolist()))

        for op in ("dmor", "del"):
            srt = np.array(sorted(live), dtype=np.int64)
            dk = skewed_pick(rng, srt, delete, skew)
            pq.write_table(pa.table({"k": pa.array(dk.astype(np.int64))}),
                           f"{out_dir}/c{c}-{op}.parquet")
            for k in dk.tolist():
                del live[k]


def serve_ops(out_dir, rng, rows, edit, width):
    """query_serve's table: an initial load, an upsert of `edit` rows and
    a merge-on-read delete of `edit / 2` keys, so three versions to read.
    Returns (ops, ranges) for the config: the edits in order and two key
    ranges of 5% of the key space each."""
    os.makedirs(out_dir, exist_ok=True)
    keys = np.arange(rows, dtype=np.int64)
    pq.write_table(table(keys, rng.integers(0, 1 << 40, size=rows), width, rng),
                   f"{out_dir}/init.parquet")
    mk = np.sort(rng.choice(keys, size=edit, replace=False))
    pq.write_table(table(mk, rng.integers(0, 1 << 40, size=edit), width, rng),
                   f"{out_dir}/op0.parquet")
    dk = np.sort(rng.choice(keys, size=edit // 2, replace=False))
    pq.write_table(pa.table({"k": pa.array(dk)}), f"{out_dir}/op1.parquet")
    ops = [{"op": "merge", "file": "op0.parquet"}, {"op": "delete_mor", "file": "op1.parquet"}]
    ranges = [[int(lo), int(lo + rows // 20)] for lo in rng.integers(0, rows - rows // 20, size=2)]
    return ops, ranges


# --------------------------------------------------------------------- ann

def embeddings(path, rng, n, dim=64, clusters=64, spread=0.8):
    """A clustered embedding corpus: `clusters` random unit centres, each
    vector a centre plus Gaussian noise. Clusters give the ANN indexes
    structure to find; the noise keeps exact neighbours non-trivial."""
    centres = rng.normal(size=(clusters, dim))
    centres /= np.linalg.norm(centres, axis=1, keepdims=True)
    member = rng.integers(0, clusters, size=n)
    vecs = (centres[member] + rng.normal(scale=spread / np.sqrt(dim), size=(n, dim))
            ).astype(np.float32)
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array((member % 10).astype(np.int32)),
    }), path)


# ----------------------------------------------------------------- battery

def battery_tables(out_dir, rng, orders, customers, events, event_types):
    """TPC-H-like lineitem/orders/customer and an events table with the
    columns the battery subset reads, at the given scale."""
    os.makedirs(out_dir, exist_ok=True)
    base = np.datetime64("1995-01-01T00:00:00", "us")
    ck = np.arange(1, customers + 1, dtype=np.int64)
    pq.write_table(pa.table({
        "c_custkey": ck,
        "c_name": [f"Customer#{k:09d}" for k in ck],
        "c_nationkey": rng.integers(0, 25, size=customers).astype(np.int32),
        "c_acctbal": np.round(rng.uniform(-999, 9999, size=customers), 2),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                    "MACHINERY"], size=customers),
    }), f"{out_dir}/customer.parquet")

    ok = np.arange(1, orders + 1, dtype=np.int64)
    odate = base + rng.integers(0, 2400, size=orders).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "o_orderkey": ok,
        "o_custkey": rng.integers(1, customers + 1, size=orders).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], size=orders),
        "o_totalprice": np.round(rng.uniform(1000, 400000, size=orders), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                       "5-LOW"], size=orders),
    }), f"{out_dir}/orders.parquet")

    lines = rng.integers(1, 8, size=orders)
    lok = np.repeat(ok, lines)
    n = len(lok)
    lnum = np.concatenate([np.arange(1, c + 1) for c in lines]).astype(np.int32)
    ship = np.repeat(odate, lines) + rng.integers(1, 120, size=n).astype("timedelta64[D]")
    pq.write_table(pa.table({
        "l_orderkey": lok,
        "l_partkey": rng.integers(1, max(2, orders // 5), size=n).astype(np.int64),
        "l_suppkey": rng.integers(1, max(2, orders // 100), size=n).astype(np.int64),
        "l_linenumber": lnum,
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100000, size=n), 2),
        "l_discount": rng.integers(0, 11, size=n) / 100.0,
        "l_tax": rng.integers(0, 9, size=n) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], size=n),
        "l_linestatus": rng.choice(["F", "O"], size=n),
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    }), f"{out_dir}/lineitem.parquet")

    ts = base + np.sort(rng.integers(0, 30 * 86400 * 10**6, size=events)).astype("timedelta64[us]")
    types = [f"type{i}" for i in range(event_types)]
    pq.write_table(pa.table({
        "event_id": np.arange(events, dtype=np.int64),
        "ts": pa.array(ts),
        "user_id": rng.integers(1, 1000, size=events).astype(np.int64),
        "event_type": rng.choice(types, size=events),
        "value": np.round(rng.uniform(0, 100, size=events), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, size=events)],
    }), f"{out_dir}/events.parquet")
