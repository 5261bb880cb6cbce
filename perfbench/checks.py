"""Correctness checks, computed apart from the program.

Each check returns a list of error strings (empty = pass):
- replay: DuckDB over the generated NDJSON gives the per-window
  aggregates both jq tiers must equal;
- stream: every kept event delivered exactly once (count, id sum,
  per-name counts, no duplicates);
- lake: a plain model of the live rows replays the op sequence and
  checks each `changeFeed(v-1, v)` and the table after every cycle;
- serve: the same model gives each version, range and change-feed read;
- ann: recall against an exact numpy top-k, with Verify's floors;
- battery: each query against its oracle SQL in DuckDB.
"""
import collections
import csv
import glob
import json
import math
import os

import duckdb
import numpy as np
import pyarrow.parquet as pq

# recall floors, as the program's own Verify gate sets them
RECALL_FLOORS = {"lsh": 0.7, "pq": 0.7, "ivf": 0.7, "binary": 0.7}


def read_csv(path):
    with open(path) as f:
        return [row for row in csv.reader(f) if row]


# ------------------------------------------------------------------ replay

def replay_oracle(ndjson, window):
    """Per-name count windows over the kept events, in file order."""
    con = duckdb.connect()
    rows = con.execute(f"""
        WITH e AS (
          SELECT n, CAST(json_extract(d, '$.k') AS BIGINT) AS k,
                 CAST(json_extract(d, '$.id') AS BIGINT) AS id
          FROM read_json('{ndjson}', format='newline_delimited',
                         columns={{'n': 'VARCHAR', 'd': 'JSON'}})
          WHERE n <> 'noise'),
        f AS (SELECT n, k, id, ROW_NUMBER() OVER (PARTITION BY n ORDER BY id) AS rn FROM e)
        SELECT 'app.' || n, CAST(SUM(k) AS BIGINT), COUNT(*), MIN(id)
        FROM f GROUP BY n, (rn - 1) // {window}""").fetchall()
    con.close()
    return sorted(tuple(str(x) for x in r) for r in rows)


def check_replay(expected, got_csv, tier):
    got = sorted(tuple(r) for r in read_csv(got_csv))
    if got == expected:
        return []
    missing = len(set(expected) - set(got))
    extra = len(set(got) - set(expected))
    return [f"replay[{tier}]: {len(got)} windows vs {len(expected)} expected "
            f"({missing} missing, {extra} wrong)"]


# ------------------------------------------------------------------ stream

def kept_events(ndjson):
    out = []
    with open(ndjson) as f:
        for line in f:
            e = json.loads(line)
            if e["n"] != "noise":
                out.append((e["d"]["id"], "app." + e["n"]))
    return out


def check_stream(kept, got_csv, what):
    got = [(int(i), n) for i, n in read_csv(got_csv)]
    errs = []
    if len(got) != len(kept):
        errs.append(f"{what}: delivered {len(got)} events, expected {len(kept)}")
    if sum(i for i, _ in got) != sum(i for i, _ in kept):
        errs.append(f"{what}: id sum differs")
    if collections.Counter(n for _, n in got) != collections.Counter(n for _, n in kept):
        errs.append(f"{what}: per-name counts differ")
    if len(set(i for i, _ in got)) != len(got):
        errs.append(f"{what}: an event was delivered twice")
    return errs


# -------------------------------------------------------------------- lake

def load_kv(path):
    t = pq.read_table(path)
    return dict(zip(t.column("k").to_pylist(), t.column("v").to_pylist()))


def load_keys(path):
    return pq.read_table(path).column("k").to_pylist()


class LakeModel:
    """The live rows of a ManifestLog table as a plain dict k -> v."""

    def __init__(self, rows):
        self.rows = dict(rows)

    def apply(self, op, path):
        """Apply one op; return its net change (inserted, deleted) as
        Counters of (k, v)."""
        before = dict(self.rows)
        if op in ("append", "merge"):
            self.rows.update(load_kv(path))
        elif op in ("delete_mor", "dmor", "delete", "del"):
            for k in load_keys(path):
                self.rows.pop(k, None)
        ins = collections.Counter((k, v) for k, v in self.rows.items() if before.get(k) != v)
        dels = collections.Counter((k, v) for k, v in before.items() if self.rows.get(k) != v)
        return ins, dels


def net_feed(rows):
    """Net (inserted, deleted) of change-feed rows (k, v, type): a row
    both deleted and re-inserted in one version (a rewrite) cancels."""
    ins = collections.Counter()
    dels = collections.Counter()
    for k, v, t in rows:
        (ins if t == "insert" else dels)[(int(k), int(v))] += 1
    common = ins & dels
    return ins - common, dels - common


OP_FILES = {"append": "append", "merge": "merge", "delete_mor": "dmor", "delete": "del"}


def check_lake(ops_dir, work):
    """Replay the executed op log against the model."""
    errs = []
    model = LakeModel(load_kv(f"{ops_dir}/init.parquet"))
    log = read_csv(f"{work}/lake_ops.csv")
    cycles = []
    for c, name, before, after in log:
        c, before, after = int(c), int(before), int(after)
        if name in OP_FILES:
            ins, dels = model.apply(name, f"{ops_dir}/c{c}-{OP_FILES[name]}.parquet")
        else:  # compact, checkpoint and vacuum change no row
            ins, dels = collections.Counter(), collections.Counter()
        if after > before:
            got_ins, got_dels = net_feed(read_csv(f"{work}/lake_cf_{after}.csv"))
            if (got_ins, got_dels) != (ins, dels):
                errs.append(f"lake: changeFeed({after - 1}, {after}) after {name} of cycle {c}: "
                            f"{sum(got_ins.values())}+/{sum(got_dels.values())}- vs model "
                            f"{sum(ins.values())}+/{sum(dels.values())}-")
        elif ins or dels:
            errs.append(f"lake: {name} of cycle {c} committed no version")
        if name == "vacuum":
            cycles.append(c)
            rows = read_csv(f"{work}/lake_read_{c}.csv")
            got = {int(k): int(v) for k, v in rows}
            n_read = len(rows)
            if got != model.rows or n_read != len(model.rows):
                errs.append(f"lake: read after cycle {c}: {n_read} rows vs model "
                            f"{len(model.rows)} ({len(set(got.items()) ^ set(model.rows.items()))} differ)")
    if not cycles:
        errs.append("lake: no cycle ran")
    return errs


def serve_expected(serve_dir, ops, ranges):
    """Expected lines of lake_serve.csv from the model."""
    model = LakeModel(load_kv(f"{serve_dir}/init.parquet"))
    states = [dict(model.rows)]
    feeds = []
    for op in ops:
        feeds.append(model.apply(op["op"], f"{serve_dir}/{op['file']}"))
        states.append(dict(model.rows))

    def agg(items):
        items = list(items)
        return f"{len(items)},{sum(k for k, _ in items)},{sum(v for _, v in items)}"
    out = [f"version,{v + 1},{agg(s.items())}" for v, s in enumerate(states)]
    head = states[-1]
    for i, (lo, hi) in enumerate(ranges):
        out.append(f"range,{i},{agg((k, v) for k, v in head.items() if lo <= k <= hi)}")
    for v, (ins, dels) in enumerate(feeds, start=2):
        for kind, rows in (("delete", dels), ("insert", ins)):
            if rows:
                out.append(f"cf_{kind},{v},{agg(rows.elements())}")
    return out


def check_serve(expected, got_csv):
    """Version and range reads must match exactly; a version's change
    feed must net to the model's (a rewrite may add cancelling pairs,
    so delete/insert lines are compared after netting)."""
    got = [",".join(r) for r in read_csv(got_csv)]
    plain = lambda lines: [l for l in lines if not l.startswith("cf_")]
    errs = []
    if plain(got) != plain(expected):
        bad = [g for g, e in zip(plain(got), plain(expected)) if g != e]
        errs.append(f"serve: {len(bad) or 'some'} version/range reads differ, e.g. {bad[:1]}")

    def net(lines):
        by_v = collections.defaultdict(lambda: [0, 0, 0])
        for l in lines:
            if l.startswith("cf_"):
                kind, v, n, sk, sv = l.split(",")
                sign = 1 if kind == "cf_insert" else -1
                acc = by_v[int(v)]
                acc[0] += sign * int(n); acc[1] += sign * int(sk); acc[2] += sign * int(sv)
        return {v: tuple(a) for v, a in by_v.items() if any(a)}
    if net(got) != net(expected):
        errs.append("serve: change-feed reads do not net to the model's changes")
    return errs


# --------------------------------------------------------------------- ann

def exact_topk(emb_path, k=5):
    """Exact cosine top-k of every vector (itself excluded), ties broken
    by the lower id as the program's brute force does."""
    t = pq.read_table(emb_path)
    ids = np.asarray(t.column("vec_id").to_pylist())
    x = np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    out = {}
    for s in range(0, len(x), 2048):
        sim = x[s:s + 2048] @ x.T
        for r in range(sim.shape[0]):
            sim[r, s + r] = -np.inf
        top = np.argpartition(-sim, k, axis=1)[:, :k + 1]
        for r in range(sim.shape[0]):
            cand = sorted(top[r], key=lambda j: (-sim[r, j], ids[j]))[:k]
            out[int(ids[s + r])] = set(int(ids[j]) for j in cand)
    return out


# The program's emb_ann_binary answers its first NQueries vectors
# (AnnQueries.NQueries); the other three calls answer every vector.
BINARY_QUERIES = 10


def ann_queries(name, exact):
    """The query ids an ANN call must answer, as Verify judges it."""
    ids = sorted(exact)
    return [q for q in ids if q < BINARY_QUERIES] if name == "binary" else ids


def recall(exact, got_csv, queries):
    """Hits over the whole exact top-k of `queries`, as Verify divides:
    a query with no rows, or rows for an id outside `queries`, counts
    no hits."""
    got = collections.defaultdict(set)
    for q, n in read_csv(got_csv):
        got[int(q)].add(int(n))
    want = sum(len(exact[q]) for q in queries)
    if not want:
        return 0.0
    return sum(len(exact[q] & got[q]) for q in queries) / want


def check_ann(recalls):
    return [f"ann: {name} recall {r:.3f} under the floor {RECALL_FLOORS[name]}"
            for name, r in recalls.items() if r < RECALL_FLOORS[name]]


# ----------------------------------------------------------------- battery

TABLES = ["customer", "orders", "lineitem", "events"]


def _norm(rows):
    return sorted(rows, key=lambda r: tuple((x is None, str(x)) for x in r))


def check_battery(tables_dir, out_dir):
    """Each query's parquet output against its oracle SQL in DuckDB:
    same columns, same row count, cells equal or within 1e-9 relative."""
    with open(f"{out_dir}/oracle_sql.json") as f:
        oracle = json.load(f)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')")
    errs = []
    for name, sql in sorted(oracle.items()):
        parts = glob.glob(os.path.join(out_dir, name, "*.parquet"))
        got_rel = con.sql(f"SELECT * FROM read_parquet({parts!r})")
        exp_rel = con.sql(sql)
        gc, ec = sorted(got_rel.columns), sorted(exp_rel.columns)
        if gc != ec:
            errs.append(f"battery: {name} columns {gc} vs {ec}")
            continue
        got = _norm(con.sql(f"SELECT {', '.join(gc)} FROM got_rel").fetchall())
        exp = _norm(con.sql(f"SELECT {', '.join(ec)} FROM exp_rel").fetchall())
        if len(got) != len(exp):
            errs.append(f"battery: {name} {len(got)} rows vs {len(exp)}")
            continue
        if not got:
            errs.append(f"battery: {name} returned no rows")
            continue
        for rg, re_ in zip(got, exp):
            if any(a != b and not (isinstance(a, float) and isinstance(b, float)
                                   and math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12))
                   for a, b in zip(rg, re_)):
                errs.append(f"battery: {name} values differ, e.g. {rg} vs {re_}")
                break
    con.close()
    return errs
