#!/usr/bin/env python3
"""cdpspark benchmark: one run of one workload.

    python3 perfbench/run.py --workload pipeline_replay --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the program and
the driver (perfbench/driver, sbt, offline) and caches the classpath
under perfbench/.build; later runs reuse it while the sources are
unchanged. Each run generates its inputs from --seed under
perfbench/.work, starts one JVM (perfbench.PerfBench), checks the
outputs against computations made apart from the program, and prints
one JSON line: correct, attempted, failed and the metrics (end-to-end
with --trace 0, per-layer with --trace 1). See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(HERE, ".build")
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import layers  # noqa: E402

HEAP = "2g"  # fixed driver heap (-Xms = -Xmx)
RUN_LIMIT_S = 170  # a run's JVM must end within this (build excluded)
SETUPS = 3  # set-ups per run; setup_s takes their median
BATTERY = ["q18_topn_agg", "agg_percentile", "ev_window_hybrid"]

# Input sizes (per run)
SIZES = {
    "events": dict(n=12000, cardinality=20, width=4, drop=0.10, window=100),
    "stream": dict(backlog=6000, rate=2000, live_seconds=1.2, trigger_ms=200),
    "lake": dict(rows=5000, append=500, merge=300, merge_new=0.1, delete=100,
                 skew=1.1, width=2, files=4, op_files=1, target_rows=2000),
    "serve": dict(rows=10000, edit=1000, width=2, files=4),
    "ann": dict(n=1000),
    "battery": dict(orders=2000, customers=500, events=4000, event_types=8),
}

# The phases each workload runs, each once per round
WORKLOADS = {
    # cdp's own path: batch replay on both jq tiers, then the stream
    "pipeline_replay": ("replay", "jq", "drain", "live"),
    # the write-heavy lake: one churn cycle per round
    "lake_churn": ("lake",),
    # the read-heavy side on data that never changes
    "query_serve": ("lake_read", "ann", "battery"),
}

# Discarded warm-up rounds before the measured ones. One lake_churn
# cycle after a single warm-up cycle still ran about 30% slower than
# the cycles after it (the JIT was still compiling the commit path), so
# lake_churn warms up for two.
WARMUP = {"pipeline_replay": 1, "lake_churn": 2, "query_serve": 1}

# End-to-end metrics every workload reports (BENCHMARK.json)
E2E = [("setup_s", "s"), ("round_s", "s"), ("round_cpu_s", "s"), ("heap_retained_mb", "MB")]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


# ------------------------------------------------------------------- build

def sources():
    """The files a build depends on: the program's and the driver's."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "driver", "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "driver", "build.sbt"),
             os.path.join(HERE, "driver", "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile the program and the driver once per source state; return
    the driver's runtime classpath."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main")):
        fail(f"no program sources next to {HERE}: run from a full checkout")
    h = hashlib.sha256()
    for f in sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = [env.get("SBT_OPTS", ""), "-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(o for o in opts if o)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as lf:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "driver"), env=env, stdout=subprocess.PIPE,
                           stderr=lf, text=True, timeout=840, stdin=subprocess.DEVNULL)
        lf.write(r.stdout)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        fail(f"build failed (sbt exit {r.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ------------------------------------------------------------------ inputs

def generate(work, seed, phases, seconds, warmup):
    """The inputs of the workload's phases, from the seed. Returns the
    driver config and what the checks need."""
    ev, st, lk, sv = SIZES["events"], SIZES["stream"], SIZES["lake"], SIZES["serve"]
    inp = os.path.join(work, "inputs")
    os.makedirs(inp)
    d = lambda name: os.path.join(inp, name)
    need = lambda phase: phase in phases
    kept = {}
    if need("replay") or need("jq"):
        gen.write_events(d("replay.ndjson"), gen.rng_for(seed, 1), 0, ev["n"],
                         ev["cardinality"], ev["width"], ev["drop"])
    if need("drain"):
        gen.write_events(d("backlog.ndjson"), gen.rng_for(seed, 2), 10_000_000, st["backlog"],
                         ev["cardinality"], ev["width"], ev["drop"])
        kept["drain"] = checks.kept_events(d("backlog.ndjson"))
    if need("live"):
        gen.write_events(d("live.ndjson"), gen.rng_for(seed, 3), 20_000_000,
                         int(st["rate"] * st["live_seconds"]),
                         ev["cardinality"], ev["width"], ev["drop"])
        kept["live"] = checks.kept_events(d("live.ndjson"))
    # enough cycles for the warm-up rounds and every measured round (a
    # cycle takes longer than 4 s)
    cycles = warmup + int(seconds) // 4 + 2 if need("lake") else 0
    if need("lake"):
        gen.lake_ops(d("lake"), gen.rng_for(seed, 4), lk["rows"], cycles, lk["append"],
                     lk["merge"], lk["merge_new"], lk["delete"], lk["skew"], lk["width"])
    ops, ranges = [], []
    if need("lake_read"):
        ops, ranges = gen.serve_ops(d("serve"), gen.rng_for(seed, 5), sv["rows"], sv["edit"],
                                    sv["width"])
    if need("ann"):
        os.makedirs(d("ann"))
        gen.embeddings(os.path.join(d("ann"), "embeddings.parquet"), gen.rng_for(seed, 6),
                       SIZES["ann"]["n"])
    if need("battery"):
        b = SIZES["battery"]
        gen.battery_tables(d("battery"), gen.rng_for(seed, 7), b["orders"], b["customers"],
                           b["events"], b["event_types"])
    cfg = {
        "workdir": work, "seed": seed, "seconds": seconds, "setups": SETUPS,
        "warmup_rounds": warmup,
        "cores": os.cpu_count() or 1, "phases": list(phases),
        "replay": {"ndjson": d("replay.ndjson"), "window": ev["window"], "events": ev["n"]},
        "stream": {"backlog": d("backlog.ndjson"), "live": d("live.ndjson"),
                   "backlog_kept": len(kept.get("drain", [])),
                   "live_kept": len(kept.get("live", [])),
                   "rate": st["rate"], "trigger_ms": st["trigger_ms"]},
        "lake": {"dir": d("lake"), "cycles": cycles, "files": lk["files"],
                 "op_files": lk["op_files"], "target_rows": lk["target_rows"]},
        "serve": {"dir": d("serve"), "files": sv["files"], "ops": ops, "ranges": ranges},
        "ann": {"dir": d("ann")},
        "battery": {"dir": d("battery"), "queries": BATTERY},
    }
    return cfg, kept


def check_all(cfg, kept, work):
    """Run the checks of the phases that ran. Returns (errors, recalls)."""
    ran = set(cfg["phases"])
    errs, recalls = [], {}
    if ran & {"replay", "jq"}:
        exp = checks.replay_oracle(cfg["replay"]["ndjson"], cfg["replay"]["window"])
        for tier, phase in (("compiled", "replay"), ("subprocess", "jq")):
            if phase in ran:
                errs += checks.check_replay(exp, os.path.join(work, f"replay_{tier}.csv"), tier)
    for phase in ran & {"drain", "live"}:
        errs += checks.check_stream(kept[phase], os.path.join(work, f"{phase}_ids.csv"), phase)
    if "lake" in ran:
        errs += checks.check_lake(cfg["lake"]["dir"], work)
    if "lake_read" in ran:
        errs += checks.check_serve(
            checks.serve_expected(cfg["serve"]["dir"], cfg["serve"]["ops"],
                                  cfg["serve"]["ranges"]),
            os.path.join(work, "lake_serve.csv"))
    if "ann" in ran:
        exact = checks.exact_topk(os.path.join(cfg["ann"]["dir"], "embeddings.parquet"))
        recalls = {s: checks.recall(exact, os.path.join(work, f"ann_{s}.csv"),
                                    checks.ann_queries(s, exact))
                   for s in ("lsh", "pq", "ivf", "binary")}
        errs += checks.check_ann(recalls)
    if "battery" in ran:
        errs += checks.check_battery(cfg["battery"]["dir"], os.path.join(work, "battery"))
    return errs, recalls


# --------------------------------------------------------------------- run

def run_jvm(cp, cfg_path, work, limit_s):
    # compiler threads stay alive, so that their CPU time can be left out
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UseDynamicNumberOfCompilerThreads",
           *ADD_OPENS,
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.PerfBench", cfg_path]
    os.makedirs(os.path.join(work, "tmp"))
    with open(os.path.join(work, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            rc = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
        finally:
            # jq subprocesses the JVM started share its session
            try:
                os.killpg(p.pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        fail(f"driver JVM ended with {rc}:\n{tail}")


def med(xs):
    return statistics.median(xs)


def detail_metrics(res, phases):
    """The per-phase end-to-end figures of the phases that ran: each a
    median over the run's measured calls, or a total per cycle/round."""
    v, t = res["values"], res["times"]
    m = {}
    if "replay" in phases:
        m["replay_events_per_s"] = SIZES["events"]["n"] / (med(t["replay_compiled_ms"]) / 1e3)
    if "jq" in phases:
        m["replay_jq_events_per_s"] = SIZES["events"]["n"] / (med(t["replay_subprocess_ms"]) / 1e3)
    if "drain" in phases:
        m["stream_events_per_s"] = SIZES["stream"]["backlog"] / (med(t["drain_ms"]) / 1e3)
    if "live" in phases:
        m["stream_latency_p50_ms"] = med(t["live_latency_ms"])
    if "lake" in phases:
        m["lake_commit_s"] = med(t["lake_commit_cycle_ms"]) / 1e3
        m["lake_changefeed_s"] = med(t["lake_changefeed_cycle_ms"]) / 1e3
        m["lake_space_amp"] = v["lake_table_bytes"] / v["lake_fresh_bytes"]
    if "lake_read" in phases:
        m["lake_read_s"] = med(t["lake_read_ms"]) / 1e3
    if "ann" in phases:
        m["ann_s"] = med(t["ann_ms"]) / 1e3
    if "battery" in phases:
        m["battery_s"] = med(t["battery_ms"]) / 1e3
    return m


# one entry per operation the driver times
OP_KEYS = ["replay_compiled_ms", "replay_subprocess_ms", "drain_ms", "live_generator_lag_ms",
           "lake_changefeed_ms", "lake_read_version_ms", "lake_read_pruned_ms",
           "lake_read_cf_ms"] + [f"lake_{op}_ms" for op in (
               "append", "merge", "delete_mor", "delete", "compact", "checkpoint", "vacuum")]


def attempted(res):
    t = res["times"]
    keys = OP_KEYS + [k for k in t if k.startswith(("ann_", "battery_")) and
                      k not in ("ann_ms", "battery_ms")]
    return sum(len(t.get(k, [])) for k in keys)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    t_start = time.monotonic()
    phases = WORKLOADS[a.workload]
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.monotonic()
        cfg, kept = generate(work, a.seed, phases, a.seconds, WARMUP[a.workload])
        cfg.update(workload=a.workload, trace=a.trace)
        gen_s = time.monotonic() - t0
        cfg_path = os.path.join(work, "config.json")
        with open(cfg_path, "w") as f:
            json.dump(cfg, f)
        run_jvm(cp, cfg_path, work, RUN_LIMIT_S - (time.monotonic() - t_start))
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        v = res["values"]
        t_check = time.monotonic()
        errs, recalls = check_all(cfg, kept, work)
        print(f"perfbench: generate {gen_s:.1f} s, driver {t_check - t0 - gen_s:.1f} s, "
              f"checks {time.monotonic() - t_check:.1f} s", file=sys.stderr)
        for e in errs:
            print(f"check failed: {e}", file=sys.stderr)

        # set-up: input generation, JVM start, the median session set-up,
        # the lake fixtures and the discarded warm-up rounds
        setup_s = (gen_s + (v["jvm_start_ms"] + med(v["setup_ms"]) + v["fixture_ms"] +
                            v["warmup_ms"]) / 1e3)
        round_s = med(res["times"]["round_ms"]) / 1e3
        round_cpu_s = med(res["times"]["round_cpu_ms"]) / 1e3
        detail = {"setup_s": setup_s, "round_s": round_s, "round_cpu_s": round_cpu_s,
                  "heap_retained_mb": v["heap_retained_mb"], **detail_metrics(res, phases)}
        if a.trace:
            trace = layers.Trace(os.path.join(work, "spans.ndjson"))
            vals = layers.per_round(trace, v["rounds"])
            detail.update(layers.per_layer(trace, res, BATTERY, recalls, phases))
        else:
            vals = {k: detail[k] for k, _ in E2E}
        units = dict(E2E) if not a.trace else {}
        metrics = {k: {"value": float(x), "unit": units.get(k) or layers.unit(k)}
                   for k, x in vals.items()}
        out = {"correct": not errs, "attempted": attempted(res), "failed": 0,
               "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    # the phase figures behind the summary, for the reader and steady.py
    print("detail " + json.dumps({k: round(x, 6) for k, x in detail.items()}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
