"""Per-layer metrics from a traced run's spans (spans.ndjson).

Spans come from the driver's Tracer: `span` records (layer calls),
`job`/`stage`/`task` records from a SparkListener (jobs tagged with the
span id that started them, or a streaming query's run id), `progress`
records from a StreamingQueryListener and `sql` records from a
QueryExecutionListener.
"""
import collections
import json
import statistics


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class Trace:
    def __init__(self, path):
        self.spans, self.jobs, self.stages, self.progress, self.sql = [], {}, {}, [], []
        self.tasks = collections.defaultdict(list)
        self.links = collections.defaultdict(set)
        with open(path) as f:
            for line in f:
                r = json.loads(line)
                k = r["kind"]
                if k == "span":
                    self.spans.append(r)
                elif k == "job":
                    j = self.jobs.setdefault(r["job"], {})
                    if r["event"] == "start":
                        j.update(start=r["t"], group=r["group"], stages=r["stages"])
                    else:
                        j["end"] = r["t"]
                elif k == "stage":
                    self.stages[r["stage"]] = r
                elif k == "task":
                    self.tasks[r["stage"]].append(r)
                elif k == "progress":
                    self.progress.append(r)
                elif k == "sql":
                    self.sql.append(r)
                elif k == "link":
                    self.links[r["span"]].add(r["group"])
        self.children = collections.defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s["id"])

    def select(self, layer, name=None):
        return [s for s in self.spans if s["layer"] == layer and (name is None or s["name"] == name)]

    def subtree(self, span):
        ids, todo = set(), [span["id"]]
        while todo:
            i = todo.pop()
            ids.add(i)
            todo.extend(self.children[i])
        return ids

    def jobs_of(self, spans):
        groups = set()
        for s in spans:
            for i in self.subtree(s):
                groups.add(f"span-{i}")
                groups |= self.links[i]
        return [j for j in self.jobs.values() if j.get("group") in groups and "end" in j]

    def stages_of(self, jobs):
        return [self.stages[st] for j in jobs for st in j["stages"] if st in self.stages]

    def totals(self, spans):
        jobs = self.jobs_of(spans)
        stages = self.stages_of(jobs)
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "task_s": sum(s["run_ms"] for s in stages) / 1000.0,
            "shuffle_bytes": sum(s["shuffle_read"] + s["shuffle_write"] for s in stages),
            "spill_bytes": sum(s["spill"] for s in stages),
            "input_bytes": sum(s["input_bytes"] for s in stages),
            "driver_ms": sum(self.driver_ms(s) for s in spans),
            "files_read": sum(1 for st in stages for t in self.tasks[st["stage"]]
                              if t["input_bytes"] > 0),
        }

    def driver_ms(self, span):
        """Span wall time minus the union of its jobs' spans."""
        iv = sorted((max(j["start"], span["start"]), min(j["end"], span["end"]))
                    for j in self.jobs_of([span]))
        busy, cur_s, cur_e = 0, None, None
        for s, e in iv:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    busy += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            busy += cur_e - cur_s
        return max(0.0, span["ms"] - busy)

    def skew(self, spans):
        """max / median task time in the widest stage."""
        stages = self.stages_of(self.jobs_of(spans))
        if not stages:
            return 1.0
        widest = max(stages, key=lambda s: (s["tasks"], s["run_ms"]))
        ms = [t["ms"] for t in self.tasks[widest["stage"]]]
        return max(ms) / max(1.0, median(ms)) if ms else 1.0


def unit(name):
    metric = name.split(".", 1)[-1]
    for suffix, u in (("_ms", "ms"), ("_per_s", "1/s"), ("_s", "s"), ("_bytes", "bytes"),
                      ("_mb", "MB")):
        if metric.endswith(suffix):
            return u
    if metric.endswith(("_recall", "_amp", "_skew")):
        return "ratio"
    return "count"


def per_round(trace, rounds):
    """What Spark did per measured round, over every layer call: the
    per-layer metrics every workload reports."""
    t = trace
    top = [s for s in t.spans if s["parent"] == 0]
    tot = t.totals(top)
    r = max(1, rounds)
    return {
        "round.jobs": tot["jobs"] / r,
        "round.stages": tot["stages"] / r,
        "round.task_s": tot["task_s"] / r,
        "round.shuffle_bytes": tot["shuffle_bytes"] / r,
        "round.input_bytes": tot["input_bytes"] / r,
        "round.driver_ms": tot["driver_ms"] / r,
        "round.stage_skew": t.skew(top),
    }


def per_layer(trace, result, battery_queries, recalls, phases):
    """The layer metrics of the phases that ran, per call or per round."""
    t, vals, times = trace, result["values"], result["times"]
    rounds = max(1, vals["rounds"])
    # finished SQL executions (QueryExecutionListener), all layers
    m = {"sql.executions": len(t.sql) / rounds,
         "sql.ms": sum(r.get("ms", 0.0) for r in t.sql) / rounds}

    rep = t.select("pipeline", "replay_compiled")
    if "replay" in phases:
        tot = t.totals(rep)
        n = max(1, len(rep))
        m["pipeline.plan_ms"] = median(times.get("replay_compiled_plan_ms", []))
        for key in ("jobs", "stages", "task_s", "shuffle_bytes", "spill_bytes", "driver_ms"):
            m[f"pipeline.{key}"] = tot[key] / n
        m["pipeline.stage_skew"] = t.skew(rep)

    if "jq" in phases:
        jq = t.select("io", "replay_subprocess")
        m["io.jq_extra_s"] = (median([s["ms"] for s in jq]) -
                              median([s["ms"] for s in rep])) / 1000.0
        m["io.jq_task_s"] = t.totals(jq)["task_s"] / max(1, len(jq))

    if "drain" in phases or "live" in phases:
        prog = [p for p in t.progress if p["rows"] > 0]
        dur = lambda k: [p["duration"].get(k, 0) for p in prog]
        m["streaming.batches"] = len(prog) / rounds
        m["streaming.rows_per_batch"] = median([p["rows"] for p in prog])
        m["streaming.add_batch_ms"] = median(dur("addBatch"))
        m["streaming.latest_offset_ms"] = median(dur("latestOffset"))
        m["streaming.query_planning_ms"] = median(dur("queryPlanning"))
        m["streaming.wal_commit_ms"] = median(dur("walCommit"))
        m["streaming.trigger_ms"] = median(dur("triggerExecution"))
    if "live" in phases:
        m["streaming.latency_p99_ms"] = pct(times.get("live_latency_ms", []), 0.99)
        backlog = [p["backlog_bytes"] - json.loads(p["end_offset"])["pos"]
                   for p in t.progress if "backlog_bytes" in p and p.get("end_offset")]
        m["streaming.backlog_max_bytes"] = max(backlog) if backlog else 0
        m["streaming.generator_lag_ms"] = max(times.get("live_generator_lag_ms", [0.0]))

    if "lake" in phases:
        for op in ("append", "merge", "delete_mor", "delete", "compact", "checkpoint", "vacuum"):
            m[f"lake.{op}_ms"] = median(times.get(f"lake_{op}_ms", []))
        ops = [s for s in t.spans if s["layer"] == "lake" and s["name"] != "changefeed"]
        commits = max(1, len([s for s in ops if s["name"] not in ("checkpoint", "vacuum")]))
        otot = t.totals(ops)
        m["lake.jobs_per_commit"] = otot["jobs"] / commits
        m["lake.driver_ms_per_commit"] = otot["driver_ms"] / commits
        m["lake.write_amp"] = vals["lake_bytes_written"] / max(1, vals["lake_bytes_input"])
        m["lake.log_bytes"] = vals["lake_log_bytes"]
        m["lake.live_files"] = vals["lake_live_files"]
        cf = t.select("lake", "changefeed")
        m["lake.changefeed_ms"] = median([s["ms"] for s in cf])
        m["lake.changefeed_files_read"] = t.totals(cf)["files_read"] / max(1, len(cf))
        m["lake.heap_per_cycle_mb"] = vals["heap_per_cycle_mb"]

    if "lake_read" in phases:
        m["lake_read.version_ms"] = median(times.get("lake_read_version_ms", []))
        m["lake_read.pruned_ms"] = median(times.get("lake_read_pruned_ms", []))
        pruned = t.select("lake_read", "pruned")
        m["lake_read.files_scanned"] = t.totals(pruned)["files_read"] / max(1, len(pruned))
        m["lake_read.files_live"] = vals["lake_serve_live_files"]

    if "ann" in phases:
        for short in ("lsh", "pq", "ivf", "binary"):
            m[f"ann.{short}_ms"] = median(times.get(f"ann_{short}_ms", []))
        atot = t.totals([s for s in t.spans if s["layer"] == "ann"])
        m["ann.jobs"] = atot["jobs"] / rounds
        m["ann.shuffle_bytes"] = atot["shuffle_bytes"] / rounds
        for short in ("lsh", "pq", "ivf"):
            m[f"ann.{short}_recall"] = recalls[short]

    if "battery" in phases:
        for q in battery_queries:
            spans = t.select("battery", q)
            bt = t.totals(spans)
            k = max(1, len(spans))
            m[f"battery.{q}_ms"] = median(times.get(f"battery_{q}_ms", []))
            m[f"battery.{q}_jobs"] = bt["jobs"] / k
            m[f"battery.{q}_shuffle_bytes"] = bt["shuffle_bytes"] / k
            m[f"battery.{q}_spill_bytes"] = bt["spill_bytes"] / k
    return m
