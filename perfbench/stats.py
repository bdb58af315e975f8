"""Statistics and attribution for the benchmark's raw records.

The Scala program writes what happened (set-ups, operations, spans, Spark
jobs); this module turns that into the end-to-end and per-layer metrics.
Times are epoch milliseconds.
"""
import re
import statistics

# Job sites look like "localCheckpoint at Checkpoints.scala:68".
SITE = re.compile(r"^(?P<action>[\w$]+) at (?P<file>[\w$.-]+?)\.(?:scala|java):"
                  r"(?P<line>\d+)")
# Dataset/RDD calls whose job exists only to bring a value to the Spark
# driver.
ACTIONS = {"count", "head", "isEmpty", "take", "first", "collect",
           "collectAsList", "reduce", "takeAsList"}
# The timed operation kinds behind each workload's latency metrics.
PRIMARY = {"interactive": {"query"}, "maintained_folds": {"insert", "delete"}}


def median(values):
    return statistics.median(values) if values else 0.0


def tail(values, beyond=10):
    """The highest percentile with at least `beyond` samples above it:
    the value at sorted rank n - beyond - 1, and its percentile level.
    With too few samples there is no such percentile; the maximum is
    returned with level 100."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        return 0.0, 0.0
    if n <= beyond:
        return xs[-1], 100.0
    return xs[n - beyond - 1], 100.0 * (n - beyond) / n


def union_length(intervals, lo=None, hi=None):
    """Total length covered by the intervals, optionally clipped to
    [lo, hi]; overlaps count once."""
    clipped = []
    for a, b in intervals:
        if lo is not None:
            a = max(a, lo)
        if hi is not None:
            b = min(b, hi)
        if b > a:
            clipped.append((a, b))
    clipped.sort()
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def driver_gap(start, end, job_intervals):
    """Wall time of [start, end] during which no job was running."""
    return (end - start) - union_length(job_intervals, start, end)


def bucket(site):
    """(module, action) of a job site, e.g. ("Checkpoints",
    "localCheckpoint"); (None, None) when the site names no source file.
    A broadcast exchange collects its side on a Spark pool thread, so its
    job carries a JDK frame; those are bucketed as "broadcast"."""
    m = SITE.match(site or "")
    if not m:
        return None, None
    if "withThreadLocalCaptured" in m.group("action"):
        return "broadcast", "broadcast"
    return m.group("file"), m.group("action")


def self_times(spans):
    """Self time per span: its duration minus the part of it that its
    children cover. `spans` are dicts with id, parent, start and end."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: (s["end"] - s["start"]) -
            union_length(children.get(s["id"], []), s["start"], s["end"])
            for s in spans}


def _measured(rec, kinds):
    return [o for o in rec["ops"]
            if o["phase"] == "measure" and o["kind"] in kinds]


def _ms(op):
    return op["end"] - op["start"]


def counts(rec):
    ops = rec["ops"]
    return len(ops), sum(1 for o in ops if not o["ok"])


def end_to_end(rec):
    """Metrics with tracing off; the same names on every workload."""
    primary = [o for o in _measured(rec, PRIMARY[rec["workload"]])
               if o["ok"] and not o["traced"]]
    lat = [_ms(o) for o in primary]
    busy_s = sum(lat) / 1e3
    if rec["workload"] == "interactive":
        work = len(primary)
    else:
        work = sum(o["edges"] for o in primary)
    attempted, failed = counts(rec)
    return {
        "setup_s": (rec["setup"]["total_s"], "s"),
        "ok_frac": ((attempted - failed) / attempted if attempted else 0.0,
                    "fraction"),
        "storage_mb": (rec["storage_mb"], "MB"),
        "latency_p50_ms": (median(lat), "ms"),
        "latency_tail_ms": (tail(lat)[0], "ms"),
        "throughput_per_s": (work / busy_s if busy_s else 0.0, "1/s"),
    }


def _jobs_by_op(rec):
    span_op = {s["id"]: s["op"] for s in rec["spans"]}
    by_op = {}
    for j in rec["jobs"]:
        by_op.setdefault(span_op.get(j["span"]), []).append(j)
    return by_op


def _spans_by_op(rec):
    by_op = {}
    for s in rec["spans"]:
        by_op.setdefault(s["op"], []).append(s)
    return by_op


def _mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(rec):
    """Per-layer metrics from the traced passes, each a mean per timed
    operation unless its name says otherwise."""
    prim_kinds = PRIMARY[rec["workload"]]
    traced = [o for o in _measured(rec, prim_kinds | {"read"}) if o["traced"]]
    prim = [o for o in traced if o["kind"] in prim_kinds]
    reads = [o for o in traced if o["kind"] == "read"]
    jobs_of = _jobs_by_op(rec)
    spans_of = _spans_by_op(rec)

    def jobs(o):
        return jobs_of.get(o["id"], [])

    def per_op(f, ops=prim):
        return _mean([f(o) for o in ops])

    def span_ms(name, ops=prim):
        return per_op(lambda o: sum(s["end"] - s["start"]
                                    for s in spans_of.get(o["id"], [])
                                    if s["name"] == name), ops)

    def site_jobs(o, module, actions=None):
        out = []
        for j in jobs(o):
            mod, act = bucket(j["site"])
            if mod == module and (actions is None or act in actions):
                out.append(j)
        return out

    def site_ms(o, module):
        return union_length([(j["start"], j["end"])
                             for j in site_jobs(o, module)])

    def job_sum(key, scale=1.0):
        return per_op(lambda o: sum(j[key] for j in jobs(o)) * scale)

    untraced = [_ms(o) for o in _measured(rec, prim_kinds)
                if o["ok"] and not o["traced"]]
    traced_lat = [_ms(o) for o in prim if o["ok"]]
    overhead = median(traced_lat) - median(untraced)
    mb = 1.0 / (1 << 20)
    apply_spans = ("Streams.ccApplyBatch", "Streams.ccApplyDelta")
    return {
        "Tables.warm_s": (rec["setup"]["warm_s"], "s"),
        "Tables.cached_mb": (rec["setup"]["cached_mb"], "MB"),
        "queries.build_ms": (span_ms("queries.build"), "ms"),
        "plans.plan_ms": (span_ms("plans.plan"), "ms"),
        "plans.exchanges": (per_op(lambda o: o.get("exchanges", 0)), "count"),
        "sched.jobs": (per_op(lambda o: len(jobs(o))), "count"),
        "sched.stages": (job_sum("stages"), "count"),
        "sched.tasks": (job_sum("tasks"), "count"),
        "sched.driver_gap_ms": (per_op(lambda o: driver_gap(
            o["start"], o["end"], [(j["start"], j["end"]) for j in jobs(o)])),
            "ms"),
        "exec.run_ms": (job_sum("run_ms"), "ms"),
        "exec.cpu_ms": (job_sum("cpu_ms"), "ms"),
        "exec.gc_ms": (job_sum("gc_ms"), "ms"),
        "shuffle.write_mb": (job_sum("shuffle_write_bytes", mb), "MB"),
        "shuffle.read_mb": (job_sum("shuffle_read_bytes", mb), "MB"),
        "shuffle.fetch_wait_ms": (job_sum("fetch_wait_ms"), "ms"),
        "spill.mb": (job_sum("spill_bytes", mb), "MB"),
        "Checkpoints.cut_jobs": (per_op(
            lambda o: len(site_jobs(o, "Checkpoints"))), "count"),
        "Checkpoints.cut_ms": (per_op(lambda o: site_ms(o, "Checkpoints")),
                               "ms"),
        "Graphs.jobs": (per_op(lambda o: len(site_jobs(o, "Graphs"))),
                        "count"),
        "Graphs.action_jobs": (per_op(
            lambda o: len(site_jobs(o, "Graphs", ACTIONS))), "count"),
        "Graphs.job_ms": (per_op(lambda o: site_ms(o, "Graphs")), "ms"),
        "Streams.apply_ms": (sum(span_ms(n) for n in apply_spans), "ms"),
        "Streams.jobs_per_batch": (per_op(
            lambda o: len(jobs(o)) if o["kind"] != "query" else 0), "count"),
        "Streams.action_jobs": (per_op(
            lambda o: len(site_jobs(o, "Streams", ACTIONS))), "count"),
        "Streams.state_rows": (per_op(lambda o: o.get("state_rows", 0)),
                               "count"),
        "Streams.read_ms": (_mean([_ms(o) for o in reads]), "ms"),
        "trace.overhead_ms": (overhead, "ms"),
    }


def trace_artifact(rec):
    """Every span of the traced passes, with each job as a child span of
    the span it started under, and self times per span and per name."""
    spans = [dict(s) for s in rec["spans"]]
    next_id = max([s["id"] for s in spans], default=-1) + 1
    op_of = {s["id"]: s["op"] for s in spans}
    for j in rec["jobs"]:
        spans.append({"id": next_id, "op": op_of.get(j["span"]),
                      "parent": j["span"], "name": "job:" + j["site"],
                      "start": j["start"], "end": j["end"], "job": j})
        next_id += 1
    selfs = self_times(spans)
    by_name = {}
    for s in spans:
        s["self_ms"] = selfs[s["id"]]
        agg = by_name.setdefault(s["name"], {"count": 0, "total_ms": 0.0,
                                       "self_ms": 0.0})
        agg["count"] += 1
        agg["total_ms"] += s["end"] - s["start"]
        agg["self_ms"] += s["self_ms"]
    return {"workload": rec["workload"], "seed": rec["seed"],
            "spans": spans, "self_time_by_name": by_name}
