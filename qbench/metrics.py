"""Pure logic of the query benchmark: key orders, percentiles, spans and the
metrics computed from what the harness (src/main/scala/qbench) writes.

Kept free of I/O beyond reading JSON lines so that test_metrics.py can check
every rule without Spark.
"""
import json
import math
import random
import statistics

MB = 1024.0 * 1024.0
# Percentiles the latency report may name, highest first.
PERCENTILES = (99, 95, 90, 75, 50)


def pass_orders(keys, seed, n_passes):
    """The key order of each pass: a seeded shuffle that differs per pass.

    The seed fixes only the order; the tables and the keys never change."""
    rng = random.Random(seed)
    orders = []
    for _ in range(n_passes):
        order = sorted(keys)
        rng.shuffle(order)
        orders.append(order)
    return orders


def tail_percentile(n, beyond=10):
    """The highest reportable percentile with at least `beyond` of `n`
    samples above it, or None when even the median has fewer."""
    for p in PERCENTILES:
        if n * (100 - p) / 100.0 >= beyond:
            return p
    return None


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def union_us(intervals, lo, hi):
    """Length of the union of `intervals`, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0, None, None
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


def self_us(span, children):
    """A span's duration minus the part of it its children cover."""
    a, b = span["start_us"], span["end_us"]
    return (b - a) - union_us([(c["start_us"], c["end_us"]) for c in children], a, b)


def request_wall_us(r):
    return r["construct_us"] + r["plan_us"] + r["exec_us"]


def request_spans(r):
    """The request span and its construct / plan / exec children. The
    request span also covers the harness's bookkeeping around the call."""
    t0 = r["start_us"]
    t1 = t0 + r["construct_us"]
    t2 = t1 + r["plan_us"]
    t3 = t2 + r["exec_us"]
    rid = r["rid"]
    base = {"rid": rid, "key": r["key"]}
    return [dict(base, id=rid, parent=None, name="request",
                 start_us=r["begin_us"], end_us=r["end_us"]),
            dict(base, id=rid + "/construct", parent=rid, name="construct", start_us=t0, end_us=t1),
            dict(base, id=rid + "/plan", parent=rid, name="plan", start_us=t1, end_us=t2),
            dict(base, id=rid + "/exec", parent=rid, name="exec", start_us=t2, end_us=t3)]


def build_spans(requests, spark_spans):
    """All spans of the traced requests, request first, children after."""
    traced = {r["rid"] for r in requests}
    spans = [s for r in requests for s in request_spans(r)]
    spans += [s for s in spark_spans if s["rid"] in traced]
    return spans


def layer_table(spans):
    """Per span name: count, summed duration and summed self time (us)."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    table = {}
    for s in spans:
        row = table.setdefault(s["name"], {"spans": 0, "total_us": 0, "self_us": 0})
        row["spans"] += 1
        row["total_us"] += s["end_us"] - s["start_us"]
        row["self_us"] += self_us(s, kids.get(s["id"], []))
    return table


def end_to_end(timed, run):
    """The end-to-end metrics of an untraced run."""
    walls_ms = [request_wall_us(r) / 1000.0 for r in timed]
    return {
        "queries_per_s": ("1/s", len(timed) / (sum(walls_ms) / 1000.0)),
        "query_p50_ms": ("ms", statistics.median(walls_ms)),
        "setup_s": ("s", statistics.median(run["setup_s"])),
        "cpu_ms_per_query": ("ms", sum(r["cpu_ns"] for r in timed) / 1e6 / len(timed)),
        "cache_mb": ("MB", statistics.median(r["storage_bytes"] for r in timed) / MB),
    }


def per_layer(timed, spark_spans, run):
    """The per-layer metrics of a traced run, from its traced passes; the
    untraced passes of the same run give the tracing overhead."""
    traced = [r for r in timed if r["traced"]]
    untraced = [r for r in timed if not r["traced"]]
    passes = len({r["pass"] for r in traced})
    spans = build_spans(traced, spark_spans)
    by_id = {s["id"]: s for s in spans}
    jobs = [s for s in spans if s["name"] == "job"]
    stages = [s for s in spans if s["name"] == "stage"]
    phase = lambda name: [s for s in spans if s["name"] == name]

    def jobs_in(p):
        return [j for j in jobs if j["phase"] == p]

    construct_ms = sum(r["construct_us"] for r in traced) / 1000.0
    exec_ms = sum(r["exec_us"] for r in traced) / 1000.0
    wall_ms = sum(request_wall_us(r) for r in traced) / 1000.0
    exec_stages = [s for s in stages if s["phase"] == "exec"]
    gap_us = sum(
        self_us(e, [j for j in jobs if j["parent"] == e["id"]]) for e in phase("exec"))
    unattributed_us = sum(
        self_us(q, [by_id[q["id"] + "/" + p] for p in ("construct", "plan", "exec")])
        for q in phase("request"))
    task_ms = sum(s["run_ms"] for s in stages)
    exec_task_ms = sum(s["run_ms"] for s in exec_stages)
    qps = lambda rs: len(rs) / (sum(request_wall_us(r) for r in rs) / 1e6)
    per = lambda v: v / passes
    return {
        "tables.resolve_ms": ("ms", statistics.median(run["resolve_ms"])),
        "tables.memo_build_ms": ("ms", sum(run["memo_probe_ms"].values())),
        "tables.memo_views_built": ("count", sum(r["views_built"] for r in traced) / len(traced)),
        "tables.cache_mb": ("MB", statistics.median(r["storage_bytes"] for r in traced) / MB),
        "operators.construct_ms": ("ms", per(construct_ms)),
        "operators.construct_jobs": ("count", per(len(jobs_in("construct")))),
        "operators.construct_stages": ("count", per(sum(1 for s in stages if s["phase"] == "construct"))),
        "operators.construct_share": ("1", construct_ms / wall_ms),
        "plans.plan_ms": ("ms", per(sum(r["plan_us"] for r in traced) / 1000.0)),
        "exec.ms": ("ms", per(exec_ms)),
        "exec.jobs": ("count", per(len(jobs))),
        "exec.stages": ("count", per(len(stages))),
        "exec.tasks": ("count", per(sum(s["tasks"] for s in stages))),
        "exec.ms_per_stage": ("ms", exec_ms / max(1, len(exec_stages))),
        "exec.driver_gap_ms": ("ms", per(gap_us / 1000.0)),
        "exec.task_ms": ("ms", per(task_ms)),
        "exec.cpu_ms": ("ms", per(sum(s["cpu_ns"] for s in stages) / 1e6)),
        "exec.core_util": ("1", exec_task_ms / (run["cpus"] * exec_ms)),
        "exec.gc_ms": ("ms", per(sum(s["gc_ms"] for s in stages))),
        "exec.shuffle_read_mb": ("MB", per(sum(s["shuffle_read"] for s in stages) / MB)),
        "exec.shuffle_write_mb": ("MB", per(sum(s["shuffle_write"] for s in stages) / MB)),
        "exec.spill_mb": ("MB", per(sum(s["spill"] for s in stages) / MB)),
        "jvm.heap_used_mb": ("MB", run["heap_used_mb"]),
        "jvm.gc_ms": ("ms", run["loop_gc_ms"] / len({r["pass"] for r in timed})),
        "trace.spans": ("count", per(len(spans))),
        "trace.unattributed_ms": ("ms", per(unattributed_us / 1000.0)),
        "trace.overhead_frac": ("1", 1.0 - qps(traced) / qps(untraced)),
    }


def result_line(correct, attempted, failed, metrics):
    """The benchmark's last stdout line; `metrics` maps name -> (unit, value)."""
    return json.dumps({
        "correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (u, v) in metrics.items()},
    })


def read_jsonl(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]
