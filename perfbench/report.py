"""Turn the harness's event log into metrics, spans and layer tables.

Everything here is a pure function of the event list the JVM harness
writes (see harness/src/main/scala/graftbench/Recorder.scala), so it can
be tested without Spark.
"""
import math
import statistics

LADDER = (50, 75, 90, 95, 99, 99.9)

# Layers, from the innermost span kind outwards. A moment of a query's
# wall time belongs to the innermost span covering it, so the self times
# of one query add up to its wall time exactly.
LAYERS = ("executor", "scheduler", "streaming", "catalyst", "queries")

# Counters that must repeat exactly between two traced runs of one seed.
COUNTERS = (
    "queries.builder_jobs", "queries.actions",
    "scheduler.jobs", "scheduler.stages", "scheduler.tasks",
    "executor.records_in", "executor.records_out", "executor.scan_bytes",
    "executor.shuffle_read_bytes", "executor.shuffle_write_bytes",
    "io.bytes_written", "io.records_written", "io.files_written",
    "streaming.triggers", "streaming.rows_in",
)


def percentile(values, p):
    """Nearest-rank percentile of a non-empty list."""
    xs = sorted(values)
    return xs[max(0, math.ceil(p / 100 * len(xs)) - 1)]


def tail(values):
    """The highest percentile of LADDER with at least ten samples beyond
    it, as (percentile, value, sample count); (None, None, n) when the
    sample is too small for any of them."""
    n, best = len(values), None
    for p in LADDER:
        if n - math.ceil(p / 100 * n) >= 10:
            best = p
    return best, (percentile(values, best) if best else None), n


def timed_summary(events):
    """End-to-end figures of an untraced run.

    Only queries that finished count as timed; a query that threw is
    counted failed and its time is left out of every figure."""
    queries = [e for e in events if e["t"] == "query"]
    passes = sorted({q["pass"] for q in queries})
    ok = [q for q in queries if q["ok"]]
    wall = {p: sum(q["end"] - q["start"] for q in ok if q["pass"] == p) / 1000 for p in passes}
    warm = [(q["end"] - q["start"]) / 1000 for q in ok if q["pass"] > 0]
    by_query = {}
    for q in ok:
        if q["pass"] > 0:
            by_query.setdefault(q["name"], []).append((q["end"] - q["start"]) / 1000)
    pct, tail_s, n = tail(warm)
    return {
        "attempted": len(queries),
        "failed": len(queries) - len(ok),
        "failed_queries": sorted({q["name"] for q in queries if not q["ok"]}),
        "pass_cold_s": wall.get(0),
        "pass_warm_s": statistics.median([wall[p] for p in passes if p > 0]) if len(passes) > 1 else None,
        "warm_passes": len(passes) - 1,
        # median over queries of each query's median warm latency: with
        # few passes, a median over all samples would fall between two
        # queries' clusters and jump between them from run to run
        "query_p50_s": statistics.median(statistics.median(v) for v in by_query.values())
        if by_query else None,
        "query_tail_s": tail_s,
        "query_tail_pct": pct,
        "query_samples": n,
    }


def trigger_summary(triggers):
    ms = [t["ms"] for t in triggers]
    pct, tail_ms, n = tail(ms)
    rows, busy = sum(t["rows"] for t in triggers), sum(ms)
    return {
        "triggers": len(ms),
        "trigger_p50_ms": statistics.median(ms) if ms else None,
        "trigger_tail_ms": tail_ms,
        "trigger_tail_pct": pct,
        "ingest_rows_per_s": rows / (busy / 1000) if busy else None,
    }


def self_times(interval, spans):
    """Split `interval` among layers: each moment goes to the innermost
    (first in LAYERS) span kind covering it. `spans` is a list of
    (layer, start, end); the result sums to the interval's length."""
    lo, hi = interval
    clipped = [(k, max(s, lo), min(e, hi)) for k, s, e in spans if min(e, hi) > max(s, lo)]
    cuts = sorted({lo, hi, *(s for _, s, _ in clipped), *(e for _, _, e in clipped)})
    out = dict.fromkeys(LAYERS, 0.0)
    rank = {k: i for i, k in enumerate(LAYERS)}
    for a, b in zip(cuts, cuts[1:]):
        cover = [k for k, s, e in clipped if s <= a and e >= b]
        out[min(cover, key=rank.get) if cover else "queries"] += b - a
    return out


def _owner(spans, t):
    """Index of the span (start, end) containing time t (Spark stamps
    whole milliseconds, so allow one either side)."""
    for i, (s, e) in enumerate(spans):
        if s - 1 <= t <= e + 1:
            return i
    return None


def trace_pass(events, pass_no, cpus):
    """Span tree, per-query layer figures and per-layer metrics of one
    traced pass."""
    qs = [e for e in events if e["t"] == "query" and e["pass"] == pass_no]
    lo, hi = min(q["start"] for q in qs), max(q["end"] for q in qs)
    qspan = [(q["start"], q["end"]) for q in qs]
    starts = {e["job"]: e for e in events if e["t"] == "job_start" and lo - 1 <= e["time"] <= hi + 1}
    ends = {e["job"]: e for e in events if e["t"] == "job_end"}
    jobs = [{"id": j, "start": s["time"], "end": ends[j]["time"] if j in ends else hi,
             "stage_ids": s["stages"]} for j, s in sorted(starts.items())]
    stage_job = {}
    for j in jobs:
        for sid in j["stage_ids"]:
            stage_job.setdefault(sid, []).append(j)
    stages = []
    for s in events:
        if s["t"] == "stage" and s["stage"] in stage_job:
            cands = stage_job[s["stage"]]
            job = next((j for j in cands if j["start"] - 1 <= s["submit"] <= j["end"] + 1), cands[-1])
            stages.append(dict(s, job=job["id"], start=s["submit"], end=s["complete"]))
    execs = [e for e in events if e["t"] == "exec" and lo - 1 <= e["time"] <= hi + 1]
    sqls = [e for e in events if e["t"] == "sql_start" and lo - 1 <= e["time"] <= hi + 1]
    triggers = [t for t in events if t["t"] == "trigger" and lo - 1 <= t["start"] <= hi + 1]

    per_query = []
    for i, q in enumerate(qs):
        qj = [j for j in jobs if _owner(qspan, j["start"]) == i]
        ids = {j["id"] for j in qj}
        qst = [s for s in stages if s["job"] in ids]
        qex = [e for e in execs if _owner(qspan, e["time"]) == i]
        qsql = [e for e in sqls if _owner(qspan, e["time"]) == i]
        qtr = [t for t in triggers if _owner(qspan, t["start"]) == i]
        spans = ([("executor", s["start"], s["end"]) for s in qst]
                 + [("scheduler", j["start"], j["end"]) for j in qj]
                 + [("streaming", t["start"], t["start"] + t["ms"]) for t in qtr]
                 + [("catalyst", q["built"], q["end"])])
        st = self_times((q["start"], q["end"]), spans)

        def tot(k):
            return sum(s[k] for s in qst)
        per_query.append({
            "query": q["name"], "ok": q["ok"], "wall_ms": q["end"] - q["start"],
            "self_ms": st,
            "queries.builder_ms": q["built"] - q["start"],
            "queries.builder_jobs": sum(1 for j in qj if j["start"] < q["built"]),
            "queries.actions": len(qsql),
            "catalyst.analysis_ms": sum(e["analysis_ms"] for e in qex),
            "catalyst.optimizer_ms": sum(e["optimizer_ms"] for e in qex),
            "catalyst.planning_ms": sum(e["planning_ms"] for e in qex),
            "catalyst.codegen_compile_ms": q["codegen_ns"] / 1e6,
            "scheduler.jobs": len(qj), "scheduler.stages": len(qst),
            "scheduler.tasks": tot("tasks"),
            "executor.run_ms": tot("run_ms"), "executor.cpu_ms": tot("cpu_ns") / 1e6,
            "executor.gc_ms": tot("gc_ms"),
            "executor.records_in": tot("in_rec") + tot("sr_rec"),
            "executor.records_out": tot("out_rec") + tot("sw_rec"),
            "executor.scan_bytes": tot("in_bytes"),
            "executor.shuffle_read_bytes": tot("sr_bytes"),
            "executor.shuffle_write_bytes": tot("sw_bytes"),
            "executor.spill_bytes": tot("spill_disk"),
            "io.bytes_written": tot("out_bytes"), "io.records_written": tot("out_rec"),
            "io.files_written": sum(e["files"] for e in qex),
            "streaming.triggers": len(qtr),
            "streaming.trigger_ms": sum(t["ms"] for t in qtr),
            "streaming.addbatch_ms": sum(t["addbatch_ms"] for t in qtr),
            "streaming.wal_commit_ms": sum(t["walcommit_ms"] for t in qtr),
            "streaming.rows_in": sum(t["rows"] for t in qtr),
            "spans": {"builder": [q["start"], q["built"]], "action": [q["built"], q["end"]],
                      "jobs": [[j["id"], j["start"], j["end"], j["start"] < q["built"]] for j in qj],
                      "stages": [[s["stage"], s["job"], s["start"], s["end"]] for s in qst],
                      "triggers": [[t["id"], t["batch"], t["start"], t["start"] + t["ms"]] for t in qtr]},
        })

    wall = sum(p["wall_ms"] for p in per_query)
    metrics = {k: sum(p[k] for p in per_query) for k in per_query[0]
               if k.split(".")[0] in ("queries", "catalyst", "scheduler", "executor", "io", "streaming")}
    metrics["scheduler.slot_util"] = metrics["executor.run_ms"] / (cpus * wall) if wall else 0.0
    tr = trigger_summary(triggers)
    metrics["streaming.trigger_p50_ms"] = tr["trigger_p50_ms"] or 0.0
    metrics["streaming.ingest_rows_per_s"] = tr["ingest_rows_per_s"] or 0.0
    for layer in LAYERS:
        metrics[f"self.{layer}_ms"] = sum(p["self_ms"][layer] for p in per_query)
    metrics["trace.wall_ms"] = wall
    return {"wall_ms": wall, "metrics": metrics, "per_query": per_query}


def layer_table(per_query, top=10):
    """Totals per layer plus the (query, layer) pairs with most self time."""
    totals = {k: sum(p["self_ms"][k] for p in per_query) for k in LAYERS}
    pairs = sorted(((p["self_ms"][k], p["query"], k) for p in per_query for k in LAYERS), reverse=True)
    return {"totals_ms": totals,
            "top_self_ms": [{"query": q, "layer": k, "self_ms": v} for v, q, k in pairs[:top]]}


def unstable_counters(a, b):
    """Counters that differ between two metric dicts."""
    return sorted(k for k in COUNTERS if k in a and k in b and a[k] != b[k])
