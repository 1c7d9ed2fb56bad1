#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload read_small --seed 1 --seconds 12 --trace 0

Run from the root of a graft checkout. The first run builds graft and
the harness from source (sbt, offline) and caches the launch spec in
perfbench/.build; later runs rebuild only when a source file changed.

A run generates its input from the seed (perfbench/gen.py), starts one
JVM that drives graft in a closed loop with a single client
(perfbench/harness), checks every query's output against its DuckDB
oracle with tools/check_oracle.py, and prints one JSON object as the last
line of stdout. With --trace 0 it reports the end-to-end metrics of an
untraced run; with --trace 1 it makes a separate traced run and reports
the per-layer metrics. The full report, with spans and layer tables,
goes to perfbench/.out/.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))
import gen  # noqa: E402
import report  # noqa: E402

# Query lists are fixed by name: no measured behaviour moves a query
# between workloads. The two read workloads share one list, so a change
# whose effect depends on input size shows up as opposite moves.
# read_x10 is not in BENCHMARK.json (see README.md) but runs by hand.
READ = ["q01_pricing_summary", "q03_join_nation_revenue", "q16_session_window",
        "dedup_minhash", "ann_ivf_topk", "text_langid"]
LIFECYCLE = ["dedup_minhash_index_update", "streaming_minhash_ingest_parity",
             "q57_bucketed_join"]
WORKLOADS = {
    "read_small": {"replicas": 1, "queries": READ},
    "read_x10": {"replicas": 10, "queries": READ},
    "lifecycle": {"replicas": 1, "queries": LIFECYCLE},
}
MIN_WARM = 3      # warm passes run even when --seconds is used up
DEADLINE_S = 170  # a run must end within 180 s
NEEDED = ["BENCHMARK.json", "build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py",
          "perfbench/harness/build.sbt"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def run(cmd, timeout, **kw):
    """subprocess.run in a process group of its own: on timeout the whole
    group is killed and reaped, so nothing outlives the benchmark."""
    with subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw) as p:
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise
        return p.returncode, out


def sources_digest():
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", *sorted((ROOT / "project").glob("*.sbt")),
             *sorted((ROOT / "project").glob("*.properties")),
             *sorted((ROOT / "src" / "main").rglob("*")),
             *sorted((HERE / "harness").glob("*.sbt")),
             *sorted((HERE / "harness" / "project").glob("*.properties")),
             *sorted((HERE / "harness" / "src").rglob("*"))]
    for f in files:
        if f.is_file():
            h.update(str(f.relative_to(ROOT)).encode() + b"\0" + f.read_bytes())
    return h.hexdigest()


def build():
    """Compile graft and the harness; return (classpath, JVM options)."""
    out = HERE / ".build"
    stamp, spec = out / "sources.sha256", HERE / "harness" / "target" / "launch.txt"
    digest = sources_digest()
    if not (stamp.exists() and spec.exists() and stamp.read_text() == digest):
        out.mkdir(exist_ok=True)
        env = dict(os.environ, COURSIER_MODE="offline")
        repos = Path.home() / ".sbt" / "repositories"
        env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if repos.exists() else ""))
        (out / "tmp").mkdir(exist_ok=True)
        # sbt's global state and temp files stay inside the checkout too
        cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", f"-Dsbt.global.base={out / 'sbt'}",
               f"-Djava.io.tmpdir={out / 'tmp'}", "launchSpec"]
        with open(out / "build.log", "w") as log:
            rc, _ = run(cmd, 840, cwd=HERE / "harness", env=env, stdout=log,
                        stderr=subprocess.STDOUT)
        if rc != 0 or not spec.exists():
            fail(f"build failed, see {out / 'build.log'}")
        stamp.write_text(digest)
    lines = spec.read_text().splitlines()
    return lines[0], lines[1:]


def host_context():
    """nproc, loadavg and the cores busy right now (over half a second,
    before the benchmark starts any work), recorded next to the metrics."""
    def cpu():
        f = [int(x) for x in open("/proc/stat").readline().split()[1:]]
        return f[3] + f[4], sum(f)  # idle + iowait, total
    i0, t0 = cpu()
    time.sleep(0.5)
    i1, t1 = cpu()
    load1 = os.getloadavg()[0]
    ctx = {"nproc": os.cpu_count(), "loadavg_1m": load1,
           "busy_cores": os.cpu_count() * (1 - (i1 - i0) / max(t1 - t0, 1))}
    if load1 >= ctx["nproc"]:
        ctx["loaded"] = True
        print(f"perfbench: WARNING loadavg {load1:.2f} >= nproc {ctx['nproc']}; "
              "timings of this run are suspect", file=sys.stderr)
    return ctx


def oracle_check(input_dir, verify_dir, timeout):
    """Run tools/check_oracle.py unchanged; return {query: status}."""
    _, out = run([sys.executable, str(ROOT / "tools" / "check_oracle.py"),
                  str(input_dir), str(verify_dir)], timeout,
                 stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    status = {}
    for line in out.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("OK", "MISMATCH", "ERROR"):
            status[rest.strip().split()[0].rstrip(":")] = word
    return status


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    for f in NEEDED:
        if not (ROOT / f).is_file():
            fail(f"not a graft checkout: {f} is missing under {ROOT}")
    # BENCHMARK.json names the metrics a run reports, with their units
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    wl = WORKLOADS[a.workload]
    host = host_context()
    classpath, jvm_opts = build()
    t_start = time.monotonic()

    work = HERE / ".work" / f"{a.workload}-{a.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    try:
        # Input generation is part of set-up.
        input_dir = work / "input"
        t0 = time.perf_counter()
        facts = gen.generate(input_dir, a.seed, wl["replicas"])
        gen_s = time.perf_counter() - t0
        order = list(wl["queries"])
        random.Random(a.seed).shuffle(order)

        for d in ("warehouse", "local", "verify", "tmp"):
            (work / d).mkdir(parents=True, exist_ok=True)
        cpus = os.cpu_count()
        cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", classpath,
               "graftbench.Harness", f"input={input_dir}", f"queries={','.join(order)}",
               f"mode={'traced' if a.trace else 'timed'}", f"seconds={a.seconds}",
               f"minwarm={MIN_WARM}", f"cpus={cpus}",
               f"warehouse={work / 'warehouse'}", f"localdir={work / 'local'}",
               f"verify={work / 'verify'}", f"events={work / 'events.jsonl'}"]
        left = DEADLINE_S - (time.monotonic() - t_start)
        with open(work / "jvm.log", "w") as log:
            rc, _ = run(cmd, max(left - 15, 10), stdout=log, stderr=subprocess.STDOUT)
        if rc != 0:
            sys.stderr.write((work / "jvm.log").read_text()[-3000:])
            fail(f"harness exited with {rc}")
        events = [json.loads(line) for line in open(work / "events.jsonl")]
        oracle = oracle_check(input_dir, work / "verify",
                              max(DEADLINE_S - (time.monotonic() - t_start), 5))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    setup_s = gen_s + next(e["ms"] for e in events if e["t"] == "setup") / 1000
    verify = {e["name"]: e for e in events if e["t"] == "verify"}
    bad_verify = sorted(q for q in order if not verify.get(q, {}).get("ok")
                        or oracle.get(q) != "OK")
    peak_mb = next(e["peak_mb"] for e in events if e["t"] == "heap")
    summary = report.timed_summary(events)
    attempted = summary["attempted"] + len(order)
    failed = summary["failed"] + len(bad_verify)
    context = {
        "workload": a.workload, "seed": a.seed, "order": order, "host": host,
        "calib_s": next(e["s"] for e in events if e["t"] == "calib"),
        "input": facts, "generate_s": gen_s, "failed_frac": failed / attempted,
        "failed_queries": summary["failed_queries"], "oracle_failed": bad_verify,
        "query_s": {p: {e["name"]: (e["end"] - e["start"]) / 1000 for e in events
                        if e["t"] == "query" and e["pass"] == p and e["ok"]}
                    for p in sorted({e["pass"] for e in events if e["t"] == "query"})},
    }

    if a.trace:
        cold = report.trace_pass(events, 0, cpus)
        warm = report.trace_pass(events, 2, cpus)
        untraced_ms = sum(e["end"] - e["start"] for e in events
                          if e["t"] == "query" and e["pass"] in (1, 3)) / 2
        metrics = dict(cold["metrics"])
        metrics["trace.overhead_frac"] = warm["wall_ms"] / untraced_ms - 1
        out = HERE / ".out"
        out.mkdir(exist_ok=True)
        path = out / f"trace_{a.workload}_{a.seed}.json"
        flags = {"cold_vs_warm_pass": report.unstable_counters(cold["metrics"], warm["metrics"])}
        if path.exists():
            prev = json.loads(path.read_text())["metrics"]
            flags["previous_run_same_seed"] = report.unstable_counters(prev, metrics)
        context["unstable_counters"] = flags
        context["triggers"] = report.trigger_summary([e for e in events if e["t"] == "trigger"])
        layers = report.layer_table(cold["per_query"])
        path.write_text(json.dumps({
            "context": context, "metrics": metrics, "layers": layers,
            "per_query": cold["per_query"],
            "warm_layers": report.layer_table(warm["per_query"]),
        }, indent=1))
        print(f"self time of the traced cold pass ({cold['wall_ms']:.0f} ms; "
              f"tracing overhead {metrics['trace.overhead_frac']:+.1%}), report in {path}:",
              file=sys.stderr)
        for k, v in layers["totals_ms"].items():
            print(f"  {k:10s} {v:9.0f} ms", file=sys.stderr)
        for t in layers["top_self_ms"][:5]:
            print(f"  top: {t['query']} / {t['layer']}: {t['self_ms']:.0f} ms", file=sys.stderr)
        result = {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                  for m in spec["per_layer"]}
    else:
        context.update({k: summary[k] for k in
                        ("warm_passes", "query_tail_s", "query_tail_pct", "query_samples")})
        values = dict(summary, setup_s=setup_s, peak_heap_mb=peak_mb)
        result = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                  for m in spec["end_to_end"]}
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": result}))


if __name__ == "__main__":
    main()
