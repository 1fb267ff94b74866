#!/usr/bin/env python3
"""Benchmark of the SparkEntry query suite.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the program from source (perfbench/build.py), then starts one
driver JVM (perfbench/harness) in an empty run directory of its own, with
its own java.io.tmpdir and spark.local.dir, deleted afterwards. The JVM
runs the workload's keys (perfbench/workloads.json) serially on `local[N]`,
N = the CPUs this process may use, over the sf0.01 tables in
perfbench/data: untimed warm-up passes, then the workload's fixed number
of timed passes. The pass counts are sized so that set-up and timed passes
take about S = BENCHMARK.json's run_seconds on a 4-core machine; S itself
does not change them (the details report the timed seconds).
The seed only permutes the key order. Every key call is checked against
perfbench/refs.json.

The last stdout line is one JSON object: `correct`, `attempted` (key calls),
`failed` (calls that threw or whose output differs from its reference) and
`metrics`, the line before it the run's details. With --trace 0 the
metrics are BENCHMARK.json's end-to-end ones, medians over the timed
passes: wall_s (one pass), cpu_s (CPU seconds of the JVM in one pass),
key_p50_s (median key latency, construct plus action) and setup_s (JVM
start to the first timed key: session, extensions and the warm-up
passes). With --trace 1 the run makes an odd number of timed passes, at
least three, and traces every other one from the first, so that traced
passes bracket the untraced ones; the metrics are the per-layer ones, per
traced pass. A key call whose jobs run outside its call window (its spans
do not reconcile) counts as failed. Spans, per-key detail and the trace's
checks go to .bench_build/results/.

    python3 perfbench/run.py --census [--trace 1] [--record-refs]

runs every key of SparkEntry.queries once after a warm-up pass (traced:
two traced passes, whose per-key job counts are compared), and with
--record-refs rewrites refs.json from the last pass.
"""
import argparse
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import threading
from pathlib import Path

sys.dont_write_bytecode = True
import build  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
RESULTS = build.BUILD / "results"
DATA = HERE / "data"
TIMEOUT_S = 170
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
         "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
         "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
TAIL_PERCENTILES = (99.9, 99, 95, 90, 80, 75, 50)


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, keys, run_dir, timeout=TIMEOUT_S, **harness_args):
    """Runs the harness in an empty run_dir of its own, with its own tmpdir and
    Spark local dir; returns (records, peak_rss_mb, stderr text, leftovers)."""
    tmp, local = run_dir / "tmp", run_dir / "local"
    for d in (tmp, local):
        d.mkdir(parents=True)
    (run_dir / "keys").write_text("\n".join(keys) + "\n")
    harness_args.update(data=DATA, keys=run_dir / "keys", cores=cores(), out=run_dir / "out.json")
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={local}",
              f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
              f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
              "-cp", cp, "perfbench.Harness"] + [f"{k}={v}" for k, v in harness_args.items()])
    # Spark and the program read SPARK_* variables (SPARK_LOCAL_DIRS beats
    # spark.local.dir); the run pins its own settings instead.
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_") and k not in ("JAVA_TOOL_OPTIONS", "_JAVA_OPTIONS")}
    with open(run_dir / "stderr.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=subprocess.DEVNULL, stderr=err)
        timer = threading.Timer(timeout, proc.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
            proc.returncode = os.waitstatus_to_exitcode(status)
        finally:
            timer.cancel()
    stderr = (run_dir / "stderr.log").read_text(errors="replace")
    if proc.returncode != 0 or not (run_dir / "out.json").is_file():
        raise RuntimeError(f"harness exited {proc.returncode}:\n{stderr[-3000:]}")
    leftovers = sorted(str(f.relative_to(run_dir)) for d in (tmp, local) for f in d.iterdir())
    return json.loads((run_dir / "out.json").read_text()), usage.ru_maxrss / 1024, stderr, leftovers


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(values):
    """Highest listed percentile (nearest rank) with at least 10 samples beyond it."""
    xs = sorted(values)
    for p in TAIL_PERCENTILES:
        rank = max(1, -(-len(xs) * p // 100))
        if len(xs) - rank >= 10:
            return p, xs[int(rank) - 1], len(xs) - int(rank)
    return None


def check(execs, refs):
    """The key calls that threw or whose output differs from its reference,
    as {(key, pass): reason}."""
    bad = {}
    for e in execs:
        ref = refs.get(e["key"])
        got = e["ok"] and [e["cols"], e["rows"], e["d1"], e["d2"]]
        if not got or not ref or got != [ref["cols"], ref["rows"], ref["d1"], ref["d2"]]:
            bad[(e["key"], e["pass"])] = e.get("error") or ("no reference" if not ref else "output differs")
    return bad


def union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    total, end = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e > end:
            total += e - max(s, end)
            end = e
    return total


def end_to_end(rec, timed):
    """End-to-end metrics: medians over the timed passes of one run."""
    per_key = {}
    for e in rec["execs"]:
        if e["pass"] in {p["pass"] for p in timed}:
            per_key.setdefault(e["key"], []).append((e["t2"] - e["t0"]) / 1000)
    key_medians = [median(v) for v in per_key.values()]
    m = {"wall_s": median([(p["end"] - p["start"]) / 1000 for p in timed]),
         "cpu_s": median([p["cpu_s"] for p in timed]),
         "key_p50_s": median(key_medians),
         "setup_s": rec["setup_s"]}
    t = tail([x for v in per_key.values() for x in v])
    info = {"pass_walls_s": [round((p["end"] - p["start"]) / 1000, 3) for p in rec["passes"]],
            "pass_cpu_s": [round(p["cpu_s"], 3) for p in rec["passes"]],
            "timed_passes": len(timed),
            "key_tail": t and {"percentile": t[0], "value_s": t[1], "samples_beyond": t[2]}}
    return m, info, per_key


def spans_and_layers(rec, cores, stderr, leftovers):
    """Spans of the traced passes, per-layer metrics (per traced pass),
    per-key detail and the trace's own checks."""
    traced = [p for p in rec["passes"] if p["traced"]]
    execs = [e for e in rec["execs"] if e["pass"] in {p["pass"] for p in traced}]
    by = {}
    for x in rec["events"]:
        by.setdefault(x["ev"], []).append(x)
    spans = []

    def span(name, kind, start, end, parent, key=None, **kw):
        spans.append(dict(id=len(spans), parent=parent, name=name, kind=kind, key=key,
                          start=start, end=end, **kw))
        return len(spans) - 1

    # pass -> key -> construct | action | drain, from the harness's clock.
    windows = []
    for p in traced:
        pid = span(f"pass{p['pass']}", "pass", p["start"], p["end"], None)
        for e in (x for x in execs if x["pass"] == p["pass"]):
            kid = span(e["key"], "key", e["t0"], e["t3"], pid, e["key"])
            phases = {ph: span(ph, ph, s, t, kid, e["key"])
                      for ph, s, t in (("construct", e["t0"], e["t1"]), ("action", e["t1"], e["t2"]),
                                       ("drain", e["t2"], e["t3"]))}
            windows.append((e, phases))

    def locate(t):
        """The key call and phase running at listener time t (whole ms)."""
        for slack in (0, 1):
            for e, phases in windows:
                if e["t0"] - 1 - slack < t <= e["t3"] + slack:
                    ph = "construct" if t < e["t1"] else "action" if t < e["t2"] else "drain"
                    return e, ph, phases[ph]
        return None, None, None

    # SQL executions, and the Catalyst phases of each SQL action inside them.
    sql_end = {x["exec"]: x["t"] for x in by.get("sql_end", [])}
    sqls = []
    for x in by.get("sql_start", []):
        e, ph, parent = locate(x["t"])
        if e is not None:
            sid = span(f"sql{x['exec']}", "sql", x["t"], sql_end.get(x["exec"], x["t"]), parent, e["key"])
            sqls.append((x["exec"], ph, sid))
    sql_of = {ex: sid for ex, _, sid in sqls}

    def innermost_sql(key, t, parent):
        for _, _, sid in sqls:
            s = spans[sid]
            if s["key"] == key and s["start"] <= t <= s["end"]:
                return sid
        return parent

    catalyst = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    actions = 0
    for a in by.get("action", []):
        e, _, parent = locate(a.get("planning", [a["t"]])[0])
        if e is None:
            continue
        actions += 1
        for ph in catalyst:
            if ph in a:
                s, t = a[ph]
                catalyst[ph] += (t - s) / 1000
                span(ph, "catalyst", s, t, innermost_sql(e["key"], s, parent), e["key"], func=a["func"])

    # Jobs (parented by their SQL execution) and their stages.
    job_end = {x["job"]: x["t"] for x in by.get("job_end", [])}
    stage_job, job_iv, jobs_of, unreconciled = {}, {}, {}, set()
    eager_jobs = 0
    for x in by.get("job_start", []):
        e, ph, parent = locate(x["t"])
        end = job_end.get(x["job"], x["t"])
        key = x.get("group") or (e and e["key"])
        # A job of a key's group must run inside that key's call.
        if x.get("group") and (e is None or e["key"] != x["group"] or end > e["t3"] + 1):
            unreconciled.add(x["group"])
        if e is not None:
            jobs_of[(e["key"], e["pass"])] = jobs_of.get((e["key"], e["pass"]), 0) + 1
            job_iv.setdefault((e["key"], e["pass"]), []).append((x["t"], end))
            eager_jobs += ph == "construct"
        if x.get("exec") is not None:
            parent = sql_of.get(int(x["exec"]), parent)
        jid = span(f"job{x['job']}", "job", x["t"], end, parent, key)
        for st in x["stages"]:
            stage_job[st] = jid
    stages = by.get("stage_end", [])
    submit = {}
    for x in stages:
        submit[(x["stage"], x["attempt"])] = x["submit"]
        parent = stage_job.get(x["stage"])
        span(f"stage{x['stage']}.{x['attempt']}", "stage", x["submit"], x["t"], parent,
             parent is not None and spans[parent]["key"] or None, tasks=x["tasks"])
    tasks = by.get("task", [])
    done = [t for t in tasks if t["ok"] and "cpu_ns" in t]

    # Self time: a span's duration minus the part its children cover.
    children = {}
    for sp in spans:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    for sp in spans:
        sp["self_ms"] = (sp["end"] - sp["start"]) - union(children.get(sp["id"], []), sp["start"], sp["end"])

    mb = 1 << 20
    task_sum = lambda field, scale: sum(t.get(field, 0) for t in done) / scale
    job_s = sum(union(job_iv.get((e["key"], e["pass"]), []), e["t0"], e["t3"]) for e, _ in windows) / 1000
    traced_wall = sum(p["end"] - p["start"] for p in traced) / 1000
    # Summed over the traced passes, reported per pass.
    summed = {
        "queries.construct_s": sum(e["t1"] - e["t0"] for e in execs) / 1000,
        "queries.eager_actions": sum(1 for _, ph, _ in sqls if ph == "construct"),
        "queries.eager_jobs": eager_jobs,
        "tables.input_mb": task_sum("in_bytes", mb),
        "tables.output_mb": task_sum("out_bytes", mb),
        "catalyst.actions": actions,
        "catalyst.analysis_s": catalyst["analysis"],
        "catalyst.optimization_s": catalyst["optimization"],
        "catalyst.planning_s": catalyst["planning"],
        "sched.jobs": sum(jobs_of.values()),
        "sched.stages": len(stages),
        "sched.tasks": len(tasks),
        "sched.job_s": job_s,
        "sched.driver_gap_s": sum(e["t3"] - e["t0"] for e in execs) / 1000 - job_s,
        "sched.task_wait_s": sum(max(0.0, t["launch"] - submit.get((t["stage"], t["attempt"]), t["launch"]))
                                 for t in tasks) / 1000,
        "executor.cpu_s": task_sum("cpu_ns", 1e9),
        "executor.run_s": task_sum("run_ms", 1000),
        "executor.deser_s": task_sum("deser_ms", 1000),
        "executor.gc_s": task_sum("gc_ms", 1000),
        "shuffle.write_mb": task_sum("sw_bytes", mb),
        "shuffle.read_mb": task_sum("sr_bytes", mb),
        "shuffle.fetch_wait_s": task_sum("fetch_wait_ms", 1000),
        "shuffle.spill_mb": task_sum("spill_bytes", mb),
        "artifact.published": sum(e["store_new"] for e in execs),
        "cachedrain.drain_s": sum(e["t3"] - e["t2"] for e in execs) / 1000,
        "cachedrain.rdds_released": sum(e["rdds_released"] for e in execs),
        "failures.task_failures": sum(1 for t in tasks if not t["ok"]),
        "failures.stage_retries": sum(1 for x in stages if x["attempt"] > 0),
    }
    n = max(1, len(traced))
    layers = {k: v / n for k, v in summed.items()}
    layers.update({
        "sched.tasks_per_job": len(tasks) / max(1, summed["sched.jobs"]),
        "sched.core_util": sum(t["finish"] - t["launch"] for t in tasks) / 1000 / max(1e-9, cores * traced_wall),
        "executor.peak_mem_mb": max([t.get("peak_mem", 0) for t in done] or [0]) / mb,
        "artifact.store_mb": rec["passes"][-1]["store_bytes"] / mb,
        "hygiene.leftover_paths": len(leftovers),
        "failures.sched_errors": sum(1 for line in stderr.splitlines()
                                     if line.startswith("ERROR org.apache.spark.scheduler")),
    })

    detail = {}
    for e, _ in windows:
        d = detail.setdefault(e["key"], {"jobs": [], "wall_s": [], "construct_s": [], "action_s": [],
                                         "drain_s": []})
        d["jobs"].append(jobs_of.get((e["key"], e["pass"]), 0))
        for f, s, t in (("wall_s", "t0", "t3"), ("construct_s", "t0", "t1"), ("action_s", "t1", "t2"),
                        ("drain_s", "t2", "t3")):
            d[f].append((e[t] - e[s]) / 1000)
    checks = {"traced_passes": len(traced),
              "job_counts_repeat": sorted(k for k, d in detail.items() if len(d["jobs"]) > 1 and len(set(d["jobs"])) == 1),
              "job_counts_vary": sorted(k for k, d in detail.items() if len(set(d["jobs"])) > 1),
              "unreconciled_keys": sorted(unreconciled)}
    return spans, layers, detail, checks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--census", action="store_true")
    ap.add_argument("--record-refs", action="store_true")
    a = ap.parse_args()

    spec = json.loads((HERE / "workloads.json").read_text())
    if a.census:
        keys, warmup, passes = ["*"], 1, 1
    elif a.workload in spec["workloads"]:
        w = spec["workloads"][a.workload]
        keys, warmup, passes = list(w["keys"]), w["warmup"], w["passes"]
        random.Random(a.seed).shuffle(keys)
    else:
        sys.exit(f"unknown workload {a.workload!r}; choose from {sorted(spec['workloads'])}")
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: {e}")

    name = "census" if a.census else a.workload
    run_dir = build.BUILD / "runs" / f"{name}-seed{a.seed}-trace{a.trace}-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        # A traced run makes an odd number of timed passes, at least three,
        # so that its traced passes (every other one, from the first)
        # bracket its untraced ones and compare job counts.
        if a.trace:
            passes = max(3, passes | 1)
        args = dict(warmup=warmup, passes=passes, trace=a.trace,
                    timeout=3600 if a.census else TIMEOUT_S)
        rec, rss_mb, stderr, leftovers = run_jvm(cp, keys, run_dir, **args)
    except RuntimeError as e:
        sys.exit(f"perfbench: {e}")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    refs_path = HERE / "refs.json"
    refs = json.loads(refs_path.read_text()) if refs_path.is_file() else {}
    if a.record_refs:
        last = max(p["pass"] for p in rec["passes"])
        refs = {e["key"]: {k: e[k] for k in ("cols", "rows", "d1", "d2")}
                for e in sorted(rec["execs"], key=lambda e: e["key"]) if e["pass"] == last and e["ok"]}
        refs_path.write_text(json.dumps(refs, indent=1, sort_keys=True) + "\n")
    bad = check(rec["execs"], refs)
    timed = [p for p in rec["passes"] if p["pass"] > warmup and not p["traced"]]
    metrics, info, key_s = end_to_end(rec, timed)
    info.update(workload=name, seed=a.seed, cores=rec["cores"], confs=rec["confs"], peak_rss_mb=rss_mb,
                keys=len(set(e["key"] for e in rec["execs"])), leftover_paths=leftovers[:20],
                seconds=a.seconds, timed_s=round(sum(p["end"] - p["start"] for p in timed) / 1000, 3))
    RESULTS.mkdir(parents=True, exist_ok=True)
    out = {"info": info, "metrics": metrics, "key_s": key_s}
    if a.trace:
        spans, layers, detail, checks = spans_and_layers(rec, rec["cores"], stderr, leftovers)
        traced = [p["pass"] for p in rec["passes"] if p["traced"]]
        layers["trace.overhead_s"] = median([(p["end"] - p["start"]) / 1000 for p in rec["passes"]
                                             if p["traced"]]) - metrics["wall_s"]
        checks["bracketed"] = bool(timed) and all(min(traced) < p["pass"] < max(traced) for p in timed)
        info["trace_checks"] = checks
        for e in rec["execs"]:
            if e["key"] in checks["unreconciled_keys"] and e["pass"] in traced:
                bad.setdefault((e["key"], e["pass"]), "jobs outside its call")
        out.update(layers=layers, per_key=detail, spans=spans)
        values = layers
    else:
        values = metrics
    info.update(fail_ratio=len(bad) / max(1, len(rec["execs"])),
                failures=sorted({(k, r) for (k, _), r in bad.items()})[:50])
    # The printed metrics are exactly BENCHMARK.json's, with its units.
    declared = json.loads((ROOT / "BENCHMARK.json").read_text())["per_layer" if a.trace else "end_to_end"]
    shown = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in declared}
    (RESULTS / f"{name}-seed{a.seed}-trace{a.trace}.json").write_text(json.dumps(out))
    print(json.dumps({"info": info}, sort_keys=True))
    print(json.dumps({"correct": not bad, "attempted": len(rec["execs"]), "failed": len(bad),
                      "metrics": shown}))


if __name__ == "__main__":
    main()
