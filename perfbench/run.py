#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one run.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload olap_sql --seed 1 --seconds 6 --trace 0

Builds the engine and the harness from source (once per source state),
generates the input tables (once), then runs the workload in one JVM on
local[N], N = the cores this process may use: repeated set-up, then a
closed loop of passes over the workload's query list. Every query's
complete result is checked against its DuckDB oracle. The last line of
stdout is one JSON object: end-to-end metrics with --trace 0, per-layer
metrics with --trace 1. Exits non-zero when a query fails (throws, times
out, differs from its oracle or from its own earlier pass) or when the
traced self-check fails. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DATA_SF, DATA_SEED = 0.1, 42
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
# where the engine's streaming queries stage files, keyed by the data dir
PROGRAM_TMP = ["/tmp/graft-stream-src", "/tmp/graft-stream-out", "/tmp/graft-sink"]


T0 = time.monotonic()


def log(msg):
    print(f"[perfbench {time.monotonic() - T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def files_under(d, suffix=""):
    return [os.path.join(dp, f) for dp, _, fs in os.walk(d) for f in fs if f.endswith(suffix)]


def run_quiet(cmd, cwd, env=None, timeout=None):
    """Runs a child in its own process group, output to stderr; kills the
    whole group if it outlives `timeout`."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def ensure_build():
    """Compiles engine + harness with sbt when the sources changed; returns
    the runtime classpath."""
    srcs = (files_under(ENGINE_SRC, ".scala") + files_under(os.path.join(HERE, "src"), ".scala")
            + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    stamp, cp_file = os.path.join(WORK, "build.stamp"), os.path.join(WORK, "classpath.txt")
    key = digest(srcs)
    if os.path.exists(stamp) and open(stamp).read() == key and os.path.exists(cp_file):
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    rc, out = run_quiet(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                         "export Runtime/fullClasspath"], HERE, env, timeout=840)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines:
        sys.stderr.write(out)
        raise SystemExit(f"sbt build failed (exit {rc})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(key)
    return cp


def ensure_data():
    gen = os.path.join(HERE, "gen_data.py")
    key = f"{digest([gen])}:{DATA_SF}:{DATA_SEED}"
    d = os.path.join(WORK, "data", f"sf{DATA_SF}")
    stamp = os.path.join(d, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == key:
        return d  # the oracle cache under d lives and dies with the tables
    log(f"generating sf{DATA_SF} input tables")
    shutil.rmtree(d, ignore_errors=True)
    subprocess.run([sys.executable, gen, d, "--sf", str(DATA_SF), "--seed", str(DATA_SEED)], check=True)
    with open(stamp, "w") as f:
        f.write(key)
    return d


def plan(workload, seed):
    """The pass (the workload's query list in a seeded order) and the
    number of warm-up passes."""
    spec = json.load(open(os.path.join(HERE, "workloads.json")))
    if workload not in spec["workloads"]:
        raise SystemExit(f"unknown workload {workload!r}; known: {', '.join(spec['workloads'])}")
    queries = list(spec["workloads"][workload])
    random.Random(f"{workload}:{seed}").shuffle(queries)
    return queries, spec["warmup_passes"][workload]


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, data, out, workload, queries, warmup_passes, seconds, trace):
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cmd = (["java", "-Xmx3g", "-XX:+UseG1GC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={WORK}/tmp",
              f"-Dspark.sql.warehouse.dir={WORK}/warehouse",
              "-Dspark.scheduler.listenerbus.eventqueue.capacity=200000",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--queries", ",".join(queries),
              "--warmup-passes", str(warmup_passes),
              "--seconds", str(seconds), "--trace", "1" if trace else "0",
              "--data", data, "--out", out])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=f"{WORK}/spark-local")
    rc, _ = run_quiet(cmd, WORK, env, timeout=JVM_TIMEOUT_S)
    if rc != 0:
        raise SystemExit(f"benchmark JVM failed (exit {rc})")
    return json.load(open(os.path.join(out, "run.json")))


def clean_program_tmp(data):
    key = re.sub(r"[^A-Za-z0-9.]", "_", data)
    for base in PROGRAM_TMP:
        shutil.rmtree(os.path.join(base, key), ignore_errors=True)


def tail(samples):
    """p90 by linear interpolation."""
    if len(samples) < 2:
        return samples[0] if samples else 0.0
    return statistics.quantiles(samples, n=10, method="inclusive")[-1]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(run, failed_runs):
    """The first warm-up pass (every query's first touch) counts as
    set-up; no warm-up pass is a sample."""
    measured = [r for r in run["runs"] if not r["warmup"] and not r["traced"]]
    ok = [r["wall_s"] for r in measured if (r["name"], r["pass"]) not in failed_runs]
    passes = [x["wall_s"] for x in run["passes"] if not x["warmup"] and not x["traced"]]
    first_touch = run["passes"][0]["wall_s"]
    attempted = len(run["runs"])
    m = {
        "setup_s": (median([s["setup_s"] for s in run["setups"]]) + first_touch, "s"),
        "pass_s": (median(passes), "s"),
        "latency_p50_s": (median(ok), "s"),
        "latency_tail_s": (tail(ok), "s"),
        "ok_frac": ((attempted - len(failed_runs)) / attempted, "fraction"),
        "peak_rss_mb": (run["peak_rss_mb"], "MB"),
    }
    return m, f"latency_tail_s is the p90 of n={len(ok)} samples"


LAYER_UNITS = {"_s": "s", "_jobs": "count", "_bytes": "bytes", "_rows": "rows"}
COUNTED = ["spark.jobs", "spark.stages", "spark.tasks", "shuffle.write_bytes", "shuffle.read_bytes",
           "io.read_bytes", "io.read_rows", "io.write_bytes", "io.write_rows"]
SELF_TOL_MS, SELF_TOL_FRAC = 5.0, 0.005


def unit_of(name):
    for suffix, unit in LAYER_UNITS.items():
        if name.endswith(suffix):
            return unit
    return {"task.cpu_ns_per_row": "ns/row", "stage.skew": "ratio"}.get(name, "count")


def per_layer(run):
    """Per-workload layer metrics from the two traced passes (sums over
    the pass, median of the two), plus the self-checks."""
    ledger = run["ledger"] or []
    by_pass = {}
    for row in ledger:
        by_pass.setdefault(row["pass"], []).append(row)
    names = sorted({k for row in ledger for k in row["metrics"]})
    out = {}
    for k in names:
        if k in ("stage.skew", "task.cpu_ns_per_row"):
            continue
        out[k] = median([sum(r["metrics"][k] for r in rows) for rows in by_pass.values()])
    # cpu per row over the whole pass; skew of the longest stage's query
    cpu = median([sum(r["metrics"]["task.cpu_s"] for r in rows) for rows in by_pass.values()])
    rows_in = out.get("io.read_rows", 0.0)
    out["task.cpu_ns_per_row"] = cpu * 1e9 / rows_in if rows_in else 0.0
    out["stage.skew"] = max((r["metrics"]["stage.skew"] for r in ledger), default=1.0)
    for k in ("GraftSession.get_s", "GraftFunctions.register_s"):
        out[k] = median([s[k] for s in run["setups"]])
    batches = [ms / 1e3 for r in ledger for ms in r["batch_ms"]]
    out["batch_p50_s"] = median(batches)
    out["batch_tail_s"] = tail(batches)
    traced = [x["wall_s"] for x in run["passes"] if x["traced"]]
    untraced = [x["wall_s"] for x in run["passes"] if not x["warmup"] and not x["traced"]]
    out["trace.overhead"] = median(traced) / median(untraced) if untraced else 0.0
    # self-check 1: the two traced passes repeat every count exactly
    p1, p2 = sorted(by_pass)[:2] if len(by_pass) >= 2 else (None, None)
    first = {r["name"]: r["metrics"] for r in ledger if r["pass"] == p1}
    mismatches = []
    for r in ledger:
        if r["pass"] == p2 and r["name"] in first:
            for k in COUNTED:
                if first[r["name"]][k] != r["metrics"][k]:
                    mismatches.append(f"{r['name']} {k} {first[r['name']][k]:.0f}->{r['metrics'][k]:.0f}")
    # self-check 2: span self times add up to the query's wall time
    self_err = [abs(r["self_sum_ms"] - r["wall_ms"]) - SELF_TOL_MS - SELF_TOL_FRAC * r["wall_ms"]
                for r in ledger]
    self_bad = [r["name"] for r, e in zip(ledger, self_err) if e > 0]
    out["selfcheck.count_mismatches"] = float(len(mismatches))
    out["selfcheck.self_time_violations"] = float(len(self_bad))
    units = {k: ("ratio" if k == "trace.overhead" else unit_of(k)) for k in out}
    return {k: (v, units[k]) for k, v in out.items()}, mismatches, self_bad, batches


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(ENGINE_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit(f"engine sources not found under {ENGINE_SRC}")
    import oracle_check  # after the check: it imports the repo's tools/check.py
    queries, warmup_passes = plan(a.workload, a.seed)
    os.makedirs(WORK, exist_ok=True)
    cp = ensure_build()
    data = ensure_data()
    out = os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(out, ignore_errors=True)
    log(f"{a.workload} seed {a.seed}: {', '.join(queries)}")
    try:
        run = run_jvm(cp, data, out, a.workload, queries, warmup_passes, a.seconds, a.trace == 1)
    finally:
        clean_program_tmp(data)
    log("JVM done")

    errors = {}  # (name, pass) -> reason
    for r in run["runs"]:
        if r["error"]:
            errors[(r["name"], r["pass"])] = r["error"]
    oracle_cache = os.path.join(data, "oracle_cache")
    for name, reason in oracle_check.check(data, out, run["oracle_sql"], run["queries"], oracle_cache).items():
        for r in run["runs"]:
            if r["name"] == name:
                errors[(r["name"], r["pass"])] = reason
    log("oracle check done")
    failed_names = sorted({n for n, _ in errors})
    for (name, p), reason in sorted(errors.items()):
        log(f"FAILED {name} (pass {p}): {reason}")

    if a.trace:
        metrics, mismatches, self_bad, batches = per_layer(run)
        ratio = metrics["trace.overhead"][0]
        with open(os.path.join(out, "overhead.json"), "w") as f:
            json.dump({"workload": a.workload, "traced_pass_s_over_untraced": ratio,
                       "passes": run["passes"], "count_mismatches": mismatches,
                       "self_time_violations": self_bad}, f, indent=1)
        for m in mismatches:
            log(f"self-check: count differs between traced passes: {m}")
        for n in self_bad:
            log(f"self-check: span self times do not add up to the wall time of {n}")
        check_ok = not mismatches and not self_bad
        note = f"trace overhead {ratio:.3f}x; {len(batches)} micro-batches; spans in {out}/spans.json"
    else:
        metrics, note = end_to_end(run, set(errors))
        check_ok = True
    correct = not errors and check_ok
    for k, (v, u) in metrics.items():
        print(f"{a.workload} {k} = {v:.6g} {u}")
    print(f"{a.workload} failed_frac = {len(errors) / len(run['runs']):.4f} "
          f"failed queries: {', '.join(failed_names) or 'none'}")
    print(f"{a.workload} {note}")
    print(json.dumps({"correct": correct, "attempted": len(run["runs"]), "failed": len(errors),
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
