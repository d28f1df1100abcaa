#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. The first run builds the
program and the benchmark with sbt (offline) into the checkout; later runs
reuse that build while the sources are unchanged. Everything a run creates
lives under `.bench_build/` in the checkout: `run/` is this run's working
space (wiped at start and at exit), `reports/` keeps each run's full report
(checks, host noise, all metrics), `trace/` the traced runs' span files,
`logs/` the JVM logs.

The last line of standard output is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). The line before it records host noise: the
CPU steal share over the run (/proc/stat) and the 1-minute load average.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
# the run must end within 180 s; the first run of a checkout may also build
RUN_LIMIT_S = 172
BUILD_RUN_LIMIT_S = 880


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of everything the build reads: the program and the benchmark."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in os.walk(top):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(stamp):
    """Compile with sbt and write the launch file (classpath, JVM options)."""
    launch = os.path.join(STATE, "launch.json")
    if os.path.exists(launch):
        with open(launch) as f:
            spec = json.load(f)
        if spec.get("stamp") == stamp:
            return spec, False
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env.pop("GRAFT_EXTRA_JAVA_OPTS", None)
    opts = ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts.append(f"-Dsbt.repository.config={repos}")
    env["SBT_OPTS"] = " ".join(opts)
    tmp = launch + ".tmp"
    log_path = os.path.join(STATE, "logs", "build.log")
    with open(log_path, "w") as log:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", f"writeLaunch {tmp}"],
                           cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=780)
    if r.returncode != 0 or not os.path.exists(tmp):
        fail(f"build failed (see {os.path.relpath(log_path, ROOT)})", 3)
    with open(tmp) as f:
        spec = json.load(f)
    spec["stamp"] = stamp
    with open(launch, "w") as f:
        json.dump(spec, f)
    os.remove(tmp)
    return spec, True


def ivf_dirs():
    """The program's IVF index cache lives in tmpfs and outlives the
    process; the run removes every one it created."""
    base = "/dev/shm"
    if not os.path.isdir(base):
        return set()
    return {os.path.join(base, d) for d in os.listdir(base) if d.startswith("graft-ivf-index-")}


def cpu_ticks():
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    steal = v[7] if len(v) > 7 else 0
    return sum(v[:8]), steal


def load1():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def oracle_compare(tables_dir, out_dir):
    """DuckDB's answers vs the program's, compared as tools/oracle_check.py
    does: columns sorted by name, rows sorted, values compared exactly."""
    import duckdb
    con = duckdb.connect()
    for t in sorted(os.listdir(tables_dir)):
        if t.endswith(".parquet"):
            con.sql(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{tables_dir}/{t}'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for name, sql in sorted(oracle.items()):
        try:
            got = con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'").df()
            want = con.sql(sql).df()
        except Exception as e:  # noqa: BLE001 - any failure is a mismatch
            fails.append((name, f"exec error: {e}"))
            continue
        gc, wc = sorted(got.columns), sorted(want.columns)
        if gc != wc:
            fails.append((name, f"schema: spark={gc} duck={wc}"))
            continue
        if len(got) != len(want):
            fails.append((name, f"rows: spark={len(got)} duck={len(want)}"))
            continue
        g = got[gc].sort_values(gc).reset_index(drop=True)
        w = want[wc].sort_values(wc).reset_index(drop=True)

        def h(df):
            return hashlib.sha256("\n".join(",".join(repr(v) for v in row)
                                            for row in df.itertuples(index=False)).encode()).hexdigest()
        if h(g) != h(w):
            fails.append((name, "value mismatch"))
    return len(oracle), fails


def run_once(a, spec, launch, built, t_start):
    """One benchmark JVM: returns (result line, report)."""
    work = os.path.join(STATE, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    os.makedirs(os.path.join(STATE, "logs"), exist_ok=True)
    log_path = os.path.join(STATE, "logs", f"{tag}.log")
    result_path = os.path.join(work, "result.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + launch["java_options"] +
           [f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dperfbench.stamp={launch['stamp']}", "-cp", os.pathsep.join(launch["classpath"]),
            "graft.perfbench.Main",
            "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--out", result_path,
            "--cores", str(cores), "--state", STATE,
            "--data", os.path.join(HERE, "data", "sf0.01")])
    ivf0 = ivf_dirs()
    tot0, steal0 = cpu_ticks()
    load_start = load1()
    limit = (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t_start)
    try:
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL)
            try:
                rc = proc.wait(timeout=max(limit - 8, 10))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                fail(f"the run did not finish in time (log: {os.path.relpath(log_path, ROOT)})", 4)
        tot1, steal1 = cpu_ticks()
        host = {"steal_frac": (steal1 - steal0) / max(tot1 - tot0, 1),
                "load1_start": load_start, "load1_end": load1(), "cores": cores}
        if not os.path.exists(result_path):
            fail(f"the benchmark JVM wrote no result, exit {rc} (log: {os.path.relpath(log_path, ROOT)})", 5)
        with open(result_path) as f:
            res = json.load(f)
        checks = res["checks"]
        failed = res["failed"]
        if a.workload == "query_battery" and "oracle_dir" in res["info"]:
            n, fails = oracle_compare(res["info"]["tables_dir"], res["info"]["oracle_dir"])
            checks.append({"name": f"oracle: {n - len(fails)}/{n} queries match DuckDB",
                           "ok": not fails, "detail": "; ".join(f"{q}: {m[:200]}" for q, m in fails)})
            failed += len(fails)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        for d in ivf_dirs() - ivf0:
            shutil.rmtree(d, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["layers"] if a.trace else res["e2e"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        if v is None or not math.isfinite(v):
            if not a.trace:
                checks.append({"name": f"metric {m['name']} measured", "ok": False, "detail": str(v)})
            v = 0.0  # traced: a layer this workload does not reach
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    correct = rc == 0 and failed == 0 and all(c["ok"] for c in checks)
    out = {"correct": correct, "attempted": max(int(res["attempted"]), 1),
           "failed": int(failed), "metrics": metrics}
    report = {"result": out, "host": host, "checks": checks, "e2e": res["e2e"],
              "layers": res["layers"], "info": res["info"], "jvm_exit": rc,
              "stamp": launch["stamp"], "wall_s": time.time() - t_start}
    os.makedirs(os.path.join(STATE, "reports"), exist_ok=True)
    with open(os.path.join(STATE, "reports", f"{tag}.json"), "w") as f:
        json.dump(report, f, indent=1)
    return out, report


def untraced_iteration_s(workload, stamp):
    """iteration_s of every untraced run of this workload and build."""
    d = os.path.join(STATE, "reports")
    vals = []
    for f in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        if f.startswith(workload + "-seed") and f.endswith("-trace0.json"):
            with open(os.path.join(d, f)) as fh:
                r = json.load(fh)
            if r.get("stamp") == stamp and r["result"]["correct"]:
                vals.append(r["e2e"]["iteration_s"])
    return vals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t_start = time.time()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the root of a full checkout of the repository")

    launch, built = build(source_stamp())
    if a.trace:
        # tracing overhead = this traced run's iteration_s against the
        # untraced runs' (measured first when this build has none yet)
        base = untraced_iteration_s(a.workload, launch["stamp"])
        if not base:
            run_once(argparse.Namespace(**{**vars(a), "trace": 0}), spec, launch, built, t_start)
            base = untraced_iteration_s(a.workload, launch["stamp"])
    out, report = run_once(a, spec, launch, built, t_start)
    if a.trace and base and "iteration_s" in report["e2e"]:
        ratio = report["e2e"]["iteration_s"] / sorted(base)[len(base) // 2] - 1.0
        out["metrics"]["trace.overhead_frac"] = {"value": ratio, "unit": "ratio"}
    for c in report["checks"]:
        if not c["ok"]:
            print(f"perfbench: check failed: {c['name']} {c['detail']}", file=sys.stderr)
    print(json.dumps({"host": report["host"]}))
    print(json.dumps(out))


if __name__ == "__main__":
    main()
