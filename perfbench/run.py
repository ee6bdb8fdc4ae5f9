#!/usr/bin/env python3
"""The repository benchmark: the POS ETL and interactive analytics, timed
end to end and split by layer.

Usage (from the repository root):

    python3 perfbench/run.py --workload pos_etl --seed 1 --seconds 18 --trace 0

Workloads: pos_etl, analytics_sf01 (see perfbench/README.md).
It builds the engine and the harness (build.py), generates the inputs
from the seed (gen.py for tables), runs the harness in one JVM
at local[N] for N logical cores, checks every query output against its
DuckDB oracle on the generated inputs (in the canonical form of
tools/check_oracle.py), and prints each metric with its
unit. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} — end-to-end metrics with
--trace 0, per-layer metrics with --trace 1. Everything it writes stays
under .bench_build/ in the repository root.
"""
import argparse
import glob
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True

import gen  # noqa: E402  (the benchmark's own input generator)
from build import BUILD, ROOT, build, die, java, spark_jars  # noqa: E402

WORKLOADS = ("pos_etl", "analytics_sf01")
ANALYTICS_SF = 0.1
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()
RUN_LIMIT_S = 175
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classes, jars, args, cwd, limit_s):
    """Run the harness; its own output goes to cwd/jvm.log."""
    tmp = os.path.join(cwd, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), f"-Xmx{JVM_HEAP}", "-Xss8m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dderby.system.home={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join(classes + [os.path.join(jars, "*")]),
            "perfbench.Harness"] + args
    with open(os.path.join(cwd, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=log, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            code = p.wait(timeout=limit_s)
        except subprocess.TimeoutExpired:
            die(f"harness exceeded {limit_s:.0f} s; see {cwd}/jvm.log", 4)
        finally:
            # also on SIGTERM or Ctrl-C: the JVM runs in its own session
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(os.path.join(cwd, "jvm.log"), errors="replace") as f:
            sys.stderr.write(f.read()[-4000:])
        die(f"harness exited with {code}", 4)


def cpu_times():
    """Aggregate jiffies from /proc/stat (user ... steal), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return None


def oracle_check(run_dir):
    """{query: None if the dump of every pass equals the DuckDB oracle,
    else why}."""
    checks = os.path.join(run_dir, "checks")
    path = os.path.join(checks, "oracle.json")
    if not os.path.exists(path):
        return {}
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import canon  # the repository's oracle-hash form
    inputs = os.path.join(run_dir, "in")
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{inputs}/{t}.parquet')")
    with open(path) as f:
        oracles = json.load(f)
    out = {}
    for name, sql in sorted(oracles.items()):
        want = con.execute(sql).df()
        want.columns = [c.lower() for c in want.columns]
        want_hash = canon(want)
        passes = sorted(glob.glob(os.path.join(checks, name, "pass*")))
        wrong = []
        for d in passes:
            files = sorted(glob.glob(os.path.join(d, "*.parquet")))
            if not files:
                wrong.append(f"{os.path.basename(d)}: no output")
                continue
            got = pd.concat([pd.read_parquet(p) for p in files])
            got.columns = [c.lower() for c in got.columns]
            if sorted(got.columns) != sorted(want.columns):
                why = "schema differs from oracle"
            elif len(got) != len(want):
                why = f"{len(got)} rows, oracle {len(want)}"
            elif canon(got) != want_hash:
                why = "values differ from oracle"
            else:
                continue
            wrong.append(f"{os.path.basename(d)}: {why}")
        out[name] = ("; ".join(wrong) if wrong
                     else None if passes else "no output")
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def end_to_end(res, bad):
    """End-to-end metrics from the timed samples of good ops."""
    meds = {}
    for op in res["ops"]:
        if op["name"] in bad or not op["walls"]:
            continue
        meds[op["name"]] = (median(op["walls"]), op["per_pass"])
    m = {
        "setup_s": median(res["setup_walls"]),
        "suite_s": sum(v * k for v, k in meds.values()),
        "query_geomean_s": math.exp(statistics.fmean(
            math.log(v) for v, _ in meds.values())) if meds else float("nan"),
    }
    for op in ("backfill", "refresh", "report"):
        if op in meds:
            m[f"{op}_s"] = meds[op][0]
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes, digest = build(jars)
    t_start = time.monotonic()

    run_dir = os.path.join(BUILD, "runs",
                           f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    inputs = os.path.join(run_dir, "in")
    t0 = time.monotonic()
    if a.workload == "analytics_sf01":
        gen.write_tables(a.seed, ANALYTICS_SF, inputs)
    inputs_s = time.monotonic() - t0
    cpu0 = cpu_times()
    jvm(classes, jars, ["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", str(a.trace),
                        "--inputs", inputs, "--out", run_dir],
        run_dir, RUN_LIMIT_S - 15 - (time.monotonic() - t_start))
    cpu1 = cpu_times()
    with open(os.path.join(run_dir, "result.json")) as f:
        res = json.load(f)

    checks = oracle_check(run_dir)
    bad = {k: v for k, v in checks.items() if v}
    attempted = failed = 0
    failing = {}
    for op in res["ops"]:
        attempted += op["attempted"]
        if op["name"] in bad:
            failed += op["attempted"]
            failing[op["name"]] = bad[op["name"]]
        else:
            failed += op["failed"]
            if op["failed"]:
                failing[op["name"]] = op["errors"]
    e2e = end_to_end(res, bad)
    e2e["fail_ratio"] = failed / attempted if attempted else 1.0

    per_layer = dict(res["per_layer"], **{"jvm.peak_rss_mb": res["peak_rss_mb"]})
    if a.trace:
        # tracing overhead: this traced run minus the untraced run of the
        # same workload and seed, when one was made before it
        plain = os.path.join(BUILD, "runs", f"{a.workload}-s{a.seed}-t0",
                             "summary.json")
        if os.path.exists(plain):
            with open(plain) as f:
                base = json.load(f)["end_to_end"]["suite_s"]
            per_layer["trace.overhead_s"] = e2e["suite_s"] - base

    prov = dict(res["provenance"])
    prov.update(seed=a.seed, source_digest=digest, commit=git_commit())
    if cpu0 and cpu1:
        # share of the machine's CPU time taken by its hypervisor while
        # the harness ran: runs in a high-steal phase read slower
        d = [b - a for a, b in zip(cpu0, cpu1)]
        prov["cpu_steal_pct"] = 100.0 * d[7] / max(1, sum(d))
    summary = {"workload": a.workload, "traced": bool(a.trace),
               "end_to_end": e2e, "per_layer": per_layer,
               "failing_ops": failing,
               "failed_task_kinds": res["failed_task_kinds"],
               "provenance": prov, "checks": checks,
               "inputs_s": inputs_s + res["inputs_s"],
               "setup_walls": res["setup_walls"],
               "setup_parts": res["setup_parts"],
               "warmup_pass_walls": res["warmup_pass_walls"],
               "pass_walls": res["pass_walls"], "window_s": res["window_s"],
               "op_walls": {o["name"]: o["walls"] for o in res["ops"]},
               "run_s": time.monotonic() - t_start}
    with open(os.path.join(run_dir, "summary.json"), "w") as f:
        json.dump(summary, f, indent=1, sort_keys=True)

    if prov.get("loaded_at_start"):
        print(f"# WARNING: load {prov['loadavg_start']} above "
              f"{prov['cores']} cores at start", file=sys.stderr)
    for name, why in sorted(failing.items()):
        print(f"# FAILED {name}: {why}")
    units = {"setup_s": "s", "suite_s": "s", "query_geomean_s": "s",
             "backfill_s": "s", "refresh_s": "s",
             "report_s": "s", "fail_ratio": "ratio", "trace.overhead_s": "s"}
    units.update((m["name"], m["unit"]) for m in spec["per_layer"])
    tag = " (traced)" if a.trace else ""
    for k, v in e2e.items():
        print(f"{a.workload} {k} = {v:.4f} {units[k]}{tag}")
    if a.trace:
        for k, v in sorted(per_layer.items()):
            print(f"{a.workload} {k} = {v:.4f} {units.get(k, '')}")
    print(f"# provenance: {json.dumps(prov, sort_keys=True)}")
    print(f"# details: {os.path.relpath(run_dir, ROOT)}/summary.json")

    group = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = per_layer if a.trace else e2e
    metrics = {}
    for m in group:
        v = source.get(m["name"])
        if v is None or (isinstance(v, float) and math.isnan(v)):
            die(f"metric {m['name']} was not measured", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0 and not bad,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def git_commit():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           timeout=10)
        return r.stdout.decode().strip() or None if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
