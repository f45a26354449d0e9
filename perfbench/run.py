#!/usr/bin/env python3
"""FleetLogix benchmark: one command per run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
                             [--inject-fault]

Run from the repository root. Builds the program and the benchmark from
source (sbt, offline) into .bench_build/ when the sources changed, runs one
workload in a fresh JVM (fleetbench.Main), checks the outputs (the KPI
results also against DuckDB running the program's FleetOracles SQL), and
prints as its last stdout line:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end_to_end metric of BENCHMARK.json (--trace 0) or every
per_layer metric (--trace 1). The line before it holds the run's metadata
and checks. A run whose timed phase lost more than STEAL_LIMIT of the
host's CPU time to steal is marked "valid": false there. --inject-fault
corrupts one output of the workload, which the checks must catch (exit
code 1, "correct": false). Exit code 2: the program's sources or
BENCHMARK.json are missing; no result is printed.
"""
import argparse
import datetime
import decimal
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
HEAP = "2g"
JVM_TIMEOUT_S = 170
# a run whose timed phase lost more than this share of the host's CPU time
# to steal (other guests of the hypervisor) is marked "valid": false
STEAL_LIMIT = 0.05
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, in a stable order."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "project")]
    files = [os.path.join(BENCH, "build.sbt")]
    for r in roots:
        for d, subdirs, names in os.walk(r):
            subdirs[:] = sorted(s for s in subdirs if s != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return [f for f in files if os.path.isfile(f)]


def source_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(digest):
    """Compile program + benchmark with sbt unless this digest is built."""
    stamp = os.path.join(BUILD, "build.stamp")
    classes = os.path.join(BUILD, "target", "scala-2.13", "classes")
    if os.path.isdir(classes) and os.path.exists(stamp) and open(stamp).read() == digest:
        return classes
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    if "sbt.repository.config" not in opts and os.path.isfile(repos):
        # resolve from the same (offline) repositories the main build uses
        opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    # keep sbt's own state, sockets and temp files inside the checkout
    env["SBT_OPTS"] = " ".join([
        opts, "-Dsbt.offline=true", "-Dsbt.server.forcestart=false",
        "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false", "-XX:-UsePerfData",
        f"-Dsbt.global.base={BUILD}/sbt-global", f"-Djava.io.tmpdir={BUILD}/tmp",
        f"-Djna.tmpdir={BUILD}/tmp"])
    # also reaches the short JVMs the sbt script starts to probe the JDK
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    t = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"], cwd=BENCH,
                       env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed")
    with open(stamp, "w") as fh:
        fh.write(digest)
    print(f"perfbench: built in {time.time() - t:.1f} s", file=sys.stderr)
    return classes


def run_jvm(classes, args, work, out):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    jars = os.path.join(os.environ.get("SPARK_HOME", ""), "jars", "*")
    cmd = [java] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
        f"-Dderby.system.home={work}/derby", "-Dspark.ui.enabled=false",
        "-cp", f"{classes}{os.pathsep}{jars}", "fleetbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--out", out]
    if args.inject_fault:
        cmd.append("--inject-fault")
    log = open(os.path.join(work, "jvm.log"), "w")
    p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, start_new_session=True)
    try:
        code = p.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        code = None
    log.close()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("benchmark JVM timed out" if code is None else f"benchmark JVM exited {code}")


def canon(v):
    """One value as text, identically for the Spark export and DuckDB."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return "NaN" if v != v else repr(v)
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, datetime.datetime):
        return f"ts:{(v - datetime.datetime(1970, 1, 1)) // datetime.timedelta(microseconds=1)}"
    if isinstance(v, datetime.date):
        return v.isoformat()
    return str(v)


def table_digest(columns, rows):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x01".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for line in lines:
        h.update(line.encode("utf-8", "surrogateescape"))
        h.update(b"\x02")
    return h.hexdigest()


KPI_QUERIES = [
    "fl_q01_fleet_mix", "fl_q02_expiring_licenses", "fl_q03_trips_by_status",
    "fl_q04_deliveries_by_city", "fl_q05_driver_workload", "fl_q06_driver_productivity",
    "fl_q07_route_fuel", "fl_q08_delays_by_weekday", "fl_q09_maintenance_cost_km",
    "fl_q10_driver_ranking", "fl_q11_monthly_trend", "fl_q12_hour_dow_pivot"]


def check_kpis(results):
    """Each KPI result against DuckDB running the program's oracle SQL."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    checks = [{"name": f"kpi.{name}.result", "ok": False, "detail": "no result to compare"}
              for name in KPI_QUERIES if name not in results]
    for name, r in sorted(results.items()):
        try:
            cur = con.execute(r["oracle"])
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:  # an oracle that cannot run is a failed check
            checks.append({"name": f"kpi.{name}.duckdb", "ok": False, "detail": str(e)})
            continue
        problems = []
        if sorted(d_cols) != sorted(r["columns"]):
            problems.append(f"columns spark={sorted(r['columns'])} duckdb={sorted(d_cols)}")
        elif len(d_rows) != len(r["rows"]):
            problems.append(f"rows spark={len(r['rows'])} duckdb={len(d_rows)}")
        elif table_digest(d_cols, d_rows) != table_digest(r["columns"], r["rows"]):
            problems.append("value hash differs")
        checks.append({"name": f"kpi.{name}.duckdb", "ok": not problems,
                       "detail": "; ".join(problems) or f"{len(d_rows)} rows equal"})
    return checks


def finite(v):
    return v if isinstance(v, (int, float)) and math.isfinite(v) else None


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--inject-fault", action="store_true")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the repository root", 2)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("the program's sources (src/main/scala/graft) are not in this checkout", 2)
    spec = json.load(open(spec_path))
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    digest = source_digest()
    classes = build(digest)
    work = os.path.join(BUILD, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    run_jvm(classes, args, work, out)
    res = json.load(open(out))

    checks = res["checks"]
    if "kpi_results" in res:
        checks += check_kpis(res["kpi_results"])
    if not checks:
        fail("the run produced no correctness checks")
    correct = all(c["ok"] for c in checks)
    values = res["layers"] if args.trace else res["e2e"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"the run did not measure {missing}")
    # a failed op makes a percentile infinite; JSON has no number for that
    metrics = {m["name"]: {"value": finite(values[m["name"]]), "unit": m["unit"]}
               for m in wanted}
    meta = dict(res["meta"], commit=commit(), source_digest=digest, heap=HEAP,
                attempted=res["attempted"], failed=res["failed"],
                fail_ratio=res["failed"] / max(res["attempted"], 1),
                host_steal_limit=STEAL_LIMIT)
    meta["valid"] = meta["host_steal_ratio"] <= STEAL_LIMIT
    if not meta["valid"]:
        print(f"perfbench: the host lost {meta['host_steal_ratio']:.1%} of its CPU time to "
              f"steal during the timed phase (limit {STEAL_LIMIT:.0%}); its timings are not "
              "comparable with runs on an idle host", file=sys.stderr)

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    stamp = datetime.datetime.now(datetime.timezone.utc).strftime("%Y%m%dT%H%M%S")
    record = os.path.join(BUILD, "results",
                          f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}.json")
    with open(record, "w") as fh:
        json.dump({"meta": meta, "checks": checks, "e2e": res["e2e"], "layers": res["layers"]},
                  fh, indent=1)
    if args.trace and os.path.exists(os.path.join(work, "spans.json")):
        shutil.copy(os.path.join(work, "spans.json"), record[:-5] + ".spans.json")
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"meta": meta, "failed_checks": [c for c in checks if not c["ok"]],
                      "checks_passed": sum(c["ok"] for c in checks)}))
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
