#!/usr/bin/env python3
"""graft benchmark: build the engine from source and run one workload.

Usage (from the root of a checkout):

    python3 graftbench/run.py --workload <etl_monthly|gate_mix|table_churn> \
        --seed <n> --seconds <s> --trace <0|1>
    python3 graftbench/run.py --all [--seed n] [--seconds s] [--trace 0|1]
    python3 graftbench/run.py --selftest
    python3 graftbench/run.py --write-oracle

The first call builds the engine and the benchmark with sbt (the root
build is referenced from graftbench/build.sbt) and caches the classpath
under graftbench/target; later calls rebuild only when a source is newer.
Each run launches one JVM, prints a report line with the seed, the
effective config and every metric with its sample count, and prints the
result object as the last line of stdout. Metric names and units come
from BENCHMARK.json at the root. See graftbench/NOTES.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ["etl_monthly", "gate_mix", "table_churn"]
CP_FILE = os.path.join(HERE, "target", "graftbench-classpath.txt")
WORK = os.path.join(HERE, ".work")
RESULTS = os.path.join(HERE, ".results")
# the read-only sf0.01 tables gate_mix reads; override with GRAFT_TESTDATA
TESTDATA = os.environ.get(
    "GRAFT_TESTDATA", os.path.join(os.path.expanduser("~"), "testdata", "sf0.01"))
HEAP = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700  # plus one run, within the 900 s a first run may take
# Spark 4 on JDK 17 outside spark-submit; the root build.sbt passes the same
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(HERE, "project")):
        for d, _, files in os.walk(base):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def run_quiet(cmd, cwd, env, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.STDOUT, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout}s: {' '.join(cmd[:3])}")
    return p.returncode, out


def classpath():
    for need in (os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "src", "main", "scala")):
        if not os.path.exists(need):
            fail(f"no engine source at {need}: run from the root of a graft checkout")
    if os.path.exists(CP_FILE) and os.path.getmtime(CP_FILE) >= newest_source_mtime():
        with open(CP_FILE) as f:
            return f.read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g" + (
        f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
        if os.path.exists(repos) else ""))
    t0 = time.time()
    code, out = run_quiet(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                           "export Runtime/fullClasspath"], HERE, env, BUILD_TIMEOUT_S)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or "[error]" in out:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(os.path.dirname(CP_FILE), exist_ok=True)
    with open(CP_FILE, "w") as f:
        f.write(cp)
    print(f"graftbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def benchmark():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        fail("BENCHMARK.json missing at the checkout root")
    with open(path) as f:
        return json.load(f)


def spec():
    b = benchmark()
    return ([(m["name"], m["unit"]) for m in b["end_to_end"]],
            [(m["name"], m["unit"]) for m in b["per_layer"]])


def java(cp, main, args, work, timeout):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{main} timed out after {timeout}s")
    return p.returncode, out


def run_one(cp, workload, seed, seconds, trace, extra=()):
    t0 = time.time()
    e2e, layers = spec()
    work = os.path.join(WORK, f"{workload}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        code, out = java(cp, "graftbench.Main", [
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work, "--testdata", TESTDATA,
            "--e2e", ",".join(f"{n}:{u}" for n, u in e2e),
            "--layers", ",".join(f"{n}:{u}" for n, u in layers)] + list(extra),
            work, RUN_TIMEOUT_S)
        lines = [l for l in out.splitlines() if l.strip()]
        if code != 0 or not lines:
            sys.stdout.write(out)
            fail(f"{workload} exited with {code}")
        result = json.loads(lines[-1])
        if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
            fail(f"malformed result line: {lines[-1]}")
        os.makedirs(RESULTS, exist_ok=True)
        stem = os.path.join(RESULTS, f"{workload}-s{seed}-t{trace}-{int(time.time())}")
        for name in ("report.json", "spans.json"):
            src = os.path.join(work, name)
            if os.path.exists(src):
                shutil.copy(src, f"{stem}-{name}")
        print(f"graftbench: {workload} run took {time.time() - t0:.1f}s", file=sys.stderr)
        return lines, result
    finally:
        shutil.rmtree(work, ignore_errors=True)


def selftest(cp):
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, f"selftest-{os.getpid()}")
    os.makedirs(tmp)
    try:
        code, out = java(cp, "graftbench.SelfTest", [tmp], tmp, RUN_TIMEOUT_S)
        print(out.strip())
        if code != 0:
            fail("generator selftest failed")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    # the checks are not vacuous: a corrupted expected value on op 0 must
    # land in `failed` (fail_frac), and op 0's time in no timing sample
    for w in WORKLOADS:
        lines, r = run_one(cp, w, 1, 1, 0, ["--corrupt-op", "0"])
        report = json.loads(lines[-2].split(" ", 2)[2])
        kept = report["end_to_end"]["op_s_p50"]["n"]
        ok = (r["failed"] == 1 and not r["correct"] and r["attempted"] >= 2
              and kept == r["attempted"] - 1)
        print(f"selftest corrupted check {w}: attempted={r['attempted']} "
              f"failed={r['failed']} fail_frac={report['fail_frac']:.3f} "
              f"timed_ops={kept} -> {'ok' if ok else 'FAILED'}")
        if not ok:
            fail(f"{w}: a corrupted expected value did not land in fail_frac")
    print("selftest ok")


def write_oracle(cp):
    import duckdb  # only this maintenance mode needs it
    tmp = os.path.join(WORK, "oracle")
    os.makedirs(tmp, exist_ok=True)
    code, out = java(cp, "graftbench.OracleSql", [], tmp, RUN_TIMEOUT_S)
    shutil.rmtree(tmp, ignore_errors=True)
    if code != 0:
        fail("OracleSql failed")
    con = duckdb.connect()
    for f in sorted(os.listdir(TESTDATA)):
        if f.endswith(".parquet"):
            con.execute(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(TESTDATA, f)}')")
    rows = ["# gate\toracle rows\tcolumn:type class ... (written by run.py --write-oracle)"]
    for line in out.splitlines():
        if not line.startswith("{"):
            continue
        g = json.loads(line)
        t = con.execute(g["sql"]).fetch_arrow_table()
        cols = sorted(f"{f.name.lower()}:{type_class(f.type)}" for f in t.schema)
        rows.append("\t".join([g["gate"], str(t.num_rows)] + cols))
    dst = os.path.join(HERE, "src", "main", "resources", "gate_expect.tsv")
    os.makedirs(os.path.dirname(dst), exist_ok=True)
    with open(dst, "w") as f:
        f.write("\n".join(rows) + "\n")
    print("\n".join(rows))


def type_class(t):
    """Arrow type -> the class GateMix.typeClass gives the Spark type."""
    import pyarrow as pa
    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return f"decimal({t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "timestamp"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return "list"
    if pa.types.is_struct(t):
        return "struct"
    if pa.types.is_map(t):
        return "map"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    return str(t)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--all", action="store_true", help="run every workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float,
                    help="measured window (default: BENCHMARK.json run_seconds)")
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--write-oracle", action="store_true")
    a = ap.parse_args()
    cp = classpath()
    if a.seconds is None:
        a.seconds = benchmark()["run_seconds"]
    if a.selftest:
        return selftest(cp)
    if a.write_oracle:
        return write_oracle(cp)
    if not (a.all or a.workload):
        fail("give --workload, --all, --selftest or --write-oracle")
    results = {}
    for w in (WORKLOADS if a.all else [a.workload]):
        lines, r = run_one(cp, w, a.seed, a.seconds, a.trace)
        for l in lines[:-1]:
            print(l)
        results[w] = r
    if a.all:
        print(json.dumps({
            "correct": all(r["correct"] for r in results.values()),
            "attempted": sum(r["attempted"] for r in results.values()),
            "failed": sum(r["failed"] for r in results.values()),
            "metrics": {f"{w}.{n}": m for w, r in results.items()
                        for n, m in r["metrics"].items()}}))
    else:
        print(json.dumps(results[a.workload]))


if __name__ == "__main__":
    main()
