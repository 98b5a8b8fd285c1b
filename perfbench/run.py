#!/usr/bin/env python3
"""End-to-end benchmark of the graft engine's operator surface.

    python3 perfbench/run.py --workload pandas_ops --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --selftest

Run from the repository root.  The first run compiles the engine's
sources (src/main/scala) together with perfbench/src against Spark's
jars; the classes are cached in perfbench/.work and rebuilt when a
source file changes.  The input is the repo's seed-42 sf0.01 tables,
kept in perfbench/data.  A run then

  1. launches the benchmark JVM in set-up-only mode twice, and once more
     for the measured run, so `setup_s` is the median of three set-ups;
  2. runs one cold pass, two settling passes and then measured warm
     passes over the workload's queries for --seconds, one query at a
     time, every output column computed through Spark's noop sink (see
     NOTES.md);
  3. writes every output once, untimed, and checks it against its DuckDB
     oracle with scripts/oracle_check.py.

It prints one line per metric and, last, one JSON object: the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1.  The exit
code is non-zero when any output is wrong or any call failed.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
BENCH_SRC = os.path.join(HERE, "src")
DATA_DIR = os.path.join(HERE, "data")
ORACLE_CHECK = os.path.join(ROOT, "scripts", "oracle_check.py")
SETUP_SAMPLES = 3
RUN_LIMIT_S = 165  # the whole run, once the build exists
# A fixed heap, and the parallel collector: under G1's adaptive sizing
# warm passes were still 10% faster after eight passes than after three.
JVM_MEMORY = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
END_TO_END = ["setup_s", "cold_pass_s", "warm_pass_s", "warm_geomean_s", "peak_rss_mb"]
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "spark-sql_*.jar")):
        raise BenchError(f"no Spark jars under {jars}")
    return jars


def sources():
    if not os.path.isdir(ENGINE_SRC):
        raise BenchError(f"engine sources not found: {ENGINE_SRC}")
    srcs = sorted(glob.glob(os.path.join(ENGINE_SRC, "**", "*.scala"), recursive=True))
    srcs += sorted(glob.glob(os.path.join(BENCH_SRC, "**", "*.scala"), recursive=True))
    return srcs


def build(jars):
    """Compile the engine plus the harness; cached by a hash of the sources."""
    srcs = sources()
    h = hashlib.sha256()
    for p in srcs:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    compiler = sorted(glob.glob(os.path.join(jars, "scala-compiler-*.jar")))
    h.update(" ".join(os.path.basename(c) for c in compiler).encode())
    out = os.path.join(WORK, "classes")
    stamp = os.path.join(out, ".stamp")
    if os.path.exists(stamp) and open(stamp).read() == h.hexdigest():
        return out
    tmp = out + ".new"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    scala_cp = [j for n in ("compiler", "library", "reflect")
                for j in glob.glob(os.path.join(jars, f"scala-{n}-*.jar"))]
    argfile = os.path.join(WORK, "scalac.args")
    with open(argfile, "w") as f:
        f.write("\n".join(f'"{p}"' for p in srcs))
    print(f"building {len(srcs)} sources ...", file=sys.stderr, flush=True)
    r = subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.pathsep.join(scala_cp),
                        "scala.tools.nsc.Main", "-nowarn", "-classpath",
                        os.path.join(jars, "*"), "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        raise BenchError("compile failed:\n" + r.stdout[-4000:])
    with open(os.path.join(tmp, ".stamp"), "w") as f:
        f.write(h.hexdigest())
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def data():
    if not glob.glob(os.path.join(DATA_DIR, "*.parquet")):
        raise BenchError(f"input tables not found: {DATA_DIR}")
    return DATA_DIR


def check(data_dir, out_dir, queries):
    """{query: None if its output matches its DuckDB oracle, else why not},
    as scripts/oracle_check.py judges it."""
    if not os.path.isfile(ORACLE_CHECK):
        raise BenchError(f"oracle check not found: {ORACLE_CHECK}")
    r = subprocess.run([sys.executable, ORACLE_CHECK, data_dir, out_dir],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       env={**os.environ, "PYTHONDONTWRITEBYTECODE": "1"}, timeout=120)
    verdict = {}
    for line in r.stdout.splitlines():
        word, _, rest = line.partition(" ")
        if word in ("PASS", "FAIL"):
            name, _, why = rest.partition(" ")
            verdict[name] = None if word == "PASS" else (why.strip() or "FAIL")
    if not verdict:
        raise BenchError(f"oracle check gave no verdict (exit {r.returncode}):\n"
                         + r.stdout[-2000:])
    return {q: verdict.get(q, "NO_ORACLE") for q in queries}


def jvm(classes, jars, mode, data_dir, deadline, extra=()):
    """One benchmark JVM; returns its JSON result."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    out = os.path.join(WORK, f"result-{os.getpid()}-{mode}.json")
    log = os.path.join(WORK, f"jvm-{os.getpid()}-{mode}.log")
    # no hsperfdata file and a private tmpdir: the JVM writes only under WORK
    cmd = ["java", "-XX:-UsePerfData", *JVM_MEMORY, f"-Djava.io.tmpdir={tmp}",
           *[f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in OPENS],
           "-cp", os.pathsep.join([classes, os.path.join(jars, "*")]),
           "perfbench.Main", "--mode", mode, "--data", data_dir, "--work", WORK,
           "--out", out, *extra]
    with open(log, "w") as lf:
        launch = time.time_ns()
        p = subprocess.Popen(cmd + ["--launch-ns", str(launch)], stdout=lf,
                             stderr=subprocess.STDOUT, cwd=WORK)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise BenchError(f"{mode} JVM exceeded the run's time limit (log: {log})")
    if rc != 0 and mode != "selftest":
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BenchError(f"{mode} JVM exited with {rc}:\n{tail}")
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    os.remove(log)
    return res, rc


def fmt(v):
    return repr(v) if isinstance(v, float) else str(v)


def metric_line(kind, name, m):
    return (f"{kind} {name} {fmt(m['value'])} {m['unit']} "
            f"passes={m['passes']} calls={m['calls']}")


def run(a):
    jars = spark_jars()
    classes = build(jars)
    data_dir = data()
    deadline = time.monotonic() + RUN_LIMIT_S
    setups = []
    if not a.trace:
        for _ in range(SETUP_SAMPLES - 1):
            setups.append(jvm(classes, jars, "setup", data_dir, deadline)[0]["setup"]["setup_s"])
    res, _ = jvm(classes, jars, "run", data_dir, deadline,
                 ["--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", "1" if a.trace else "0"])
    setups.append(res["setup"]["setup_s"])

    verdict = check(data_dir, res["check_dir"], res["queries"])
    shutil.rmtree(res["check_dir"], ignore_errors=True)

    calls = res["calls"]
    wrong = {q for q, why in verdict.items() if why}
    failed = sum(1 for c in calls if not c["ok"] or c["query"] in wrong)
    print(f"workload {a.workload} seed {a.seed} trace {int(a.trace)} "
          f"queries {','.join(res['queries'])}")
    for q in res["queries"]:
        print(f"check {q} {'OK' if not verdict[q] else 'FAIL ' + verdict[q]}")
    for c in calls:
        print(f"call {c['query']} pass={c['pass']} traced={int(c['traced'])} "
              f"seconds={fmt(c['seconds'])}" + ("" if c["ok"] else f" error={c['error']}"))
    print(f"metric error_rate {fmt(failed / len(calls))} ratio "
          f"passes={1 + max(c['pass'] for c in calls)} calls={len(calls)}")
    print(f"metric codegen.fallbacks {res['codegen.fallbacks']} count "
          f"passes={1 + max(c['pass'] for c in calls)} calls={len(calls)}")

    if a.trace:
        metrics = res["layers"]
        for name in sorted(metrics):
            print(metric_line("layer", name, metrics[name]))
        for q, ms in sorted(res["per_query"].items()):
            for name in sorted(ms):
                print(metric_line(f"query {q}", name, ms[name]))
        for q, ms in sorted(res["cold_per_query"].items()):
            print(f"cold {q} seconds={fmt(ms['seconds'])} "
                  f"codegen.compiles={fmt(ms['codegen.compiles'])} "
                  f"codegen.compile_s={fmt(ms['codegen.compile_s'])}")
        for n, s in sorted(res["spans"].items()):
            print(f"span {n} count={s['count']} total_s={fmt(s['total_s'])} "
                  f"self_s={fmt(s['self_s'])}")
    else:
        metrics = dict(res["end_to_end"])
        metrics["setup_s"] = {"value": statistics.median(setups), "unit": "s",
                              "passes": 0, "calls": len(setups)}
        for name in END_TO_END:
            print(metric_line("metric", name, metrics[name]))
    correct = not wrong and failed == 0
    print(json.dumps({"correct": correct, "attempted": len(calls), "failed": failed,
                      "metrics": {n: {"value": m["value"], "unit": m["unit"]}
                                  for n, m in sorted(metrics.items())}}))
    return 0 if correct else 1


def selftest():
    jars = spark_jars()
    classes = build(jars)
    data_dir = data()
    res, rc = jvm(classes, jars, "selftest", data_dir, time.monotonic() + RUN_LIMIT_S)
    for t in res["selftest"]:
        print(("PASS " if t["error"] is None else "FAIL ") + t["name"] +
              ("" if t["error"] is None else ": " + t["error"]))
    return rc


def main():
    ap = argparse.ArgumentParser(description="graft engine benchmark")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not a.selftest and not a.workload:
        ap.error("--workload is required")
    os.makedirs(WORK, exist_ok=True)
    try:
        return selftest() if a.selftest else run(a)
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
