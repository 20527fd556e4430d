#!/usr/bin/env python3
"""Benchmark runner for the importer, its store and the query harness.

    python3 perfbench/run.py --workload import --seed 1 --seconds 15 --trace 0

Run from the repository root. It compiles `src/main/scala` together with
the benchmark's own Scala files (once per source state, under
`.bench_build/`), generates the workload's inputs from `--seed`, runs one
JVM that sets up, times exactly one pass and checks every answer, and
prints one JSON object as the last line of standard output: the
end-to-end metrics of `BENCHMARK.json` with `--trace 0`, its per-layer
metrics with `--trace 1`. A pass of either workload outlasts the
`run_seconds` of `BENCHMARK.json`, so `--seconds` is accepted and
recorded but a run is always one pass. The full record of the run (every layer
counter, the workload's own breakdown, each failed check) is written to
`.bench_build/perfbench/records/`. Exits 1 when a check fails, 2 when the
program's sources are absent.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)
import gen  # noqa: E402

RUN_LIMIT_S = 170  # a run (build excluded) must end within 180 s

WORKLOADS = {
    # mbrainz EDN at this share of the 1968-1973 sample's row counts
    "import": {"scale": 0.05},
    # GenData scale factor of the harness tables
    "harness": {"sf": 0.002},
}

JAVA_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
              "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
              "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
              "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
              "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


# -- machine fit -------------------------------------------------------------

def cores():
    """What `nproc` prints: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def driver_mem():
    """Half of MemTotal in whole GiB, clamped to 2..8 GiB, as the test command sizes it."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def spark_jars():
    """Spark's jar directory: `$SPARK_HOME/jars`, else the build's unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    if not m:
        raise SystemExit("perfbench: no Spark jars (set SPARK_HOME)")
    return m.group(1)


# -- build -------------------------------------------------------------------

def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src", "main", "scala", "**", "*.scala"), recursive=True))
    own = sorted(glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True))
    return main, own


def build(jars):
    """Compiles the program and the benchmark with scalac from Spark's jar
    directory; the output is keyed by a hash of every source file."""
    main, own = sources()
    h = hashlib.sha256(jars.encode())
    for path in main + own:
        h.update(os.path.relpath(path, ROOT).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    if os.path.isfile(os.path.join(out, ".ok")):
        return out
    for old in glob.glob(os.path.join(BUILD, "classes-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    argfile = os.path.join(BUILD, "scalac-args")
    with open(argfile, "w") as f:
        f.write("\n".join(main + own) + "\n")
    log("compiling %d program + %d benchmark sources" % (len(main), len(own)))
    t0 = time.time()
    r = subprocess.run(["java", "-Xss8m", "-Xmx3g", "-cp", os.path.join(jars, "*"),
                        "scala.tools.nsc.Main", "-usejavacp", "-nowarn", "-d", tmp, "@" + argfile],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout)
        raise SystemExit("perfbench: compile failed")
    os.rename(tmp, out)
    open(os.path.join(out, ".ok"), "w").close()
    log("compiled in %.1f s" % (time.time() - t0))
    return out


# -- one run -------------------------------------------------------------------

def make_inputs(workload, work, seed):
    cfg = WORKLOADS[workload]
    if workload == "harness":
        os.makedirs(os.path.join(work, "in"))
        with open(os.path.join(work, "in", "expected.json"), "w") as f:
            json.dump({"sf": cfg["sf"], "seed": seed}, f)
        return
    gen.generate(os.path.join(work, "in"), seed, cfg["scale"])


def run_jvm(workload, work, trace, classes, jars, deadline):
    env = dict(os.environ)
    env.update({"SPARK_GRAFT_CPUS": str(cores()), "SPARK_DRIVER_MEM": driver_mem(),
                "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local")})
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JAVA_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-Xmx" + env["SPARK_DRIVER_MEM"], "-XX:ReservedCodeCacheSize=1g",
            "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            "-cp", os.pathsep.join([classes, os.path.join(ROOT, "src", "main", "resources"),
                                    os.path.join(jars, "*")]),
            "graft.perfbench.Main", workload, work, str(trace)]
    logpath = os.path.join(work, "jvm.log")
    with open(logpath, "w") as logf:
        p = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env, cwd=work)
        try:
            p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            tail(logpath)
            raise SystemExit("perfbench: the %s run did not end in time" % workload)
    if p.returncode != 0 or not os.path.isfile(os.path.join(work, "result.json")):
        tail(logpath)
        raise SystemExit("perfbench: the JVM exited with %d" % p.returncode)
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def tail(path, n=40):
    with open(path, errors="replace") as f:
        lines = f.readlines()
    sys.stderr.write("".join(lines[-n:]))


def oracle_check(work, deadline):
    """The DuckDB oracle (`tools/check.py`) over the warm-up pass's results."""
    verify = os.path.join(work, "verify")
    with open(os.path.join(verify, "oracle_sql.json")) as f:
        names = sorted(json.load(f))
    r = subprocess.run([sys.executable, os.path.join(ROOT, "tools", "check.py"),
                        os.path.join(work, "in", "tables"), verify, ",".join(names)],
                       stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
                       timeout=max(1.0, deadline - time.time()))
    m = re.search(r"== (\d+)/(\d+) ok ==", r.stdout)
    ok = bool(m) and m.group(1) == m.group(2) == str(len(names)) and r.returncode == 0
    if not ok:
        sys.stderr.write(r.stdout)
    return {"name": "oracle check of %d queries" % len(names), "ok": ok,
            "detail": "" if ok else r.stdout.strip().splitlines()[-1:]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not sources()[0]:
        log("no program sources under %s/src/main/scala" % ROOT)
        sys.exit(2)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    jars = spark_jars()
    classes = build(jars)

    t0 = time.time()
    deadline = t0 + RUN_LIMIT_S
    work = os.path.join(BUILD, "work-%s-%d" % (args.workload, os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        make_inputs(args.workload, work, args.seed)
        gen_s = time.time() - t0
        res = run_jvm(args.workload, work, args.trace, classes, jars, deadline)
        checks = [c for c in res["checks"] if not c["ok"]]
        if args.workload == "harness" and os.path.isdir(os.path.join(work, "verify")):
            c = oracle_check(work, deadline)
            res["checks"].append(c)
            if not c["ok"]:
                checks.append(c)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    values = {k: v["value"] for k, v in res["values"].items()}
    if "jvm_setup_s" in values:
        values["setup_s"] = gen_s + values["jvm_setup_s"]
    layers = {k: v["value"] for k, v in res["layers"].items()}
    correct = not checks and res["failed"] == 0
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "cores": cores(), "driver_mem": driver_mem(),
              "correct": correct, "attempted": res["attempted"], "failed": res["failed"],
              "checks_run": len(res["checks"]), "failed_checks": checks,
              "values": values, "layers": res["layers"]}
    os.makedirs(os.path.join(BUILD, "records"), exist_ok=True)
    rec_path = os.path.join(BUILD, "records", "%s-seed%d-trace%d.json" % (args.workload, args.seed, args.trace))
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    log("record: %s" % os.path.relpath(rec_path, ROOT))
    for c in checks:
        log("FAILED CHECK %s: %s" % (c["name"], c["detail"]))

    print(contract_line(spec, args.trace, values, layers, correct, res["attempted"], res["failed"]))
    sys.exit(0 if correct else 1)


def contract_line(spec, trace, values, layers, correct, attempted, failed):
    """The result line: every end-to-end metric of `spec` untraced, every
    per-layer metric traced (0 for a layer the workload never calls)."""
    chosen, source = (spec["per_layer"], layers) if trace else (spec["end_to_end"], values)
    metrics = {m["name"]: {"value": float(source.get(m["name"], 0.0)), "unit": m["unit"]}
               for m in chosen}
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": metrics})


if __name__ == "__main__":
    main()
