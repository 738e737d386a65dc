#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a source checkout. The first run builds the program
(`sbt compile` at the root) and the benchmark package (perfbench/jvm)
into .bench_build/, and later runs reuse that build while the sources are
unchanged. Each run starts one JVM (perfbench.Main) that generates the
workload's input from the seed, sets up, measures, checks every output
and reports. The last stdout line is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list (a layer a workload does not run reads 0).
A workload BENCHMARK.json does not list is run by hand and reports every
metric it measured.
The line before it is the run's full report (input properties, all
samples, host noise, check details).
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = ".bench_build"
WORKLOADS = ("extract_mixed", "extract_crawlsize", "corpus_pipeline", "query_suite",
             "query_suite_all")
# The fixed tables the query workloads read.
TABLES = os.path.join(HERE, "data", "sf0.001")
RUN_LIMIT_S = 170
# JDK 17 module opens Spark needs outside spark-submit (as in build.sbt).
OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run(cmd, cwd, env, timeout):
    """Run a child in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=sys.stderr, start_new_session=True, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout:.0f} s")
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def source_stamp(root, bases, files=()):
    h = hashlib.sha256()
    paths = list(files)
    for base in bases:
        for d, dirs, names in os.walk(os.path.join(root, base)):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            paths += [os.path.relpath(os.path.join(d, n), root) for n in sorted(names)]
    for rel in sorted(set(paths)):
        full = os.path.join(root, rel)
        if os.path.isfile(full):
            h.update(rel.encode())
            with open(full, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def cached(root, name, stamp, make):
    """The classpath `make()` built for this source stamp, rebuilt when the
    stamp changed or an entry of it is gone."""
    path = os.path.join(root, BUILD, name)
    if os.path.isfile(path):
        with open(path) as f:
            old_stamp, _, value = f.read().partition("\n")
        if old_stamp == stamp and value and all(
                os.path.exists(e) for e in value.split(os.pathsep)):
            return value
    value = make()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write(stamp + "\n" + value)
    return value


def sbt_env():
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    if not env.get("SBT_OPTS"):
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def export_classpath(cwd, env, timeout):
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "Compile/compile",
           "export Compile/fullClasspath"]
    code, out = run(cmd, cwd, env, timeout)
    lines = [l for l in out.splitlines() if l.strip()]
    if code != 0 or not lines or lines[-1].startswith("["):
        fail(f"build failed in {cwd} (sbt exit {code})", 3)
    return lines[-1].strip()


def build(root, deadline):
    """Classpath of the program plus the benchmark, rebuilt when either's
    sources change."""
    env = sbt_env()
    jvm = os.path.relpath(os.path.join(HERE, "jvm"), root)
    program = source_stamp(root, ["src/main", "project"], ["build.sbt"])
    program_cp = cached(root, "program.classpath", program,
                        lambda: export_classpath(root, env, deadline - time.time()))
    env["PERFBENCH_CP"] = program_cp
    bench = source_stamp(root, [jvm], [os.path.join(jvm, "project", "build.properties")])
    return cached(root, "bench.classpath", program + bench,
                  lambda: export_classpath(os.path.join(root, jvm), env, deadline - time.time()))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    start = time.time()
    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala", "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a source checkout")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if a.trace else "end_to_end"]

    cp = build(root, start + 700)
    b = os.path.join(root, BUILD)
    for d in ("tmp", "spark-local", "warehouse", "work"):
        os.makedirs(os.path.join(b, d), exist_ok=True)
    cmd = ["java"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
        f"-Djava.io.tmpdir={b}/tmp",
        f"-Dspark.local.dir={b}/spark-local",
        f"-Dspark.sql.warehouse.dir={b}/warehouse",
        "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        # Bound Spark's UI status stores, so retained heap does not grow
        # with the number of operations a run happens to fit.
        "-Dspark.sql.ui.retainedExecutions=10",
        "-Dspark.ui.retainedJobs=50",
        "-Dspark.ui.retainedStages=50",
        "-cp", cp,
    ]
    cmd += ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", f"{b}/work",
            "--tables", TABLES, "--expected", os.path.join(HERE, "expected.json")]
    code, out = run(cmd, root, dict(os.environ), RUN_LIMIT_S)
    report = result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_REPORT "):
            report = json.loads(line[len("PERFBENCH_REPORT "):])
        elif line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
    if code != 0 or result is None:
        fail(f"benchmark JVM exited {code} without a result", 4)

    got = result["metrics"]
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        # Run by hand: report what it measured.
        units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
        unit = lambda n: units.get(n, "s" if n.endswith("_s") else "MB" if n.endswith("_mb") else "")
        wanted = [{"name": n, "unit": unit(n)} for n in got]
    metrics = {}
    for m in wanted:
        if m["name"] in got:
            v = got[m["name"]]
        elif a.trace:
            v = 0.0  # the workload does not run this layer
        else:
            fail(f"metric {m['name']} missing from the run", 5)
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    os.makedirs(os.path.join(b, "reports"), exist_ok=True)
    name = f"{a.workload}_seed{a.seed}_trace{a.trace}.json"
    with open(os.path.join(b, "reports", name), "w") as f:
        json.dump({"report": report, "metrics": got}, f, indent=1, sort_keys=True)
    print(json.dumps({"report": report}))
    print(json.dumps({"correct": bool(result["correct"]), "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
