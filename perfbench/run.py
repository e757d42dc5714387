#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload replay|batch --seed N \
        --seconds S --trace 0|1

Builds the program and the harness from this checkout's sources (cached
until a source changes), generates the seeded inputs (cached per seed),
runs the workload in one JVM, checks every output against DuckDB, and
prints one JSON line: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones. Exits 1 when a check fails, 2 when it cannot run at all.
Everything it writes stays under perfbench/.work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("replay", "batch")
RUN_LIMIT_S = 170          # the whole run, build excepted
BUILD_LIMIT_S = 840
HEAP = "3g"
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
               "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        die("no Spark distribution found (set SPARK_HOME)")
    return jars


def _sources():
    for base in (os.path.join(ROOT, "src", "main"), HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            for f in sorted(files):
                yield os.path.join(d, f)
    yield os.path.join(HARNESS, "project", "build.properties")


def build():
    """Compile the program and the harness with sbt; returns the classpath.
    Skipped when no source changed since the last build in this checkout."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file = os.path.join(bdir, "classpath.txt")
    if os.path.exists(cp_file) and open(os.path.join(bdir, "stamp")).read() == stamp:
        return open(cp_file).read().strip()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ, PERFBENCH_SPARK_JARS=spark_jars(), COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    log = os.path.join(bdir, "sbt.log")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
           "compile", "export Runtime/fullClasspath"]
    with open(log, "w") as fh:
        code = _run(cmd, HARNESS, env, fh, BUILD_LIMIT_S)
    lines = open(log).read().splitlines()
    cp = [ln for ln in lines if "target/scala-2.13/classes" in ln and not ln.startswith("[")]
    if code != 0 or not cp:
        die(f"build failed (exit {code}), see {log}")
    with open(cp_file, "w") as fh:
        fh.write(cp[-1])
    with open(os.path.join(bdir, "stamp"), "w") as fh:
        fh.write(stamp)
    return cp[-1]


def _run(cmd, cwd, env, out, limit):
    """Run cmd in its own process group; on timeout kill the whole group.
    Always waits for the process to end."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=max(1, limit))
    except subprocess.TimeoutExpired:
        return None
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()


def inputs(workload, seed):
    """Seeded inputs, cached per seed; returns (inputs dir, tpch dir)."""
    tpch = os.path.join(WORK, "inputs", f"tpch-sf{gen.TPCH_SF}")
    gen.tpch(tpch)
    # keyed by the generator's source too, so a changed generator never
    # reuses inputs it would no longer make
    with open(gen.__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:12]
    d = os.path.join(WORK, "inputs", f"seed-{seed}-{version}")
    os.makedirs(d, exist_ok=True)
    if workload == "replay":
        gen.replay(os.path.join(d, "replay"), seed, tpch)
    else:
        gen.gendata(os.path.join(d, "gendata"))
        gen.corpus(os.path.join(d, "corpus"), seed)
    return d, tpch


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        die("this checkout has no program sources (build.sbt, src/main/scala/graft)")
    classpath = build()
    t_start = time.time()
    in_dir, tpch = inputs(a.workload, a.seed)
    work = os.path.join(WORK, "run", a.workload)
    if os.path.isdir(work):
        shutil.rmtree(work)
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") \
        else "java"
    cmd = ([java, f"-Xmx{HEAP}", f"-Dlog4j2.configurationFile={HARNESS}/log4j2.properties"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--workload", a.workload,
              "--inputs", in_dir, "--tpch", tpch, "--work", work,
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--seed", str(a.seed),
              "--result", result])
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as fh:
        code = _run(cmd, ROOT, dict(os.environ), fh, RUN_LIMIT_S - (time.time() - t_start))
    if code != 0 or not os.path.exists(result):
        die(f"harness failed (exit {code}), see {log}")
    raw = json.load(open(result))
    report(a, raw, in_dir, tpch, work)


def report(a, raw, in_dir, tpch, work):
    passes = raw["passes"]
    errors = list(raw["errors"])
    n_calls = sum(len(p["spans"]) for p in passes)
    if errors:
        found, facts = [], {}
    elif a.workload == "replay":
        found, facts = checks.replay(in_dir, work, passes)
    else:
        found, facts = checks.gendata(in_dir, work, os.path.join(WORK, "digests"), a.seed, tpch)
        more, facts2 = checks.curation(in_dir, work)
        found += more
        facts.update(facts2)
    bad = [c for c in found if not c[1]]
    if a.workload == "replay" and not errors:
        # an operation is one replayed statement
        attempted = sum(len(p["facts"]["latencies_ms"]) for p in passes)
        failed = min(attempted, facts["failed_ops"] + len(bad))
    else:
        # an operation is one layer call or one output check
        attempted = n_calls + len(found) + len(errors)
        failed = len(errors) + len(bad)
    for name, ok, detail in found:
        print(f"check {'ok  ' if ok else 'FAIL'} {name}: {detail}", file=sys.stderr)
    for e in errors:
        print(f"error: {e}", file=sys.stderr)
    correct = failed == 0
    artifact = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                "checks": found, "errors": errors, "attempted": attempted, "failed": failed,
                "failed_frac": metrics.failed_frac(max(1, attempted), failed)}
    if correct:
        values = metrics.end_to_end(a.workload, raw, facts)
        units = metrics.END_TO_END
        if a.trace:
            values = metrics.per_layer(a.workload, raw, facts)
            units = metrics.PER_LAYER
            wit = metrics.witnesses(raw)
            path = os.path.join(WORK, "witness", f"{a.workload}-{os.path.basename(in_dir)}.json")
            if os.path.exists(path):
                diffs = metrics.witness_diffs(json.load(open(path)), wit)
            else:
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path, "w") as fh:
                    json.dump(wit[0], fh, indent=1, sort_keys=True)
                diffs = metrics.witness_diffs(wit[0], wit)
            for d in diffs:
                print(f"witness differs: {d}", file=sys.stderr)
            values["trace.witness_mismatches"] = len(diffs)
            artifact.update(witnesses=wit, witness_diffs=diffs)
    else:
        values, units = {}, {}
    line = metrics.result_line(correct, max(1, attempted), failed, values, units)
    artifact.update(metrics=line["metrics"],
                    passes=[{k: p[k] for k in ("cold", "traced", "wall_s", "spans")}
                            for p in passes],
                    setups=raw["setups"])
    adir = os.path.join(WORK, "artifacts")
    os.makedirs(adir, exist_ok=True)
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}-{time.strftime('%Y%m%dT%H%M%S')}.json"
    with open(os.path.join(adir, name), "w") as fh:
        json.dump(artifact, fh, indent=1)
    print(json.dumps(line))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
