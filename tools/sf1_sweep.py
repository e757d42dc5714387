#!/usr/bin/env python3
"""Chunked full-surface ×10 sweep — the committed sf1 bench methodology
(VERDICT r12 items 2+3).

Round-12 postmortem: a 238-query sf1 sweep in ONE 8 GiB-heap JVM
collapses somewhere past the ~50th query — the judge measured in-session
inflation up to ~95× vs solo timings (p54 0.64 s solo vs 60.2 s
in-session; q27 3.9 vs 154.4) from accumulated GC/block-manager/codegen
state, poisoning every number after the collapse point. Not a query
bug: every query checked solo was fine. The fix is structural: run the
surface in CHUNKS of fresh JVMs (default 24 queries per child), so no
JVM lives long enough to thrash.

Each child is `graft.Bench` over one chunk: `SPARK_GRAFT_SF_DIR` names
the corpus and the chunk's query names are its arguments, so each
query is timed the way the full bench times it (min over in-session
passes of a noop write plus `Broadcasts.release`). A filtered Bench run
leaves bench_result.json alone; this script reads the per-query map
from the `{"metric"` lines the child prints on stdout.

Usage:
  python3 tools/sf1_sweep.py <sf1_dir> <out_json> [chunk_size]

Run it from the repo root after `sbt compile` (the children run the
compiled classes). Query names come from BENCH_baseline.json (the
committed sf0.1 map — the same surface scale_regression.py grades
against). The output json is BENCH_sf1-shaped: grade it with
  python3 tools/scale_regression.py <out_json> BENCH_baseline.json

Driver-side tooling only — not part of the library.
"""
import json
import os
import subprocess
import sys
import time

ADD_OPENS_PKGS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
CHUNK_TIMEOUT_S = 2400  # one chunk must never hang the sweep


def main():
    sf_dir = sys.argv[1]
    out_path = sys.argv[2]
    chunk_size = int(sys.argv[3]) if len(sys.argv) > 3 else 24

    with open("BENCH_baseline.json") as f:
        names = sorted(json.load(f)["queries"].keys())

    cp = "target/scala-2.13/classes:/opt/spark/jars/*"
    jvm = ["java"]
    for p in ADD_OPENS_PKGS:
        jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
    # UI off and UTC come from graft.Session, which Bench builds on
    jvm += [f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '8g')}",
            "-cp", cp, "graft.Bench"]
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir)

    sha = subprocess.run(["git", "rev-parse", "HEAD"], capture_output=True,
                         text=True).stdout.strip()
    queries, chunk_walls, failed_chunks = {}, [], []
    t_sweep = time.time()
    chunks = [names[i:i + chunk_size] for i in range(0, len(names), chunk_size)]
    for ci, chunk in enumerate(chunks):
        t0 = time.time()
        r = None
        try:
            r = subprocess.run(jvm + chunk, capture_output=True, text=True,
                               timeout=CHUNK_TIMEOUT_S, env=env)
            out = r.stdout
        except subprocess.TimeoutExpired as e:
            out = (e.stdout or b"").decode() if isinstance(e.stdout, bytes) \
                else (e.stdout or "")
            failed_chunks.append(f"chunk {ci} timed out at {CHUNK_TIMEOUT_S}s")
        # the full line (every query) comes before the budgeted compact
        # one; a failed query reads negative
        got = {}
        for line in out.splitlines():
            if line.startswith('{"metric"'):
                got.update(json.loads(line)["queries"])
        got = {n: v for n, v in got.items() if v >= 0}
        for n in chunk:
            queries[n] = float(got[n]) if n in got else -1.0
        missing = [n for n in chunk if n not in got]
        if missing:
            failed_chunks.append(
                f"chunk {ci} missing {missing} (rc={getattr(r, 'returncode', 'timeout')})")
        wall = time.time() - t0
        chunk_walls.append(round(wall, 1))
        done = sum(1 for v in queries.values() if v >= 0)
        print(f"[sf1-sweep] chunk {ci + 1}/{len(chunks)}: "
              f"{len(chunk)} queries in {wall:.0f}s "
              f"({done}/{len(names)} ok so far)", flush=True)

    total = sum(v for v in queries.values() if v >= 0)
    result = {
        "metric": "total", "value": round(total, 3), "unit": "sec",
        "queries": queries,
        "gates": "off",
        "method": f"chunked graft.Bench (min over in-session passes per "
                  f"query), {chunk_size} "
                  f"queries per fresh JVM, {len(chunks)} JVMs — the r12 "
                  f"single-session collapse fix (see SCALE.md)",
        "chunk_walls_s": chunk_walls,
        "sweep_wall_s": round(time.time() - t_sweep, 1),
        "failed": sum(1 for v in queries.values() if v < 0),
        "errors": failed_chunks,
        "sf": sf_dir, "sha": sha,
        "generated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
    }
    with open(out_path, "w") as f:
        json.dump(result, f, indent=1)
    print(f"[sf1-sweep] wrote {out_path}: total {total:.0f}s timed, "
          f"sweep wall {result['sweep_wall_s']:.0f}s, "
          f"{result['failed']} failed")
    sys.exit(1 if result["failed"] else 0)


if __name__ == "__main__":
    main()
