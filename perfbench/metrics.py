"""Metric derivation: from the harness's raw result (setups, passes, spans
and per-span Spark counters) to the named end-to-end and per-layer metrics.

Rules kept here, and pinned by test_perfbench.py:
  - a timing is reported as a median, and as the highest percentile that
    still has at least TAIL_BEYOND samples beyond it, with the sample count;
  - failed_frac = failed operations / attempted operations;
  - metric names match NAME_RE.
"""
import math
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
TAIL_BEYOND = 10
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
STAGES = ("clean", "dedup", "neardup", "cluster", "decontaminate", "split")
MB = 1048576.0

END_TO_END = {"setup_s": "s", "wall_s": "s", "items_per_s": "1/s"}

PER_LAYER = {
    "setup.session_s": "s", "setup.catalog_s": "s", "setup.cold_s": "s",
    "warm.wall_s": "s", "warm.items_per_s": "1/s",
    "workload.scan_s": "s", "workload.jobs": "count", "workload.tasks": "count",
    "workload.task_cpu_s": "s", "workload.decode_s": "s",
    "workload.dump_records_per_s": "1/s",
    "sqlx.translate_us_p50": "us",
    "plan.analysis_ms_p50": "ms", "plan.optimizer_ms_p50": "ms",
    "plan.physical_ms_p50": "ms", "plan.total_s": "s", "plan.executions": "count",
    "replay.s": "s", "replay.stmts_per_s": "1/s", "replay.latency_p50_ms": "ms",
    "replay.latency_tail_ms": "ms", "replay.latency_tail_pct": "%",
    "replay.latency_samples": "count", "replay.jobs_per_stmt": "count",
    "replay.tasks_per_stmt": "count", "replay.task_ms_per_stmt": "ms",
    "replay.driver_ms_per_stmt": "ms",
    "diff.s": "s", "diff.mismatches": "count",
    "stats.collect_s": "s", "stats.jobs": "count", "stats.task_cpu_s": "s",
    "stats.shuffle_write_mb": "MB", "stats.rows_per_s": "1/s",
    "gen.plan_s": "s", "gen.write_s": "s", "gen.jobs": "count", "gen.task_cpu_s": "s",
    "gen.gc_s": "s", "gen.output_mb": "MB", "gen.files": "count", "gen.rows_per_s": "1/s",
    **{f"pipeline.{st}.{k}": u for st in STAGES
       for k, u in (("s", "s"), ("jobs", "count"), ("shuffle_write_mb", "MB"),
                    ("spill_mb", "MB"), ("task_cpu_s", "s"))},
    "pipeline.neardup.pairs": "count", "pipeline.cluster.components": "count",
    "pipeline.docs_per_s": "1/s",
    "functions.minhash_ns_per_doc": "ns", "functions.shingle_ns_per_doc": "ns",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_run_s": "s", "spark.task_cpu_s": "s", "spark.gc_s": "s",
    "spark.shuffle_read_mb": "MB", "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "spark.idle_core_frac": "fraction",
    "trace.overhead_frac": "fraction", "trace.span_coverage_frac": "fraction",
    "trace.witness_mismatches": "count",
    "jvm.peak_heap_mb": "MB",
}

# counts that must repeat exactly across same-seed runs (per span)
WITNESS_KEYS = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes",
                "spill_bytes")


def percentile(values, p):
    """Nearest-rank percentile: the smallest value with at least p% of the
    samples at or below it."""
    s = sorted(values)
    if not s:
        raise ValueError("no samples")
    k = max(1, math.ceil(p / 100.0 * len(s)))
    return s[k - 1]


def tail_percentile(n):
    """The highest candidate percentile that leaves at least TAIL_BEYOND of
    n samples beyond it, or None when even the median does not."""
    for p in TAIL_CANDIDATES:
        if n * (100.0 - p) / 100.0 >= TAIL_BEYOND - 1e-9:
            return p
    return None


def failed_frac(attempted, failed):
    if attempted < 1:
        raise ValueError("nothing attempted")
    if not 0 <= failed <= attempted:
        raise ValueError(f"failed {failed} outside [0, {attempted}]")
    return failed / attempted


def valid_name(name):
    return bool(NAME_RE.match(name))


def median(xs):
    return statistics.median(xs) if xs else 0.0


def _spans(p, prefix):
    return [s for s in p["spans"] if s["name"] == prefix or s["name"].startswith(prefix + ".")]


def _span_s(p, name):
    return sum(s["s"] for s in p["spans"] if s["name"] == name)


def _counter(spans, key):
    return sum(s.get("counters", {}).get(key, 0) for s in spans)


def _warm(raw, traced):
    return [p for p in raw["passes"] if not p["cold"] and p["traced"] == traced]


def _items_per_s(workload, p, facts):
    """The rate of one layer that wall_s does not fix: replayed statements
    per second of the replay span, or curated documents per second of the
    six pipeline spans."""
    if workload == "replay":
        return len(p["facts"]["latencies_ms"]) / _span_s(p, "replay")
    return facts["docs"] / sum(s["s"] for s in _spans(p, "pipeline"))


def end_to_end(workload, raw, facts):
    """setup_s is the median of the set-ups (the first from JVM start, the
    others on a rebuilt session in the same JVM); wall_s and items_per_s
    come from the cold pass, the first in the fresh JVM."""
    cold = raw["passes"][0]
    return {"setup_s": median([s["session_s"] + s["catalog_s"] for s in raw["setups"]]),
            "wall_s": cold["wall_s"], "items_per_s": _items_per_s(workload, cold, facts)}


def per_layer(workload, raw, facts):
    """Every per-layer metric; a layer the workload does not call reads 0."""
    m = {k: 0.0 for k in PER_LAYER}
    slots = raw["slots"]
    setups = raw["setups"]
    m["setup.session_s"] = median([s["session_s"] for s in setups])
    m["setup.catalog_s"] = median([s["catalog_s"] for s in setups])
    m["setup.cold_s"] = setups[0]["session_s"] + setups[0]["catalog_s"]
    m["jvm.peak_heap_mb"] = raw.get("heap_peak_mb", 0.0)
    traced, plain = _warm(raw, True), _warm(raw, False)

    def med(f):
        return median([f(p) for p in traced])

    plans = [pl for p in traced for s in p["spans"] for pl in s["counters"]["plans_ms"]]
    if plans:
        m["plan.analysis_ms_p50"] = percentile([a for a, _, _ in plans], 50)
        m["plan.optimizer_ms_p50"] = percentile([o for _, o, _ in plans], 50)
        m["plan.physical_ms_p50"] = percentile([q for _, _, q in plans], 50)
    m["plan.total_s"] = med(lambda p: sum(sum(pl) for s in p["spans"]
                                          for pl in s["counters"]["plans_ms"]) / 1000.0)
    m["plan.executions"] = med(lambda p: sum(len(s["counters"]["plans_ms"]) for s in p["spans"]))
    for key, name, scale in (("jobs", "jobs", 1), ("stages", "stages", 1), ("tasks", "tasks", 1),
                             ("task_run_ms", "task_run_s", 1e-3), ("task_cpu_ns", "task_cpu_s", 1e-9),
                             ("gc_ms", "gc_s", 1e-3), ("shuffle_read_bytes", "shuffle_read_mb", 1 / MB),
                             ("shuffle_write_bytes", "shuffle_write_mb", 1 / MB),
                             ("spill_bytes", "spill_mb", 1 / MB)):
        m[f"spark.{name}"] = med(lambda p: _counter(p["spans"], key) * scale)
    m["spark.idle_core_frac"] = med(
        lambda p: 1.0 - _counter(p["spans"], "task_run_ms") / 1000.0 / (p["wall_s"] * slots))
    m["trace.span_coverage_frac"] = med(lambda p: sum(s["s"] for s in p["spans"]) / p["wall_s"])
    if plain:
        m["warm.wall_s"] = median([p["wall_s"] for p in plain])
        m["warm.items_per_s"] = median([_items_per_s(workload, p, facts) for p in plain])
    if traced and plain:
        m["trace.overhead_frac"] = (median([p["wall_s"] for p in traced])
                                    / median([p["wall_s"] for p in plain]) - 1.0)

    def layer(prefix, name):
        return med(lambda p: _counter(_spans(p, prefix), name))

    if workload == "replay":
        m["workload.scan_s"] = med(lambda p: _span_s(p, "workload.scan"))
        m["workload.decode_s"] = med(lambda p: _span_s(p, "workload.decode"))
        m["workload.jobs"] = layer("workload", "jobs")
        m["workload.tasks"] = layer("workload", "tasks")
        m["workload.task_cpu_s"] = layer("workload", "task_cpu_ns") * 1e-9
        m["workload.dump_records_per_s"] = facts["audit_records"] / m["workload.scan_s"]
        m["sqlx.translate_us_p50"] = percentile(raw["extra"]["translate_us"], 50)
        m["replay.s"] = med(lambda p: _span_s(p, "replay"))
        lat = [x for p in raw["passes"] if not p["cold"] for x in p["facts"]["latencies_ms"]]
        n_stmt = med(lambda p: len(p["facts"]["latencies_ms"]))
        m["replay.stmts_per_s"] = n_stmt / m["replay.s"]
        m["replay.latency_samples"] = len(lat)
        m["replay.latency_p50_ms"] = percentile(lat, 50)
        tail = tail_percentile(len(lat))
        if tail is not None:
            m["replay.latency_tail_pct"] = tail
            m["replay.latency_tail_ms"] = percentile(lat, tail)
        m["replay.jobs_per_stmt"] = layer("replay", "jobs") / n_stmt
        m["replay.tasks_per_stmt"] = layer("replay", "tasks") / n_stmt
        m["replay.task_ms_per_stmt"] = layer("replay", "task_run_ms") / n_stmt

        def driver_ms(p):
            sp = _spans(p, "replay")
            plan_ms = sum(sum(pl) for s in sp for pl in s["counters"]["plans_ms"])
            return (sum(p["facts"]["latencies_ms"]) - plan_ms - _counter(sp, "job_wall_ms")) / n_stmt
        m["replay.driver_ms_per_stmt"] = med(driver_ms)
        m["diff.s"] = med(lambda p: _span_s(p, "diff"))
        m["diff.mismatches"] = facts["diff_mismatches"]
    else:
        m["stats.collect_s"] = med(lambda p: _span_s(p, "stats.collect"))
        m["stats.jobs"] = layer("stats", "jobs")
        m["stats.task_cpu_s"] = layer("stats", "task_cpu_ns") * 1e-9
        m["stats.shuffle_write_mb"] = layer("stats", "shuffle_write_bytes") / MB
        stats_rows = raw["passes"][-1]["facts"]["stats_rows"]
        m["stats.rows_per_s"] = stats_rows / m["stats.collect_s"]
        m["gen.plan_s"] = med(lambda p: _span_s(p, "gen.plan"))
        m["gen.write_s"] = med(lambda p: _span_s(p, "gen.write"))
        m["gen.jobs"] = layer("gen", "jobs")
        m["gen.task_cpu_s"] = layer("gen", "task_cpu_ns") * 1e-9
        m["gen.gc_s"] = layer("gen", "gc_ms") * 1e-3
        m["gen.output_mb"] = facts["output_mb"]
        m["gen.files"] = facts["files"]
        m["gen.rows_per_s"] = facts["generated_rows"] / (m["gen.plan_s"] + m["gen.write_s"])
        m["pipeline.docs_per_s"] = facts["docs"] / med(
            lambda p: sum(s["s"] for s in _spans(p, "pipeline")))
        for st in STAGES:
            name = f"pipeline.{st}"
            m[f"{name}.s"] = med(lambda p: _span_s(p, name))
            m[f"{name}.jobs"] = layer(name, "jobs")
            m[f"{name}.shuffle_write_mb"] = layer(name, "shuffle_write_bytes") / MB
            m[f"{name}.spill_mb"] = layer(name, "spill_bytes") / MB
            m[f"{name}.task_cpu_s"] = layer(name, "task_cpu_ns") * 1e-9
        m["pipeline.neardup.pairs"] = facts["neardup_pairs"]
        m["pipeline.cluster.components"] = facts["components"]
        m["functions.minhash_ns_per_doc"] = raw["extra"]["minhash_ns_per_doc"]
        m["functions.shingle_ns_per_doc"] = raw["extra"]["shingle_ns_per_doc"]
    return m


def witnesses(raw):
    """Per-span structural counts of each traced warm pass."""
    return [{s["name"]: {k: s["counters"][k] for k in WITNESS_KEYS} for s in p["spans"]}
            for p in _warm(raw, True)]


def witness_diffs(reference, runs):
    """Every (span, count) whose value differs from the reference."""
    out = []
    for i, w in enumerate(runs):
        for span in sorted(set(reference) | set(w)):
            a, b = reference.get(span, {}), w.get(span, {})
            for k in WITNESS_KEYS:
                if a.get(k) != b.get(k):
                    out.append(f"pass {i}: {span}.{k} {a.get(k)} != {b.get(k)}")
    return out


def result_line(correct, attempted, failed, values, units):
    for name in values:
        if not valid_name(name):
            raise ValueError(f"bad metric name {name!r}")
    return {"correct": bool(correct), "attempted": int(attempted), "failed": int(failed),
            "metrics": {k: {"value": float(values[k]), "unit": units[k]} for k in units}}
