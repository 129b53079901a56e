"""Per-layer metrics of a traced run (``--trace 1``).

Every layer reports ``<layer>.calls`` and ``<layer>.busy_s`` (span
self time) from the benchmark's spans, and ``<layer>.jobs``,
``<layer>.task_s``, ``<layer>.gc_s`` and ``<layer>.failed`` from the
Spark jobs attributed to it.  The extra metrics are listed, with the
end-to-end metric each should move, in perfbench/README.md.
"""

from __future__ import annotations

import os

from tracing import LAYERS, SparkCounters
from workloads import job_growth

MB = float(1 << 20)
PYTHON_TIME = "time to run Python workers"

# name -> unit; the order of BENCHMARK.json's per_layer list
UNITS = {}
for _layer in LAYERS:
    UNITS.update({
        f"{_layer}.calls": "count", f"{_layer}.busy_s": "s", f"{_layer}.jobs": "count",
        f"{_layer}.task_s": "s", f"{_layer}.gc_s": "s", f"{_layer}.failed": "count",
    })
UNITS.update({
    "core.pipeline.busy_s": "s",
    "core.ship.busy_s": "s",
    "operators.python.busy_s": "s",
    "operators.python.rows": "count",
    "operators.python.mb_sent": "MB",
    "operators.jvm.busy_s": "s",
    "functions.dedup.shuffle_mb": "MB",
    "functions.dedup.spill_mb": "MB",
    "functions.dedup.candidate_pairs": "count",
    "functions.dedup.verified_pairs": "count",
    "functions.dedup.verify_yield": "ratio",
    "functions.packing.shuffle_mb": "MB",
    "sources.scan.input_mb": "MB",
    "sources.sinks.output_mb": "MB",
    "sources.cache.lookups": "count",
    "sources.cache.hits": "count",
    "sources.cache.hit_ratio": "ratio",
    "sources.snapshot.commit_s": "s",
    "sources.snapshot.files_per_commit": "count",
    "streaming.runner.planning_s": "s",
    "streaming.runner.wal_s": "s",
    "streaming.ingest.jobs_per_batch": "count",
    "streaming.ingest.state_read_mb": "MB",
    "streaming.ingest.drop_ratio": "ratio",
    "streaming.ingest.job_growth": "ratio",
    "trace.overhead_frac": "ratio",
})


def _duration_ms(progress, key: str) -> float:
    d = progress["durationMs"] if isinstance(progress, dict) else progress.durationMs
    return float(d.get(key, 0))


def per_layer(w, spark, tracer) -> dict:
    m = dict.fromkeys(UNITS, 0.0)
    self_s = tracer.self_times()
    for s in tracer.spans:
        layer, _, module = s.name.partition(".")
        if layer not in LAYERS:
            continue
        m[f"{layer}.calls"] += 1
        m[f"{layer}.busy_s"] += self_s[s.sid]
        m[f"{layer}.failed"] += s.error
        if f"{s.name}.busy_s" in m:
            m[f"{s.name}.busy_s"] += self_s[s.sid]

    windows = [(s.start, s.end) for s in tracer.spans if s.name == "bench.job"]

    def traced(t: float) -> bool:
        return any(a <= t <= b for a, b in windows)

    counters = SparkCounters(spark)
    batch_jobs = 0
    for job in counters.jobs:
        t = job["submissionTime"] / 1000.0
        if not traced(t):
            continue
        batch_jobs += 1
        owner = tracer.innermost(t)
        layer = owner.name.partition(".")[0] if owner else ""
        if layer not in LAYERS:
            continue
        stages = [counters.stages[i] for i in job["stageIds"] if i in counters.stages]
        m[f"{layer}.jobs"] += 1
        m[f"{layer}.failed"] += sum(s["numFailedTasks"] for s in stages)
        m[f"{layer}.task_s"] += sum(s["executorRunTime"] for s in stages) / 1000.0
        m[f"{layer}.gc_s"] += sum(s["jvmGcTime"] for s in stages) / 1000.0
        m["sources.scan.input_mb"] += sum(s["inputBytes"] for s in stages) / MB
        if owner.name == "sources.sinks":
            m["sources.sinks.output_mb"] += sum(s["outputBytes"] for s in stages) / MB
        m[f"{w.wide_module}.shuffle_mb"] += sum(s["shuffleWriteBytes"] for s in stages) / MB
        if f"{w.wide_module}.spill_mb" in m:
            m[f"{w.wide_module}.spill_mb"] += sum(s["diskBytesSpilled"] for s in stages) / MB

    state_dir = os.path.join(w.dir, "state") + os.sep
    for t, nodes in counters.executions:
        if not traced(t):
            continue
        for name, desc, vals in nodes:
            if PYTHON_TIME in vals:
                m["operators.python.busy_s"] += vals[PYTHON_TIME]
                m["operators.python.rows"] += vals.get("number of output rows", 0.0)
                m["operators.python.mb_sent"] += vals.get("data sent to Python workers", 0.0) / MB
            elif name.startswith("WholeStageCodegen"):
                m["operators.jvm.busy_s"] += vals.get("duration", 0.0)
            elif name.startswith("Scan") and state_dir in desc:
                m["streaming.ingest.state_read_mb"] += vals.get("size of files read", 0.0) / MB

    jobs = w.jobs
    n_traced = sum(j.traced for j in jobs)
    lookups, hits = tracer.counts.get("sources.cache", (0, 0))
    m["sources.cache.lookups"] = lookups
    m["sources.cache.hits"] = hits
    m["sources.cache.hit_ratio"] = hits / lookups if lookups else 0.0
    if w.name == "ingest":
        from smashed_spark.sources.snapshot import resolve_snapshot

        commits = [s for s in tracer.spans if s.name == "sources.snapshot"]
        if commits:
            m["sources.snapshot.commit_s"] = sum(s.end - s.start for s in commits) / len(commits)
        m["sources.snapshot.files_per_commit"] = (
            len(resolve_snapshot(w.path("table")).files) / max(1, len(w.commits))
        )
        progress = [p for per_job in w.progress for p in per_job]
        if progress:
            m["streaming.runner.planning_s"] = (
                sum(_duration_ms(p, "queryPlanning") for p in progress) / 1000.0 / len(progress)
            )
            m["streaming.runner.wal_s"] = (
                sum(_duration_ms(p, "walCommit") for p in progress) / 1000.0 / len(progress)
            )
        m["streaming.ingest.jobs_per_batch"] = batch_jobs / max(1, n_traced)
        m["streaming.ingest.state_read_mb"] /= max(1, n_traced)
        m["streaming.ingest.job_growth"] = job_growth([j for j in jobs if not j.warmup])
        if w.commits:
            m["streaming.ingest.drop_ratio"] = 1.0 - w.commits[-1]["rows"] / (w.docs * len(w.commits))
        cand = sum(c for c, _ in w.pairs)
        ver = sum(v for _, v in w.pairs)
        m["functions.dedup.candidate_pairs"] = cand
        m["functions.dedup.verified_pairs"] = ver
        m["functions.dedup.verify_yield"] = ver / cand if cand else 0.0

    on = [j for j in jobs if j.traced]
    off = [j for j in jobs if not j.traced and j.segment > 0]
    if on and off:
        m["trace.overhead_frac"] = (
            sum(j.seconds for j in on) / sum(j.docs for j in on)
            / (sum(j.seconds for j in off) / sum(j.docs for j in off)) - 1.0
        )
    return {k: {"value": float(v), "unit": UNITS[k]} for k, v in m.items()}
