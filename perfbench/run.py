"""smashed_spark benchmark: one closed-loop workload per invocation.

    python3 perfbench/run.py --workload {preprocess,ingest} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root (the ``smashed_spark`` package must be in
the working directory).  Inputs are generated from ``--seed``; the loop
runs whole rounds of jobs until the jobs have taken ``--seconds``;
every job's output is checked afterwards.  Human-readable lines go
first; the last line of stdout is the JSON result.  ``--trace 0``
reports the end-to-end metrics, ``--trace 1`` the per-layer ones
(see perfbench/README.md).  Everything the run writes stays under
``.perfbench/`` in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

SETUPS = 3
# stop mid-round past this much job time, so a stalled program still
# ends the run inside its time limit
MAX_JOB_SECONDS = 75.0
# the fewest jobs for which ten jobs lie beyond p90
TAIL_MIN_JOBS = 100


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=("preprocess", "ingest"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def tail(times: list):
    """(percentile, value, samples beyond it): the highest percentile
    with at least ten samples beyond it, as long as that is p90 or
    higher; with fewer than ``TAIL_MIN_JOBS`` jobs, the slowest job."""
    xs = sorted(times)
    n = len(xs)
    if n < TAIL_MIN_JOBS:
        return 100.0, xs[-1], 0
    return 100.0 * (n - 10) / n, xs[n - 11], 10


def run_job(w, spark, i: int, **flags):
    """Prepare and run job ``i``, timed; a failed job is recorded, not
    fatal.  ``flags`` set the Job's ``traced``/``segment``/``warmup``."""
    job = w.prepare(i)
    for k, v in flags.items():
        setattr(job, k, v)
    t0 = time.perf_counter()
    try:
        with w.tracer.span("bench.job"):
            w.run(spark, i)
    except Exception:
        job.error = traceback.format_exc(limit=3)
        print(f"job {i} failed:\n{job.error}", file=sys.stderr)
    job.seconds = time.perf_counter() - t0
    w.jobs.append(job)
    return job


def loop(w, spark, seconds: float, segments: tuple = (False,)) -> None:
    """Closed loop run in segments, each traced or not as ``segments``
    says; a segment runs whole rounds of jobs until its jobs took
    ``seconds / len(segments)``.  Job numbers go on from the warm-up
    jobs'."""
    n_round = len(w.round_kinds)
    budget = seconds / len(segments)
    total, k = 0.0, 0
    for seg, on in enumerate(segments):
        if on:
            w.tracer.instrument()
        w.tracer.enabled = on
        spent = 0.0
        while (k % n_round or spent < budget) and total < MAX_JOB_SECONDS:
            i = len(w.jobs)
            job = run_job(w, spark, i, traced=on, segment=seg)
            if on and not job.error and hasattr(w, "count_pairs"):
                with w.tracer.span("bench.pairs"):
                    w.count_pairs(spark, i)
            spent += job.seconds
            total += job.seconds
            k += 1
        if on:
            w.tracer.uninstrument()
    w.tracer.enabled = False


def end_to_end(w, check, setup_s: float, peak_rss_mb: float) -> tuple:
    from workloads import job_growth

    jobs = w.jobs
    failed = {i for i, j in enumerate(jobs) if j.error} | check.failed_jobs
    timed = [i for i, j in enumerate(jobs) if not j.warmup]
    # a failed job counts as the slowest job of the run
    worst = max(jobs[i].seconds for i in timed)
    times = [worst if i in failed else jobs[i].seconds for i in timed]
    total = sum(jobs[i].seconds for i in timed)
    ok_docs = sum(jobs[i].docs for i in timed if i not in failed)
    pct, tail_s, beyond = tail(times)
    m = {
        "setup_s": (setup_s, "s"),
        "docs_per_s": (ok_docs / total, "docs/s"),
        "job_p50_s": (statistics.median(times), "s"),
        "job_tail_s": (tail_s, "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "drop_recall": (check.planted_dropped / max(1, check.planted), "ratio"),
        "drop_precision": (check.planted_dropped / max(1, check.dropped), "ratio"),
        "disk_bytes_per_doc": (w.disk_bytes() / sum(j.docs for j in jobs), "B/doc"),
    }
    info = {
        "job_growth": job_growth([jobs[i] for i in timed]),
        "jobs": len(jobs),
        "timed": len(timed),
        "failed": len(failed),
        "fail_frac": len(failed) / len(jobs),
        "tail": (f"the slowest of {len(timed)} jobs" if beyond == 0
                 else f"p{pct:.1f} of {len(timed)} jobs, {beyond} beyond"),
    }
    return m, info


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "smashed_spark", "__init__.py")):
        print("perfbench: run from the repository root; smashed_spark/ not found",
              file=sys.stderr)
        return 2
    here = os.path.dirname(os.path.abspath(__file__))
    sys.path[:0] = [here, root]
    run_dir = os.path.join(root, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # keep every temp file of the driver, the JVM and the Python workers
    # inside the run directory
    os.environ["TMPDIR"] = tmp
    os.environ["SMASHED_SPARK_CACHE"] = os.path.join(run_dir, "default_cache")
    try:
        return bench(args, root, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, root: str, run_dir: str) -> int:
    import numpy as np

    import gen
    import session
    import tracing
    from workloads import WORKLOADS

    tracer = tracing.Tracer()
    setups, sessions = [], []
    try:
        tracer.enabled = bool(args.trace)
        # a traced run reports no setup_s, so it sets up once
        for _ in range(1 if args.trace else SETUPS):
            if sessions:
                sessions[-1].stop()
            t0 = time.perf_counter()
            sessions.append(session.set_up(run_dir, tracer))
            setups.append(time.perf_counter() - t0)
        tracer.enabled = False
        spark = sessions[-1]
        rng = np.random.default_rng(args.seed)
        lex = gen.make_lexicon(rng)
        w = WORKLOADS[args.workload](rng, lex, os.path.join(run_dir, "work"), tracer)
        for i in range(w.WARMUP_JOBS):
            run_job(w, spark, i, warmup=True)
        # the earlier sessions' objects are garbage now; collect them
        # here rather than inside the first measured jobs
        spark.sparkContext._jvm.System.gc()
        with session.RssSampler() as rss:
            if args.trace:
                # after a segment that lets the jobs' warming trend
                # flatten, a traced segment between two untraced ones:
                # against the untraced pair, the traced jobs' extra time
                # is the tracing overhead
                loop(w, spark, args.seconds, segments=(False, False, True, False))
            else:
                loop(w, spark, args.seconds)
        check = w.check(spark)
        m, info = end_to_end(w, check, statistics.median(setups), rss.peak_mb)
        print(f"workload {w.name}, seed {args.seed}: generated {w.generated()}")
        print(f"setup runs (s): {', '.join(f'{s:.3f}' for s in setups)}")
        print(f"jobs {info['jobs']} ({info['timed']} timed), failed {info['failed']}, "
              f"fail_frac {info['fail_frac']:.4f}, job_tail_s is {info['tail']}, "
              f"job_growth {info['job_growth']:.4f}")
        print("warm-up job times (s): "
              + ", ".join(f"{j.seconds:.3f}" for j in w.jobs if j.warmup))
        print("job times (s): " + ", ".join(f"{j.seconds:.3f}" for j in w.jobs if not j.warmup))
        for note in check.notes:
            print(f"check failed: {note}")
        if args.trace:
            import layers

            metrics = layers.per_layer(w, spark, tracer)
            os.makedirs(os.path.join(root, ".perfbench", "traces"), exist_ok=True)
            trace_path = os.path.join(root, ".perfbench", "traces",
                                      f"{args.workload}-{args.seed}.json")
            tracer.dump(trace_path)
            print(f"spans written to {os.path.relpath(trace_path, root)}")
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
        for k, v in metrics.items():
            print(f"  {k:<40} {v['value']:.6g} {v['unit']}")
        result = {
            "correct": info["failed"] == 0,
            "attempted": info["jobs"],
            "failed": info["failed"],
            "metrics": metrics,
        }
    finally:
        session.shutdown()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
