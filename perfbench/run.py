#!/usr/bin/env python3
"""Extraction benchmark.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout.  Load shape: closed loop, one client.
One process drives Spark at ``local[nproc]`` and submits one repetition
of the workload's job at a time, the next only after the previous one
finished and was checked.

A run (``--trace 0``):

1. makes the inputs from ``--seed`` and replays the program's Python-stage
   functions on them in a process pool: the reference for the checks;
2. sets up three times and reports the median as ``setup_s``: the first
   set-up counts from process start (JVM launch included, input
   generation excluded), the other two stop the session and start a new
   one on the running JVM; each ends with a warm-up: the workload's job
   on a few fixed documents, so the Python workers are up and the job's
   code paths are compiled;
3. repeats the job until ``--seconds`` of job time are measured (at least
   three repetitions), sampling the CPU and RSS of the Spark process tree;
4. checks every repetition's output outside the timing, and checks that a
   corrupted copy of the output fails the same check.

``--trace 1`` makes one traced run instead: an untraced and a span-wrapped
in-process replay, a short untraced timed phase, then one repetition in
a session with Spark's event log on, and prints the per-layer metrics.

The last stdout line is the JSON result; the line before it carries the
input digest, host weather and per-repetition figures.  ``--smoke`` uses
tiny inputs (the benchmark's own tests use it).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
END_TO_END = [("setup_s", "s"), ("job_s", "s"), ("docs_per_s", "docs/s"),
              ("cpu_ms_per_doc", "ms")]


def _environment(work: str) -> None:
    """Keep Spark's and Java's scratch files inside the run's directory."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    })


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "pdf_ocr_spark")):
        print(f"[perfbench] no pdf_ocr_spark package under {ROOT}: run from a checkout of the repository",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import procs
    from harness import Session, log
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        log(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
        return 2
    import pyspark  # noqa: F401  (its import belongs to set-up time)

    boot_s = time.perf_counter() - T_START
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench", f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    _environment(work)
    weather0 = (procs.cpu_times(), procs.calibration_s())
    w = WORKLOADS[args.workload](work, args.seed, args.smoke)
    session = Session(cores)
    try:
        t0 = time.perf_counter()
        w.prepare(cores)
        log(f"inputs and reference: {time.perf_counter() - t0:.1f}s, {w.digest}")
        if args.trace:
            import traced

            correct, attempted, failed, metrics, detail = traced.traced_run(
                w, session, args.seconds, boot_s, work)
        else:
            correct, attempted, failed, metrics, detail = timed_run(
                w, session, args.seconds, boot_s)
    finally:
        session.close()
        shutil.rmtree(work, ignore_errors=True)
    steal = procs.steal_pct(weather0[0], procs.cpu_times())
    detail.update(workload=args.workload, seed=args.seed, trace=args.trace, cores=cores,
                  docs=w.n_input, inputs=w.digest, steal_pct=round(steal, 3),
                  calibration_s=[round(weather0[1], 4), round(procs.calibration_s(), 4)])
    line = result_line(correct, attempted, failed, metrics)
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    with open(os.path.join(ROOT, ".perfbench", "runs.jsonl"), "a") as fh:
        fh.write(json.dumps({"detail": detail, "result": json.loads(line)}) + "\n")
    print(json.dumps(detail))
    print(line, flush=True)
    return 0


def timed_run(w, session, seconds, boot_s):
    import procs
    from harness import MIN_REPS, log, timed_reps

    pid = os.getpid()
    setups = [boot_s + session.start(w.warm_up)]
    for _ in range(2):
        session.stop()
        setups.append(session.start(w.warm_up))
    log(f"setups: {[round(s, 2) for s in setups]}")
    with procs.RssSampler(pid) as sampler:
        reps = timed_reps(w, session, seconds, MIN_REPS, sampler, pid)
    log("reps: " + ", ".join(f"{r['s']:.2f}s/{r['failed']}" for r in reps))
    attempted = w.n_input * len(reps)
    failed = sum(r["failed"] for r in reps)
    correct = failed == 0 and all(r["self_check"] for r in reps)
    reps = [r for r in reps if r["s"] == r["s"]]  # a failed job times nothing
    if not reps:
        raise RuntimeError("no repetition of the job finished")
    job_s = statistics.median(r["s"] for r in reps)
    values = {
        "setup_s": statistics.median(setups),
        "job_s": job_s,
        "docs_per_s": w.n_input / job_s,
        "cpu_ms_per_doc": statistics.median(r["cpu_s"] for r in reps) * 1e3 / w.n_input,
    }
    metrics = {name: (values[name], unit) for name, unit in END_TO_END}
    detail = {"setups_s": setups, "reps": reps, "out_bytes": w.out_bytes()}
    return correct, attempted, failed, metrics, detail


if __name__ == "__main__":
    sys.exit(main())
