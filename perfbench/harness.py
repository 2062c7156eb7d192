"""Session set-up and the timed repetition loop, shared by the timed and
the traced run."""

from __future__ import annotations

import contextlib
import os
import signal
import sys
import time
import traceback

from procs import descendants, tree_cpu_s

MIN_REPS = 3


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


_EVENT_LOG_KEYS = ("spark.eventLog.enabled", "spark.eventLog.dir", "spark.eventLog.compress",
                   "spark.eventLog.logBlockUpdates.enabled")


class Session:
    """Starts, warms up and stops Spark sessions on one JVM."""

    def __init__(self, cores: int):
        self.cores = cores
        self.spark = None

    def start(self, warm_up, event_log: str | None = None) -> float:
        """Start a session and run ``warm_up(spark)``; returns its seconds.
        With ``event_log`` (a directory) Spark's event log is on; the JVM
        must already run."""
        from pyspark import SparkContext

        from pdf_ocr_spark.pipeline.session import get_spark

        t0 = time.perf_counter()
        props = dict(zip(_EVENT_LOG_KEYS, ("true", f"file://{event_log}", "false", "true"))
                     ) if event_log else {}
        if SparkContext._jvm is not None:
            # a new SparkContext reads spark.* JVM system properties
            system = SparkContext._jvm.java.lang.System
            for key in _EVENT_LOG_KEYS:
                system.clearProperty(key)
            for key, value in props.items():
                system.setProperty(key, value)
        elif props:
            raise RuntimeError("the event log is turned on in a restarted session only")
        self.spark = get_spark("perfbench", cores=self.cores)
        self.spark.sparkContext.setLogLevel("ERROR")
        warm_up(self.spark)
        return time.perf_counter() - t0

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self, timeout_s: float = 60.0) -> None:
        """Stop the session, shut the JVM down and wait until every child
        process has ended."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=timeout_s)
            SparkContext._gateway = SparkContext._jvm = None
        deadline = time.monotonic() + timeout_s
        while (left := descendants(os.getpid())) and time.monotonic() < deadline:
            time.sleep(0.1)
        for pid in left:
            with contextlib.suppress(ProcessLookupError):
                os.kill(pid, signal.SIGKILL)


def timed_reps(w, session, seconds: float, min_reps: int, sampler, pid: int) -> list[dict]:
    """Repeat the job until ``seconds`` of job time are measured."""
    reps = []
    while True:
        w.reset()
        sampler.reset()
        cpu0 = tree_cpu_s(pid)
        try:
            dt = w.run(session.spark)
            ok = True
        except Exception:  # noqa: BLE001 — a failed job fails all its operations
            log(f"job failed:\n{traceback.format_exc()}")
            dt, ok = float("nan"), False
        cpu = tree_cpu_s(pid) - cpu0
        rep = {"s": dt, "cpu_s": cpu, "rss_mb": sampler.peak}
        failed = w.check() if ok else ["job"]
        rep["failed"] = w.n_input if not ok else len(failed)
        rep["failed_ids"] = failed[:20]
        rep["self_check"] = ok and w.self_check()
        reps.append(rep)
        if not ok:
            return reps
        done = sum(r["s"] for r in reps)
        if done >= seconds and len(reps) >= min_reps:
            return reps


