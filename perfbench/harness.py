"""One benchmark run: working directory, Spark session, counters, result.

Everything a run writes (warehouse, Spark local dirs, event log, temp
files) lives under ``<checkout>/.bench_work/<workload>-<pid>`` and is
removed when the run ends; the session's JVM is stopped and waited for.
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
import traceback

from perfbench import spec
from perfbench.trace import Spans, phase_table, read_event_log, round_job_stats

DRIVER_HEAP = "3g"


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


class Run:
    """Counters and metrics of one run; a workload starts the session and
    fills it in."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, size: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.size = trace, size
        self.cores = len(os.sched_getaffinity(0))
        self.work = os.path.join(spec.ROOT, ".bench_work", f"{workload}-{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.metrics: dict[str, float] = {}
        self.spans = Spans()
        self.spark = None
        self.t_start = time.monotonic()

    def mark(self, what: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        log(f"perfbench: +{time.monotonic() - self.t_start:.1f}s {what}")

    # ------------------------------------------------------------ accounting
    def op(self, name: str, fn, *args, **kw):
        """Run one engine operation; an exception counts it failed and
        returns None (the workload decides whether it can go on)."""
        self.attempted += 1
        try:
            return fn(*args, **kw)
        except Exception:
            self.failed += 1
            log(f"perfbench: {name} raised\n{traceback.format_exc()}")
            return None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """One output check; a failed check counts as a failed operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            log(f"perfbench: check {name} failed {detail}")

    def setup_reps(self, key: str, build, reps: int = 3):
        """Run one set-up step ``reps`` times and keep the last result; the
        median time goes to metric ``key``. The first run also pays one-time
        start-up (Python workers, module imports, JIT): ``setup.warmup_s`` is
        its excess over the median. ``build(prev)`` must release ``prev`` (the
        previous result, or None) first."""
        times, out = [], None
        for _ in range(reps):
            t = time.monotonic()
            out = build(out)
            times.append(time.monotonic() - t)
        self.metrics[key] = statistics.median(times)
        self.metrics["setup.warmup_s"] = max(0.0, times[0] - self.metrics[key])
        return out

    def setup_done(self, *parts_s: float) -> None:
        """``setup_s``: session start + the program-side set-up steps."""
        self.metrics["setup_s"] = self.metrics["setup.session_s"] + sum(parts_s)

    def label(self, text: str | None) -> None:
        self.spark.sparkContext.setJobDescription(text)

    def persistent_rdds(self) -> set[int]:
        jmap = self.spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    # --------------------------------------------------------------- session
    def start_session(self):
        for d in ("tmp", "local", "events"):
            os.makedirs(os.path.join(self.work, d), exist_ok=True)
        tmp = os.path.join(self.work, "tmp")
        # Python workers forked by the JVM import the engine from the
        # checkout root; temp files of both sides stay in the work dir.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (spec.ROOT, os.environ.get("PYTHONPATH")) if p)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "local")
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
        os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
        conf = {
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(self.work, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        from gh_crawler_spark.session import get_spark

        t = time.monotonic()
        self.spark = get_spark("perfbench", cores=self.cores,
                               shuffle_partitions=self.cores, extra_conf=conf)
        self.metrics["setup.session_s"] = time.monotonic() - t
        return self.spark

    def jvm_peak_rss_mb(self) -> float:
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status", encoding="ascii") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def stop_session(self) -> None:
        """Stop Spark, then close the gateway and wait for the JVM to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway JVM exits on stdin EOF
                proc.wait(timeout=60)

    # ---------------------------------------------------------------- result
    def finish_trace(self) -> None:
        """Event-log derived layer metrics (the log is complete once the
        session has stopped)."""
        jobs, tasks = read_event_log(os.path.join(self.work, "events"))
        table = phase_table(jobs, tasks)
        for ph in spec.PHASES:
            for k, v in table.get(ph, {}).items():
                self.metrics[f"phase.{ph}.{k}"] = v
        rounds = self.spans.named("run_round")
        if rounds:
            n_jobs, gap = round_job_stats(jobs, rounds)
            self.metrics["crawler.jobs_per_round"] = n_jobs
            self.metrics["crawler.round_driver_gap_s"] = gap

    def result(self) -> dict:
        if self.trace:
            # A layer metric this workload should report but never measured
            # (a renamed job label or wrapped method) fails the run instead
            # of printing 0, which would read as a perfect gain.
            for name, _u, _b, _e2e, wl in spec.PER_LAYER:
                if wl in (self.workload, "all") and name not in self.metrics:
                    self.check(f"measured.{name}", False, "layer metric not measured")
        names = spec.PER_LAYER if self.trace else spec.END_TO_END
        metrics = {}
        for name, unit, *_ in names:
            v = self.metrics.get(name)
            if v is None and not self.trace and self.failed == 0:
                raise RuntimeError(f"end-to-end metric {name} was not measured")
            metrics[name] = {"value": float(v or 0.0), "unit": unit}
        return {
            "correct": self.failed == 0,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": metrics,
        }


def run(workload: str, seed: int, seconds: float, trace: bool, size: str = "full") -> dict:
    from perfbench import workloads

    r = Run(workload, seed, seconds, trace, size)
    try:
        with r.spans:
            workloads.WORKLOADS[workload](r)
        r.metrics["session.jvm_peak_rss_mb"] = r.jvm_peak_rss_mb()
        r.stop_session()
        if trace:
            r.finish_trace()
        log("perfbench: " + " ".join(f"{k}={v:.4g}" for k, v in sorted(r.metrics.items())))
        return r.result()
    finally:
        if r.spark is not None:
            r.stop_session()
        shutil.rmtree(r.work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(r.work))  # only when no other run is using it
        except OSError:
            pass
