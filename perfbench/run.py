#!/usr/bin/env python3
"""Closed-loop benchmark of geo_raster_spark.

    python3 perfbench/run.py --workload raster|dedup --seed N --seconds S \
        --trace 0|1 [--spans-out FILE]

Run from the root of a checkout.  One client on the driver thread submits
each job only after the previous one finished, on ``local[<cores>]``.  Set-up
starts the session once (``setup_s``: ``get_spark`` with the JVM launch and
the engine's warm-up, what a user pays once per session), generates the
workload's inputs from ``--seed`` as parquet, and computes the reference every
job's output is checked against.  One warm-up job runs untimed; then as
many jobs as fit in ``--seconds`` at the workload's nominal steady job time
``job_s`` are measured, so a run always measures the same number of jobs.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced jobs and prints the per-layer metrics: spans around the
engine's public functions (each layer's output materialized inside its own
span), Spark counters per job group from the status store, and the
single-thread kernel rates.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; everything else the run
and the engine print goes to stderr.

All files (inputs, stores, tiles, Spark local dirs, temp files) live in one
work directory under ``.perfbench_work/`` that is removed at exit, and every
process the run starts is stopped and reaped before it exits.
"""

from __future__ import annotations

import argparse
import ctypes
import itertools
import json
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

sys.dont_write_bytecode = True    # leave no __pycache__ in the checkout

from tracing import (  # noqa: E402
    SPARK_KEYS, RssSampler, StatusStore, Tracer, check_parents, patched,
    self_times, tree_cpu_s, tree_pids)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_PARENT = os.path.join(ROOT, ".perfbench_work")

WARM_JOBS = 1             # the first job is the one well off steady state
LOOP_DEADLINE_S = 140     # no new job starts this long after process start
HARD_DEADLINE_S = 172     # the run aborts (no result) past this
DRIVER_MEM = "2g"


def metric_units() -> tuple:
    """(end-to-end units, per-layer units) from ``metrics.json``."""
    with open(os.path.join(HERE, "metrics.json")) as f:
        defs = json.load(f)
    return ({k: v["unit"] for k, v in defs["end_to_end"].items()},
            {k: v["unit"] for k, v in defs["per_layer"].items()})


def log(*a):
    print("perfbench:", *a, file=sys.stderr, flush=True)


def _timeout(_sig, _frame):
    raise TimeoutError(f"run exceeded {HARD_DEADLINE_S} s")


def prepare_env(work: str, cores: int):
    """Point every temp/local/warehouse path of the driver, the JVM and the
    Python workers into ``work``, and run the JVM from there."""
    for d in ("tmp", "local", "inputs"):
        os.makedirs(os.path.join(work, d))
    tmp = os.path.join(work, "tmp")
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONDONTWRITEBYTECODE": "1",
        # no hsperfdata files in the system /tmp from either JVM
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": shlex.join([
            "--driver-java-options",
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", f"spark.sql.warehouse.dir={work}/warehouse",
            "--conf", "spark.ui.showConsoleProgress=false", "pyspark-shell"]),
    })
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # the warm-up is part of what a user pays: never benchmark without it
    os.environ.pop("GSR_NO_WARMUP", None)
    tempfile.tempdir = tmp
    os.chdir(work)


def stop_processes(spark):
    """Stop Spark, end the JVM, then end and reap every remaining
    descendant (this process is their subreaper)."""
    from pyspark import SparkContext
    if spark is not None:
        try:
            spark.stop()
        except Exception:
            log("spark.stop failed:\n" + traceback.format_exc())
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception as exc:  # the JVM may already be gone
            log(f"gateway shutdown: {exc!r}")
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    t_end = time.monotonic() + 20
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        rest = tree_pids()[1:]
        if not rest:
            return
        if time.monotonic() > t_end:
            log(f"could not reap {rest}")
            return
        sig = signal.SIGTERM if time.monotonic() < t_end - 15 \
            else signal.SIGKILL
        for pid in rest:
            try:
                os.kill(pid, sig)
            except OSError:
                pass
        time.sleep(0.1)


class Job:
    __slots__ = ("id", "name", "traced", "dt", "cpu", "items", "ok",
                 "stats", "spark")

    def __init__(self, jid, name, traced, items):
        self.id, self.name, self.traced, self.items = jid, name, traced, items
        self.dt = self.cpu = 0.0
        self.ok, self.stats, self.spark = False, {}, None


class Bench:
    def __init__(self, args, work: str):
        self.args, self.work = args, work
        self.cores = len(os.sched_getaffinity(0))
        self.t_start = time.monotonic()
        self.jobs: list = []
        self.e2e_units, self.layer_units = metric_units()
        self.warm_failures = 0
        self._ids = itertools.count(1)

    # -- set-up --
    def setup(self):
        from geo_raster_spark.session import get_spark
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        self.setup_s = time.perf_counter() - t0
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        self.status = StatusStore(sc)
        self.status.drain()
        self.warmup_jobs = len(sc.statusTracker().getJobIdsForGroup())
        self.spark, self.sc = spark, sc
        self.tracer = Tracer(sc)
        log(f"setup {self.setup_s:.3f} s, {self.warmup_jobs} warm-up jobs, "
            f"local[{self.cores}]")

    # -- loop --
    def run_job(self, traced: bool, record: bool) -> Job:
        req = self.wl.request()
        job = Job(next(self._ids), req.name, traced, req.items)
        trace_mode = bool(self.args.trace)
        group = f"perfbench-job-{job.id}"
        held: list = []
        cpu0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            try:
                if traced:
                    targets = self.wl.trace_targets(self.tracer, held)
                    with patched(targets), \
                            self.tracer.job(f"{self.wl.name}.{req.name}",
                                            job.id):
                        res = req.run()
                else:
                    if trace_mode:
                        self.sc.setJobGroup(group, req.name)
                    res = req.run()
            finally:
                job.dt = time.perf_counter() - t0
                job.cpu = tree_cpu_s() - cpu0
                if trace_mode and not traced:
                    self.sc._jsc.clearJobGroup()
            if traced:
                self.tracer.run_after_job()
            job.stats = req.check(res) or {}
            job.ok = True
        except Exception as exc:
            log(f"job {job.id} {req.name} failed: {exc!r}")
            if not isinstance(exc, self.check_failed):
                log(traceback.format_exc())
        finally:
            for df in held:
                df.unpersist()
        if trace_mode and record:
            self.status.drain()
            if traced:
                for s in self.tracer.job_spans(job.id):
                    s.spark = self.status.group_counters(s.group)
            else:
                job.spark = self.status.group_counters(group)
        log(f"job {job.id} {req.name}{'' if record else ' warm-up'}"
            f"{' traced' if traced else ''}: {job.dt:.3f} s, cpu "
            f"{job.cpu:.2f} s")
        if record:
            self.jobs.append(job)
        elif not job.ok:
            self.warm_failures += 1
        self.wl.reset()
        return job

    def measure(self):
        from workloads import WORKLOADS, CheckFailed
        self.check_failed = CheckFailed
        a = self.args
        self.wl = WORKLOADS[a.workload](self.spark, self.work, a.seed,
                                        a.tiny)
        t0 = time.perf_counter()
        self.wl.prepare()
        log(f"inputs and references ready in "
            f"{time.perf_counter() - t0:.2f} s")

        for _ in range(0 if a.tiny else WARM_JOBS):
            self.run_job(False, False)

        n = 1 if a.tiny else max(1, int(a.seconds // self.wl.job_s))
        if a.trace:               # untraced and traced jobs alternate
            n = max(2, n)
        with RssSampler() as rss:
            for i in range(n):
                if time.monotonic() - self.t_start > LOOP_DEADLINE_S:
                    log("loop deadline reached")
                    break
                self.run_job(bool(a.trace) and i % 2 == 1, True)
        self.peak_rss_mb = rss.peak_mb
        log(f"peak RSS {rss.peak_mb:.0f} MB: " + ", ".join(
            f"{name} {mb:.0f} MB in {n}"
            for name, (mb, n) in sorted(rss.peak_parts.items())))

    # -- metrics --
    def e2e_metrics(self) -> dict:
        """Medians over the run's measured jobs, so one job slowed by a
        neighbour on the machine moves neither throughput nor CPU."""
        jobs = [j for j in self.jobs if not j.traced]
        dts = sorted(j.dt for j in jobs)
        n = len(dts)
        if n >= 11:
            i = n - 11            # 10 jobs beyond it
            tail, pct = dts[i], 100.0 * (i + 1) / n
        else:
            tail, pct = dts[-1], 100.0
        log(f"{n} jobs; job_tail_s is p{pct:.0f} "
            f"({n - 1 - dts.index(tail)} jobs beyond it)")
        med = statistics.median
        return {
            "setup_s": self.setup_s,
            "items_per_s": med(j.items / j.dt for j in jobs),
            "job_p50_s": med(dts),
            "job_tail_s": tail,
            "cpu_s_per_kitem": med(1000.0 * j.cpu / j.items for j in jobs),
            "peak_rss_mb": self.peak_rss_mb,
            "pass_ratio": sum(j.ok for j in jobs) / n,
        }

    def layer_metrics(self) -> tuple:
        spans = self.tracer.spans
        selfs = self_times(spans)
        problems = check_parents(spans)
        untraced = [j for j in self.jobs if not j.traced]
        traced = [j for j in self.jobs if j.traced]

        # accounting: per traced job, the self times of its spans add up to
        # the root span (the traced job's wall)
        roots = {s.job: s for s in spans if s.parent is None}
        for j in traced:
            js = self.tracer.job_spans(j.id)
            total = sum(selfs[s.id] for s in js)
            if abs(total - roots[j.id].dur) > 1e-6:
                problems.append({"job": j.id, "self_sum": total,
                                 "wall": roots[j.id].dur})

        m = dict.fromkeys(self.layer_units, 0.0)
        m["session.get_spark_s"] = self.setup_s
        m["session.warmup_jobs"] = float(self.warmup_jobs)

        sp = [j.spark for j in untraced if j.spark]
        if sp:
            for key in SPARK_KEYS:
                if key != "task_skew_max":
                    m[f"spark.{key}_per_job"] = \
                        sum(c[key] for c in sp) / len(sp)
            wall = sum(j.dt for j in untraced if j.spark)
            m["spark.core_idle_frac"] = 1.0 - sum(
                c["task_run_s"] for c in sp) / (wall * self.cores)
            m["spark.task_skew_max"] = statistics.median(
                c["task_skew_max"] for c in sp)

        med = statistics.median
        if untraced and traced:
            m["trace.overhead_frac"] = (med(j.dt for j in traced)
                                        / med(j.dt for j in untraced) - 1.0)
            m["trace.unaccounted_frac"] = med(
                selfs[roots[j.id].id] / roots[j.id].dur for j in traced)
        job_spans = [self.tracer.job_spans(j.id) for j in traced]
        stats = [j.stats for j in traced if j.ok]
        m.update(self.wl.layer_metrics(job_spans, selfs, stats))
        if hasattr(self.wl, "kernel_metrics"):
            m.update(self.wl.kernel_metrics(0.05 if self.args.tiny else 0.3))
        unknown = set(m) - set(self.layer_units)
        if unknown:
            raise KeyError(f"unlisted per-layer metrics {sorted(unknown)}")
        return m, problems

    def run(self) -> dict:
        self.setup()
        self.measure()
        jobs = [j for j in self.jobs if not j.traced] if not self.args.trace \
            else self.jobs
        failed = sum(not j.ok for j in jobs)
        if self.args.trace:
            metrics, problems = self.layer_metrics()
            units = self.layer_units
            if problems:
                log(f"trace inconsistencies: {problems[:5]}")
            if self.args.spans_out:
                with open(self.args.spans_out, "w") as f:
                    json.dump({"spans": [s.as_dict()
                                         for s in self.tracer.spans],
                               "jobs": [{"id": j.id, "name": j.name,
                                         "traced": j.traced, "dt": j.dt,
                                         "ok": j.ok} for j in self.jobs],
                               "problems": problems}, f)
        else:
            metrics, problems = self.e2e_metrics(), []
            units = self.e2e_units
        for k, v in metrics.items():
            log(f"  {k:40s} {v:14.6g} {units[k]}")
        return {"correct": failed == 0 and self.warm_failures == 0
                and not problems,
                "attempted": len(jobs), "failed": failed,
                "metrics": {k: {"value": float(v), "unit": units[k]}
                            for k, v in metrics.items()}}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["raster", "dedup"])
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--spans-out", help="write the traced run's spans here")
    p.add_argument("--tiny", action="store_true",
                   help="self-test size: tiny inputs, no warm-up, one job "
                        "(two when traced)")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if args.spans_out:
        args.spans_out = os.path.abspath(args.spans_out)
    if not os.path.isdir(os.path.join(ROOT, "geo_raster_spark")):
        log(f"no geo_raster_spark/ package next to {HERE}; run from the "
            "root of a repository checkout")
        return 2
    sys.path[:0] = [HERE, ROOT]
    result_fd = os.dup(1)
    os.dup2(2, 1)                 # engine, Spark and JVM output -> stderr
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl(36, 1, 0, 0, 0)    # PR_SET_CHILD_SUBREAPER
    os.makedirs(WORK_PARENT, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=WORK_PARENT)
    cwd = os.getcwd()
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(HARD_DEADLINE_S)
    result, bench = None, None
    try:
        prepare_env(work, len(os.sched_getaffinity(0)))
        bench = Bench(args, work)
        result = bench.run()
    except BaseException:
        log("run failed:\n" + traceback.format_exc())
    finally:
        t_stop = time.monotonic()
        try:
            stop_processes(getattr(bench, "spark", None))
        finally:
            log(f"stopped in {time.monotonic() - t_stop:.2f} s")
            signal.alarm(0)
            os.chdir(cwd)
            shutil.rmtree(work, ignore_errors=True)
            try:
                os.rmdir(WORK_PARENT)
            except OSError:
                pass
    if result is None:
        return 1
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
