"""Dedup-engine benchmark: one closed-loop client, one job at a time.

    python3 perfbench/run.py --workload crawl_dupmix --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  Generates the workload's seeded corpus,
starts `bigtrees_spark.session.get_spark` at local[nproc], warms up, then
runs the workload's job back to back for `--seconds` seconds and checks
every result.  The last stdout line is one JSON object: the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
Everything it writes lives under `.perfbench_work/` in the checkout and is
removed on exit.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORKLOADS = ("crawl_dupmix", "crawl_unique", "crawl_refresh")
SETUP_REPEATS = 2   # session restarts; setup_s is their median
SIZES = {"crawl_dupmix": 1500, "crawl_unique": 1500, "crawl_refresh": 1500}
# One untimed job on a small corpus of the same generator before timing, so
# the Python worker pool, the JIT and Spark's codegen cache settle.  A
# full-size warm-up settles more (plans whose shape depends on the data
# size) but costs a whole job, which the run budget cannot hold.
# crawl_refresh needs none of its own: its untimed v1 commit runs the job's
# incremental_run and sink on the same input.
WARMUP_DOCS = {"crawl_dupmix": 300, "crawl_unique": 300, "crawl_refresh": 0}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.1f}s] {msg}", flush=True)


def _proc_tree(root_pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_cpu_s() -> float:
    """User+sys CPU of this process and all its descendants, including
    descendants that already exited and were reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
    return total / tick


def reset_peak_rss() -> None:
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as fh:
                fh.write("5")
        except OSError:
            pass


def tree_peak_rss_mb() -> float:
    """Sum over the process tree of each process's peak RSS since the last
    reset — an upper bound on the tree's peak."""
    kb = 0
    for pid in _proc_tree(os.getpid()):
        try:
            with open(f"/proc/{pid}/status") as fh:
                for line in fh:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            pass
    return kb / 1024


def driver_mem() -> str:
    """Driver heap sized to the host: a quarter of RAM, 1-4 GiB."""
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    mb = min(4096, max(1024, total_kb // 1024 // 4))
    return f"{mb}m"


class Session:
    """Owns the SparkSession and the JVM gateway process behind it."""

    def __init__(self, work: Path, trace: bool):
        self.conf = {
            # keep the JVM's temp files in the run's directory; UsePerfData
            # would write /tmp/hsperfdata_<user>/<pid>
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        if trace:
            self.events = work / "events"
            self.events.mkdir()
            self.conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.events.as_uri(),
                # the default zstd codec needs a package this reader lacks
                "spark.eventLog.compress": "false",
            })
        self.spark = None

    def start(self) -> float:
        from bigtrees_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        cores = len(os.sched_getaffinity(0))  # what `nproc` reports
        self.spark = get_spark(app_name="perfbench", cores=cores, extra_conf=self.conf)
        dt = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return dt

    def shutdown(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def summarize_trace(per_job: list[dict], untraced_s: float) -> dict:
    import metrics

    values = {}
    for name in metrics.PER_LAYER:
        vals = [j[name] for j in per_job if name in j]
        values[name] = metrics.median(vals) if vals else 0.0
    values["trace.overhead_s"] = values["trace.job_s"] - untraced_s
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "bigtrees_spark" / "__init__.py").is_file():
        print(f"perfbench: no bigtrees_spark package under {ROOT}", file=sys.stderr)
        return 2

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    for sub in ("tmp", "spark-local"):
        (work / sub).mkdir(parents=True)
    # the driver, the JVM it launches and the Python workers all inherit this
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", driver_mem())
    sys.path.insert(0, str(ROOT))

    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()
        except OSError:  # another run is using it
            pass


def run(args, work: Path) -> int:
    import metrics
    import tracing
    import workloads
    from bigtrees_spark.plans.runmeta import RunContext

    w = workloads.make(args.workload, SIZES[args.workload], str(work / "input"))
    w.make_inputs(args.seed)
    warm = None
    if WARMUP_DOCS[args.workload]:
        warm = workloads.make(args.workload, WARMUP_DOCS[args.workload], str(work / "warm"))
        warm.make_inputs(args.seed)
    log(f"{w.name}: seed={args.seed} docs={w.docs}")

    sess = Session(work, bool(args.trace))
    attempted = failed = 0
    job_s, cpu_s, recalls, traced = [], [], [], []
    correct = True
    try:
        sess.start()
        setup_s = [sess.start() for _ in range(SETUP_REPEATS)]
        log(f"session up; setup_s={[round(x, 3) for x in setup_s]}")
        spark = sess.spark
        w.prepare(spark)
        tracer = tracing.Tracer(spark.sparkContext)
        if args.trace:
            tracer.install()

        def job(wl, i):
            """One job, traced and with a RunContext in the traced run."""
            if not args.trace:
                return wl.run(spark), None
            ctx = RunContext.new(spark, str(work / f"runmeta-{i}"))
            return wl.run(spark, tracer, ctx), ctx

        if warm is not None:
            warm.prepare(spark)
            warm.reset()
            job(warm, "warm")[0].release()
            tracer.take()

        log("warm-up done")
        reset_peak_rss()
        t_start = time.perf_counter()
        while attempted == 0 or time.perf_counter() - t_start < args.seconds:
            attempted += 1
            w.reset()
            cpu0 = tree_cpu_s()
            t0 = time.perf_counter()
            try:
                out, ctx = job(w, attempted)
            except Exception:  # a failed job counts against completed_frac
                traceback.print_exc()
                failed += 1
                continue
            job_s.append(time.perf_counter() - t0)
            cpu_s.append(tree_cpu_s() - cpu0)
            ok, recall, msg = w.check(out)
            log(f"job {attempted}: {job_s[-1]:.3f}s check {'ok' if ok else 'FAILED'}: {msg}")
            recalls.append(recall)
            spans, calls = tracer.take()
            counts = w.counts(out, calls if args.trace else None, ctx)
            guard_ok, guard_msg = w.guard(counts)
            log(f"job {attempted}: drift guard {'ok' if guard_ok else 'FAILED'}: {guard_msg}")
            correct &= ok and guard_ok
            if args.trace:
                counts["trace.job_s"] = job_s[-1]
                traced.append((spans, counts))
            out.release()
        peak_rss = tree_peak_rss_mb()

        untraced_s = 0.0
        if args.trace:
            # same session, tracer off: the baseline for trace.overhead_s
            tracer.uninstall()
            w.reset()
            t0 = time.perf_counter()
            w.run(spark).release()
            untraced_s = time.perf_counter() - t0
    finally:
        sess.shutdown()
    log("session stopped")

    if not job_s:
        log("no job completed")
        return 1
    q1, med, q3 = metrics.quartiles(job_s)
    log(f"job_s median={med:.3f} q1={q1:.3f} q3={q3:.3f} n={len(job_s)}; setup_s={setup_s}")
    if args.trace:
        jobs, udf = tracing.read_event_log(str(sess.events))
        per_job = []
        for spans, counts in traced:
            vals = tracing.span_metrics(spans, jobs, udf, metrics.SPANS)
            row = {metrics.span_metric(s, f): v for (s, f), v in vals.items()}
            row["sinks.bytes_written"] = row.pop("sinks.output_bytes")
            row["session.start_s"] = metrics.median(setup_s)
            top = sum(s.duration for s in spans if s.parent is None)
            row["trace.span_coverage"] = top / counts["trace.job_s"]
            row.update(counts)
            per_job.append(row)
        values = summarize_trace(per_job, untraced_s)
        cover = values["trace.span_coverage"]
        log(f"top-level spans cover {cover:.3f} of traced job_s")
        correct &= 0.9 <= cover <= 1.1
        units = metrics.PER_LAYER
    else:
        values = {
            "job_s": med,
            "docs_per_s": w.docs / med,
            "cpu_s": metrics.median(cpu_s),
            "setup_s": metrics.median(setup_s),
            "peak_rss_mb": peak_rss,
            "completed_frac": len(job_s) / attempted,
            "pair_recall": metrics.median(recalls),
        }
        units = {k: v[0] for k, v in metrics.END_TO_END.items()}
    correct &= failed == 0
    print(metrics.result_line(correct, attempted, failed, values, units), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
