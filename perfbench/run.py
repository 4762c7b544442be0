"""Benchmark entry point.

    python3 perfbench/run.py --workload {sync,query} --seed N --seconds S --trace {0,1}

Run from the repository root.  One run, in one process:

1. makes the workload's inputs and expected outputs from ``--seed``
   (untimed);
2. sets the workload up ``N_SETUPS`` times, each on a fresh
   SparkSession (the first also launches the JVM and so runs cold), and
   reports the median as ``setup_s`` (a traced run, which does not
   report ``setup_s``, sets up once);
3. runs one untimed pass of every op, checking each op's output;
4. runs whole passes until ``--seconds`` have been spent in them.

With ``--trace 1`` every session writes the Spark event log and the
measuring time is split: a quarter as above, half with a job group per
op and the layer functions wrapped (see ``spans.py``), then a quarter
as above again.  The per-layer metrics come from the traced half;
``trace_overhead_frac`` compares its pass times with the others'.  The
event log's own cost shows as the difference between an untraced run's
``pass_s`` and a traced one's.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and the end-to-end metrics (``--trace 0``) or the per-layer
metrics (``--trace 1``) named in ``BENCHMARK.json``.  The line before
it stamps the machine and run.

``op_geomean_s`` is the geometric mean of the timed ops' latencies, as
in TPC-H's power metric: every op weighs the same, so a given relative
change to any one of them moves it by the same amount.  The ops of a
query pass fall in clusters, and a median of them jumps between
clusters when a single op moves; the median is in the stamp line as
``op_median_s``.

Which end-to-end metric each per-layer metric should move:

* sync: ``pipeline.jobs.control_s``, ``pipeline.source.fetch_s``,
  ``pipeline.loader.merge_s``, ``pipeline.loader.probe_s``,
  ``pipeline.catalog.write_s`` and ``spark.jobs_per_sync`` move
  ``op_geomean_s`` and ``pass_s``; ``pipeline.catalog.write_amp``,
  ``pipeline.catalog.files_per_table`` and ``pipeline.sqlrunner.read_s``
  move ``pass_s`` through the serving reads; ``space_amp`` is storage
  cost.
* query: ``tables.cache_fill_s`` moves ``setup_s``; ``operators.*``,
  ``spark.*_per_query``, ``spark.gc_frac`` and ``spark.driver_gap_s``
  move ``op_geomean_s`` and ``pass_s``; ``python.*``, ``spark.spill_mb``
  and ``spark.peak_exec_mb`` move ``pass_s`` through the curation
  kernels, and ``python.worker_rss_peak_mb`` moves ``peak_rss_mb``.
* No change expected: ``python.*`` on sync (none of its Spark SQL
  operators run Python), ``pipeline.*`` on query.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path.cwd()
HERE = Path(__file__).resolve().parent
N_SETUPS = 2


def machine() -> dict:
    """Cores this process may use and a Spark driver heap that fits the box."""
    mem = {}
    with open("/proc/meminfo") as fh:
        for line in fh:
            k, v = line.split(":", 1)
            mem[k] = int(v.split()[0]) // 1024
    cores = len(os.sched_getaffinity(0))
    heap_mb = max(1024, min(4096, mem["MemTotal"] // 16))
    return {"cores": cores, "heap_mb": heap_mb, "mem_total_mb": mem["MemTotal"]}


def source_stamp() -> dict:
    """Git sha when the checkout is a repository, and always a digest
    of the program's sources."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "bitcoin_datawarehouse_spark").rglob("*.py")):
        h.update(p.read_bytes())
    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except OSError:
        sha = None
    return {"git_sha": sha, "source_sha256": h.hexdigest()[:16]}


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants
    (the JVM and its Python workers), sampled from /proc.  A peak must
    hold for two consecutive samples, so a single sample that catches
    processes coming and going does not set it."""

    def __init__(self, interval: float = 0.5) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.stop_event = threading.Event()
        self.peak_mb = 0.0
        self.worker_peak_mb = 0.0
        self.page = os.sysconf("SC_PAGE_SIZE")

    def tree(self) -> dict[int, bool]:
        """Descendant pids of this process -> is a PySpark Python worker."""
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
        out, todo = {}, [os.getpid()]
        while todo:
            pid = todo.pop()
            for c in children.get(pid, []):
                try:
                    with open(f"/proc/{c}/cmdline", "rb") as fh:
                        cmd = fh.read()
                        out[c] = b"pyspark.daemon" in cmd or b"pyspark.worker" in cmd
                except OSError:
                    continue
                todo.append(c)
        return out

    def rss_mb(self, pid: int) -> float:
        try:
            with open(f"/proc/{pid}/statm") as fh:
                return int(fh.read().split()[1]) * self.page / 2**20
        except (OSError, IndexError, ValueError):
            return 0.0

    def run(self) -> None:
        last_total = last_workers = 0.0
        while not self.stop_event.wait(self.interval):
            procs = self.tree()
            workers = sum(self.rss_mb(p) for p, w in procs.items() if w)
            total = self.rss_mb(os.getpid()) + sum(self.rss_mb(p) for p in procs)
            self.peak_mb = max(self.peak_mb, min(total, last_total))
            self.worker_peak_mb = max(self.worker_peak_mb, min(workers, last_workers))
            last_total, last_workers = total, workers


class Sessions:
    """SparkSessions on one JVM, fitted to the machine."""

    def __init__(self, work: Path, mach: dict) -> None:
        self.work = work
        self.mach = mach
        self.spark = None

    def start(self, event_log: Path | None = None):
        from bitcoin_datawarehouse_spark.session import get_spark

        conf = {
            "spark.local.dir": str(self.work / "spark-local"),
            # a fixed-size heap: how far G1 grows a resizable one varies
            # from run to run, and with it the JVM's resident memory
            "spark.driver.extraJavaOptions": (
                f"-Xms{self.mach['heap_mb']}m -Djava.io.tmpdir={self.work / 'tmp'}"
            ),
        }
        if event_log is not None:
            event_log.mkdir(parents=True, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": event_log.as_uri(),
            })
        self.spark = get_spark("perfbench", cpus=self.mach["cores"], extra_conf=conf)
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for both."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            proc = getattr(gw, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()
            SparkContext._gateway = None
            SparkContext._jvm = None


def wait_descendants(sampler: RssSampler, timeout: float = 20.0) -> None:
    """Wait for every process this run started to end; kill stragglers."""
    deadline = time.time() + timeout
    while sampler.tree() and time.time() < deadline:
        time.sleep(0.2)
    for pid in sampler.tree():
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    for pid in list(sampler.tree()):
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def measure(workload, spark, seconds: float, seed: int, phase: int, tally, tracer=None):
    """Whole passes until ``seconds`` have been spent in them."""
    samples, passes, spent = [], [], 0.0
    while spent < seconds:
        rng = random.Random(seed * 1_000_003 + phase * 1000 + len(passes))
        got = workload.run_pass(spark, rng, tally, tracer)
        samples.extend(got)
        passes.append(sum(s.seconds for s in got))
        spent += passes[-1]
    return samples, passes


def tail(values: list[float]) -> tuple[float | None, float | None]:
    """The highest percentile (in steps of 1) with at least ten samples
    beyond it, and its value."""
    n = len(values)
    for p in range(99, 0, -1):
        if n * (100 - p) / 100 >= 10:
            return p, statistics.quantiles(values, n=100)[p - 1]
    return None, None


def layer_metrics(workload, tracer, rollups, samples, passes, base_passes) -> dict:
    ops = tracer.ops
    roll = [rollups[o.key] for o in ops]
    sync = [r for o, r in zip(ops, roll) if o.family == "sync"]
    reads = [r for o, r in zip(ops, roll) if o.family != "sync"]
    n_pass = max(1, len(passes))

    def mean(rs, key, scale=1.0):
        return sum(r[key] for r in rs) / len(rs) * scale if rs else 0.0

    def per_pass(key, scale=1.0):
        return sum(r[key] for r in roll) / n_pass * scale

    task_ms = sum(r["task_ms"] for r in roll)
    out = {
        "spark.jobs_per_sync": mean(sync, "jobs"),
        "spark.jobs_per_query": mean(reads, "jobs"),
        "spark.stages_per_query": mean(reads, "stages"),
        "spark.tasks_per_query": mean(reads, "tasks"),
        "spark.task_s_per_query": mean(reads, "task_ms", 1e-3),
        "spark.cpu_s_per_query": mean(reads, "cpu_ns", 1e-9),
        "spark.shuffle_mb_per_query": mean(reads, "shuffle_bytes", 1e-6),
        "spark.driver_gap_s": mean(reads, "gap_ms", 1e-3),
        "spark.gc_frac": sum(r["gc_ms"] for r in roll) / task_ms if task_ms else 0.0,
        "spark.spill_mb": per_pass("spill_bytes", 1e-6),
        "spark.peak_exec_mb": max((r["peak_exec_bytes"] for r in roll), default=0) * 1e-6,
        "python.boot_s": per_pass("py_start_ms", 1e-3) + per_pass("py_init_ms", 1e-3),
        "python.run_s": per_pass("py_run_ms", 1e-3),
        "python.mb_exchanged": per_pass("py_sent_bytes", 1e-6)
        + per_pass("py_returned_bytes", 1e-6),
        "untraced_s": mean(roll, "untraced_ms", 1e-3),
        "trace_overhead_frac": statistics.median(passes) / statistics.median(base_passes) - 1,
    }
    out.update(workload.layer_metrics(samples, tracer, rollups))
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    if not (ROOT / "bitcoin_datawarehouse_spark").is_dir():
        print("run from the repository root: bitcoin_datawarehouse_spark/ is missing",
              file=sys.stderr)
        return 2

    work = ROOT / ".perfbench" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    try:
        return run(args, spec, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def run(args: argparse.Namespace, spec: dict, work: Path) -> int:
    # everything the program and its workers write stays in the run dir,
    # and the workers import the program from the repository root
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_GRAFT_WAREHOUSE_DIR"] = str(work / "spark-warehouse")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in [os.environ.get("PYTHONPATH")] if p]
    )
    sys.path[:0] = [str(ROOT), str(HERE)]
    mach = machine()
    os.environ["SPARK_DRIVER_MEMORY"] = f"{mach['heap_mb']}m"
    load_before = os.getloadavg()

    import workloads
    from spans import Tracer, read_event_log, rollup

    #: wall seconds of the untimed phases
    phases = {}
    t0 = time.perf_counter()
    workload = workloads.WORKLOADS[args.workload](work, args.seed)
    workload.prepare()
    phases["prepare_s"] = time.perf_counter() - t0

    sampler = RssSampler()
    sampler.start()
    sessions = Sessions(work, mach)
    tally = workloads.Tally()
    try:
        # a traced run logs events from its first session on, so its
        # traced and untraced passes share one warm JVM and worker pool
        log_dir = work / "eventlog" if args.trace else None
        setups = []
        n_setups = 1 if args.trace else N_SETUPS
        for i in range(n_setups):
            t0 = time.perf_counter()
            spark = sessions.start(log_dir)
            workload.setup(spark)
            setups.append(time.perf_counter() - t0)
            if i < n_setups - 1:
                workload.teardown(spark)
                sessions.stop()
        versions = {
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
        }
        t0 = time.perf_counter()
        workload.warm(spark, tally)
        phases["warm_s"] = time.perf_counter() - t0

        if not args.trace:
            samples, passes = measure(workload, spark, args.seconds, args.seed, 0, tally)
        else:
            # untraced passes before and after the traced ones, so that
            # warm-up still going on does not read as tracing overhead
            _, base_passes = measure(workload, spark, args.seconds / 4, args.seed, 0, tally)
            tracer = Tracer(spark.sparkContext)
            workload.wrap(tracer)
            try:
                samples, passes = measure(
                    workload, spark, args.seconds / 2, args.seed, 1, tally, tracer
                )
            finally:
                tracer.restore()
            base_passes += measure(workload, spark, args.seconds / 4, args.seed, 2, tally)[1]
            app_id = spark.sparkContext.applicationId
            sessions.stop()
            rollups = rollup(read_event_log(log_dir, app_id), tracer.ops)
        values = workload.finish()
    finally:
        t0 = time.perf_counter()
        sessions.shutdown()
        sampler.stop_event.set()
        sampler.join()
        wait_descendants(sampler)
        phases["shutdown_s"] = time.perf_counter() - t0

    primary = [s.seconds for s in samples if s.primary]
    if args.trace:
        values.update(layer_metrics(workload, tracer, rollups, samples, passes, base_passes))
        values["python.worker_rss_peak_mb"] = sampler.worker_peak_mb
        kind = "per_layer"
    else:
        values.update({
            "setup_s": statistics.median(setups),
            "op_geomean_s": statistics.geometric_mean(primary),
            "pass_s": statistics.median(passes),
            "peak_rss_mb": sampler.peak_mb,
        })
        kind = "end_to_end"
    metrics = {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in spec[kind]
    }
    p, v = tail(primary)
    # traced runs: each op's Spark time beside its Python worker time
    per_op = {} if not args.trace else {
        op.key: {
            "wall_s": round((op.end_ms - op.start_ms) / 1e3, 4),
            "task_s": round(rollups[op.key]["task_ms"] / 1e3, 4),
            "py_boot_s": round(
                (rollups[op.key]["py_start_ms"] + rollups[op.key]["py_init_ms"]) / 1e3, 4
            ),
            "py_run_s": round(rollups[op.key]["py_run_ms"] / 1e3, 4),
        }
        for op in tracer.ops
    }
    print(json.dumps({
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "machine": {**mach, **versions, **source_stamp(),
                    "loadavg_before": load_before, "loadavg_after": os.getloadavg()},
        "setups_s": setups,
        "phases": {k: round(v, 3) for k, v in phases.items()},
        "passes": len(passes),
        "pass_s": passes,
        "ops": len(primary),
        "op_median_s": statistics.median(primary),
        "op_s": {n: [round(x.seconds, 4) for x in samples if x.name == n]
                 for n in dict.fromkeys(x.name for x in samples)},
        "op_tail": {"percentile": p, "value_s": v},
        "failed_frac": tally.failed / max(1, tally.attempted),
        "errors": tally.errors,
        "traced_ops": per_op,
    }))
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
