"""Benchmark of the CDC reporting pipeline and the corpus-prep chain.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_bulk --seed 1 --seconds 12 --trace 0

Workloads: ``cdc_bulk``, ``cdc_stream``, ``corpus_prep`` (see README.md).
The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` times a traced and an untraced session in
one process and reports the per-layer metrics. The line before it records
the environment and the details behind the metrics.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import platform
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("cdc_bulk", "cdc_stream", "corpus_prep")
DRIVER_MEMORY_MB = 3072
END_TO_END = {"setup_s": "s", "cpu_ms_per_record": "ms", "write_amp": "ratio"}
TAIL_PERCENTILES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    # Each workload times a fixed number of steps (``workloads.SIZES``), sized
    # to take about ``run_seconds`` of BENCHMARK.json, so every version of the
    # program does the same work on tables of the same size. The run length
    # is not read from here.
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment(work: str) -> dict:
    """Pin the environment before pyspark is imported: cores, driver heap
    below physical RAM, and every scratch location inside ``work``."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_mb = int(fh.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{min(DRIVER_MEMORY_MB, total_mb // 2)}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_WAREHOUSE_DIR": os.path.join(work, "warehouse"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        # the spark-submit launcher JVM would write /tmp/hsperfdata_*
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
    })
    import tempfile
    tempfile.tempdir = tmp
    import pyspark
    return {"nproc": cpus, "loadavg": os.getloadavg(),
            "mem_total_mb": total_mb,
            "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
            "pyspark": pyspark.__version__,
            "python": platform.python_version()}


def tail_percentile(samples: list[float]):
    """The highest of ``TAIL_PERCENTILES`` with at least ten samples above
    it, as (percentile, value, n); None when the sample is too small."""
    ordered = sorted(samples)
    n = len(ordered)
    for p in TAIL_PERCENTILES:
        rank = max(1, math.ceil(round(p * n / 100, 9)))  # nearest rank
        value = ordered[rank - 1]
        if sum(1 for x in ordered if x > value) >= 10:
            return p, value, n
    return None


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # the process ended between listing and reading
        pass
    return 0


def peak_rss_mb(spark) -> float:
    """Sum of peak RSS of this process, the driver JVM and its Python
    workers (each process's own high-water mark)."""
    me = spark._jvm.java.lang.ProcessHandle.current()
    pids = [os.getpid(), me.pid()] + [p.pid() for p in me.descendants().toArray()]
    return sum(_hwm_kb(p) for p in pids) / 1024


def machine_cpu_seconds() -> float:
    """Busy CPU time of the whole machine so far: user, nice, system, irq
    and softirq; not idle, iowait or steal. The benchmark is the only load,
    so this is the CPU of this process, the driver JVM and every Python
    worker, including workers that exit. Per-process counters lose those:
    the worker daemon ignores SIGCHLD, so no parent collects their time."""
    with open("/proc/stat") as fh:
        f = fh.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return sum(int(f[i]) for i in (1, 2, 3, 6, 7)) / os.sysconf("SC_CLK_TCK")


def jit_cpu_seconds(spark) -> float:
    """CPU time so far of the driver JVM's JIT compiler threads, a part of
    the machine CPU. Each query's generated code is compiled anew, so a
    cycle keeps paying it. The threads live as long as the JVM
    (``-XX:-UseDynamicNumberOfCompilerThreads``), so none of it is lost."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                stat = fh.read()
        except OSError:  # the thread ended between listing and reading
            continue
        if "CompilerThre" in stat[stat.index("(") + 1:stat.rindex(")")]:
            ticks += sum(int(f) for f in stat.rsplit(")", 1)[1].split()[11:13])
    return ticks / os.sysconf("SC_CLK_TCK")


def cpu_seconds(spark) -> tuple[float, float]:
    """(machine CPU, JIT compiler CPU) so far. Unlike wall time, neither
    grows when the host deschedules the machine (steal)."""
    return machine_cpu_seconds(), jit_cpu_seconds(spark)


def bytes_written(spark) -> int:
    """Bytes written through Hadoop's local file system so far: every table,
    temp and checkpoint file the program writes (executors share the
    driver JVM in local mode)."""
    fs = spark._jvm.org.apache.hadoop.fs.FileSystem
    return sum(s.getBytesWritten() for s in fs.getAllStatistics()
               if s.getScheme() == "file")


class Phase:
    """One session's worth of a workload: set-up, timed loop, gate."""

    def __init__(self, name, seed, work, tracer, extra_conf, tracing=False):
        import workloads

        self.work = work
        self.tracer = tracer
        self.tracing = tracing
        self.extra_conf = extra_conf
        self.gate_s = 0.0
        self.workload = workloads.WORKLOADS[name](seed, work, tracer)
        start = time.time()
        self.workload.generate()
        self.gen_s = time.time() - start

    def setup(self) -> float:
        """Start the session, set the tables up (fresh, seeded through the
        program), then warm up any path the set-up does not run. Returns the
        wall time of all three; the set-up also warms the JIT."""
        from hmpps_digital_prison_reporting_glue_poc_spark.session import get_spark

        start = time.time()
        self.spark = get_spark(extra_conf=self.extra_conf)
        self.session_s = time.time() - start
        if self.tracing:
            self.tracer.add("session", start, start + self.session_s)
        self.workload.setup(self.spark, os.path.join(self.work, "tables"))
        self.tables_s = time.time() - start - self.session_s
        self.workload.warmup()
        return time.time() - start

    def run(self) -> None:
        """Closed loop: the next step starts after the previous commits.
        Each step's input is prepared before its wall, CPU and byte counts
        start."""
        spark, w = self.spark, self.workload
        self.units, self.items, self.raw, self.written = [], 0, 0, 0
        self.cpu = self.jit = 0.0
        self.raised = False
        self.tracer.sc = spark.sparkContext
        self.window = (time.time(), None)
        for _ in range(w.size["steps"]):
            w.prepare()
            before = bytes_written(spark)
            cpu_before = cpu_seconds(spark)
            self.tracer.active = self.tracing
            try:
                r = w.step()
            except Exception:  # noqa: BLE001 — counted as a failed step
                traceback.print_exc()
                self.raised = True
                break
            finally:
                self.tracer.active = False
            machine, jit = (a - b for a, b in zip(cpu_seconds(spark), cpu_before))
            self.cpu += machine
            self.jit += jit
            self.written += bytes_written(spark) - before
            self.units += r.units
            self.items += r.items
            self.raw += r.raw_bytes
        self.window = (self.window[0], time.time())
        self.rss = peak_rss_mb(spark)
        self.counts = w.counts(spark) if self.tracing and not self.raised else {}
        spark.stop()

    def gate(self) -> tuple[int, int, list[str]]:
        """(attempted, failed, problems)."""
        attempted = len(self.units) + (1 if self.raised else 0)
        if self.raised:
            return attempted, attempted, ["a step raised"]
        start = time.time()
        failed, problems = self.workload.check()
        self.gate_s = time.time() - start
        return attempted, failed, problems

    def durations(self) -> list[float]:
        return [e - s for s, e in self.units]


def end_to_end(phase: Phase, setup_s: float, setup_wall_s: float) -> tuple[dict, dict]:
    d = phase.durations()
    if not d:
        raise RuntimeError("no timed step completed")
    metrics = {
        "setup_s": setup_s,
        "cpu_ms_per_record": 1000 * phase.cpu / phase.items,
        "write_amp": phase.written / phase.raw,
    }
    tail = tail_percentile(d)
    details = {"setup_wall_s": setup_wall_s,
               "session_s": phase.session_s, "tables_s": phase.tables_s,
               "generate_s": phase.gen_s, "gate_s": phase.gate_s,
               "units_s": d, "batch_s_p50": statistics.median(d),
               "records_per_s": phase.items / sum(d),
               "items": phase.items, "cpu_s": phase.cpu, "jit_cpu_s": phase.jit,
               "peak_rss_mb": phase.rss, "raw_bytes": phase.raw,
               "bytes_written": phase.written,
               "batch_s_tail": None if tail is None else
               {"percentile": tail[0], "value": tail[1], "n": tail[2]}}
    return metrics, details


def run(args, work: str, start_cpu: float) -> tuple[dict, dict]:
    """``start_cpu`` is the machine CPU time when the process started."""
    import spans

    base_conf = {
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
            " -XX:-UseDynamicNumberOfCompilerThreads",
        "spark.ui.showConsoleProgress": "false",
    }
    if args.trace:
        metrics, details, checks = traced_run(args, work, base_conf)
    else:
        plain = Phase(args.workload, args.seed, os.path.join(work, "plain"),
                      spans.Tracer(), base_conf)
        setup_wall_s = plain.setup()
        # CPU, not wall: on a shared host, steal stretched the set-up's wall
        # time by up to three quarters from one run to the next
        setup_s = machine_cpu_seconds() - start_cpu
        plain.run()
        checks = [plain.gate()]
        metrics, details = end_to_end(plain, setup_s, setup_wall_s)
    attempted = sum(c[0] for c in checks)
    failed = sum(c[1] for c in checks)
    problems = [p for c in checks for p in c[2]]
    unit = spans.unit if args.trace else END_TO_END.get
    return ({"correct": not problems and failed == 0, "attempted": attempted,
             "failed": failed,
             "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()}},
            {**details, "problems": problems[:5]})


def traced_run(args, work: str, base_conf: dict) -> tuple[dict, dict, list]:
    """Time an untraced session, then a traced one, each set up once, back
    to back in one JVM. The untraced session also warms the JVM; the traced
    one runs warmer, so their ratio understates the tracing overhead (it
    can read below 1)."""
    import spans

    untraced = Phase(args.workload, args.seed, os.path.join(work, "untraced"),
                     spans.Tracer(), base_conf)
    untraced.setup()
    untraced.run()
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    tracer = spans.Tracer()
    spans.install(tracer)
    traced = Phase(args.workload, args.seed, os.path.join(work, "traced"),
                   tracer, {**base_conf, "spark.eventLog.enabled": "true",
                            "spark.eventLog.dir": "file://" + log_dir,
                            "spark.eventLog.compress": "false",
                            "spark.eventLog.rolling.enabled": "false"},
                   tracing=True)
    traced.setup()
    traced.run()
    checks = [untraced.gate(), traced.gate()]
    if not traced.units or not untraced.units:
        raise RuntimeError("no timed step completed")
    metrics = spans.attribute(tracer.spans, spans.read_event_log(log_dir),
                              traced.window)
    metrics.update(traced.counts)
    for name in spans.COUNT_NAMES:  # counts a workload has no use for
        metrics.setdefault(name, 0.0)
    metrics["trace.overhead_ratio"] = (
        statistics.median(traced.durations())
        / statistics.median(untraced.durations()))
    metrics["trace.unattributed_share"] = spans.unattributed_share(
        tracer.spans, traced.units)
    details = {"traced_units_s": traced.durations(),
               "untraced_units_s": untraced.durations()}
    return metrics, details, checks


def main(argv=None) -> int:
    start_cpu = machine_cpu_seconds()
    args = parse_args(argv)
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        env = pin_environment(work)
        sys.path.insert(0, ROOT)
        result, details = run(args, work, start_cpu)
    finally:
        stop_gateway()
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):  # left when another run is active
            os.rmdir(os.path.dirname(work))
    for p in details["problems"]:
        print("MISMATCH", p, file=sys.stderr)
    print(json.dumps({"env": env, **details}, default=str))
    print(json.dumps(result))
    return 0


def stop_gateway() -> None:
    """Shut the driver JVM down and wait for it (its Python workers exit
    with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
