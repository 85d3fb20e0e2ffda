"""The repository benchmark: one workload, one seed, one JSON result.

    python3 perfbench/run.py --workload map_batch --seed 1 --seconds 10 --trace 0

Run from the repository root.  The benchmark starts Spark as
``local[<nproc>]`` with a driver memory well below physical RAM and its
scratch directories inside ``perfbench/.work``, builds the workload's
inputs from ``--seed``, then drives the library through its public entry
points in a closed loop with one client: each pass starts when the
previous one has finished.

- ``--trace 0`` runs passes until ``--seconds`` have been measured (at
  least one) and reports the end-to-end metrics: ``pass_s`` (median pass
  wall) and ``setup_s`` (process start to the first timed pass).  The
  first timed pass is the process's first: like a batch job submitted once
  per input, it pays for query compilation and Python worker start-up.
- ``--trace 1`` runs a warm-up pass, one untraced pass, which gives the
  Spark-wide counters, and one traced pass, which gives per-layer spans;
  ``trace.overhead_frac`` compares the last two.  Every per-layer metric
  is reported; a layer the workload leaves idle reads 0.

Every pass's output is checked; a pass that raises or fails a check
counts in ``failed``.  Standard output is a launch line (master, driver
memory, local dirs), a run line (per-pass walls, host steal, check
details, failures) and the result line.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SIZES = {
    "map_batch": {"docs": 2000},
    "er_batch": {"docs": 10000},
}
END_TO_END = {"pass_s": "s", "setup_s": "s"}
SPARK_COUNTERS = ("spark.jobs", "spark.stages", "spark.tasks", "spark.task_s",
                  "spark.core_util", "spark.shuffle_write_bytes",
                  "spark.shuffle_read_bytes", "spark.failed_tasks")
HOST = ("host.steal_frac", "host.peak_rss_mb")
TRACE = ("trace.overhead_frac", "trace.coverage_frac")


def unit_of(name: str) -> str:
    if name in END_TO_END:
        return END_TO_END[name]
    if name.endswith("_mb"):
        return "MiB"
    if name.endswith((".s", "_s")):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith(("_frac", "_util", "_ratio")):
        return "frac"
    return "count"


def launch_env(work_dir: str, cores: int) -> dict[str, str]:
    """Environment for ``get_spark``: every core once, a driver heap of at
    most a quarter of RAM (and 4 GiB), scratch inside ``work_dir``."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f if ln.startswith("MemTotal")).split()[1])
    tmp = os.path.join(work_dir, "tmp")
    local = os.path.join(work_dir, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    return {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEM": f"{min(4096, mem_kb // 4096)}m",
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # -XX:-UsePerfData: no hsperfdata file under the system /tmp
        "PYSPARK_SUBMIT_ARGS": "--driver-java-options "
            + shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
            + " pyspark-shell",
    }


def per_layer_names(workloads) -> list[str]:
    names = [*SPARK_COUNTERS, *HOST, *TRACE]
    for w in workloads.values():
        names += w.per_layer
    return names


class Run:
    """Counts checked operations and keeps failure messages."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.failures: list[str] = []

    def attempt(self, fn):
        """Run ``fn`` (which returns a list of failures) as one operation."""
        self.attempted += 1
        try:
            fails = fn()
        except Exception:   # a failed operation must not end the run
            fails = [traceback.format_exc()]
        if fails:
            self.failed += 1
            self.failures += fails
        return not fails


def measure(spark, name: str, seed: int, seconds: float, trace: bool,
            size: dict, t_start: float) -> tuple[dict, dict]:
    """Set up and measure one workload; return (result, header)."""
    from tracing import SparkLedger, Tracer, cpu_jiffies, steal_frac
    from workloads import WORKLOADS

    ledger = SparkLedger(spark)
    wl = WORKLOADS[name](spark, seed, size)
    run = Run()
    walls: list[float] = []

    def one_pass(tracer=None) -> float:
        out = []
        t0 = time.perf_counter()
        run.attempt(lambda: out.append(wl.run_pass(tracer)) or [])
        walls.append(time.perf_counter() - t0)
        if out:
            run.attempt(lambda: wl.check(out[0]))
        return walls[-1]

    run.attempt(wl.prepare)
    if trace:
        one_pass()   # warm-up, so the traced and untraced passes compare
    setup_s = time.perf_counter() - t_start
    n_setup = len(walls)
    jiffies0 = cpu_jiffies()
    if not trace:
        t0 = time.perf_counter()
        while True:
            one_pass()
            if time.perf_counter() - t0 >= seconds:
                break
        timed = walls[n_setup:]
        metrics = {"pass_s": statistics.median(timed), "setup_s": setup_s}
    else:
        metrics = dict.fromkeys(per_layer_names(WORKLOADS), 0)
        first = ledger.last_job_id()
        w_plain = one_pass()
        metrics.update(ledger.totals(ledger.jobs_after(first)))
        metrics["spark.core_util"] = metrics["spark.task_s"] / (
            w_plain * spark.sparkContext.defaultParallelism)
        tracer = Tracer(spark)
        first = ledger.last_job_id()
        t0 = time.perf_counter()
        w_traced = one_pass(tracer)
        span_jobs = ledger.jobs_per_span(ledger.jobs_after(first))
        metrics.update(wl.layer_metrics(tracer, span_jobs))
        metrics["trace.overhead_frac"] = w_traced / w_plain - 1.0
        metrics["trace.coverage_frac"] = (
            tracer.covered(t0, t0 + w_traced) / w_traced)
    steal = steal_frac(jiffies0, cpu_jiffies())
    if trace:
        metrics["host.steal_frac"] = steal
        metrics["host.peak_rss_mb"] = ledger.peak_rss_mb()

    result = {"correct": run.failed == 0, "attempted": run.attempted,
              "failed": run.failed,
              "metrics": {k: {"value": v, "unit": unit_of(k)}
                          for k, v in metrics.items()}}
    header = {"workload": name, "seed": seed, "seconds": seconds,
              "trace": int(trace), "size": size,
              "setup_passes": n_setup,
              "pass_walls_s": [round(w, 4) for w in walls],
              "host_steal_frac": steal,
              "checks": wl.records,
              "failures": run.failures}
    return result, header


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def start_spark(work_dir: str):
    """Start the session under :func:`launch_env`; return (spark, launch
    record)."""
    from metasra_pipeline_spark.session import get_spark
    from tracing import nproc

    shutil.rmtree(work_dir, ignore_errors=True)
    cores = nproc()
    env = launch_env(work_dir, cores)
    os.environ.update(env)
    tempfile.tempdir = None   # re-read TMPDIR
    spark = get_spark("perfbench", cores=cores)
    spark.sparkContext.setLogLevel("ERROR")
    launch = {"master": spark.sparkContext.master,
              "driver_memory": spark.conf.get("spark.driver.memory"),
              "SPARK_LOCAL_DIRS": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
              "shuffle_partitions": spark.conf.get(
                  "spark.sql.shuffle.partitions")}
    return spark, launch


def main(argv=None) -> int:
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS   # fails unless the library is present

    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    work_dir = os.path.join(HERE, ".work")
    spark, launch = start_spark(work_dir)
    print(json.dumps({"launch": launch}), flush=True)
    try:
        result, header = measure(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            SIZES[args.workload], T_START)
    finally:
        stop_spark(spark)
        shutil.rmtree(work_dir, ignore_errors=True)
    print(json.dumps({"run": header}, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
