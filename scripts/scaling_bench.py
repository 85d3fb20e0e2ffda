"""Executor-count scaling evidence (BASELINE.json north_rule: N → 4N).

Weak scaling over executor JVMs: lo = one JVM pinned (taskset) to k
cores; hi = four JVMs of the same size on four disjoint k-core sets,
each processing the same per-JVM workload.  Total input is 4× at 4×
executors, so throughput efficiency = t_lo / t_hi exactly, and per-JVM
fixed cost (JVM start, codegen, the pipeline's sequential driver jobs)
cancels.  k = nproc // 4; the core sets are cores 0..k-1, k..2k-1, ...

The workload is ``bench.py``'s ``map_pipeline`` (BENCH_ONLY), whose
wall is the min of its in-process repetitions.  The mapping pipeline is
shared-nothing per document (the reference's Condor-chunk production
shape), so per-executor partitioning is result-identical.  ER is
cross-document — a real cluster runs one ER job over all executors —
so it is not part of this run.

A pure-CPU multiprocessing probe (``silicon_probe``) first reports the
host's own k → 4k ceiling: the number an ideal engine could reach on
this machine.  Host CPU steal during the run is reported beside it.

Usage: python scripts/scaling_bench.py
(bench.py's own variables apply, e.g. BENCH_MAP_DOCS=1000 docs per JVM.)
Appends a section to BENCH/BASELINE.md.
"""

from __future__ import annotations

import json
import multiprocessing as mp
import os
import subprocess
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from datetime import datetime, timezone

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _steal_jiffies() -> int:
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


def silicon_probe(lo: int, hi: int, units: int = 96,
                  unit: int = 3_000_000) -> dict:
    """Pure-CPU (no Spark) scaling ceiling of the host between the two
    pinned core counts — the number an ideal engine could reach."""
    out = {}
    for w in (lo, hi):
        os.sched_setaffinity(0, set(range(w)))
        t0 = time.time()
        with mp.Pool(w) as p:
            p.map(_burn, [unit] * units)
        out[w] = round(units / (time.time() - t0), 2)
    os.sched_setaffinity(0, set(range(os.cpu_count())))
    return {"lo_units_per_s": out[lo], "hi_units_per_s": out[hi],
            "ceiling_efficiency": round(out[hi] / out[lo] / (hi // lo), 3)}


def _jvm_env(k: int) -> dict:
    """One k-core executor JVM: 3 shuffle partitions per core, and an
    eighth of RAM (at most 4 GiB) so four of them fit side by side."""
    with open("/proc/meminfo") as f:
        mem_kb = int(next(ln for ln in f
                          if ln.startswith("MemTotal")).split()[1])
    return dict(os.environ,
                BENCH_ONLY="map_pipeline",
                SPARK_GRAFT_CPUS=str(k),
                SPARK_SHUFFLE_PARTITIONS=str(3 * k),
                SPARK_DRIVER_MEM=f"{min(4096, mem_kb // 8192)}m")


def _map_wall(cores: str, env: dict) -> float:
    """bench.py's map_pipeline wall on one JVM pinned to ``cores``."""
    out = subprocess.run(
        ["taskset", "-c", cores, sys.executable,
         os.path.join(HERE, "bench.py")],
        env=env, capture_output=True, text=True, timeout=3600)
    for line in reversed(out.stdout.strip().splitlines()):
        if line.startswith("{"):
            return json.loads(line)["queries"]["map_pipeline"]
    raise RuntimeError(f"no JSON from bench on cores {cores}:\n"
                       f"{out.stdout[-1500:]}\n{out.stderr[-1500:]}")


def main() -> None:
    k = len(os.sched_getaffinity(0)) // 4
    if k < 1:
        sys.exit("scaling_bench: needs at least 4 cores")
    sets = [f"{i * k}-{(i + 1) * k - 1}" for i in range(4)]
    env = _jvm_env(k)
    probe = silicon_probe(k, 4 * k)

    s0 = _steal_jiffies()
    t0 = time.time()
    t_lo = _map_wall(sets[0], env)
    with ThreadPoolExecutor(max_workers=4) as ex:
        per_jvm = list(ex.map(lambda c: _map_wall(c, env), sets))
    t_hi = max(per_jvm)
    elapsed = time.time() - t0
    steal_s = (_steal_jiffies() - s0) / 100
    eff = t_lo / t_hi
    result = {
        "cores_per_jvm": k, "core_sets": sets,
        "map_docs_per_jvm": int(env.get("BENCH_MAP_DOCS", "1000")),
        "t_lo_1_jvm_s": t_lo, "t_hi_4_jvms_s": t_hi,
        "hi_walls_s": per_jvm,
        "efficiency": round(eff, 4),
        "silicon_probe": probe,
        "host_steal_s": round(steal_s, 1),
        "host_steal_frac": round(steal_s / (elapsed * os.cpu_count()), 4),
        "elapsed_s": round(elapsed, 1),
    }
    print(json.dumps(result))
    section = [
        "",
        f"## Executor-count scaling (map pipeline, 1×{k}-core JVM → "
        f"4×{k}-core JVMs, weak scaling)",
        "",
        f"Generated {datetime.now(timezone.utc).isoformat()} by "
        "`scripts/scaling_bench.py` on a "
        f"{len(os.sched_getaffinity(0))}-core host: one JVM against four "
        "same-size JVMs on disjoint taskset cores, each running "
        f"`bench.py`'s map_pipeline over {result['map_docs_per_jvm']} "
        "docs (min of its in-process repetitions).",
        "",
        "| metric | 1 JVM | 4 JVMs (4× data) |",
        "|---|---|---|",
        f"| map_pipeline wall (s) | {t_lo} | {t_hi} |",
        "",
        f"**Executor-count throughput scaling efficiency: {eff:.3f}** "
        "(north_rule gate ≥ 0.8).  Host silicon ceiling "
        f"{k}→{4 * k} cores: {probe['ceiling_efficiency']:.3f}.  Host "
        f"steal over the run: {result['host_steal_s']} s "
        f"({result['host_steal_frac']:.1%} of host CPU time).",
        "",
        "```json",
        json.dumps(result, indent=1),
        "```",
    ]
    path = os.path.join(HERE, "BENCH", "BASELINE.md")
    with open(path, "a") as f:
        f.write("\n".join(section) + "\n")
    print(f"appended to {path}")


if __name__ == "__main__":
    main()
