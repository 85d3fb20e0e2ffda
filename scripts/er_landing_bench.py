"""Repeated-landing cost curve: 10 successive delta batches.

The production cadence for a training-data pipeline is not one landing
but a steady drip.  The question this measures: does landing batch k
cost the same as landing batch 1 (work proportional to the delta), or
does cost creep with the accumulated base / merge-log length?  Each
landing goes through the full IceLite-committed path
(``incremental_resolve_checkpointed``): delta blocking against the
grown base key table, delta scoring, star-contracted CC, label
overwrite + profile append + metrics append.

Protocol: ONE JVM for the whole sequence (the workdir must persist and
a fresh JVM per landing would re-pay the 15 s session floor 10×), wall
+ host steal recorded PER LANDING, silicon probe before/after.  Labels
are recounted after every landing (one-label-per-doc must hold at
every step — "labels don't degrade").

Usage: python scripts/er_landing_bench.py
Env: LANDING_BASE=100000 LANDING_DELTA=10000 LANDING_N=10 CURVE_CPUS=32
Appends a section to BENCH/ANALYSIS.md and prints one JSON line.
"""
from __future__ import annotations

import json
import os
import subprocess
import sys
from datetime import datetime, timezone

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from scaling_bench import silicon_probe  # noqa: E402

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BASE = int(os.environ.get("LANDING_BASE", "100000"))
DELTA = int(os.environ.get("LANDING_DELTA", "10000"))
N = int(os.environ.get("LANDING_N", "10"))
CPUS = int(os.environ.get("CURVE_CPUS", "32"))

RUNNER = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, {here!r})


def steal():
    with open("/proc/stat") as f:
        return int(f.readline().split()[8])


from pyspark.sql import functions as F
from metasra_pipeline_spark.session import get_spark
from metasra_pipeline_spark.datagen import synth_documents
from metasra_pipeline_spark.er.resolution import resolve_entities
from metasra_pipeline_spark.ops import IceLiteSnapshotter
from metasra_pipeline_spark.er.incremental import incremental_resolve_checkpointed

spark = get_spark("er_landing_bench", cores={cpus}, shuffle_partitions=64)
spark.sparkContext.setLogLevel("ERROR")
base_n, delta_n, n_land = {base}, {delta}, {n}
total = base_n + delta_n * n_land
docs = (synth_documents(spark, total, seed=44)
        .select("doc_id", "spans").localCheckpoint(eager=True))
# deterministic split: first base_n doc_ids are the base, then one
# slice per landing (doc_id is a zero-padded string -> lexicographic
# order equals numeric order)
ids = [r["doc_id"] for r in docs.select("doc_id").orderBy("doc_id").collect()]
wd = tempfile.mkdtemp(prefix="er_landing_")
try:
    base = docs.where(F.col("doc_id").isin(ids[:base_n])).localCheckpoint()
    t0, s0 = time.time(), steal()
    resolve_entities(spark, base, snap=IceLiteSnapshotter(spark, wd))
    print("BASE", round(time.time() - t0, 1), round((steal() - s0) / 100, 1),
          flush=True)
    for k in range(n_land):
        lo = base_n + k * delta_n
        delta = (docs.where(F.col("doc_id").isin(ids[lo:lo + delta_n]))
                 .localCheckpoint())
        t0, s0 = time.time(), steal()
        res = incremental_resolve_checkpointed(spark, wd, delta)
        wall = round(time.time() - t0, 1)
        st = round((steal() - s0) / 100, 1)
        n_labels = res["clusters"].count()
        n_docs = res["clusters"].select("doc_id").distinct().count()
        assert n_labels == n_docs == lo + delta_n, (n_labels, n_docs)
        print("LANDING", k + 1, wall, st, n_labels, flush=True)
finally:
    shutil.rmtree(wd, ignore_errors=True)
"""


def main() -> None:
    probe0 = silicon_probe(2, 8)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = "/tmp"
    out = subprocess.run(
        [sys.executable, "-c",
         RUNNER.format(here=HERE, cpus=CPUS, base=BASE, delta=DELTA, n=N)],
        capture_output=True, text=True, env=env, cwd=HERE, check=True)
    probe1 = silicon_probe(2, 8)
    base_wall = base_steal = None
    rows = []
    for ln in out.stdout.splitlines():
        p = ln.split()
        if ln.startswith("BASE"):
            base_wall, base_steal = float(p[1]), float(p[2])
        elif ln.startswith("LANDING"):
            rows.append({"landing": int(p[1]), "wall_s": float(p[2]),
                         "steal_s": float(p[3]), "labels": int(p[4])})
    lines = [
        "",
        "## Repeated-landing cost (10 successive deltas, round 5)",
        "",
        datetime.now(timezone.utc).strftime("%Y-%m-%d %H:%MZ")
        + f" — base {BASE:,} docs then {N}×{DELTA:,}-doc landings, one "
        f"JVM, local[{CPUS}]; probe before/after: {probe0} / {probe1}.",
        f"Base batch resolve: {base_wall} s (steal {base_steal} s).",
        "",
        "| landing | wall (s) | steal (s) | labels after |",
        "|---|---|---|---|",
    ]
    for r in rows:
        lines.append("| {} | {} | {} | {:,} |".format(
            r["landing"], r["wall_s"], r["steal_s"], r["labels"]))
    walls = [r["wall_s"] for r in rows]
    lines += [
        "",
        f"min/median/max landing wall: {min(walls)} / "
        f"{sorted(walls)[len(walls) // 2]} / {max(walls)} s.  Flat "
        "landing cost (no trend with k) means the delta path's work "
        "stays proportional to the delta as the base grows "
        f"{BASE:,}→{BASE + N * DELTA:,}; the per-landing label recount "
        "asserting one-label-per-doc at every step is the "
        "\"labels don't degrade\" check.",
    ]
    with open(os.path.join(HERE, "BENCH", "ANALYSIS.md"), "a") as f:
        f.write("\n".join(lines) + "\n")
    print(json.dumps({"metric": "er_landing_bench", "base_wall_s": base_wall,
                      "landings": rows}))


if __name__ == "__main__":
    main()
