"""SparkSession factory tuned for this engine.

Local defaults mirror what we would submit to a real cluster via
``spark-submit --py-files dist/metasra_pipeline_spark.zip``:
AQE on (skew-join handling for hot blocking keys), Arrow on (all Python
logic is vectorized pandas UDFs), broadcast threshold sized for the
lexicon side tables.
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "metasra-pipeline-spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``cores`` defaults to env ``SPARK_GRAFT_CPUS`` then ``*``.  On a real
    cluster the master/resource flags come from spark-submit; everything
    set here is safe to carry over.
    """
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        if env_sp:
            shuffle_partitions = int(env_sp)
        else:
            shuffle_partitions = 32 if cores in ("*",) else max(int(cores) * 2, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE off was measured slower (map pass 35-37 s -> 44-45 s)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # lexicon + side tables are << this; keep broadcasts automatic
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.shuffle.spill.compress", "true")
        # 16g default: local-mode concurrent workloads (FAIR-scheduled
        # map pipeline + ER in one JVM, scripts/scaling_bench.py) were
        # measured to overflow an 8g MemoryStore at local[8] once ER
        # caches representative profiles; a real cluster sizes executor
        # heap per core — keep ~2-4g/core locally via SPARK_DRIVER_MEM
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        # chunked pipeline execution (plans/pipeline.py:
        # run_chunked_pipeline) submits independent per-chunk jobs from
        # threads; FAIR keeps one chunk's wide stage from starving the
        # others, so stage-barrier drain in one chunk is filled by
        # another chunk's tasks
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    _ship_package(spark)
    return spark


def build_package_zip(out: str) -> str:
    """Zip this package's sources (``__pycache__`` and ``.pyc`` left
    out) to ``out`` under ``metasra_pipeline_spark/`` arcnames — the
    ``--py-files`` archive, built by ``scripts/make_dist.py`` and by
    :func:`_ship_package`."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    with zipfile.ZipFile(out, "w") as zf:
        for root, dirs, files in os.walk(pkg_dir):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for fn in files:
                if fn.endswith(".pyc"):
                    continue
                full = os.path.join(root, fn)
                zf.write(full, os.path.join("metasra_pipeline_spark",
                                            os.path.relpath(full, pkg_dir)))
    return out


def _ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (the local-mode equivalent of
    ``spark-submit --py-files dist/metasra_pipeline_spark.zip``).

    Without it, pandas UDFs fail to deserialize on workers whenever the
    driver's cwd isn't the repo root.  Idempotent per session.
    """
    if getattr(spark, "_metasra_pkg_shipped", False):
        return
    zpath = os.path.join(tempfile.gettempdir(),
                         f"metasra_pipeline_spark_{os.getpid()}.zip")
    if not os.path.exists(zpath):
        build_package_zip(zpath)
    spark.sparkContext.addPyFile(zpath)
    spark._metasra_pkg_shipped = True
