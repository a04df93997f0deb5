"""SparkSession factory with scale-appropriate defaults.

Defaults chosen for the 100 TB design point and scaled-down local testing:

* AQE on (runtime coalescing, skew-join splitting),
* shuffle partitions sized to the parallelism level (not the 200 default),
* Arrow execution on with a bounded record batch size (HTML pages are
  kilobytes each — unbounded 10k-row batches would blow executor memory),
* UTC session timezone (oracle comparisons against DuckDB are UTC-naive),
* a driver heap made resident as it is committed (``AlwaysPreTouch``).
  Spark's per-stage broadcast and task buffers are 1–16 MB humongous
  objects; whether G1's adaptive IHOP starts concurrent cycles on them
  depends on the JVM's start-up timing, so without it the driver's peak
  RSS on a fixed (``-Xms`` = ``-Xmx``) heap lands at one of two levels,
  ~15% apart, from run to run.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "geospatial-web-scraper-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    # make the package importable in Python UDF workers regardless of CWD
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    if cores is None:
        env = os.environ.get("SPARK_GRAFT_CPUS")
        cores = int(env) if env else None
    master = f"local[{cores}]" if cores else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = cores if cores else (os.cpu_count() or 8)

    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.driver.defaultJavaOptions", "-XX:+AlwaysPreTouch")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
