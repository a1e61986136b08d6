"""SparkSession factory with scale-sane defaults.

Generalizes the reference's ``create_spark_session`` (etl.py:23-31),
which only set a hadoop-aws package and relied on Spark 2.4 defaults.
Here we turn on the Spark 3+ machinery the reference predates:

- AQE (runtime shuffle-partition coalescing, skew-join splitting,
  dynamic broadcast conversion) — essential at 100 TB where static
  ``spark.sql.shuffle.partitions`` is always wrong for some stage.
- Arrow for any remaining pandas interchange (the reference paid
  row-wise pickling for 4 Python UDFs; we replace them with native
  expressions, and anything left uses Arrow-batched pandas UDFs).
- UTC session timezone so timestamp semantics are reproducible and
  match external oracles regardless of host TZ.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults tuned for the local[32] harness; on a real cluster these are
# overridden by spark-submit conf. AQE re-plans at runtime either way.
_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.files.maxPartitionBytes": "128m",
    "spark.driver.memory": "8g",
    "spark.ui.enabled": "false",
}


def get_spark(
    app_name: str = "us-immigration-data-lake-spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    when no cluster master is configured — mirrors the test harness.
    """
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    conf = dict(_DEFAULTS)
    conf.update(_delta_conf())
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _delta_conf() -> dict[str, str]:
    """Delta Lake session extensions, iff delta-spark is importable.

    The sandbox has no package index (install attempt recorded in
    SCALE.md), so this returns {} here; on any environment where
    ``pip install delta-spark`` succeeded, ``write_table(fmt="delta")``
    works with no further configuration.
    """
    try:
        import delta  # noqa: F401
    except ImportError:
        return {}
    return {
        "spark.sql.extensions": "io.delta.sql.DeltaSparkSessionExtension",
        "spark.sql.catalog.spark_catalog": (
            "org.apache.spark.sql.delta.catalog.DeltaCatalog"
        ),
    }
