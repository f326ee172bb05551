"""The one SparkSession factory: tests, benchmarks, tools and both deploy
jobs start their session through `get_spark`.

Settings, and why (AQE, partition coalescing and skew-join splitting
are Spark's defaults):
* master / shuffle partitions: ``SOURMASH_SPARK_MASTER`` /
  ``SOURMASH_SPARK_SHUFFLE_PARTITIONS``, else ``local[$SPARK_GRAFT_CPUS]``
  with one partition per core; without ``SPARK_GRAFT_CPUS``, the cores
  this process may run on (its CPU affinity, what ``nproc`` counts).
* driver memory (``SOURMASH_SPARK_DRIVER_MEM``, 8g): union-find edges,
  gather state and simhash broadcasts live in the driver heap.  Set only
  outside spark-submit: it takes effect only at JVM launch.
* Arrow for pandas conversions, 512 rows per Arrow batch: the batch
  bounds a Python UDF's memory, 512 × 200 KB (the largest document)
  ≈ 100 MB in flight.
* 64 MB broadcast threshold (Spark's is 10 MB): size-lookup and
  query-side joins broadcast their small side instead of shuffling the
  corpus side (plans/PLANS.md, "compare / candidate generation").
* No UI: nothing serves it in tests, benchmarks or batch jobs.

Explicit arguments always apply; under spark-submit its ``--master`` and
every ``--conf`` win over the defaults above; a running session is
returned with none of its settings changed.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def _submitted_conf() -> dict[str, str] | None:
    """The configuration spark-submit launched this driver with (its
    ``--master``, ``--conf`` and spark-defaults), or None when the driver
    is a plain ``python`` process, whose JVM is not started yet."""
    if "PYSPARK_GATEWAY_PORT" not in os.environ:
        return None
    SparkContext._ensure_initialized()
    return dict(SparkConf().getAll())


def get_spark(
    app_name: str = "sourmash_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if SparkContext._active_spark_context is not None:
        # no options: getOrCreate applies none to the running session
        return SparkSession.builder.getOrCreate()
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(
        len(os.sched_getaffinity(0))
    )
    conf = {
        "spark.master": os.environ.get(
            "SOURMASH_SPARK_MASTER", f"local[{cpus}]"
        ),
        "spark.sql.shuffle.partitions": os.environ.get(
            "SOURMASH_SPARK_SHUFFLE_PARTITIONS", cpus
        ),
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "512",
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        "spark.ui.enabled": "false",
    }
    submitted = _submitted_conf()
    if submitted is None:
        conf["spark.driver.memory"] = os.environ.get(
            "SOURMASH_SPARK_DRIVER_MEM", "8g"
        )
    else:
        conf = {k: v for k, v in conf.items() if k not in submitted}
    if master:
        conf["spark.master"] = master
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    builder = SparkSession.builder.appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition a DataFrame up to the session's default parallelism when
    it has fewer input splits (a single small parquet file reads as ONE
    split, serializing every narrow stage after it).  At cluster scale the
    input has natural splits and this is a no-op."""
    spark = df.sparkSession
    target = min_partitions or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def add_pyfiles(spark: SparkSession) -> str:
    """Ship this package to executors — the in-process stand-in for
    ``spark-submit --py-files sourmash_spark.zip`` on a real cluster."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    tmp = tempfile.mkdtemp(prefix="sourmash_spark_pyfiles_")
    zip_base = os.path.join(tmp, "sourmash_spark")
    archive = shutil.make_archive(zip_base, "zip", os.path.dirname(pkg_dir),
                                  os.path.basename(pkg_dir))
    spark.sparkContext.addPyFile(archive)
    return archive


def assert_column_constant(df, col: str, value, msg: str):
    """Execution-time assertion that `col` equals `value` on every row —
    zero extra jobs: a per-row `assert_true` folded into a pass-all filter
    (assert_true yields NULL when the predicate holds and raises when it
    doesn't; a dropped unused column would be pruned away, a filter is not).
    """
    import pyspark.sql.functions as F

    return df.filter(
        F.assert_true(F.col(col) == F.lit(value), F.lit(msg)).isNull()
    )
