"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we would set on a real cluster: AQE on
(runtime skew-join + coalesce), Arrow on (every custom kernel is a pandas
UDF), shuffle partitions sized to cores (operators that need more repartition
explicitly).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "searchengines-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = max(cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batches are sliced by ROWS only (maxBytesPerBatch exists but
        # governs only transformWithState serializers in Spark 4.1), so this
        # is the one knob bounding JVM->Python transfer bytes for wide rows:
        # 65536 html pages (~2.5 KB here, 100 KB on a real crawl) or
        # embedding rows was a 165 MB-to-multi-GB input batch per task
        # against the JVM's direct-memory pool (see BENCH/STRESS_3M.md).
        # 8192 keeps narrow-row kernels fully vectorized (grouped-map
        # kernels — query stripes, diversify — get their whole group
        # regardless and are unaffected) while cutting wide-row transfer
        # peaks 8x. A/B at sf0.1 showed no measurable build/serve cost.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch",
                os.environ.get("SPARK_GRAFT_ARROW_ROWS", "8192"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # local corpora are tens of MB; 128m (the right cluster value) would
        # coalesce whole stage outputs into 1-2 input partitions and
        # serialize the CPU-heavy kernels. Override on a real cluster.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAXPART", "8m"))
        .config("spark.sql.files.openCostInBytes", "1m")
        # 32MB parquet row groups: with 128MB defaults, K concurrent write
        # tasks x open writers buffer up K x 256MB of column pages — at
        # local[32] that equals the whole heap and the write stages GC-thrash
        # (and anti-scale). Smaller groups also give finer row-group pruning
        # on the term-filtered postings scans.
        .config("spark.hadoop.parquet.block.size", str(32 * 1024 * 1024))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
