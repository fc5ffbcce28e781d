"""SparkSession factory tuned for the local[N] harness.

At 100 TB these confs move to cluster submit args; the knobs chosen
here (AQE, Arrow, shuffle partitions ~= cores) are the same ones that
matter at scale — see SURVEY.md §4.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "spark_glove_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # Allow shuffled-hash joins where the per-partition build side
        # fits (guide §3.1/§9): sort-merge pays two sorts that a hash
        # build skips. Scale-safe — the planner picks SHJ only under
        # its size conditions, and the AQE rewrite is bounded by the
        # 64 MB per-partition threshold. Interleaved A/B against the
        # Spark defaults (tools/probe.py ab, sf0.1, 4 cores, 8 rounds;
        # CHANGES.md), median wall SHJ vs defaults: glove_fit 8.76 vs
        # 10.31 s (SHJ IQR 1.43 s), pipeline_curate_corpus 6.34 vs
        # 7.35 s, c2_shuffle_join 0.92 vs 0.95 s, c8_asof_join 0.69 vs
        # 0.72 s.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold", "64MB"
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
