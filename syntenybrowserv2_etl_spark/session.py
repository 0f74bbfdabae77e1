"""SparkSession factory.

Scale posture: these configs are the local-mode projection of the settings we
would run on a 1000-executor cluster. The knobs that matter at 100 TB —
AQE (runtime re-plan + skew-join splitting + partition coalescing),
shuffle-partition sizing, broadcast threshold, UTC session timezone for
oracle-comparable timestamps — are set here once so every entry point
(tests, bench, driver contract) shares them.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "syntenybrowserv2_etl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    - ``local[$SPARK_GRAFT_CPUS]`` locally; on a real cluster the master URL
      comes from spark-submit and everything below still applies.
    - ``spark.sql.shuffle.partitions`` ≈ cores locally. At cluster scale this
      would be ~2-3× total executor cores; AQE coalesces small post-shuffle
      partitions either way, so err high, never low.
    - ``spark.sql.adaptive.*``: AQE re-plans joins at runtime (broadcast
      conversion when a side turns out small, skew-join splitting for hot
      keys such as a mega-chromosome or a stopword-heavy token).
    - Arrow enabled: every pandas interop path (the mapInPandas operators,
      the closure's pairs handed back through ``createDataFrame``) moves
      columnar batches, not pickled rows.
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # GFF3 attributes repeat keys (Alias=..;Alias=..); last-wins matches
        # the reference's dict-assignment parse (SURVEY Q1 drops Alias lists).
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # InferFiltersFromGenerate adds `size(arr) > 0` above each explode;
        # predicate pushdown then substitutes the generator's FULL defining
        # expression into that filter. For this engine's exploded arrays
        # (shingles, winnowing fingerprints — expression-heavy, nested-
        # lambda computed) that re-evaluates the whole array build per row
        # at the filter, measured 100×+ wall-time (550 s vs 5 s on the
        # fingerprint explode). The rule's upside — skipping empty arrays
        # before Generate — is negligible for us: the operators already
        # guard empties with cheap scan-pushable predicates.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        # Bucketed tables in this engine exist FOR bucket pruning and
        # co-located joins (sources/io.write_bucketed; the streaming bloom
        # confirm's pair table). The auto-bucketed-scan heuristic disables
        # bucketed reading when it sees no join/agg needing the
        # distribution — which also silently drops bucket PRUNING, turning
        # the confirm's pruned read back into a full-corpus scan. Force
        # bucketed scan so literal filters on the bucket key always prune
        # (plan shows "SelectedBucketsCount: h out of n").
        .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
