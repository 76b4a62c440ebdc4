"""SparkSession factory with the engine's preferred configuration."""

from __future__ import annotations

import os
import warnings
from typing import Mapping, Optional

from pyspark.sql import SparkSession


def get_spark(
    master: Optional[str] = None,
    app_name: str = "rify-spark",
    shuffle_partitions: Optional[int] = None,
    extra_conf: Optional[Mapping[str, str]] = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for the fixpoint workload.

    AQE is mandatory: it re-plans the per-iteration join DAGs at runtime
    (broadcast conversion once a delta shrinks, skew-join splitting on hot
    predicates, partition coalescing for the small early iterations).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("RIFY_SHUFFLE_PARTITIONS", str(min(64, 2 * cpus))))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # allow co-partitioned joins on a SUBSET of the join keys: the
        # bucketed fact store partitions by s (p/g literals fold out of
        # join keys in rule-head candidates), and with this off Spark 4
        # would re-exchange the store side every fixpoint iteration
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        # NOTE: spark.sql.constraintPropagation.enabled stays at the Spark
        # default here. Disabling it helps only the fixpoint's
        # iteration-deep plans (~0.5 s/iteration of optimizer time) and was
        # measured to COST the shallow ops queries ~10% (knn_lsh A/B,
        # AB_KNN_LSH.json, round 5) — so infer.fixpoint() scopes the off
        # toggle to its own run and restores on exit.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("RIFY_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    # shuffle/spill to RAM-backed storage when available: this box's /tmp is
    # disk-backed and becomes the bottleneck for shuffle-heavy fixpoints
    # (cluster nodes in the target deployment have NVMe/ram-disk local dirs).
    # Override with RIFY_SPARK_LOCAL_DIR; opt out with RIFY_SPARK_LOCAL_DIR=default.
    local_dir = os.environ.get("RIFY_SPARK_LOCAL_DIR")
    if local_dir is None and os.path.isdir("/dev/shm"):
        local_dir = "/dev/shm/rify-spark-local"
    if local_dir and local_dir != "default":
        os.makedirs(local_dir, exist_ok=True)
        b = b.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    _warm_session(spark)
    return spark


def _warm_session(spark: SparkSession) -> None:
    """One-time per-session infrastructure warmup (RIFY_SESSION_WARMUP=0
    opts out).

    A fresh Spark JVM charges its first queries for work that has nothing
    to do with their data: the janino compile of each codegen operator
    shape, shuffle/broadcast machinery init, the Arrow serialization path,
    and — the big one for this engine's pandas-UDF stages — spawning one
    Python worker per core and importing pandas/numpy inside each
    (profiled: the KG pipeline's extract stage is ~9 s cold vs ~1 s warm,
    and the whole pipeline 28.8 s cold vs 8.9 s warm at bench scale). One
    small synthetic job over ``spark.range`` touching a broadcast join, a
    window, a hash aggregate and a pandas UDF moves that cost into session
    construction where it belongs. No input data is read and nothing is
    cached: every subsequent query still computes entirely from its own
    inputs.
    """
    if getattr(spark, "_rify_warmed", False):
        return
    spark._rify_warmed = True
    if os.environ.get("RIFY_SESSION_WARMUP", "1") == "0":
        return
    try:
        from pyspark.sql import Window
        from pyspark.sql import functions as F
        from pyspark.sql.functions import pandas_udf

        @pandas_udf("long")
        def _identity(s):
            return s

        # nested-type pandas UDF: the Arrow writer/reader for
        # array<struct<...>> columns initializes lazily and separately
        # from the scalar path above (first use otherwise lands in the
        # first extraction-shaped query)
        @pandas_udf("array<struct<a:string,b:string>>")
        def _nested(s):
            return s.map(lambda v: [(str(v), str(v + 1))])

        n = max(2, spark.sparkContext.defaultParallelism)
        df = spark.range(0, n * 4, 1, n).withColumn("k", F.col("id") % 16)
        small = spark.range(0, 16).select(F.col("id").alias("k"))
        w = Window.partitionBy("k").orderBy("id")
        (
            df.join(F.broadcast(small), "k")
            .withColumn("u", _identity("id"))
            .withColumn("nested", _nested("id"))
            .select("k", "u", F.explode("nested").alias("x"), F.col("id"))
            .withColumn("r", F.row_number().over(w))
            .groupBy("k")
            .agg(F.sum("r").alias("sr"), F.sum("u").alias("su"))
            .write.format("noop").mode("overwrite").save()
        )
        # micro-fixpoint over an 8-row synthetic chain: compiles the
        # engine's own hot path (smart-TC rounds, FactStore blocks,
        # localCheckpoint/cache machinery, dictionary encode/decode)
        # once per session — pure class-loading/first-compile warmup on
        # synthetic rows; no caller data is read and nothing survives
        from .api import infer_df
        from .infer import InferConfig
        from .rules import Bound as B, Rule, Unbound as U

        prem = spark.createDataFrame(
            [(f"__w{k}", "__wp", f"__w{k + 1}", "__wg") for k in range(8)],
            "s string, p string, o string, g string",
        )
        wrules = [
            Rule.create(
                [[U("a"), B("__wp"), U("b"), U("g")]],
                [[U("a"), B("__wanc"), U("b"), U("g")]],
            ),
            Rule.create(
                [
                    [U("a"), B("__wanc"), U("b"), U("g")],
                    [U("b"), B("__wanc"), U("c"), U("g")],
                ],
                [[U("a"), B("__wanc"), U("c"), U("g")]],
            ),
        ]
        derived, _ = infer_df(spark, prem, wrules, InferConfig())
        derived.write.format("noop").mode("overwrite").save()
    except Exception as e:  # noqa: BLE001 — reported, never raised
        # warmup is best-effort: a failure must never block session use, but
        # it makes every query pay the cold start, so say so
        warnings.warn(
            f"rify_spark session warm-up failed ({type(e).__name__}: {e}); "
            "queries will pay first-use start-up costs",
            RuntimeWarning,
            stacklevel=2,
        )
