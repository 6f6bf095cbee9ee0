"""SparkSession factory for the deletion/analytics engine.

Re-expresses the reference's session tuning (see
``/root/reference/src/main/java/com/bigdata/hive/deletion/util/SparkSessionManager.java:22-59``)
as an idiomatic PySpark builder. The nine correctness/perf confs the reference
sets are preserved; on top of that we pin a UTC session timezone (oracle
comparability), enable Arrow for the Pandas-UDF paths, and size shuffle
partitions for the actual parallelism instead of Spark's default 200.

Scale notes (100 TB design point):
- ``partitionOverwriteMode=dynamic`` is correctness-critical: static mode
  would wipe every partition of the target table on ``insertInto`` overwrite.
- AQE (+ coalesce + skew join) lets the runtime re-plan shuffles from actual
  stage statistics — essential when input sizes span 6 orders of magnitude.
- ``maxPartitionBytes`` at 256 MB keeps scan tasks coarse enough that a
  100 TB table produces ~400k tasks, not 4M.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

__all__ = ["SessionFactory", "get_session"]

#: Confs mirrored from the reference job (SparkSessionManager.java:30-39).
REFERENCE_CONFS: dict[str, str] = {
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.orc.impl": "native",
    "spark.sql.orc.enableVectorizedReader": "true",
    "spark.sql.orc.filterPushdown": "true",
    "spark.sql.hive.convertMetastoreOrc": "true",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.hive.metastorePartitionPruning": "true",
    "spark.sql.orc.compression.codec": "snappy",
    # A partition IN-list above this size is sent to the metastore as a
    # min/max RANGE instead of an N-way OR chain (Spark keeps the exact
    # IN for its own partition pruning, so semantics are unchanged).
    # Spark's default (1000) is calibrated for production metastores; a
    # 720-partition IN measured here drove embedded Derby's SQL parser
    # into StackOverflowError, and thousands-deep OR trees are a known
    # hazard on real metastores too — the engine's single-scan analysis
    # probes EVERY candidate partition in one query, so this threshold
    # is the knob that keeps that design metastore-safe at any
    # partition count.
    "spark.sql.hive.metastorePartitionPruningInSetThreshold": "100",
    # ...and if a pushed filter still fails, list-then-prune client-side
    # instead of failing the job (default false = throw).
    "spark.sql.hive.metastorePartitionPruningFallbackOnException": "true",
}

#: Engine additions: oracle-comparable timestamps, Arrow, parquet pushdown,
#: skew-aware AQE, sane scan granularity.
ENGINE_CONFS: dict[str, str] = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.files.maxPartitionBytes": "268435456",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # testdata events.ts is parquet TIMESTAMP(NANOS) — unrepresentable in
    # Spark; read as long and convert in sources.tables.load_table.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # List up to 1024 partition directories on the driver instead of in
    # a Spark job. Every DELETE step is a partition-pruned query, and
    # above Spark's default threshold (32) each one first launched a
    # listing job with one task per directory, so its cost grew with the
    # window. A pruned GROUP BY over hourly partitions, 4 cores, local
    # ORC, cached listing dropped before each timing (medians of 6-10):
    #
    #   partitions   listing job   driver listing
    #           48        0.59 s           0.36 s
    #          128        1.07 s           0.45 s
    #          256        1.87 s           0.62 s
    #          720        4.56 s           1.29 s
    #
    # Assumes HDFS or local storage, where listing one directory takes
    # about a millisecond; on an object store with slow listings lower
    # it. Windows above 1024 partitions still list in parallel. The same
    # rule covers the subdirectories of one root path; analytics inputs
    # read one parquet file per table, so they list nothing more.
    "spark.sql.sources.parallelPartitionDiscovery.threshold": "1024",
    # Local mode runs driver and all executor threads in ONE JVM; the
    # Spark default heap (1g) starves 32 threads the moment a shuffle
    # or broadcast exceeds toy scale (the sf1 scaling run lost task
    # results to block-manager eviction and thrashed GC for minutes).
    # Applied at JVM launch; a live session ignores it. Overridable for
    # constrained hosts.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
    # ONE BLAS thread per Python worker (round 12, guide §4). Spark
    # already runs one task per core; OpenBLAS/OMP default to
    # ncpu-thread pools PER PROCESS, so 32 concurrent pandas-UDF
    # workers each spawning 32 BLAS threads oversubscribe the host
    # 32x — the numpy matmuls inside the Arrow operators (k-means
    # assignment, ANN banding, in-bucket cosine verify) thrash context
    # switches instead of computing. Task-level parallelism is the
    # cluster's job; per-task compute stays single-threaded — the
    # standard production setting for numpy-under-Spark at any scale.
    # Driver-side numpy (sample-based Lloyd's) is unaffected
    # (executorEnv applies to workers only).
    "spark.executorEnv.OPENBLAS_NUM_THREADS": "1",
    "spark.executorEnv.OMP_NUM_THREADS": "1",
    "spark.executorEnv.MKL_NUM_THREADS": "1",
}


class SessionFactory:
    """Builds Hive-enabled or plain SparkSessions with the engine confs."""

    @staticmethod
    def _apply(builder: SparkSession.Builder, extra: dict[str, str] | None,
               shuffle_partitions: int) -> SparkSession.Builder:
        for k, v in {**REFERENCE_CONFS, **ENGINE_CONFS}.items():
            builder = builder.config(k, v)
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
        for k, v in (extra or {}).items():
            builder = builder.config(k, v)
        return builder

    @classmethod
    def create(cls, app_name: str = "bd-delete-engine",
               master: str | None = None,
               hive: bool = False,
               warehouse_dir: str | None = None,
               metastore_dir: str | None = None,
               shuffle_partitions: int | None = None,
               extra_confs: dict[str, str] | None = None) -> SparkSession:
        """Create a session.

        ``hive=True`` enables a Hive catalog. For local/test runs an embedded
        Derby metastore is placed in ``metastore_dir`` (fresh temp dir when
        omitted) so parallel test processes never fight over ``metastore_db``
        — the sharp edge the reference documents in TESTING.md:80-85.
        """
        if master is None:
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
            master = f"local[{cpus}]"
        if shuffle_partitions is None:
            # SPARK_GRAFT_CPUS may legitimately be '*' (all cores)
            cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
            shuffle_partitions = (int(cpus) if cpus.isdigit()
                                  else (os.cpu_count() or 8))

        builder = SparkSession.builder.appName(app_name).master(master)
        builder = cls._apply(builder, extra_confs, shuffle_partitions)

        if hive:
            # Respect an externally-configured metastore/warehouse (e.g. a
            # properties file pointing at a real Hive metastore, or
            # hive-site.xml on the classpath); only fall back to a fresh
            # embedded Derby dir for self-contained local/test runs.
            extern = extra_confs or {}
            has_metastore = ("spark.hadoop.javax.jdo.option.ConnectionURL"
                             in extern or "hive.metastore.uris" in extern
                             or "spark.hadoop.hive.metastore.uris" in extern)
            if warehouse_dir is None or (metastore_dir is None
                                         and not has_metastore):
                base = tempfile.mkdtemp(prefix="bd_engine_")
                if warehouse_dir is None:
                    warehouse_dir = extern.get("spark.sql.warehouse.dir",
                                               os.path.join(base, "warehouse"))
                if metastore_dir is None and not has_metastore:
                    metastore_dir = os.path.join(base, "metastore_db")
            builder = builder.config("spark.sql.warehouse.dir", warehouse_dir)
            if metastore_dir is not None:
                builder = builder.config(
                    "spark.hadoop.javax.jdo.option.ConnectionURL",
                    f"jdbc:derby:;databaseName={metastore_dir};create=true",
                )
            builder = builder.enableHiveSupport()

        spark = builder.getOrCreate()
        spark.sparkContext.setLogLevel("WARN")
        return spark

    @staticmethod
    def health_check(spark: SparkSession) -> bool:
        """Hive-support health check: the reference probes SHOW DATABASES
        (SparkSessionManager.java:90-97)."""
        try:
            return spark.sql("SHOW DATABASES").count() >= 1
        except Exception:
            return False


def get_session(**kwargs) -> SparkSession:
    """Module-level convenience wrapper around :meth:`SessionFactory.create`."""
    return SessionFactory.create(**kwargs)
