"""SparkSession factory tuned for the KG-construction workload.

Settings chosen for the 100 TB design point (and scaled down
automatically for local testing):

- AQE on (runtime coalesce + skew-join splitting): hot hosts /
  hot entities are expected in web corpora, and AQE's skew-join
  splitting is what handles them.
- ``spark.sql.shuffle.partitions`` defaults to the session core
  count locally; on a real cluster this is set to 2-3x total cores
  via spark-submit conf.
- Arrow enabled for the pandas UDFs that remain (phrase mentions,
  the ``html_to_text`` reference); extract and ``mentions_tokens``
  are native Column programs.
- Session timezone pinned to UTC so results compare bit-for-bit
  against the DuckDB oracle (naive-UTC timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _driver_mem() -> str:
    """Half the host's RAM (2-16 GB), unless SPARK_GRAFT_DRIVER_MEM is
    set. ParallelGC grows the heap toward its maximum over a long run,
    and a maximum above the host's RAM ends with the JVM killed."""
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{max(2, min(16, ram_gb // 2))}g")


def build_session(
    app_name: str = "multiomics_biocypher_kg_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a tuned SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    all cores). Pass ``master="submit"`` under spark-submit: the
    master / deploy mode / executor sizing then belong to the submit
    command and this factory only layers the workload confs (all of
    which are cluster-safe).
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        try:
            shuffle_partitions = max(8, int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
        except ValueError:
            shuffle_partitions = 32

    builder = SparkSession.builder.appName(app_name)
    if master != "submit":
        builder = builder.master(master)
    builder = (
        builder
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # binary-heavy corpora (40-100 KB html per row): batch sizes are
        # rows, not bytes. Arrow batches to Python workers hold 4096
        # rows (Spark's default is 10000). The parquet reader's
        # 4096-row default batches x 32 concurrent tasks x ~50 KB/row
        # OOM the heap; its 1024 keeps peak scan memory ~1.5 GB at 32
        # threads while staying vectorized.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
        .config("spark.sql.parquet.columnarReaderBatchSize", "1024")
        # exact percentile + deterministic float handling for oracle parity
        .config("spark.sql.legacy.allowUntypedScalaUDF", "false")
        .config("spark.driver.memory", _driver_mem())
        # batch engine, no pause SLO: the throughput collector beats G1
        # under the page-copy allocation rate of regexp-heavy extraction
        # (measured ~1.7x on the scaling corpus at 32 threads)
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_GRAFT_JAVA_OPTS", "-XX:+UseParallelGC"),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # freeze tolerance: this sandbox VM exhibits whole-machine
        # stalls of 1-3 minutes under co-tenant load (the r4l 8-core
        # scaling leg died when a 161 s stall blew the default 120 s
        # heartbeat window and the driver deregistered its own
        # executor). A long-haul batch job should ride out transient
        # stalls rather than fail the leg; same setting is standard
        # practice on preemptible/spot clusters.
        .config("spark.network.timeout", "600s")
        .config("spark.executor.heartbeatInterval", "60s")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
