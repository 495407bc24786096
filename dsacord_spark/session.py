"""SparkSession factory.

Local-mode defaults are tuned for the test harness (local[N] single JVM);
the same settings are cluster-safe: AQE handles runtime re-planning and
skew joins, Arrow accelerates every pandas-UDF boundary, and shuffle
partition counts are only a starting hint once AQE coalescing is on.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "dsacord_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    Honors $SPARK_GRAFT_CPUS for local parallelism. At cluster scale the
    master/memory settings come from spark-submit; everything set here is
    advisory or query-level.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # parquet reads stay on the V1 path: the v2 FileScan in this
        # build does NOT implement runtime filtering, so DSv2 parquet
        # silently loses DYNAMIC PARTITION PRUNING — a star join against
        # a day-partitioned 100 TB fact would full-scan (measured:
        # identical query shows `dynamicpruningexpression` under v1 and
        # nothing under v2; pinned by tests/test_scale_plans.py). That
        # outweighs v2's footer-served bare MIN/MAX/COUNT (aggregate
        # pushdown), which stays available as an opt-in: set
        # useV1SourceList without 'parquet' for profile/count sessions —
        # aggregatePushdown=true is kept so the opt-in works unchanged.
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config(
            "spark.sql.sources.useV1SourceList",
            "avro,csv,json,kafka,orc,parquet,text",
        )
        # INT96 (the legacy default) writes NO min/max column statistics;
        # TIMESTAMP_MICROS restores footer-stats min/max for timestamp
        # columns (row-group skipping on ts predicates, driver-side
        # metadata max-probes) and is the interop-standard encoding
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r12 (guide §7.3, driver-side planning): PySpark 4's DataFrame
        # debugging wraps EVERY DataFrame/Column method to ship the
        # Python call site to the JVM — a conf RPC plus origin set/clear
        # per call, i.e. 3+ extra py4j round-trips per method. Measured
        # (interleaved min-of-3 subprocess A/B): expression-heavy plan
        # builds drop 20-38% with it off (dedup_incremental_probe 1.44
        # -> 0.89s). Costs only the Python call-site line in error
        # messages; error classes are unchanged. Off by default here,
        # overridable via extra_conf.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # default 10k Arrow records/batch halves nested-zip extraction
        # throughput on wide string rows; 100k keeps per-core batch memory
        # ~tens of MB while amortizing the Python<->JVM transfer
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config("spark.ui.enabled", "false")
        # local mode hosts all executor threads in the driver JVM: 32
        # concurrent tasks each holding a ~100k-row Arrow batch of wide
        # string data churn several GB of young-gen; at 8g the heap sits
        # near Xmx after a few heavy queries and every subsequent job
        # stalls in full GCs (measured: same ingest 13s on a fresh heap,
        # 49-84s on a garbage-laden one; stable 9-20s at 24g). On a real
        # cluster spark-submit supplies executor memory and this setting
        # only sizes the driver.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Load every synthetic table in an sf directory as a DataFrame dict."""
    names = [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]
    out = {}
    for n in names:
        path = os.path.join(sf_dir, f"{n}.parquet")
        if os.path.exists(path):
            out[n] = spark.read.parquet(path)
    return out


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register each table as a temp view (mirrors the driver's DuckDB views)."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)


def local_frame(spark: SparkSession, rows, schema: StructType) -> DataFrame:
    """A driver-built row list (tuples or Rows in `schema` order) as a
    local relation. `spark.createDataFrame(rows, schema)` over Python
    rows plans a pickled Python RDD (`Scan ExistingRDD`) that every
    action re-runs through Python workers; built from an Arrow table the
    same frame plans as `LocalTableScan` and runs in the JVM (measured on
    local[4]: a warm count of a 477-row frame took 0.47 s through the
    Python RDD and 0.16 s from Arrow)."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)
