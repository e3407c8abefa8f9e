"""Table loading: fixture tables (driver-generated parquet, TESTDATA.md)
and small tables built on the driver."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table.

    Also pins the session timezone to UTC: the driver may pass a session we
    didn't configure, and the fixtures' naive timestamps must resolve
    identically in Spark and DuckDB. Other runtime confs (AQE, a sane
    shuffle-partition count) are pinned once via session.pin_session_conf.
    """
    from vcf2db_spark.session import pin_session_conf

    pin_session_conf(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if name == "events":
        # events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
        # reader rejects. Read nanos as long and truncate to microseconds —
        # exactly what DuckDB does when it surfaces the column as TIMESTAMP.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# (path, cores) → whether the scan is row-group-starved; parquet footer
# metadata is immutable for a fixture path, so one probe per process.
_NARROW_SCAN: dict[tuple[str, int], bool] = {}


def table_wide(
    spark: SparkSession, sf_dir: str, name: str, key: str | None = None
) -> DataFrame:
    """Read a fixture table, guaranteeing scan-side parallelism for
    compute-heavy downstream stages.

    A parquet scan cannot split below row-group granularity, and the
    synthetic fixtures are single-file parquet with ONE row group per
    file below sf1 — so a plain scan of ``documents``/``embeddings``
    yields 1-2 input partitions and the most expensive stage of every
    text/vector query (tokenize, n-gram explode, HOF map over the
    embedding array) runs on 1-2 of the 32 cores. When the footer shows
    fewer row groups than half the cores, repartition to the default
    parallelism: one extra exchange of the raw column bytes (~30 MB
    locally, tmpfs shuffle) unlocks the cores — measured text_repetition
    3.9 s → 1.4 s at sf1. At 100 TB inputs arrive as many multi-row-group
    files, the footer probe sees a wide scan, and the rescue self-disables
    (no exchange is added), so nothing here changes the plan at scale.

    ``key``: optional column to hash-partition by (deterministic layout,
    lets a downstream per-key stage reuse the exchange); default is
    Spark's round-robin rebalance.
    """
    df = table(spark, sf_dir, name)
    cores = spark.sparkContext.defaultParallelism
    path = f"{sf_dir}/{name}.parquet"
    ck = (path, cores)
    narrow = _NARROW_SCAN.get(ck)
    if narrow is None:
        try:
            import pyarrow.parquet as pq

            meta = pq.ParquetFile(path).metadata
            narrow = meta.num_row_groups < max(2, cores // 2)
        except Exception:
            narrow = False  # multi-file dir / remote FS: scan splits fine
        _NARROW_SCAN[ck] = narrow
    if narrow:
        df = df.repartition(cores, F.col(key)) if key else df.repartition(cores)
    return df


def local_table(spark: SparkSession, rows: list[tuple], schema: T.StructType) -> DataFrame:
    """A small table built on the driver, as ONE partition held in the JVM.

    ``spark.createDataFrame(rows, schema)`` slices the rows over
    ``defaultParallelism`` partitions of a Python RDD, so a sink pays one
    task per slice (one job per slice when it streams rows to the driver)
    and a Python worker to read them. Here the rows travel as a single
    Arrow row holding an ``array<struct>`` (a one-row local relation, one
    partition) that ``inline`` unpacks in the JVM; ``schema``, nullability
    included, is kept as given."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    packed = T.StructType([T.StructField("rows", T.ArrayType(schema, False), False)])
    arr = pa.array([list(rows)], type=to_arrow_type(packed["rows"].dataType))
    return spark.createDataFrame(pa.table({"rows": arr}), packed).select(F.inline("rows"))
