"""Table loading helpers for the TESTDATA star schema."""

from __future__ import annotations

import os

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


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one star-schema table; parquet scan gets pushdown + pruning.

    events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    parquet reader rejects; read nanos as long (session conf, safe to
    set at runtime) and floor-convert to microsecond timestamps —
    matching DuckDB's own ns→us truncation.
    """
    if name == "events":
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        # integer DIV: float division loses precision at ns-epoch magnitude
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    return df


def rows_df(
    spark: SparkSession,
    rows,
    schema,
    rows_per_slice: int = 4096,
) -> DataFrame:
    """DataFrame over driver-known, metadata-scale rows (catalog
    snapshots, zone-map keys, digests, gate fixtures) that the JVM
    scans without a Python worker.

    The rows are converted driver-side by pyspark's own local-rows
    converter (``LocalDataToArrowConversion``, the one Spark Connect
    uses) into one ``pa.Table``; ``createDataFrame`` over it ships the
    Arrow batches once and plans a ``LocalTableScan``. The old
    ``parallelize`` leaf was a ``PythonRDD``: every job that scanned it
    started a Python worker to unpickle the rows, and the targeted
    replication scans several such leaves per op. Measured on a 4-core
    box (warm; a 512-row partition snapshot; ``where`` + ``groupBy`` +
    ``collect``): 300-320 ms over the ``parallelize`` leaf, 100-110 ms
    over the Arrow-built one. A ``LocalTableScan`` also carries its
    size, so the planner can broadcast it.

    Slicing is unchanged: one slice per ``rows_per_slice`` rows, capped
    at defaultParallelism, with one Arrow batch per slice, so a
    metadata-scale frame stays one task and a large driver list still
    spreads across the cluster. An empty list is an empty relation
    with no partitions.
    """
    import pyarrow as pa
    from pyspark.sql.conversion import LocalDataToArrowConversion
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T._parse_datatype_string(schema)
    if not isinstance(rows, list):
        rows = list(rows)
    if not rows:
        return spark.createDataFrame(to_arrow_schema(schema).empty_table(), schema)
    slices = max(
        1,
        min(
            spark.sparkContext.defaultParallelism,
            (len(rows) + rows_per_slice - 1) // rows_per_slice,
        ),
    )
    table = LocalDataToArrowConversion.convert(rows, schema, False)
    batch = (len(rows) + slices - 1) // slices
    df = spark.createDataFrame(
        pa.Table.from_batches(table.to_batches(max_chunksize=batch)), schema
    )
    # the scan leaf takes min(rows, defaultParallelism) partitions;
    # fold them back to the slice count without a shuffle
    if slices < min(len(rows), spark.sparkContext.defaultParallelism):
        df = df.coalesce(slices)
    return df
