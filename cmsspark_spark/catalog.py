"""Test-table catalog for the synthetic TPC-H-ish star schema.

The reference registers every source as a named temp table before
querying (spark_utils.py:229, 253, 291-361 — ``registerTempTable`` on
each load). This module does the same for the driver-generated parquet
tables under ``/root/testdata/sf*``, with one engine-level fix-up: the
generator wrote ``INT64 TIMESTAMP(NANOS)`` parquet timestamps, which
Spark reads only as LongType (``spark.sql.legacy.parquet.nanosAsLong``);
we convert those columns to proper ``TimestampType`` (microsecond
truncation, matching DuckDB's ns→us truncation) right at the scan so all
downstream operators see real timestamps.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from cmsspark_spark.session import tune
from cmsspark_spark.sources.readers import read_parquet

TABLES = [
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
]

#: Columns stored as parquet TIMESTAMP(NANOS) → read as Long ns → convert.
NS_TIMESTAMP_COLS: dict[str, list[str]] = {
    "events": ["ts"],
    "orders": ["o_orderdate"],
    "lineitem": ["l_shipdate"],
}

#: Tables with heavy per-row compute consumed by *narrow* pipelines
#: (tokenization/shingling, vector math): a scan with too few splits
#: serializes all that work on one core. Relational tables are NOT
#: widened — their first join/groupBy shuffle already redistributes, so
#: an up-front repartition would just be a wasted extra shuffle.
_WIDEN_TABLES = {"documents", "embeddings"}

#: (sf_dir, name) → effective input split count, from parquet footers.
_SPLITS_CACHE: dict[tuple[str, str], int] = {}


def _effective_splits(sf_dir: str, name: str) -> int:
    """Row groups are parquet's split unit: a single-row-group file can
    never scan in parallel no matter how many byte-range tasks Spark
    makes. Counted once per table from the footer (cheap, cached)."""
    key = (sf_dir, name)
    if key not in _SPLITS_CACHE:
        import glob
        import pyarrow.parquet as pq

        path = f"{sf_dir}/{name}.parquet"
        files = glob.glob(f"{path}/*.parquet") or [path]
        _SPLITS_CACHE[key] = sum(pq.ParquetFile(f).metadata.num_row_groups for f in files)
    return _SPLITS_CACHE[key]


def load_table(
    spark: SparkSession, sf_dir: str, name: str, widen: bool | None = None
) -> DataFrame:
    """Read one synthetic table, normalizing ns-timestamp columns.

    ``widen=True`` is a per-pipeline scan hint: request full-cluster
    input parallelism even for a fact table. Worth it when the pipeline
    is map-heavy before its first shuffle (broadcast-join + aggregate
    chains); wasteful when the first operation is a shuffle join/groupBy
    that redistributes anyway — hence opt-in, measured per query.
    """
    tune(spark)
    df = read_parquet(spark, f"{sf_dir}/{name}.parquet")
    for c in NS_TIMESTAMP_COLS.get(name, []):
        dtype = dict(df.dtypes).get(c)
        if dtype == "bigint":
            # ns → µs floor-div matches DuckDB's truncation of TIMESTAMP_NS.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
        elif dtype == "timestamp_ntz":
            # Newer generator layouts write TIMESTAMP(MICROS, isAdjustedToUTC
            # =false) which Spark reads as TIMESTAMP_NTZ — a type that forbids
            # numeric casts (epoch math) and differs from the reference's
            # long/timestamp columns (SURVEY §1.2: epoch columns + LTZ casts).
            # With the session timezone pinned UTC the NTZ→LTZ cast is a pure
            # relabel (bit-identical instant), and DuckDB's epoch() over the
            # same naive timestamp agrees.
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    if widen if widen is not None else name in _WIDEN_TABLES:
        target = spark.sparkContext.defaultParallelism
        if _effective_splits(sf_dir, name) < max(2, target // 2):
            # Production layouts (many part-files) split naturally and
            # skip this; one round-robin shuffle of the raw rows buys
            # full-cluster parallelism for every later narrow stage.
            df = df.repartition(target)
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load_table(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str, names: list[str] | None = None) -> None:
    """createOrReplaceTempView for each table (reference: registerTempTable)."""
    for t in names or TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
