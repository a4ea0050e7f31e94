"""Fixture-table loaders.

The driver materializes the TPC-H-ish star schema plus ``events``,
``documents`` and ``embeddings`` as Parquet under
``/root/testdata/sf{0.001,0.01,0.1}`` (see TESTDATA.md / FIXTURES.md).
All loads go through :func:`table` so column pruning and predicate pushdown
reach the Parquet scan — callers ``.select(...)`` / ``.filter(...)`` on the
returned DataFrame and Catalyst pushes both into the file source.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


from functools import lru_cache


@lru_cache(maxsize=256)
def _nanos_columns(path: str) -> list[str]:
    """Columns stored as parquet timestamp[ns] (Spark reads them as
    epoch-nanos BIGINT under spark.sql.legacy.parquet.nanosAsLong).
    Cached per path — fixture schemas are immutable and this is called at
    every plan build."""
    import pyarrow.parquet as pq

    try:
        schema = pq.read_schema(path)
    except Exception:  # directory-of-files case: sniff the first footer
        import glob

        files = sorted(glob.glob(f"{path}/*.parquet")) or sorted(glob.glob(f"{path}/part-*"))
        if not files:
            return []
        schema = pq.read_schema(files[0])
    return [f.name for f in schema if str(f.type) == "timestamp[ns]"]


#: NTZ epoch literal — anchor for session-timezone-independent epoch math.
EPOCH_NTZ = "TIMESTAMP_NTZ '1970-01-01 00:00:00'"


def epoch_micros(col: str) -> F.Column:
    """Wall-clock epoch micros of a TIMESTAMP_NTZ column — the exact Spark
    equivalent of DuckDB's ``epoch_us`` on a naive timestamp, independent of
    ``spark.sql.session.timeZone`` (``unix_micros`` rejects NTZ, and any
    cast through TIMESTAMP would re-interpret the wall clock in session tz)."""
    return F.expr(f"timestampdiff(MICROSECOND, {EPOCH_NTZ}, `{col}`)")


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Plain ``spark.read.parquet`` — the columnar
    scan, pushdown and pruning are Catalyst's job, not ours.

    Every timestamp column is normalized to TIMESTAMP_NTZ (the fixture
    parquet stores naive timestamps, which is also what the DuckDB oracle
    sees), so downstream expressions are pure wall-clock arithmetic and give
    identical results under ANY session timezone — the driver's session does
    not pin UTC the way :mod:`..session` does:

    - naive parquet read as NTZ (Spark 4 default): already correct;
    - naive parquet read as LTZ (inferTimestampNTZ off): the naive value was
      interpreted in session tz on read, so ``CAST(.. AS TIMESTAMP_NTZ)``
      renders it back in the same tz — round-trips to the stored wall clock;
    - timestamp[ns] read as epoch-nanos LongType (legacy nanosAsLong): added
      to the NTZ epoch literal via integer micros (never float — epoch-nanos
      exceeds double's 53-bit mantissa).
    """
    if name not in TABLES:
        raise KeyError(f"unknown fixture table {name!r}; known: {TABLES}")
    path = f"{sf_dir}/{name}.parquet"
    df = spark.read.parquet(path)
    nanos_long = set(_nanos_columns(path))
    for field in df.schema.fields:
        tn = field.dataType.typeName()
        if field.name in nanos_long and tn == "long":
            df = df.withColumn(
                field.name,
                F.expr(
                    f"timestampadd(MICROSECOND, CAST(`{field.name}` DIV 1000 AS BIGINT), {EPOCH_NTZ})"
                ),
            )
        elif tn == "timestamp":
            df = df.withColumn(field.name, F.col(field.name).cast("timestamp_ntz"))
    return df
