"""Dead-letter queue — SURVEY §2.1 S4/S5, §2.6 O1, §2.9 T2.

The reference spills failed flushes to ``errors/{level}{unixnano}`` pudge
files (saveToErrors, main.go:365-373), replays them in lexicographic
filename order = (level, time) order (main.go:456), escalates the retry
level on each failure, and quarantines at level >= 10 by prefixing the
filename with 'O' so the walker skips it forever (main.go:366-369, 495).

Spark-first redesign (SURVEY §1.3): the DLQ is a Parquet table with
explicit ``level`` / ``created_ns`` columns — quarantine is a predicate
(``level < 10``), not filename magic; replay order is an ORDER BY; level
escalation is an overwrite with ``level + 1``. State lives in the table, so
no ``mapGroupsWithState`` is needed (SURVEY §2.9 T4).

For oracle-checkable tests the DLQ content is derived deterministically
from the request stream (every request whose event_id % 9 == 0 "failed",
at a deterministic level); the live spill path (streaming/pipeline.py)
writes the same schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..sources.requests import requests_df
from ..tables import epoch_micros
from .ingest import validate_requests

MAX_LEVEL = 10  # quarantine threshold (main.go:366-369)


def dlq_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: the spill frame — deterministic synthetic failures over the
    validated request stream. created_ns carries the reference's UnixNano
    ordering role."""
    df = validate_requests(requests_df(spark, sf_dir))
    failed = df.filter(F.col("event_id") % 9 == 0)
    return failed.select(
        "event_id",
        "uri",
        "body",
        (F.col("event_id") % 12).cast("int").alias("level"),
        (epoch_micros("recv_ts") * 1000).alias("created_ns"),
    )


def dlq_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S5: the replay scan — quarantined packets (level >= 10) are excluded
    by predicate, mirroring the 'O'-prefix skip rule (main.go:495)."""
    return dlq_frame(spark, sf_dir).filter(F.col("level") < MAX_LEVEL)


def dlq_retry_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2 (batch-testable core): the retry-policy projection — next level on
    failure, quarantine flag at the cap (main.go:366-369, 474-479)."""
    d = dlq_frame(spark, sf_dir)
    return d.select(
        "event_id",
        "uri",
        "level",
        F.least(F.col("level") + 1, F.lit(MAX_LEVEL)).alias("next_level"),
        (F.col("level") >= MAX_LEVEL).alias("quarantined"),
    )


def dlq_replay_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O1: replay ordering — (level, created_ns) ranked, exactly the
    lexicographic {level}{unixnano} filename sort (main.go:456)."""
    d = dlq_scan(spark, sf_dir)
    w = Window.orderBy("level", "created_ns", "event_id")
    return d.select(
        "event_id", "uri", "level", "created_ns", F.row_number().over(w).alias("replay_rank")
    )


# Health thresholds (reference flags -w/-c, main.go:48-49).
WARN_LEVEL = 400
CRIT_LEVEL = 500


def health_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's /status endpoint logic (showstatus, main.go:228-245):
    errcount = replayable (non-quarantined) DLQ packets; >= critlevel → HTTP
    500 / critical, >= warnlevel → HTTP 400 / warning, else 200 / ok.
    Single global count — O(1) result, map-side counted."""
    d = dlq_scan(spark, sf_dir).agg(F.count(F.lit(1)).cast("bigint").alias("errcount"))
    return d.select(
        "errcount",
        F.when(F.col("errcount") >= CRIT_LEVEL, 500)
        .when(F.col("errcount") >= WARN_LEVEL, 400)
        .otherwise(200)
        .alias("http_status"),
        F.when(F.col("errcount") >= CRIT_LEVEL, "critical")
        .when(F.col("errcount") >= WARN_LEVEL, "warning")
        .otherwise("ok")
        .alias("health"),
    )
