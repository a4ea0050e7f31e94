"""Sink-directory compaction: many-small-files -> few files, data intact."""

import threading

from pyspark.sql import functions as F

from proxyhouse_spark.sinks.compact import (
    append_parquet,
    compact_parquet,
    parquet_file_count,
)


def test_compact_bin_packs_and_preserves_rows(spark, tmp_path):
    path = str(tmp_path / "sink")
    # simulate 40 micro-batch appends of a few rows each
    for batch in range(40):
        spark.range(batch * 5, batch * 5 + 5).withColumn(
            "uri", F.concat(F.lit("/t"), (F.col("id") % 3).cast("string"))
        ).coalesce(1).write.mode("append").parquet(path)
    before = spark.read.parquet(path).orderBy("id").collect()
    assert parquet_file_count(path) >= 40

    stats = compact_parquet(spark, path, target_bytes=64 * 1024 * 1024)
    assert stats["files_before"] >= 40
    assert stats["files_after"] == 1
    assert stats["rows"] == 200
    after = spark.read.parquet(path).orderBy("id").collect()
    assert after == before


def test_compact_is_noop_when_already_packed(spark, tmp_path):
    path = str(tmp_path / "packed")
    spark.range(100).coalesce(1).write.parquet(path)
    stats = compact_parquet(spark, path)
    assert stats["files_before"] == stats["files_after"] == 1


def test_concurrent_appends_into_one_directory_all_land(spark, tmp_path):
    """Two threads append into one directory at once (a flush spill during
    a replay's rewrite). Unserialized, both jobs stage under the same
    ``_temporary/0`` and one's cleanup deletes the other's files: writes
    fail, some half-published. Through ``append_parquet`` every write
    lands whole."""
    path = str(tmp_path / "d")
    errors = []

    def appender(t):
        try:
            for i in range(25):
                start = t * 1000 + i * 10
                append_parquet(spark.range(start, start + 10, numPartitions=2), path)
        except Exception as e:  # noqa: BLE001 — reported by the assert below
            errors.append(e)

    threads = [threading.Thread(target=appender, args=(t,)) for t in range(2)]
    for th in threads:
        th.start()
    for th in threads:
        th.join(300)
    assert not any(th.is_alive() for th in threads)
    assert not errors, errors
    ids = [r.id for r in spark.read.parquet(path).collect()]
    assert len(ids) == 500 and len(set(ids)) == 500
