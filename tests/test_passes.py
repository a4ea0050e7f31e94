"""The two-pass driver and the fenced snapshot store (streaming/passes.py):
crash replay for every merge algebra, the bounded pass wait, and the job
group of the minhash merge's pool jobs."""

import os

import pytest

from proxyhouse_spark.streaming import passes


class _Crash(RuntimeError):
    pass


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _snap(spark, d):
    return _rows(spark.read.parquet(d))


def _latest_wins(spark, tmp):
    from proxyhouse_spark.operators.cdc import _CHANGELOG_SCHEMA, _merge_snapshot

    def mk(rows):
        return spark.createDataFrame(rows, _CHANGELOG_SCHEMA)

    return _merge_snapshot, [
        mk([(1, 0, "I", 10, "O", 100, "1-URGENT"),
            (2, 0, "I", 11, "O", 200, "2-HIGH")]),
        mk([(1, 1, "U", 10, "X", 110, "1-URGENT"),
            (2, 3, "D", 11, "O", 200, "2-HIGH")]),
    ], _snap


def _additive(spark, tmp):
    from proxyhouse_spark.operators.cdc import _merge_totals

    def mk(rows):
        return spark.createDataFrame(rows, "user_id bigint, cents bigint")

    return _merge_totals, [
        mk([(1, 100), (2, 50)]), mk([(1, 7), (3, 9)]),
    ], _snap


def _dominance(spark, tmp):
    from proxyhouse_spark.operators.cdc import _merge_skyline

    def mk(rows):
        return spark.createDataFrame(
            rows, "o_orderkey bigint, cents bigint, day bigint"
        )

    return _merge_skyline, [
        mk([(1, 500, 9), (2, 300, 20), (3, 900, 1)]),
        mk([(4, 400, 5), (5, 300, 20)]),
    ], _snap


def _interval_union(spark, tmp):
    from proxyhouse_spark.operators.cdc import _merge_coverage

    def mk(rows):
        return spark.createDataFrame(rows, "user_id bigint, s bigint, e bigint")

    return _merge_coverage, [
        mk([(1, 0, 100), (2, 0, 10)]), mk([(1, 50, 150), (1, 300, 400)]),
    ], _snap


def _min_max(spark, tmp):
    from proxyhouse_spark.operators.cdc import _merge_extrema

    def mk(rows):
        return spark.createDataFrame(rows, "event_type string, cents bigint")

    return _merge_extrema, [
        mk([("a", 5), ("a", 9), ("b", 1)]), mk([("a", 2), ("c", 4)]),
    ], _snap


def _minhash(spark, tmp):
    from proxyhouse_spark.operators.cdc import _merge_minhash

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def read(spark, d):
        return _rows(
            spark.read.parquet(os.path.join(d, "pairs"))
            .dropDuplicates(["doc_a", "doc_b"])
            .select("doc_a", "doc_b", "jaccard")
        )

    return _merge_minhash, [
        mk([(1, "alpha beta gamma delta epsilon zeta"),
            (3, "totally different words here now ok")]),
        mk([(2, "alpha beta gamma delta epsilon zeta")]),
    ], read


def _kmeans(spark, tmp):
    from proxyhouse_spark.operators.clustering import _merge_kmeans

    cent = os.path.join(tmp, "quantizer")
    spark.createDataFrame(
        [(0, [0.0, 0.0]), (1, [10.0, 10.0])], "c int, ce array<double>"
    ).write.parquet(cent)

    def mk(rows):
        return spark.createDataFrame(rows, "vec_id bigint, e array<double>")

    def read(spark, d):
        return _rows(spark.read.parquet(d).groupBy("c", "pos").sum("n", "s"))

    return (
        lambda _, df, d, bid: _merge_kmeans(df, cent, d, bid),
        [mk([(0, [1.0, 2.0]), (1, [9.0, 9.5])]), mk([(2, [0.5, 0.0])])],
        read,
    )


def _triangles(spark, tmp):
    from pyspark.sql import functions as F

    from proxyhouse_spark.operators.behavior import _merge_triangles

    def mk(rows):
        return spark.createDataFrame(rows, "okey bigint, part bigint")

    def read(spark, d):
        edges = _rows(
            spark.read.parquet(os.path.join(d, "edges"))
            .dropDuplicates(["u", "v"]).select("u", "v")
        )
        tri = (
            spark.read.parquet(os.path.join(d, "deltas"))
            .dropDuplicates(["bid"]).agg(F.sum("delta")).collect()[0][0]
        )
        return edges, tri

    # batch 1's new edges (3,4) and (1,4) close triangle (1,3,4) against
    # batch 0's (1,3): its delta is 1, and a replay must not lose it
    return _merge_triangles, [
        mk([(2, 1), (2, 2), (2, 3)]),
        mk([(1, 3), (1, 4), (3, 1), (3, 4)]),
    ], read


def _spatial(spark, tmp):
    from proxyhouse_spark.operators.spatial import _merge_spatial

    def mk(rows):
        return spark.createDataFrame(rows, "id bigint, x bigint, y bigint")

    def read(spark, d):
        return _rows(
            spark.read.parquet(os.path.join(d, "pairs"))
            .dropDuplicates(["id_a", "id_b"]).select("id_a", "id_b", "d2")
        )

    return _merge_spatial, [
        mk([(1, 0, 0), (2, 90_000, 0)]), mk([(3, 100, 100)]),
    ], read


def _ann(spark, tmp):
    from proxyhouse_spark.operators.similarity import _merge_ann

    def mk(rows):
        return spark.createDataFrame(
            rows, "vec_id bigint, label int, e array<double>"
        )

    return (
        lambda _, df, d, bid: _merge_ann(df, d, bid),
        [mk([(1, 0, [1.0, -1.0])]), mk([(2, 1, [0.5, 2.0])])],
        lambda spark, d: _snap_dedup(spark, d, ["vec_id"]),
    )


def _substr(spark, tmp):
    from proxyhouse_spark.operators.dedup import _merge_substr

    def mk(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    text = "one two three four five six seven eight nine ten"
    return (
        lambda _, df, d, bid: _merge_substr(df, d, bid),
        [mk([(1, text)]), mk([(2, text)])],
        lambda spark, d: _snap_dedup(spark, d, ["doc_id", "p"]),
    )


def _snap_dedup(spark, d, keys):
    return _rows(spark.read.parquet(d).dropDuplicates(keys))


ALGEBRAS = {
    "latest_wins": _latest_wins,
    "additive": _additive,
    "dominance": _dominance,
    "interval_union": _interval_union,
    "min_max": _min_max,
    "append_minhash": _minhash,
    "append_kmeans": _kmeans,
    "append_triangles": _triangles,
    "append_spatial": _spatial,
    "append_ann": _ann,
    "append_substr": _substr,
}


@pytest.mark.parametrize("algebra", list(ALGEBRAS))
def test_merge_crash_before_marker_replays_to_clean_result(
    spark, tmp_path, monkeypatch, algebra
):
    """Kill the second batch's merge after its data write but before its
    marker (and, for a rewrite, before the publish renames), re-run the
    same batch id, and read back exactly what a clean run reads."""
    merge, batches, read = ALGEBRAS[algebra](spark, str(tmp_path))
    clean = str(tmp_path / "clean")
    for bid, batch in enumerate(batches):
        merge(spark, batch, clean, bid)

    crashed = str(tmp_path / "crashed")
    merge(spark, batches[0], crashed, 0)
    real_mark = passes.mark_applied
    calls = []

    def crash_once(snap_dir, batch_id):
        calls.append(batch_id)
        if len(calls) == 1:
            raise _Crash("killed before the marker")
        real_mark(snap_dir, batch_id)

    monkeypatch.setattr(passes, "mark_applied", crash_once)
    with pytest.raises(_Crash):
        merge(spark, batches[1], crashed, 1)
    merge(spark, batches[1], crashed, 1)  # foreachBatch re-delivers it
    assert calls == [1, 1]
    assert read(spark, crashed) == read(spark, clean)


def test_stuck_pass_fails_loudly_and_stops(spark, tmp_path):
    """A pass that never terminates must raise after its bound and be
    stopped, not left running while a caller reads partial output."""
    stream = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    q = (
        stream.writeStream.format("noop")
        .trigger(processingTime="1 second")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        with pytest.raises(TimeoutError):
            passes.await_or_raise(q, 1)
        assert not q.isActive
    finally:
        q.stop()


def test_minhash_merge_jobs_stay_in_the_job_group(spark, tmp_path):
    """The pair write and index append run from a thread pool; both must
    carry the micro-batch's job group so cancelling the group reaches
    them. No job of the merge may run outside the group."""
    from proxyhouse_spark.operators.cdc import _merge_minhash

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zeta")],
        "doc_id bigint, text string",
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    ungrouped = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("minhash-merge", "one _merge_minhash batch")
    try:
        _merge_minhash(spark, docs, str(tmp_path), 0)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert set(tracker.getJobIdsForGroup(None)) == ungrouped
    assert tracker.getJobIdsForGroup("minhash-merge")
