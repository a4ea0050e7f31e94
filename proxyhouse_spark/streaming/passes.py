"""Two-pass streaming driver and fenced snapshot store for the q_stream_* oracles.

A micro-batch boundary must not show in a result: every ``q_stream_*``
query streams its input in two real ``availableNow`` passes (the second
resumes from the first's checkpoint after more source data lands) and
must hash-match its one-shot batch oracle. ``two_pass`` is that driver,
the one place that owns the scratch dir, the source writes, both passes,
their bounded waits and the per-pass stream conf.

Merges run in ``foreachBatch``, which is AT-LEAST-ONCE: a crash after a
merge but before the streaming checkpoint commits re-delivers the same
micro-batch. Every merge is therefore fenced by a per-batch marker file
``_applied_<batch_id>`` inside the snapshot directory (``_``-prefixed,
invisible to parquet readers). On-disk format of a snapshot ``snap``:

- ``snap/`` — the published parquet generation plus its markers;
- ``snap.tmp/`` — the next generation while it is written;
- ``snap.old/`` — the previous generation, only between the two renames.

A rewrite merge writes ``snap.tmp``, copies the prior markers into it,
stamps its own marker there (marker and data become visible together),
then renames ``snap → snap.old`` and ``snap.tmp → snap`` and drops
``snap.old``. A crash at any point leaves either the old or the new
generation whole; ``read_snapshot`` recovers the rename window. An
append-only index instead appends the batch's rows and stamps the marker
with ``mark_applied`` after them; a crash before the stamp re-appends
identical rows on replay, which its query drops on read (k-means, whose
read sums rows, overwrites a per-batch directory instead).

Merge algebras and their helpers (README and SURVEY refer to this list):

- latest-wins — ``merge_snapshot``: cdc._merge_snapshot (q_stream_cdc);
- additive — ``merge_snapshot`` + ``add_on_keys``: cdc._merge_totals
  (topk), cdc._merge_psi_counts (drift), timeseries._merge_daily_counts
  (changepoint), mleval._merge_auc_hist (auc), quality._merge_audit
  (constraint_audit), quality._merge_mi_cells (mutual_info);
- dominance — ``merge_snapshot`` + ``add_on_keys``: cdc._merge_skyline;
- interval-union — ``merge_snapshot``: cdc._merge_coverage, and
  cdc._merge_sessions with an additive event count riding along;
- min/max — ``merge_snapshot``: cdc._merge_extrema;
- idempotent set union — ``merge_snapshot``: behavior._merge_user_days
  (growth);
- append-only indexes — ``applied`` + ``mark_applied``, replays absorbed
  as above:
  cdc._merge_minhash, behavior._merge_triangles, clustering._merge_kmeans,
  dedup._merge_substr, similarity._merge_ann, spatial._merge_spatial.
"""

from __future__ import annotations

import contextlib
import os
import shutil
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

#: ``start(source_dir, out_dir, checkpoint_dir)`` launches one pass
Start = Callable[[str, str, str], StreamingQuery]

_SCRATCH_DIRS: list[str] = []


def scratch_dir(prefix: str) -> str:
    """Session-scoped scratch for the streaming oracle passes. The returned
    DataFrames read from these dirs lazily, so they must outlive the call;
    they are removed at interpreter exit instead of leaking across repeated
    invocations."""
    import atexit
    import tempfile

    base = tempfile.mkdtemp(prefix=prefix)
    if not _SCRATCH_DIRS:
        atexit.register(_cleanup_scratch)
    _SCRATCH_DIRS.append(base)
    return base


def _cleanup_scratch() -> None:
    for d in _SCRATCH_DIRS:
        shutil.rmtree(d, ignore_errors=True)


#: state-store partition count for the q_stream_* oracle passes. A
#: stateful streaming query materializes one state-store instance per
#: shuffle partition per stateful operator per micro-batch; over the tiny
#: fixture slices that fixed cost dwarfs the data at the vanilla
#: session's 32 partitions. The count is baked in at first query start
#: from the session conf (fresh checkpoints every invocation, so 8 here
#: never conflicts), and production pipelines are untouched — they keep
#: the session default, sized to the executor fleet.
STREAM_ORACLE_PARTITIONS = 8


def _stream_partitions_for(sf_dir: str) -> int:
    """Autoscale the stateful-shuffle width from input bytes: 8 partitions
    amortize per-partition state-store fixed costs at gate scale (sf0.01),
    but underparallelize 4x at ~sf1 where the join/agg work dominates (the
    r06 sf1 digest timed out at 8). Threshold: events source > 4 MiB
    (sf0.1 is ~2 MiB, ~sf1 is ~16 MiB) → 32. Results are partition-count
    invariant (the local[5] verify axis proves it); this only moves wall
    time."""
    try:
        p = os.path.join(sf_dir, "events.parquet")
        size = (
            sum(
                os.path.getsize(os.path.join(p, f))
                for f in os.listdir(p)
                if not f.startswith("_")
            )
            if os.path.isdir(p)
            else os.path.getsize(p)
        )
    except OSError:
        return STREAM_ORACLE_PARTITIONS
    return 32 if size > 4 * 1024 * 1024 else STREAM_ORACLE_PARTITIONS


@contextlib.contextmanager
def _stream_conf(spark: SparkSession, sf_dir: str):
    """Scope ``spark.sql.shuffle.partitions`` to the source writes and the
    passes. The returned DataFrame only re-reads the passes' parquet
    output, so restoring the caller's setting cannot affect results."""
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(_stream_partitions_for(sf_dir)))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def await_or_raise(q: StreamingQuery, timeout_s: int | None = None) -> None:
    """availableNow passes finish in seconds at gate scale; a False return
    from awaitTermination means the pass is still running and the output dir
    is incomplete — stop it and fail loudly instead of reading partial
    results as a confusing oracle mismatch.  SPARK_GRAFT_STREAM_TIMEOUT_S
    raises the bound for ~sf1 differential runs (the 90M-row interval join
    needs more than the 300 s that covers every gate-scale pass)."""
    if timeout_s is None:
        timeout_s = int(os.environ.get("SPARK_GRAFT_STREAM_TIMEOUT_S", "300"))
    if not q.awaitTermination(timeout_s):
        q.stop()
        raise TimeoutError(f"streaming pass still running after {timeout_s}s")


def two_pass(
    spark: SparkSession,
    sf_dir: str,
    prefix: str,
    first: DataFrame | dict[str, DataFrame],
    second: DataFrame | dict[str, DataFrame] | None,
    start: Start,
) -> str:
    """Write ``first`` as the source, run one pass, append ``second``, run
    the pass again from the same checkpoint; ``second=None`` runs a single
    pass. A dict half writes each frame to its own source subdirectory
    (``source/<name>``, e.g. the two sides of a stream-stream join). Each
    pass is ``start(source_dir, out_dir, checkpoint_dir)``; returns
    ``out_dir`` for the caller's read-back."""
    base = scratch_dir(prefix)
    src, out, ckpt = (os.path.join(base, d) for d in ("source", "out", "ckpt"))
    with _stream_conf(spark, sf_dir):
        for half in (first, second):
            if half is None:
                continue
            parts = half.items() if isinstance(half, dict) else [("", half)]
            for sub, frame in parts:
                frame.coalesce(1).write.mode("append").parquet(
                    os.path.join(src, sub)
                )
            await_or_raise(start(src, out, ckpt))
    return out


def _available_now(stream: DataFrame, checkpoint_dir: str):
    return stream.writeStream.trigger(availableNow=True).option(
        "checkpointLocation", checkpoint_dir
    )


def parquet_sink(
    stream: DataFrame, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """One availableNow pass appending ``stream`` to a parquet sink."""
    return (
        _available_now(stream, checkpoint_dir)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )


def foreach_merge(
    spark: SparkSession,
    schema: str,
    merge: Callable[[SparkSession, DataFrame, str, int], None],
) -> Start:
    """Starter for ``two_pass``: stream the parquet source under ``schema``
    into ``merge(spark, batch_df, out_dir, batch_id)`` per micro-batch."""

    def start(src: str, out: str, ckpt: str) -> StreamingQuery:
        stream = spark.readStream.schema(schema).parquet(src)
        return (
            _available_now(stream, ckpt)
            .foreachBatch(lambda df, bid: merge(spark, df, out, bid))
            .start()
        )

    return start


# --- fenced snapshot store --------------------------------------------------

_MARKER = "_applied_"


def applied(snap_dir: str, batch_id: int) -> bool:
    """True when ``batch_id`` already merged into the snapshot."""
    return os.path.isfile(os.path.join(snap_dir, f"{_MARKER}{batch_id}"))


def mark_applied(snap_dir: str, batch_id: int) -> None:
    """Stamp ``batch_id``'s marker; append-only indexes call it after
    their rows are written."""
    open(os.path.join(snap_dir, f"{_MARKER}{batch_id}"), "w").close()


def read_snapshot(spark: SparkSession, snap_dir: str, schema: str) -> DataFrame:
    """Read the snapshot, recovering a crash between the two publish
    renames (snap missing or empty while snap.old is intact)."""
    old = snap_dir.rstrip("/") + ".old"
    if not (os.path.isdir(snap_dir) and os.listdir(snap_dir)) and os.path.isdir(old):
        os.rename(old, snap_dir)
    if os.path.isdir(snap_dir) and os.listdir(snap_dir):
        return spark.read.parquet(snap_dir)
    return spark.createDataFrame([], schema)


def _publish(snap_dir: str, tmp: str, batch_id: int) -> None:
    """Carry the prior markers into ``tmp``, stamp this batch's marker
    there, then rename(snap → old), rename(tmp → snap), drop old."""
    if os.path.isdir(snap_dir):
        for f in os.listdir(snap_dir):
            if f.startswith(_MARKER):
                open(os.path.join(tmp, f), "w").close()
    mark_applied(tmp, batch_id)
    old = snap_dir.rstrip("/") + ".old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    if os.path.isdir(snap_dir):
        os.rename(snap_dir, old)
    os.rename(tmp, snap_dir)
    shutil.rmtree(old, ignore_errors=True)


def merge_snapshot(
    spark: SparkSession,
    snap_dir: str,
    batch_id: int,
    schema: str,
    fold: Callable[[DataFrame], DataFrame],
) -> None:
    """Fenced rewrite merge: skip a batch already applied, else write
    ``fold(current snapshot)`` as the next generation and publish it.
    ``fold`` returns the frame laid out as it should be written."""
    if applied(snap_dir, batch_id):
        return  # at-least-once replay of a committed batch
    tmp = snap_dir.rstrip("/") + ".tmp"
    fold(read_snapshot(spark, snap_dir, schema)).write.mode("overwrite").parquet(tmp)
    _publish(snap_dir, tmp, batch_id)


def add_on_keys(
    current: DataFrame, delta: DataFrame, keys: list[str], cols: list[str]
) -> DataFrame:
    """The additive merge: full-outer join on ``keys``, each of ``cols``
    summed as BIGINT with an absent side counting 0."""
    prev = current.select(*keys, *[F.col(c).alias(f"_p_{c}") for c in cols])
    new = delta.select(*keys, *[F.col(c).alias(f"_d_{c}") for c in cols])
    return prev.join(new, keys, "full_outer").select(
        *keys,
        *[
            (
                F.coalesce(F.col(f"_p_{c}"), F.lit(0))
                + F.coalesce(F.col(f"_d_{c}"), F.lit(0))
            ).cast("bigint").alias(c)
            for c in cols
        ],
    )
