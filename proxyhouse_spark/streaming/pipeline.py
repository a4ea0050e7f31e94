"""The micro-batch flush pipeline — the reference's runtime, Spark-first.

Reference runtime (SURVEY §3): 4 goroutines around two mutex-guarded maps —
ingest handlers accumulate into ``map[uri]*Buffer``; ``backgroundSender``
swaps the map every ``syncsec`` seconds and POSTs one request per key
(main.go:275-299); failures spill to an errors dir (main.go:365-373);
``backgroundRecovery`` replays them with level escalation and quarantine
(main.go:302-321, 447-485).

Spark mapping:

- the map-swap-flush loop IS a micro-batch boundary →
  ``trigger(processingTime=syncsec)`` (or ``availableNow`` for drains);
- the per-trigger buffer map is ``groupBy(uri).agg(...)`` inside
  ``foreachBatch`` — state never crosses a trigger, exactly like the
  reference dropping its map every flush (main.go:285-288), so NO
  cross-batch streaming state is needed;
- the errors dir is a Parquet DLQ table (level + created_ns columns);
- the recovery loop is an independent batch job (``replay_dlq``) —
  retry state lives in the DLQ table, not in operator state.

Delivery semantics: the reference acks clients on buffer (data-loss window
before flush, main.go:198-218) and is at-least-once downstream with
possible duplicates (main.go:423-441). This pipeline upgrades the ack-loss
window away (checkpointed source: a crashed trigger re-reads its input)
and keeps at-least-once downstream; the sink table carries ``batch_id`` so
an idempotent consumer can dedupe on (batch_id, uri).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery, StreamingQueryListener

from ..checkpoints import scoped_checkpoint
from ..operators.dlq import MAX_LEVEL
from ..operators.ingest import FWD_HOST, REPL_HOST, sink_frame
from ..sinks.graphite import PREFIX_AVG, PREFIX_CNT, MetricStorage
from .passes import parquet_sink, scratch_dir, two_pass

SinkAttempt = Callable[[DataFrame], tuple[DataFrame, DataFrame]]


def _split_by_failure(grouped: DataFrame, fail_predicate: Column | None):
    """Split a flush frame into (delivered, failed). ``fail_predicate``
    models the downstream HTTP sink rejecting a key (non-200, main.go:423-425);
    None = everything delivers."""
    if fail_predicate is None:
        return grouped, grouped.limit(0)
    return grouped.filter(~fail_predicate), grouped.filter(fail_predicate)


def _split_by_statuses(
    eligible: DataFrame,
    statuses: dict[str, bool],
    key: str = "uri",
    n_rows: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Split the queue by per-``key`` delivery status WITHOUT an IN-literal:
    `isin([...ok_keys...])` inlines every key into the plan — a plan-size
    hazard the moment the queue isn't tiny. A broadcast left join against a
    two-column statuses frame keeps the plan O(1) at any queue length
    (undelivered/unknown keys count as failed).

    ``key`` is "uri" on the flush path (one row per key by construction)
    but MUST be a per-packet identity on the replay path: distinct queued
    packets share a uri, and a uri-keyed dict collapses them — a packet
    that failed could inherit a later same-uri success and silently drop
    from the queue (data loss).

    No join runs when the outcome is uniform: nothing delivered, or — given
    ``n_rows``, the frame's row count, and statuses for the frame's own keys
    (the sender contract) — everything delivered."""
    n_ok = sum(statuses.values())
    if n_ok == 0:
        return eligible.limit(0), eligible
    if n_ok == n_rows:
        return eligible, eligible.limit(0)
    import pyarrow as pa

    # Arrow, not a Python list (or an empty pandas frame, which falls back to
    # one): that lineage holds a PythonRDD, and every read would start Python
    # worker tasks; from Arrow it is a JVM-local relation
    status_df = eligible.sparkSession.createDataFrame(
        pa.table({key: list(statuses), "delivered": list(map(bool, statuses.values()))})
    )
    joined = eligible.join(F.broadcast(status_df), key, "left")
    delivered = F.coalesce(F.col("delivered"), F.lit(False))
    return (
        joined.filter(delivered).drop("delivered"),
        joined.filter(~delivered).drop("delivered"),
    )


def unload_state_stores(spark: SparkSession) -> None:
    """EXPLICIT hygiene: release finished queries' state-store heap now.

    Spark caches every loaded state-store provider executor-side
    (``StateStore.loadedProviders``); the maintenance tick
    (``spark.sql.streaming.stateStore.maintenanceInterval``, default
    60 s) evicts the ones no active query holds. For up to a minute
    after an availableNow pass terminates, its state therefore stays
    live in the executor heap. The r09 diagnosis (tools/tri_probe.py)
    measured both sides of the trade and decided AGAINST calling this
    automatically: the pinned heap at gate scale is small (~50 MB after
    q_stream_minhash at sf0.1, direct Runtime heap measurement), the
    same-host wall outliers first attributed to it turned out to be
    hypervisor steal, and an automatic unload costs ~30% on every
    stream re-run in the same session (9.0-9.7 s -> 11.6-12.0 s
    same-session A/B: each run re-loads providers from checkpoint files
    the cache would have kept warm). Call it explicitly in a
    long-running mixed pipeline before a heap-critical batch job when
    the preceding streaming state is known to be large (the ~sf1
    interval join holds multi-GB state). Only safe - and only acting -
    when no stream is active."""
    if spark.streams.active:
        return
    try:
        spark._jvm.org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    except Exception:
        pass  # internal API; a Spark upgrade must not break the data path


class GraphiteListener(StreamingQueryListener):
    """Received-side counter capture (main.go:209-216): each progress event
    carries the ``gr_received`` observed metrics — Spark's accumulator-backed
    ``observe()`` aggregates are the distributed analog of the reference's
    mutex-guarded counter map (summed executor-side within the micro-batch,
    delivered with the progress event, zero extra passes) — and increments
    the reference's Graphite counter names into a MetricStorage."""

    OBSERVATION = "gr_received"

    def __init__(self, storage: MetricStorage) -> None:
        self.storage = storage
        self.events = 0

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        row = event.progress.observedMetrics.get(self.OBSERVATION)
        if row is None:
            return
        self.events += 1
        self.storage.increment(
            f"{PREFIX_CNT}.requests_received", row["requests_received"]
        )
        self.storage.increment(f"{PREFIX_CNT}.bytes_received", row["bytes_received"])

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass


class FlushPipeline:
    """request-record stream → validate → groupBy(uri) concat → per-key sink,
    with DLQ spill for failed keys."""

    def __init__(
        self,
        spark: SparkSession,
        source_dir: str,
        sink_dir: str,
        dlq_dir: str,
        checkpoint_dir: str,
        trigger_seconds: int = 2,
        fail_predicate: Column | None = None,
        fwd: str = FWD_HOST,
        repl: str = REPL_HOST,
        sender: Callable[[DataFrame], dict[str, bool]] | None = None,
        partition_by_table: bool = False,
        metric_storage: MetricStorage | None = None,
    ) -> None:
        self.spark = spark
        self.source_dir = source_dir
        self.sink_dir = sink_dir
        self.dlq_dir = dlq_dir
        self.checkpoint_dir = checkpoint_dir
        self.trigger_seconds = trigger_seconds
        self.fail_predicate = fail_predicate
        self.fwd = fwd
        self.repl = repl
        # a real delivery boundary (e.g. sinks.http_sink.http_send): called
        # with the flush frame, returns {uri: delivered}; delivery failures
        # spill to the DLQ exactly like fail_predicate ones
        self.sender = sender
        # Hive-partition the sink by extracted table name: per-table readers
        # then prune to their directory at the SCAN (PartitionFilters), the
        # layout that keeps a 100 TB multi-tenant sink queryable. The
        # reference's analog is its per-table metric split (extractTable,
        # main.go:210-216) — here the split is physical.
        self.partition_by_table = partition_by_table
        # per-flush delivery counters — the reference's rows_sent /
        # requests_sent / bytes_sent Graphite metrics (main.go:394-405),
        # collected via observe(): piggybacked on the sink action, no
        # second pass over the data.
        self.metrics: list[dict] = []
        # Graphite counter map (metric.go): sent-side counters are
        # incremented by the flush below; received-side ones by a
        # GraphiteListener reading the stream's observed metrics.
        self.metric_storage = metric_storage

    # -- one micro-batch = one reference flush cycle -------------------------
    def _flush(self, batch_df: DataFrame, batch_id: int) -> None:
        import time

        grouped = sink_frame(batch_df, self.fwd, self.repl).withColumn(
            "batch_id", F.lit(batch_id)
        )
        n_keys = None  # counted on the sender path only
        if self.sender is not None:
            # real delivery: POST each key, partition by outcome. The frame
            # is one row per distinct key, so materializing it for the send
            # mirrors the reference's sequential flush loop (main.go:290-293)
            # while the sends themselves run executor-side.
            # send + both filters: one compute. Scoped: a streaming query
            # checkpoints one flush frame per micro-batch — without freeing
            # the previous batch's blocks this leaks for the stream's
            # lifetime (see checkpoints.py). The key count rides the
            # checkpoint (observe), so no job probes the spill below.
            keys_obs = Observation()
            grouped = scoped_checkpoint(
                grouped.observe(keys_obs, F.count(F.lit(1)).alias("keys")),
                "flush_frame",
            )
            # sendDuration times the HTTP send, as the reference does
            # (main.go:426), not the sink-table write
            send_start = time.monotonic()
            delivered = self.sender(grouped)
            send_ms = int((time.monotonic() - send_start) * 1000)
            n_keys = keys_obs.get["keys"]
            # statuses join, not isin(): an IN-literal inlines every key
            # into the plan (see _split_by_statuses)
            ok, failed = _split_by_statuses(grouped, delivered, n_rows=n_keys)
        else:
            ok, failed = _split_by_failure(grouped, self.fail_predicate)
        obs = Observation()
        ok = ok.observe(
            obs,
            F.count(F.lit(1)).alias("requests_sent"),
            F.coalesce(F.sum("rowcount"), F.lit(0)).alias("rows_sent"),
            F.coalesce(F.sum(F.length("buffer")), F.lit(0)).alias("bytes_sent"),
        )
        # One output file per flush mirrors "few large requests": the frame
        # is tiny (one row per distinct uri), so coalesce(1) costs nothing.
        writer = ok.coalesce(1).write.mode("append")
        if self.partition_by_table:
            writer = writer.partitionBy("table_name")
        write_start = time.monotonic()
        writer.parquet(self.sink_dir)
        if self.sender is None:  # no sender: the sink write IS the send
            send_ms = int((time.monotonic() - write_start) * 1000)
        m = {"batch_id": batch_id, **obs.get}
        self.metrics.append(m)
        if self.metric_storage is not None:
            # sent-side increments, aggregated per flush (main.go:394-405,
            # 426-428; same totals as the reference's per-send calls)
            self.metric_storage.increment(
                f"{PREFIX_CNT}.requests_sent", m["requests_sent"]
            )
            self.metric_storage.increment(f"{PREFIX_CNT}.rows_sent", m["rows_sent"])
            self.metric_storage.increment(f"{PREFIX_CNT}.bytes_sent", m["bytes_sent"])
            self.metric_storage.increment(f"{PREFIX_AVG}.bytes_sent", m["bytes_sent"])
            self.metric_storage.increment("bytesSent", m["bytes_sent"])
            self.metric_storage.increment("sendDuration", send_ms)
        spilled = failed.select(
            F.col("uri"),
            F.col("buffer").alias("body"),
            F.lit(1).cast("int").alias("level"),  # first failure → level 1 (main.go:441)
            (F.unix_micros(F.current_timestamp()) * 1000).alias("created_ns"),
        )
        if n_keys is None:  # a predicate split has no key count: probe
            has_failed = bool(spilled.take(1))
        else:  # failed keys = keys − delivered keys
            has_failed = n_keys > m["requests_sent"]
        if has_failed:
            spilled.coalesce(1).write.mode("append").parquet(self.dlq_dir)

    def start(self, available_now: bool = False) -> StreamingQuery:
        schema = self.spark.read.parquet(self.source_dir).schema
        stream = self.spark.readStream.schema(schema).parquet(self.source_dir)
        if self.metric_storage is not None:
            # received-side counters (main.go:209-216: accepted inserts
            # only) ride the micro-batch as observed metrics; a
            # GraphiteListener turns each progress event into increments.
            accepted = (
                (F.col("method") == "POST")
                & (F.col("path") == "/")
                & (F.length("body") > 0)
            )
            stream = stream.observe(
                GraphiteListener.OBSERVATION,
                F.coalesce(
                    F.sum(F.when(accepted, 1)), F.lit(0)
                ).alias("requests_received"),
                F.coalesce(
                    F.sum(F.when(accepted, F.length("body"))), F.lit(0)
                ).alias("bytes_received"),
            )
        writer = stream.writeStream.foreachBatch(self._flush).option(
            "checkpointLocation", self.checkpoint_dir
        )
        if available_now:
            writer = writer.trigger(availableNow=True)
        else:
            writer = writer.trigger(processingTime=f"{self.trigger_seconds} seconds")
        return writer.start()


def replay_dlq(
    spark: SparkSession,
    dlq_dir: str,
    sink_dir: str,
    fail_predicate: Column | None = None,
    sender: Callable[[DataFrame], dict[str, bool]] | None = None,
    throttle_seconds: float = 0.0,
    fwd: str = FWD_HOST,
    repl: str = REPL_HOST,
    replay_batch_size: int = 1,
) -> dict[str, int]:
    """One recovery pass (reference backgroundRecovery/checkErr semantics,
    main.go:302-321, 447-485):

    - read the DLQ, skip quarantined packets (level >= MAX_LEVEL — the 'O'
      prefix rule as a predicate),
    - replay in (level, created_ns) order (the lexicographic filename sort),
    - delivered packets land in the sink; failed packets are re-spilled at
      level + 1; level >= MAX_LEVEL → quarantined forever.

    ``sender`` is a FRAME sender (``sinks.http_sink.http_send``): delivery
    happens executor-side exactly like the flush path, so packet payloads
    never transit the driver (VERDICT r3 #6 — a mass-outage queue could be
    GBs; only (uri, delivered) statuses come back). The driver keeps the
    PACING: packets replay in ``replay_batch_size`` chunks (default 1 — the
    reference's one-packet-at-a-time loop) with ``throttle_seconds`` sleep
    between chunks (main.go:480's 1 s pause) — gentle, ordered pressure on
    a recovering downstream, each chunk a single-task ordered send.

    Spark jobs of one pass with a sender (AQE runs each shuffle or cache
    stage as a job of its own):

    - the DLQ read's schema inference;
    - the replay sequence (window + cache), with ``count`` for the chunk loop;
    - one send per chunk — the only Python-worker tasks;
    - the ``replayed/`` append, only when a packet was delivered;
    - the queue rewrite; ``requeued`` and ``quarantined`` ride it as
      ``observe()`` metrics, and ``replayed`` is the sum of the statuses.

    The delivery-status broadcast (a JVM-local Arrow relation) adds one job
    to each write only when some packets were delivered and others not.
    Without a sender, a ``count`` of the delivered rows replaces the sends.

    Returns counters {replayed, requeued, quarantined} (the reference's
    Graphite metrics analog)."""
    # Crash recovery: a kill between the two swap renames below leaves the
    # previous queue generation at .old. MERGE it back rather than
    # restore-if-empty: the flush pipeline's spill APPENDS can recreate
    # dlq_dir with fresh packets before the next replay runs, and a
    # rename-only recovery would then skip the restore and the swap's
    # pre-clean would delete every pre-crash packet (data loss). Parquet
    # part files carry UUID names, so moving .old's files in never
    # collides; duplicates-on-replay are fine (at-least-once is the
    # delivery contract, loss is not — batch_id dedupe is downstream's
    # documented job).
    _old = dlq_dir.rstrip("/") + ".old"
    if os.path.isdir(_old):
        if not os.path.isdir(dlq_dir):
            os.rename(_old, dlq_dir)
        else:
            import shutil as _shutil

            for f in os.listdir(_old):
                if not f.startswith("_"):
                    os.rename(
                        os.path.join(_old, f), os.path.join(dlq_dir, f)
                    )
            _shutil.rmtree(_old, ignore_errors=True)
    if not os.path.isdir(dlq_dir) or not os.listdir(dlq_dir):
        return {"replayed": 0, "requeued": 0, "quarantined": 0}
    # No cache: every read below runs before the swap renames, against the
    # file list fixed when the frame is created.
    dlq = spark.read.parquet(dlq_dir)
    eligible = dlq.filter(F.col("level") < MAX_LEVEL)
    quarantined = dlq.filter(F.col("level") >= MAX_LEVEL)

    if sender is not None:
        import time as _time

        from pyspark.sql import Window

        from ..functions.scalars import url_rewrite

        # Global replay sequence = the reference's lexicographic filename
        # order. The unpartitioned row_number is bounded by failure volume
        # (the same justification as q_dlq_replay_order's plan whitelist);
        # payloads stay on executors — the driver sees only row COUNT and
        # per-chunk (packet_id, delivered) statuses. The seq doubles as the
        # per-packet delivery identity: distinct packets share a uri, so a
        # uri-keyed status dict would collapse them (a failed packet could
        # inherit a later same-uri success and vanish from the queue).
        seqd = (
            eligible.withColumn(
                "seq", F.row_number().over(Window.orderBy("level", "created_ns"))
            )
            .withColumn("packet_id", F.col("seq").cast("string"))
            .withColumn("target_url", url_rewrite(F.col("uri"), fwd, repl))
            .withColumn("buffer", F.col("body"))
            .cache()
        )
        n_eligible = seqd.count()
        statuses: dict[str, bool] = {}
        for start in range(1, n_eligible + 1, replay_batch_size):
            chunk = (
                seqd.filter(
                    F.col("seq").between(start, start + replay_batch_size - 1)
                )
                .select("seq", "packet_id", "uri", "target_url", "buffer")
                .coalesce(1)  # one task → in-order send
                .sortWithinPartitions("seq")
            )
            statuses.update(sender(chunk))
            if throttle_seconds and start + replay_batch_size <= n_eligible:
                _time.sleep(throttle_seconds)
        # the statuses hold every outcome: no job counts the delivered rows
        n_replayed = sum(statuses.values())
        ok, failed = _split_by_statuses(
            seqd, statuses, key="packet_id", n_rows=n_eligible
        )
        helper = ["seq", "packet_id", "target_url", "buffer"]
        ok, failed = ok.drop(*helper), failed.drop(*helper)
    else:
        ok, failed = _split_by_failure(
            eligible.orderBy("level", "created_ns"), fail_predicate
        )
        # the count doubles as the write guard below
        n_replayed = ok.count()
    delivered = ok.select(
        "uri",
        F.col("body").alias("buffer"),
        F.lit(-1).cast("bigint").alias("rowcount"),  # replay reports rowcount=1 in the
        # reference (main.go:479) — we mark replayed rows -1 instead of lying
        F.lit(-1).cast("bigint").alias("batch_id"),
    )
    # An unconditional write is NOT equivalent: an empty append still
    # creates a zero-row part file, which the quarantine contract forbids
    # (test_streaming.py pins no parquet under replayed/ when nothing ships).
    if n_replayed:
        delivered.coalesce(1).write.mode("append").parquet(
            os.path.join(sink_dir, "replayed")
        )

    escalated = failed.withColumn("level", (F.col("level") + 1).cast("int"))
    # requeued/quarantined ride the queue rewrite below (observe), not
    # count jobs of their own
    obs = Observation()
    new_dlq = escalated.unionByName(quarantined).observe(
        obs,
        F.count(F.when(F.col("level") < MAX_LEVEL, 1)).alias("requeued"),
        F.count(F.when(F.col("level") >= MAX_LEVEL, 1)).alias("quarantined"),
    )
    # rewrite the queue: tmp-dir + two-rename swap (the pudge-file delete
    # analog, crash-safe: rmtree-then-rename has a window that destroys
    # the queue outright — the sinks/compact.py swap discipline instead).
    # repartition by level (not coalesce(1)) so a large queue rewrites in
    # parallel, one writer per retry level; layout stays flat so spill
    # appends and partition discovery keep working.
    tmp = dlq_dir.rstrip("/") + ".tmp"
    new_dlq.repartition("level").write.mode("overwrite").parquet(tmp)
    counts = {"replayed": n_replayed, **obs.get}
    if sender is not None:
        seqd.unpersist()  # ok/failed derive from it — keep cached until here
    import shutil

    old = dlq_dir.rstrip("/") + ".old"
    if os.path.isdir(old):
        shutil.rmtree(old)
    os.rename(dlq_dir, old)
    os.rename(tmp, dlq_dir)
    shutil.rmtree(old, ignore_errors=True)
    return counts


# ---------------------------------------------------------------------------
# Driver-checkable streaming behaviors (SURVEY §2.9 T1/T2). These run the
# REAL pipeline (Structured Streaming availableNow / the replay batch job)
# into session-scoped temp dirs and return the resulting state as a
# DataFrame, so the micro-batch semantics themselves are differentially
# tested against a SQL oracle — not just unit-asserted.
# ---------------------------------------------------------------------------


def flush_trigger_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T1: one availableNow pass over the request stream (single source file
    → single micro-batch). The flushed sink must equal the batch
    q_batch_sink frame exactly — proving trigger+foreachBatch reproduce the
    reference's map-swap-flush semantics."""
    from ..sources.requests import requests_df

    out = two_pass(
        spark, sf_dir, "t1_flush_", requests_df(spark, sf_dir), None,
        lambda src, out, ckpt: FlushPipeline(
            spark, src, out, out + "_dlq", ckpt
        ).start(available_now=True),
    )
    return spark.read.parquet(out).select(
        "uri", "target_url", "table_name", "buffer", "rowcount", "n_requests"
    )


def dlq_replay_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T2: one recovery pass over a synthetic DLQ where every odd-level
    packet fails again (deterministic). Returns the post-replay queue state:
    delivered evens removed, failed odds escalated level+1, quarantined
    (>= MAX_LEVEL) untouched — the checkErr/saveToErrors state transition
    (main.go:447-485, 365-373) as a checkable table."""
    from ..operators.dlq import dlq_frame

    base = scratch_dir("t2_replay_")
    dlq_dir = os.path.join(base, "dlq")
    sink_dir = os.path.join(base, "sink")
    dlq_frame(spark, sf_dir).coalesce(1).write.parquet(dlq_dir)
    replay_dlq(
        spark, dlq_dir, sink_dir, fail_predicate=F.col("level") % 2 == 1
    )
    return spark.read.parquet(dlq_dir).select(
        "event_id", "uri", "body", "level", "created_ns"
    )


# ---------------------------------------------------------------------------
# Cross-batch state: the reference's cumulative per-key counters.
#
# The in/out atomics (main.go:77-82, bumped at main.go:209/292) are the one
# piece of reference state that outlives a flush cycle (the buffer map is
# dropped every trigger; DLQ state lives in its table). Spark-first this is
# applyInPandasWithState: per-key totals live in the state store, persist
# across micro-batches AND restarts via the checkpoint, and each trigger
# appends (uri, batch_requests, batch_rows, total_requests, total_rows).
# At 1000 executors the state store shards by the groupBy key like any
# other stateful aggregation.
# ---------------------------------------------------------------------------

CUM_OUT_SCHEMA = (
    "uri string, batch_requests bigint, batch_rows bigint, "
    "total_requests bigint, total_rows bigint"
)
CUM_STATE_SCHEMA = "total_requests bigint, total_rows bigint"


def _accumulate(key, pdfs, state):
    import pandas as pd

    n_req = 0
    n_rows = 0
    for pdf in pdfs:
        n_req += len(pdf)
        n_rows += int(pdf["n_rows"].sum())
    prev_req, prev_rows = state.get if state.exists else (0, 0)
    total_req, total_rows = prev_req + n_req, prev_rows + n_rows
    state.update((total_req, total_rows))
    yield pd.DataFrame(
        {
            "uri": [key[0]],
            "batch_requests": [n_req],
            "batch_rows": [n_rows],
            "total_requests": [total_req],
            "total_rows": [total_rows],
        }
    )


def cumulative_counters(
    spark: SparkSession, source_dir: str, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """Start one availableNow pass of the stateful counter stream. Calling
    it again after appending more source files resumes from the checkpoint:
    totals continue, proving state survives restarts (the semantics the
    reference only gets within one process lifetime)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    from ..operators.ingest import validate_requests, with_format, with_row_count
    from ..sources.requests import requests_stream_df

    stream = requests_stream_df(spark, source_dir)
    prepared = with_row_count(with_format(validate_requests(stream))).select(
        "uri", "n_rows"
    )
    counted = prepared.groupBy("uri").applyInPandasWithState(
        _accumulate,
        CUM_OUT_SCHEMA,
        CUM_STATE_SCHEMA,
        "append",
        GroupStateTimeout.NoTimeout,
    )
    return parquet_sink(counted, out_dir, checkpoint_dir)


# ---------------------------------------------------------------------------
# Event-time windows + watermark (SURVEY §2.9 T3). The reference has no
# event time at all (processing-time trigger only); this is the north-star
# upgrade: per-(window, uri) request counts over the request records' own
# timestamps, with a watermark bounding state and dropping late arrivals.
# ---------------------------------------------------------------------------

WATERMARK_DELAY = "10 minutes"
WINDOW_SIZE = "1 hour"


def _event_time_as_instant(df: DataFrame, col: str) -> DataFrame:
    """withWatermark rejects TIMESTAMP_NTZ; convert wall-clock-as-UTC to an
    instant via the epoch anchor — session-timezone-independent, unlike a
    plain cast (which would re-interpret the wall clock in session tz).
    No-op for streams that already carry instants."""
    from ..tables import EPOCH_NTZ

    if df.schema[col].dataType.typeName() != "timestamp_ntz":
        return df
    return df.withColumn(
        col,
        F.expr(f"timestamp_micros(timestampdiff(MICROSECOND, {EPOCH_NTZ}, `{col}`))"),
    )


def windowed_counts(
    spark: SparkSession, source_dir: str, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """One availableNow pass of the event-time windowed counter stream.
    Append mode: a (window, uri) row is emitted only once its window is
    closed by the watermark; rows arriving after their window closed are
    dropped — bounded state at any scale (the alternative, keeping every
    window open forever, is exactly what does NOT survive 100 TB)."""
    from ..operators.ingest import validate_requests
    from ..sources.requests import requests_stream_df

    stream = requests_stream_df(spark, source_dir)
    valid = _event_time_as_instant(validate_requests(stream), "recv_ts")
    counted = (
        valid
        .withWatermark("recv_ts", WATERMARK_DELAY)
        .groupBy(F.window("recv_ts", WINDOW_SIZE).alias("w"), F.col("uri"))
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .select(
            F.col("w.start").alias("window_start"),
            "uri",
            "n_requests",
        )
    )
    return parquet_sink(counted, out_dir, checkpoint_dir)


# ---------------------------------------------------------------------------
# Streaming exact dedup (north-star: the streaming face of q_dedup_exact).
# The reference replays DLQ packets at-least-once, so duplicates REACH the
# downstream (SURVEY §2.9 T5); this operator is the missing suppression
# stage: emit each logical record once, with state bounded by the watermark
# instead of growing forever — the only dedup contract that survives an
# unbounded stream. Duplicates older than the watermark are NOT suppressed
# (their state is evicted); that bound is the documented trade, tested
# explicitly in tests/test_streaming.py.
# ---------------------------------------------------------------------------

DEDUP_DELAY = "10 minutes"


def dedup_stream(
    spark: SparkSession, source_dir: str, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """One availableNow pass of watermark-bounded exact dedup on event_id:
    re-running after appending source files resumes from the checkpoint, so
    duplicates arriving across restarts (the DLQ-replay case) are suppressed
    as long as they land within the watermark delay."""
    from ..operators.ingest import validate_requests
    from ..sources.requests import requests_stream_df

    stream = requests_stream_df(spark, source_dir)
    deduped = (
        _event_time_as_instant(validate_requests(stream), "recv_ts")
        .withWatermark("recv_ts", DEDUP_DELAY)
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "recv_ts", "uri", "body")
    )
    return parquet_sink(deduped, out_dir, checkpoint_dir)


# ---------------------------------------------------------------------------
# Stream-static enrichment join: each micro-batch joins the request stream
# against a slowly-changing routing dim (table_name -> route), re-read per
# batch so dim updates are picked up without restarting the query. The dim
# side broadcasts (it is the small side by construction), so the stream is
# never shuffled — at 1000 executors the batch cost stays O(stream rows).
# The reference's analog is the static `fwd`/`repl` flag pair
# (main.go:36-37): a 2-entry routing table frozen at process start.
# ---------------------------------------------------------------------------


def enrich_stream(
    spark: SparkSession,
    source_dir: str,
    dim_path: str,
    out_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """One availableNow pass joining the validated request stream to the
    routing dim on the extracted table name. Left join: tables without a
    route still flow (route null), mirroring the reference's pass-through
    default rather than dropping traffic on a dim miss."""
    from ..functions.scalars import extract_table
    from ..operators.ingest import validate_requests
    from ..sources.requests import requests_stream_df

    dim = F.broadcast(spark.read.parquet(dim_path))
    stream = validate_requests(requests_stream_df(spark, source_dir)).withColumn(
        "table_name", extract_table(F.col("uri"))
    )
    enriched = stream.join(dim, "table_name", "left").select(
        "event_id", "recv_ts", "uri", "table_name", "route", "body"
    )
    return parquet_sink(enriched, out_dir, checkpoint_dir)


def stream_cumulative_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4, oracle-checked: the custom stateful operator
    (applyInPandasWithState cumulative per-key totals) run as TWO real
    availableNow passes — the second resumes from the first's checkpoint
    after more source data lands — then reduced to final per-key totals.
    The result must hash-match a plain batch aggregation over the same
    requests: state that survives a restart and still sums correctly is
    exactly the cross-process upgrade over the reference's in-memory
    atomics (main.go:77-82, 209, 292), here proven through the driver's
    differential gate rather than only in pytest."""
    from ..sources.requests import requests_df

    req = requests_df(spark, sf_dir)
    out = two_pass(
        spark, sf_dir, "t4_cum_", req.filter(F.col("event_id") % 2 == 0),
        req.filter(F.col("event_id") % 2 == 1),
        lambda *dirs: cumulative_counters(spark, *dirs),
    )
    emitted = spark.read.parquet(out)
    # totals are monotone per key, so the final state is the max emission;
    # keys whose data all arrived in pass 1 emit nothing in pass 2 (append
    # mode yields only groups present in the batch) — max covers both cases
    return emitted.groupBy("uri").agg(
        F.max("total_requests").alias("total_requests"),
        F.max("total_rows").alias("total_rows"),
    )


def stream_windowed_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3, oracle-checked: the REAL watermarked event-time windowed stream,
    run as two availableNow passes. Pass 1 (even event_ids) advances the
    checkpointed watermark to max(recv_ts)-10min; pass 2 (odd event_ids)
    emits exactly the windows that watermark closed — counting ONLY pass-1
    rows, because pass-2 rows for closed windows are dropped as late and
    open windows stay unemitted in state. Every piece of that sentence is
    derivable in plain SQL over the same request stream, so watermark
    advancement, late-row drops, and append-mode emission are all proven
    through the driver's differential gate."""
    from ..sources.requests import requests_df
    from ..tables import EPOCH_NTZ

    req = requests_df(spark, sf_dir)
    out = two_pass(
        spark, sf_dir, "t3_window_", req.filter(F.col("event_id") % 2 == 0),
        req.filter(F.col("event_id") % 2 == 1),
        lambda *dirs: windowed_counts(spark, *dirs),
    )

    # window_start back to NTZ wall clock (instant → naive-as-UTC) so the
    # driver's canonicalizer compares it against DuckDB naive timestamps
    return spark.read.parquet(out).select(
        F.expr(
            f"timestampadd(MICROSECOND, unix_micros(window_start), {EPOCH_NTZ})"
        ).alias("window_start"),
        "uri",
        "n_requests",
    )


def stream_dedup_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6, oracle-checked: watermark-bounded streaming dedup under DLQ-style
    replay. Pass 1 streams the even-id requests; pass 2 streams the odd-id
    requests PLUS a replay of every sixth even request (same event_id, same
    recv_ts — exactly what an at-least-once DLQ replay re-delivers).

    Empirically established semantics the SQL oracle declares:
    dropDuplicatesWithinWatermark drops any row older than the batch-start
    watermark (late), and suppresses any non-late duplicate whose state is
    still live — and a same-timestamp replay is ALWAYS one or the other
    (recv_ts < w1 ⇒ late; recv_ts >= w1 ⇒ state unexpired, since expiry is
    recv_ts + delay > w1). Net: every replayed duplicate is suppressed, and
    of the fresh odd rows exactly those at or above w1 = max(even recv_ts)
    - 10min survive. The reference cannot do this at all — its replay path
    knowingly re-delivers duplicates (SURVEY §2.9 T5)."""
    from ..sources.requests import requests_df
    from ..tables import EPOCH_NTZ

    req = requests_df(spark, sf_dir)
    replay = req.filter(F.col("event_id") % 6 == 0)
    out = two_pass(
        spark, sf_dir, "t6_dedup_", req.filter(F.col("event_id") % 2 == 0),
        req.filter(F.col("event_id") % 2 == 1).unionByName(replay),
        lambda *dirs: dedup_stream(spark, *dirs),
    )

    return spark.read.parquet(out).select(
        "event_id",
        F.expr(f"timestampadd(MICROSECOND, unix_micros(recv_ts), {EPOCH_NTZ})").alias(
            "recv_ts"
        ),
        "uri",
        "body",
    )


# deterministic routing dim for the oracle-checked enrichment pass: three
# tables routed, the rest deliberately unrouted (left-join pass-through)
ENRICH_ROUTES = (("click", "ch-0"), ("view", "ch-1"), ("error", "ch-2"))


def stream_enrich_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6b, oracle-checked: one REAL availableNow pass of the stream-static
    broadcast enrichment join (per-batch re-read routing dim, stream never
    shuffles — the scale contract pinned in tests). Left join: unrouted
    tables flow with route NULL, mirroring the reference's pass-through
    default (its entire 'dim' is the frozen fwd/repl flag pair,
    main.go:36-37). The sink must hash-match the plain batch SQL join."""
    from ..sources.requests import requests_df

    dim = os.path.join(scratch_dir("t6_enrich_dim_"), "dim")
    spark.createDataFrame(
        list(ENRICH_ROUTES), "table_name string, route string"
    ).coalesce(1).write.parquet(dim)
    out = two_pass(
        spark, sf_dir, "t6_enrich_", requests_df(spark, sf_dir), None,
        lambda src, out, ckpt: enrich_stream(spark, src, dim, out, ckpt),
    )
    return spark.read.parquet(out).select(
        "event_id", "uri", "table_name", "route"
    )


# ---------------------------------------------------------------------------
# Stream-stream interval join (north-star T-family extension): the
# impressions⋈clicks shape — two unbounded streams joined on a key plus an
# event-time interval. The reference has nothing remotely like this (its
# single stream is never joined, SURVEY §2.3); in Spark it is the
# StreamingSymmetricHashJoin: both sides are watermarked, state is kept
# per key and evicted once the watermark proves no future match can
# arrive, and the interval condition (b_ts ∈ [a_ts, a_ts + W]) is what
# makes that eviction bound exist at all — an unconstrained stream-stream
# join would hold both streams forever, which is exactly what does not
# survive an unbounded run. State is partitioned by the equi-key (uri),
# so at 1000 executors the join scales like any keyed shuffle; per-key
# state is O(rows in the W+delay horizon), independent of stream length.
# ---------------------------------------------------------------------------

#: Watermark delay for BOTH join sides, as one numeric source of truth:
#: the streaming `.withWatermark` string, the batch oracle's `- INTERVAL n
#: MINUTE` (registry.IJOIN_LEFT_ORACLE), and the boundary test's carrier
#: offset are all derived from this number, so a future delay change moves
#: every spelling at once instead of breaking the oracle in a way that
#: must be re-diagnosed (ADVICE r08 #2).
IJOIN_DELAY_MINUTES = 10
IJOIN_DELAY = f"{IJOIN_DELAY_MINUTES} minutes"
IJOIN_DELAY_US = IJOIN_DELAY_MINUTES * 60 * 1_000_000
IJOIN_WINDOW_DAYS = 2
#: Time-bucket width for the join's composite state key, == the match
#: window. The raw equi-key (uri) has only dozens of distinct values, so
#: keying state by uri alone caps the join's parallelism at #uris and makes
#: every probe scan the ENTIRE per-uri history — the r06 ~sf1 digest run
#: spent 3709 s streaming vs 38 s batch on exactly that (VERDICT r06 #3).
#: Keying by (uri, floor(event_time / W)) multiplies key cardinality by
#: #buckets (timeline/W) and bounds each probe's state scan to a 2W span
#: instead of the full stream history; the B side is exploded into its two
#: candidate A-buckets (a_ts ∈ [b_ts - W, b_ts] ⇒ bucket(a_ts) ∈
#: {bucket(b_ts)-1, bucket(b_ts)} exactly, since W divides the bucket
#: width), so every true pair still matches exactly once and no false pair
#: can (the interval predicate is unchanged). At 1000 executors this is the
#: difference between dozens of usable state partitions and thousands.
IJOIN_BUCKET_US = IJOIN_WINDOW_DAYS * 86_400 * 1_000_000
# Arrival split for the two-pass run — BOTH sides deliver their
# post-split rows in pass 2 (fixture timeline is 2024-01-01..30). Chosen
# so pass-2 rows are never late (event time > split > watermark₁) and no
# inner match is lost to eviction: a pass-2 A row's partners all have
# b_ts >= a_ts > split (co-arriving in pass 2), and a pass-1 A row
# evicted before pass 2 has a_ts + W < watermark₁ < split, so its
# would-be pass-2 partners (b_ts > split) fail the interval predicate —
# the completeness argument is arithmetic, not an empirically-tuned
# boundary. Splitting BOTH sides also keeps the watermark honest across
# the restart (see _interval_join_two_pass).
IJOIN_SPLIT = "2024-01-24 00:00:00"


def interval_join_stream(
    spark: SparkSession,
    a_dir: str,
    b_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    join_type: str = "inner",
) -> StreamingQuery:
    """One availableNow pass of the watermarked stream-stream interval
    join: A-side requests matched to same-uri B-side requests arriving
    within the next IJOIN_WINDOW_DAYS. ``join_type="leftOuter"`` adds the
    unmatched-A contract: an A row with no B partner is emitted
    null-padded only once the watermark proves no partner can still
    arrive (state eviction IS the emission trigger — the streaming
    difference from a batch outer join, pinned in tests)."""
    from ..operators.ingest import validate_requests
    from ..sources.requests import requests_stream_df

    a = (
        _event_time_as_instant(
            validate_requests(requests_stream_df(spark, a_dir)), "recv_ts"
        )
        .select(
            F.col("event_id").alias("a_id"),
            F.col("recv_ts").alias("a_ts"),
            "uri",
        )
        .withWatermark("a_ts", IJOIN_DELAY)
        # composite state key (see IJOIN_BUCKET_US): bounds per-probe state
        # scans to a 2W span and lifts the parallelism cap off #uris
        .withColumn(
            "a_bucket", F.floor(F.unix_micros("a_ts") / F.lit(IJOIN_BUCKET_US))
        )
    )
    b = (
        _event_time_as_instant(
            validate_requests(requests_stream_df(spark, b_dir)), "recv_ts"
        )
        .select(
            F.col("event_id").alias("b_id"),
            F.col("recv_ts").alias("b_ts"),
            F.col("uri").alias("b_uri"),
        )
        .withWatermark("b_ts", IJOIN_DELAY)
        # each B row can only match A rows in exactly these two buckets
        # (bucket width == W, so floor((b-W)/W) == floor(b/W) - 1 always);
        # the interval predicate below keeps correctness independent of
        # this pruning — the explode is a pure state-partitioning aid
        .withColumn(
            "b_abucket",
            F.explode(
                F.array(
                    F.floor(F.unix_micros("b_ts") / F.lit(IJOIN_BUCKET_US)) - 1,
                    F.floor(F.unix_micros("b_ts") / F.lit(IJOIN_BUCKET_US)),
                )
            ),
        )
    )
    joined = a.join(
        b,
        F.expr(
            "uri = b_uri AND a_bucket = b_abucket AND b_ts >= a_ts "
            f"AND b_ts <= a_ts + INTERVAL {IJOIN_WINDOW_DAYS} DAYS"
        ),
        join_type,
    ).select("a_id", "b_id", "uri", "a_ts", "b_ts")
    return parquet_sink(joined, out_dir, checkpoint_dir)


def _interval_join_two_pass(
    spark: SparkSession, sf_dir: str, join_type: str
) -> DataFrame:
    """Shared two-pass body of the T7 interval-join oracles: pass 2
    delivers the post-split rows of BOTH sides against state restored
    from pass 1's checkpoint, so the cross-restart join state is
    exercised, while the split arithmetic (see IJOIN_SPLIT) guarantees
    no row is late and no INNER partner is evicted early."""
    from ..sources.requests import requests_df
    from ..tables import EPOCH_NTZ

    req = requests_df(spark, sf_dir)
    split = F.expr(f"TIMESTAMP_NTZ '{IJOIN_SPLIT}'")
    # BOTH sides are split at IJOIN_SPLIT. A one-sided split (r07 shape)
    # silently freezes the global watermark at pass 1's value: on restart a
    # watermarked column that receives no new rows contributes only the
    # RESTORED global watermark (per-side event-time maxima are not part of
    # checkpoint state), and the min policy pins the global there — measured
    # at sf0.001: pass 2 emitted zero of the 31 leftOuter evictions the
    # final watermark law licenses, and a third no-new-data pass emits
    # nothing at all (availableNow runs no batch without new data or a
    # watermark advance). Splitting both sides re-derives both per-side
    # watermarks from pass-2 data, so the trailing no-data batch flushes
    # under the clean law: wm_final = min over sides of floor_ms(max event
    # time) - delay. The inner match set is unaffected either way (a
    # pass-2 A row's partners all have b_ts >= a_ts > split).
    # Both-side split is also not a COST: an interleaved fresh-JVM A/B at
    # ~sf1 (r08, 2 samples each, digests all matching) read the r07
    # one-sided spelling at 877.7-1155.7 s vs 397.7-567.1 s for this one —
    # pass-1 A state is split-bounded, so pass-1 probes scan less.
    a_rows = req.filter(F.col("event_id") % 2 == 0)
    b_rows = req.filter(F.col("event_id") % 2 == 1)
    out = two_pass(
        spark, sf_dir, "t7_ijoin_",
        {"a": a_rows.filter(F.col("recv_ts") <= split),
         "b": b_rows.filter(F.col("recv_ts") <= split)},
        {"a": a_rows.filter(F.col("recv_ts") > split),
         "b": b_rows.filter(F.col("recv_ts") > split)},
        lambda src, out, ckpt: interval_join_stream(
            spark, os.path.join(src, "a"), os.path.join(src, "b"), out, ckpt,
            join_type,
        ),
    )
    return spark.read.parquet(out).select(
        "a_id",
        "b_id",
        "uri",
        F.expr(f"timestampadd(MICROSECOND, unix_micros(a_ts), {EPOCH_NTZ})").alias(
            "a_ts"
        ),
        F.expr(f"timestampadd(MICROSECOND, unix_micros(b_ts), {EPOCH_NTZ})").alias(
            "b_ts"
        ),
    )


def stream_interval_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7, oracle-checked: the REAL stream-stream interval join run as two
    availableNow passes (see _interval_join_two_pass). The emitted union
    must hash-match the plain batch interval join — any drift in Spark's
    state-eviction bounds would surface as a differential failure, not a
    silent result change."""
    return _interval_join_two_pass(spark, sf_dir, "inner")


def stream_interval_join_left_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T7b: the leftOuter twin of stream_interval_join_query — same
    two-pass run, but unmatched A rows are emitted null-padded when the
    watermark proves no partner can still arrive (state eviction IS the
    emission trigger). NOT in the frozen 324-query registry; consumed by
    tools/ijoin_digest.py --join-type leftOuter and the differential
    pytest against registry.IJOIN_LEFT_ORACLE.

    The batch-expressible emission law was MEASURED, not assumed
    (.scratch probe, r08, pinned in tests/test_streaming.py): an
    unmatched A row is emitted iff

        a_ts + IJOIN_WINDOW_DAYS + 1ms <= watermark_final

    at microsecond precision, where watermark_final = min over sides of
    floor_ms(max event time seen) - IJOIN_DELAY. The 1 ms guard and the
    ms-floor both come from Spark's watermark bookkeeping being
    millisecond-granular (event-time stats truncate to ms; the state-value
    watermark subtracts one further ms). Two-pass safety: the eviction set
    is monotone in the watermark, so pass-1 emissions are a subset of the
    final law, and a pass-1-evicted A row's would-be pass-2 partners are
    impossible by the split arithmetic (b_ts > split > wm_pass1 > a_ts+W).
    """
    return _interval_join_two_pass(spark, sf_dir, "leftOuter")


# ---------------------------------------------------------------------------
# Streaming SESSION windows (T3 extension): gap-based sessions with
# watermark-bounded state — the merging window kind (a new row can fuse
# two open sessions), which tumbling/sliding windows never exercise.
# Cross-batch merge + single emission + late-row immunity are pinned in
# tests/test_streaming.py; q_stream_session_window below additionally
# hash-matches a REAL two-pass run against a declarative SQL model.
# ---------------------------------------------------------------------------

SESSION_GAP = "4 hours"
SESSION_DELAY = "10 minutes"


def session_stream(
    spark: SparkSession, source_dir: str, out_dir: str, checkpoint_dir: str
) -> StreamingQuery:
    """One availableNow pass of per-uri session-window counts (append
    mode: a session is emitted once the watermark passes its end)."""
    from ..operators.ingest import validate_requests
    from ..sources.requests import requests_stream_df

    stream = requests_stream_df(spark, source_dir)
    valid = _event_time_as_instant(validate_requests(stream), "recv_ts")
    sessions = (
        valid.withWatermark("recv_ts", SESSION_DELAY)
        .groupBy(F.col("uri"), F.session_window("recv_ts", SESSION_GAP))
        .agg(F.count(F.lit(1)).alias("n_requests"))
        .select(
            "uri",
            F.col("session_window.start").alias("session_start"),
            F.col("session_window.end").alias("session_end"),
            "n_requests",
        )
    )
    return parquet_sink(sessions, out_dir, checkpoint_dir)


def stream_session_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T3c, oracle-checked: the REAL streaming session windows run as two
    availableNow passes (evens then odds, the stream_windowed split). The
    declarative TWO-PHASE model (the phases mirror the engine's own
    state lifecycle, which a single global sessionize-then-filter cannot:
    pass-1 emission EVICTS a closed session's state, so a pass-2 row can
    never retroactively extend it, while a one-shot model would merge
    that row in and un-emit the session):
    phase 1 — sessionize the evens; emit sessions with end <= w1
    (w1 = max(even recv_ts) - delay); rows of still-open sessions carry
    forward as state. phase 2 — sessionize (state rows ∪ non-late odds)
    and emit sessions with end <= w2 (w2 ranges over ALL rows seen —
    late rows still advance event-time max). The late rule is the
    WINDOW-END rule, the same boundary the tumbling oracle pins: an odd
    row is dropped iff recv_ts + gap <= w1 — a row below w1 but within
    the gap of it is KEPT and seeds state (probe-verified; it surfaces
    in the output only if its session closes by w2)."""
    from ..sources.requests import requests_df
    from ..tables import EPOCH_NTZ

    req = requests_df(spark, sf_dir)
    out = two_pass(
        spark, sf_dir, "t3_session_", req.filter(F.col("event_id") % 2 == 0),
        req.filter(F.col("event_id") % 2 == 1),
        lambda *dirs: session_stream(spark, *dirs),
    )
    return spark.read.parquet(out).select(
        "uri",
        F.expr(
            f"timestampadd(MICROSECOND, unix_micros(session_start), {EPOCH_NTZ})"
        ).alias("session_start"),
        F.expr(
            f"timestampadd(MICROSECOND, unix_micros(session_end), {EPOCH_NTZ})"
        ).alias("session_end"),
        "n_requests",
    )
