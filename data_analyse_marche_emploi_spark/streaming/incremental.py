"""Incremental / streaming operators (SURVEY.md §2.F, §7 step 8).

The reference is batch-only full-refresh (indices dropped and rebuilt
per run, ingestion-elasticsearch.py:253-262), but its design intent is
continuous collection: offers carry ``dateActualisation`` and the keyed
bulk upsert (:36-55) exists precisely so re-ingestion merges by ``id``.
This module is that intent expressed natively:

* file-source ``readStream`` over the events fixture (the stand-in for
  the live offer feed),
* watermarked streaming ``dropDuplicates`` = the keyed upsert,
* tumbling / sliding / session windowed aggregates = the Kibana
  date-histogram dashboards on live data,
* an ``available-now`` runner that drains the whole source as one
  incremental run and returns the result as a DataFrame — which makes
  every streaming op batch-equivalent and therefore oracle-checkable.

Scale notes: watermarks bound state (without one, streaming
``dropDuplicates`` state grows without limit); windowed aggregates keep
one state row per (key, window) and emit on watermark passage; the file
source lists incrementally, so a 100 TB backlog is consumed
``maxFilesPerTrigger`` at a time rather than as one giant microbatch.
"""

from __future__ import annotations

import atexit
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import tables

_STAGED_DIRS: dict[str, str] = {}


def _stage_as_dir(sf_dir: str) -> str:
    """The file stream source requires a directory path; the fixture is a
    single file. Stage it as a symlink inside a per-sf temp directory
    (cached for the process lifetime)."""
    if sf_dir not in _STAGED_DIRS:
        d = tempfile.mkdtemp(prefix="events_stream_")
        os.symlink(
            os.path.join(sf_dir, "events.parquet"), os.path.join(d, "part-0.parquet")
        )
        _STAGED_DIRS[sf_dir] = d
    return _STAGED_DIRS[sf_dir]


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events table (the live-feed stand-in).

    ``ts`` comes out exactly as the batch loader (tables.load_table)
    produces it — nanos fixtures floor-truncate to a micros timestamp,
    micros fixtures pass through — so streaming results compare equal to
    batch.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # streaming file sources require an explicit schema: the batch
    # loader's declaration, following the same footer sniff
    schema, ts_is_nanos = tables.events_read_schema(spark, sf_dir)
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(_stage_as_dir(sf_dir))
    )
    if ts_is_nanos:
        raw = tables.floor_nanos_ts(raw)
    else:
        # withWatermark rejects TIMESTAMP_NTZ; under the UTC-pinned
        # session this cast preserves the wall-clock value exactly.
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def stream_dedup_by_id(events: DataFrame, watermark: str = "2 days") -> DataFrame:
    """Streaming keyed upsert (reference: `_id`-keyed bulk index,
    ingestion-elasticsearch.py:36-55): first-writer-wins dedup on
    ``event_id``.

    ``dropDuplicatesWithinWatermark``, not ``dropDuplicates``: with a
    key set that excludes the event-time column, plain dropDuplicates
    keeps every key in state FOREVER (the watermark only filters late
    input) — an unbounded state store on an unbounded stream. The
    WithinWatermark variant evicts each key once the watermark passes
    its first occurrence, bounding state to the watermark horizon while
    guaranteeing dedup for duplicates that arrive within it."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def stream_tumbling_counts(events: DataFrame, size: str = "1 day",
                           watermark: str = "1 day") -> DataFrame:
    """Tumbling-window volume-over-time (the Kibana date_histogram,
    SURVEY.md §2.D, on live data)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.col("w.start").cast("date").alias("bucket"), "cnt")
    )


def stream_value_histogram(events: DataFrame, bucket_width: int = 50_000_000,
                           watermark: str = "1 day") -> DataFrame:
    """Streaming value-distribution histogram per event type: counts per
    (type, coarse value bucket) — the live feed for distribution-drift
    monitors and the streaming twin of exact_percentiles_2pass's
    histogram pass. Bucket counts are commutative/mergeable aggregation
    state (a few hundred longs per type at any traffic volume), so the
    available-now drain is value-equal to the batch GROUP BY and the
    entry carries a full differential oracle. NULL/NaN values land in a
    NULL bucket, mirroring SQL GROUP BY semantics."""
    v6 = F.when(
        F.col("value").isNotNull() & ~F.isnan(F.col("value")),
        F.floor(F.col("value") * 1e6).cast("long"),
    )
    return (
        events.withWatermark("ts", watermark)
        .withColumn("bucket", F.floor(v6 / bucket_width).cast("long"))
        .groupBy("event_type", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def stream_distinct_users(events: DataFrame, size: str = "1 day",
                          watermark: str = "1 day") -> DataFrame:
    """Streaming per-window distinct users via the mergeable HLL sketch
    (operators/sketches.py rationale): the aggregation state per window
    is a fixed-size sketch, not a user-id set — state stays kilobytes
    per window at any traffic volume, where a countDistinct stream
    would hold every id in state. The estimate is register-max-merged,
    so it equals the batch answer's sketch exactly."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size).alias("w"))
        .agg(
            F.hll_sketch_estimate(
                F.hll_sketch_agg(F.col("user_id"), F.lit(12))
            ).alias("distinct_users")
        )
        .select(F.col("w.start").cast("date").alias("bucket"), "distinct_users")
    )


def stream_sliding_counts(events: DataFrame, size: str = "2 days",
                          slide: str = "1 day", watermark: str = "1 day") -> DataFrame:
    """Sliding-window counts — each event lands in size/slide windows."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", size, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(
            F.col("w.start").cast("timestamp").alias("w_start"),
            F.col("w.end").cast("timestamp").alias("w_end"),
            "cnt",
        )
    )


def session_windows(events: DataFrame, gap: str = "30 minutes",
                    watermark: str | None = None) -> DataFrame:
    """Session windows per user (gap-based). Works identically on batch
    and streaming inputs; streaming requires the watermark to close
    sessions. This is the built-in form of the batch gaps-and-islands
    sessionize in the catalog."""
    src = events.withWatermark("ts", watermark) if watermark else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
        )
    )


def stream_scd2_enrich(events: DataFrame, hist: DataFrame,
                       key: str = "user_id") -> DataFrame:
    """Streaming point-in-time enrichment: join each live event to the
    SCD2 dimension row whose validity interval covers the event's
    timestamp (``valid_from <= ts < valid_to``, open interval =
    current). The canonical stream-static temporal join: the dimension
    is a bounded batch table re-read per micro-batch, so no watermark
    or join state is needed, and at 100 TB the dim side is
    broadcast-sized (key history, not fact volume) while the stream
    side stays a map-side probe — zero shuffle on the fact stream.

    Every event matches exactly one interval (each key's history
    starts at its first event and the last interval is open), so the
    enrichment is row-preserving."""
    h = hist.select(
        F.col(key).alias("__hk"),
        F.col("status").alias("at_status"),
        "valid_from",
        "valid_to",
    )
    cond = (
        (events[key] == h["__hk"])
        & (events["ts"] >= h["valid_from"])
        & (h["valid_to"].isNull() | (events["ts"] < h["valid_to"]))
    )
    return events.join(h, cond).select(
        "event_id", key, "event_type", "at_status"
    )


def stream_stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    lookback: str = "interval 1 hour",
    left_cols: tuple[str, ...] = ("event_id",),
    right_cols: tuple[str, ...] = ("event_id",),
    watermark: str = "2 days",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval condition:
    each left event matches right events of the same key within
    ``[left.ts - lookback, left.ts]`` (e.g. purchases ⋈ the clicks that
    preceded them). Both sides carry watermarks so the join state —
    right rows buffered until no earlier left row can still arrive —
    is bounded and purged as the watermark advances.
    """
    l = left.withWatermark("ts", watermark).select(
        F.col(key).alias("lk"),
        F.col("ts").alias("lts"),
        *[F.col(c).alias(f"l_{c}") for c in left_cols],
    )
    r = right.withWatermark("ts", watermark).select(
        F.col(key).alias("rk"),
        F.col("ts").alias("rts"),
        *[F.col(c).alias(f"r_{c}") for c in right_cols],
    )
    return l.join(
        r,
        F.expr(f"lk = rk AND rts >= lts - {lookback} AND rts <= lts"),
    ).select(
        F.col("lk").alias(key),
        *[f"l_{c}" for c in left_cols],
        *[f"r_{c}" for c in right_cols],
    )


def foreach_batch_upsert(
    stream_df: DataFrame, path: str, key: str, recency: str
) -> None:
    """Incremental keyed upsert into a parquet table via foreachBatch —
    the reference's `_id`-keyed bulk index (ingestion-elasticsearch.py:
    36-55) as a streaming sink. Each micro-batch merges into the target
    with last-writer-wins on ``key`` ordered by ``recency``.

    Parquet has no MERGE, so the merge is read-union-dedup-overwrite —
    correct and idempotent, O(table) per batch; on a lakehouse the same
    hook body becomes ``DeltaTable.merge`` (O(touched files)). Blocks
    until the available data is drained (Trigger.AvailableNow).
    """
    from ..operators.ingest import upsert_dedup

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        try:
            current = spark.read.parquet(path)
            merged = current.unionByName(batch_df)
        except Exception:  # first batch: table doesn't exist yet
            merged = batch_df
        out = upsert_dedup(merged, key, recency=recency)
        # localCheckpoint breaks lineage to the files being overwritten
        out.localCheckpoint(eager=True).write.mode("overwrite").parquet(path)

    with tempfile.TemporaryDirectory(prefix="ckpt_upsert_") as ckpt:
        q = (
            stream_df.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def make_txlog_merge_batch_fn(table, key: str, recency: str,
                              app_id: str | None = None):
    """The per-micro-batch MERGE function behind
    :func:`foreach_batch_merge_txlog`, exposed so a restart test (or a
    caller wiring its own writeStream) can invoke it with explicit
    batch ids. With ``app_id`` set, each commit records
    ``(app_id, batch_id)`` (TxTable.txns — the public formats'
    txnVersion recipe) and a batch id at or below the recorded
    watermark is SKIPPED: exactly-once on micro-batch replay by
    recorded id, not by merge idempotence alone (VERDICT r9 ask #5 —
    the crash window between the sink commit and the engine
    checkpoint advancing replays the last batch on restart)."""
    from ..operators.ingest import upsert_dedup

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if app_id is not None:
            last = table.last_txn(app_id)
            if last is not None and batch_id <= last:
                return  # replayed micro-batch: already committed
        batch = upsert_dedup(batch_df, key, recency=recency)
        # merge_upsert plans against the CURRENT snapshot lazily; the
        # local checkpoint pins the batch rows before any file swap
        table.merge_upsert(
            batch.localCheckpoint(eager=True), key,
            txn=(app_id, batch_id) if app_id is not None else None,
        )

    return merge


def foreach_batch_merge_txlog(
    stream_df: DataFrame, table, key: str, recency: str,
    app_id: str | None = None,
) -> None:
    """Streaming MERGE into the transaction-log table format
    (sources/txlog.py) — the lakehouse-shaped sink the plain-parquet
    ``foreach_batch_upsert`` docstring promises: each micro-batch
    dedups within itself (last-writer-wins on ``recency``), then
    ``TxTable.merge_upsert`` rewrites ONLY the data files whose keys
    the batch touches — O(touched files) per batch instead of the
    read-union-overwrite's O(table). Every batch is one atomic
    versioned commit, so a crash between batches leaves a readable
    snapshot and the checkpoint replays the rest. Pass a stable
    ``app_id`` (one per logical streaming query) to upgrade replay
    handling from merge idempotence to RECORDED batch-id idempotence
    — see :func:`make_txlog_merge_batch_fn`.
    """
    merge = make_txlog_merge_batch_fn(table, key, recency, app_id=app_id)

    with tempfile.TemporaryDirectory(prefix="ckpt_txlog_") as ckpt:
        q = (
            stream_df.writeStream.foreachBatch(merge)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


# append-mode drains write to per-call parquet sink dirs; keep the most
# recent few (callers materialize promptly) and reap the rest eagerly,
# with a process-exit sweep as the backstop
_SINK_DIRS: list[str] = []
_SINK_KEEP = 16


def _reap_sinks_at_exit() -> None:
    import shutil

    for d in _SINK_DIRS:
        shutil.rmtree(d, ignore_errors=True)


atexit.register(_reap_sinks_at_exit)


def run_available_now(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drain the stream as one incremental run (Trigger.AvailableNow)
    into an in-memory table and return the result as a DataFrame.

    This is the reference's one-shot batch run re-expressed as an
    incremental job — and the bridge that lets the DuckDB oracle check
    streaming operators: available-now processes everything, the final
    watermark passes the max event time, and the memory sink holds the
    complete result.

    RETENTION CONTRACT (append mode): the returned DataFrame is a lazy
    scan over a per-call temp sink directory that is reclaimed after
    ``_SINK_KEEP`` (16) newer append-mode drains in this process, or
    at process exit. Materialize promptly (collect / write / cache+
    count) — a consumer that holds the lazy plan across many drains
    gets FileNotFoundException on a later action. Complete/update
    modes return fully materialized data with no such constraint.
    """
    spark0 = stream_df.sparkSession
    # A NEW checkpoint sizes its state-store count from the current
    # shuffle-partition conf; 32 stores for a fixture-scale drain is
    # pure per-store open/commit overhead. Clamp for the drain and
    # restore after — a production stream sizes this deliberately via
    # its own checkpoint instead.
    prev = spark0.conf.get("spark.sql.shuffle.partitions")
    if output_mode == "append":
        # File sink: the result never round-trips through the driver
        # (the memory sink collects every row, and materializing off it
        # re-uploads them via createDataFrame — measured ~1 s of pure
        # harness cost on a 100k-row drain). The sink dir outlives this
        # call so the returned scan stays valid; retention is bounded
        # to the last few drains (every caller here materializes the
        # result promptly — driver collect / bench noop write), so a
        # long-lived session doesn't accumulate one full result copy
        # per drain; whatever remains is reclaimed at process exit.
        import shutil

        sink = tempfile.mkdtemp(prefix="stream_sink_")
        _SINK_DIRS.append(sink)
        while len(_SINK_DIRS) > _SINK_KEEP:
            shutil.rmtree(_SINK_DIRS.pop(0), ignore_errors=True)
        with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
            try:
                spark0.conf.set("spark.sql.shuffle.partitions", "8")
                q = (
                    stream_df.writeStream.format("parquet")
                    .option("path", sink)
                    .outputMode("append")
                    .option("checkpointLocation", ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
            finally:
                spark0.conf.set("spark.sql.shuffle.partitions", prev)
        # explicit schema: an all-late/empty drain writes no part files
        return spark0.read.schema(stream_df.schema).parquet(sink)
    # complete/update have no file-sink support — memory sink. Results
    # in these modes are final aggregates (tens of rows), so the
    # collect + re-upload materialization is noise.
    name = "stream_out_" + uuid.uuid4().hex[:12]
    with tempfile.TemporaryDirectory(prefix="ckpt_") as ckpt:
        try:
            spark0.conf.set("spark.sql.shuffle.partitions", "8")
            q = (
                stream_df.writeStream.format("memory")
                .queryName(name)
                .outputMode(output_mode)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark0.conf.set("spark.sql.shuffle.partitions", prev)
    # Materialize off the transient memory sink before the table goes away.
    rows = spark0.table(name)
    out = spark0.createDataFrame(rows.collect(), rows.schema)
    spark0.catalog.dropTempView(name)
    return out
