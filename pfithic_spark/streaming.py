"""Structured Streaming surface (SURVEY.md §2.11 — all EXT; the
reference is strictly batch).

Each windowed aggregation exists twice, deliberately:

1. A **batch form** registered in the driver contract (registry.py)
   using pure epoch-integer window arithmetic — timezone-proof and
   DuckDB-replayable.
2. A **streaming form** here over ``readStream`` with watermarks,
   built from the same logical spec, smoke-tested in
   tests/test_streaming.py via the memory sink.

The `events` fixture carries parquet TIMESTAMP(MICROS) (read as
TIMESTAMP_NTZ); earlier generations used TIMESTAMP(NANOS) (epoch-nanos
long under ``nanosAsLong``).  :func:`with_event_time` normalizes either
encoding to a proper TimestampType column for the streaming operators,
which need one for watermarking (session tz pinned UTC ⇒ the ntz cast
is wall-clock-preserving and deterministic).
"""

from __future__ import annotations

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .session import ensure_engine_confs


def _read_prior_index(
    spark: SparkSession, index_path: str, epoch: int
) -> DataFrame | None:
    """Read the standing epoch-partitioned index, returning None ONLY
    when no index has ever been written (the first-epoch case).

    Any OTHER read failure — corruption, permissions, transient IO —
    re-raises so Spark retries the epoch; a swallowed error here is
    permanent silent recall loss (the batch's rows still append, but
    its near-dups against the standing index are never emitted).
    Detection rides the structured error class first
    (``getCondition() == 'PATH_NOT_FOUND'`` — stable across Spark
    locales/versions, per ADVICE r10 #3), with the message substring
    as a fallback for builds that predate error classes."""
    try:
        return spark.read.parquet(index_path).filter(
            F.col("epoch") < F.lit(epoch)
        )
    except AnalysisException as exc:
        cond = None
        for getter in ("getCondition", "getErrorClass"):
            try:
                cond = getattr(exc, getter)()
            except Exception:
                cond = None
            if cond:
                break
        if cond is not None:
            if cond == "PATH_NOT_FOUND":
                return None
            raise
        msg = str(exc)
        if "PATH_NOT_FOUND" in msg or "Path does not exist" in msg:
            return None
        raise

#: explicit schema for streaming reads (no inference on a stream) —
#: ts as TIMESTAMP_NTZ, matching the events parquet (TIMESTAMP(MICROS)).
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def with_event_time(events: DataFrame, out_col: str = "event_time") -> DataFrame:
    """Normalize ``ts`` → TimestampType for watermark/window operators.

    Handles both physical encodings of the events table: epoch-nanos
    long (legacy TIMESTAMP(NANOS) fixtures) and timestamp/timestamp_ntz
    (TIMESTAMP(MICROS) fixtures).
    """
    if dict(events.dtypes).get("ts") == "bigint":
        col = F.timestamp_micros(F.expr("ts div 1000"))
    else:
        col = F.col("ts").cast("timestamp")
    return events.withColumn(out_col, col)


def read_event_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int = 1
) -> DataFrame:
    """File-source stream over an events parquet directory."""
    ensure_engine_confs(spark)
    return (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )


def tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Per-window per-type counts/sums, tumbling windows + watermark."""
    e = with_event_time(events).withWatermark("event_time", watermark)
    return e.groupBy(F.window("event_time", width), "event_type").agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value")
    )


def session_counts(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours"
) -> DataFrame:
    """Session windows per user (gap-based) — the streaming-native
    sessionization; the batch islands-and-gaps twin lives in the
    registry for the oracle."""
    e = with_event_time(events).withWatermark("event_time", watermark)
    return e.groupBy(F.session_window("event_time", gap), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )


def trending_topk_sink(
    events: DataFrame,
    out_path: str,
    checkpoint: str,
    width: str = "1 hour",
    k: int = 3,
    watermark: str = "2 hours",
    available_now: bool = True,
):
    """Trending items: per-window event-type counts ranked to top-k.

    Rank is not expressible inside an append-mode streaming agg (it
    needs the window's complete row set), so the standard shape is a
    windowed count aggregation streamed into ``foreachBatch``, where
    each finalized micro-batch applies the rank prune as BATCH logic
    and appends parquet.  The batch twin with the full oracle is
    ``q_stream_topk`` in the registry.  Returns the StreamingQuery.
    """
    from pyspark.sql import Window as W

    counts = (
        with_event_time(events)
        .withWatermark("event_time", watermark)
        .groupBy(F.window("event_time", width), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )

    def rank_batch(df, epoch_id):
        rnk = F.row_number().over(
            W.partitionBy("window").orderBy(
                F.desc("n_events"), F.asc("event_type")
            )
        )
        (
            df.withColumn("rnk", rnk)
            .filter(F.col("rnk") <= k)
            .select(
                F.col("window.start").alias("window_start"),
                # partition key: epoch-second of the window, not the
                # epoch_id — epoch ids restart at 0 under a fresh
                # checkpoint, so epoch-keyed dirs from a prior run would
                # read back as duplicate windows; window-keyed dynamic
                # overwrite makes BOTH failure replays (same windows
                # re-finalized) and full re-runs over an existing
                # out_path land on the same partitions idempotently
                F.col("window.start").cast("long").alias("window_start_s"),
                "event_type",
                "n_events",
                "rnk",
            )
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("window_start_s")
            .parquet(out_path)
        )

    return (
        counts.writeStream.outputMode("append")
        .foreachBatch(rank_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=available_now)
        .start()
    )


def dedup_within_watermark(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Stateful streaming dedup on event_id, state bounded by the
    watermark (the streaming twin of exact dedup)."""
    e = with_event_time(events).withWatermark("event_time", watermark)
    return e.dropDuplicatesWithinWatermark(["event_id"])


def join_streams_within(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: pair each left event with right events
    for the same key that occurred within ``within`` BEFORE it.

    Both sides carry watermarks and the join condition bounds the event
    times on both sides, so Spark can expire buffered state — the two
    requirements for an unbounded stream-stream join (without a
    time-range bound the state grows forever).  Output: one row per
    qualifying (left, right) event pair.
    """
    l = (
        with_event_time(left, "l_time")
        .withWatermark("l_time", watermark)
        .select(
            F.col(key).alias("l_key"),
            F.col("event_id").alias("l_event_id"),
            "l_time",
        )
    )
    r = (
        with_event_time(right, "r_time")
        .withWatermark("r_time", watermark)
        .select(
            F.col(key).alias("r_key"),
            F.col("event_id").alias("r_event_id"),
            "r_time",
        )
    )
    return l.join(
        r,
        F.expr(
            f"""
            l_key = r_key AND
            r_time <= l_time AND
            r_time >= l_time - INTERVAL {within}
            """
        ),
    ).select("l_key", "l_event_id", "r_event_id", "l_time", "r_time")


def enrich_with_dim(
    stream: DataFrame, dim: DataFrame, key: str = "user_id"
) -> DataFrame:
    """Stream-static broadcast join: enrich each micro-batch with a
    small static dimension (the streaming twin of q_join_broadcast).
    The dim side is broadcast once per batch — no stream-side state."""
    return stream.join(F.broadcast(dim), key, "left")


#: output schema of the custom stateful per-user aggregator
USER_TOTALS_SCHEMA = "user_id long, n_events long, total_value double"

#: explicit state schema — what survives between micro-batches per key
USER_TOTALS_STATE_SCHEMA = "n long, total double"


def stateful_user_totals(
    events: DataFrame, watermark: str = "2 hours"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    running (count, total) maintained in explicit keyed state across
    micro-batches, one updated row emitted per key per batch.

    This is the escape hatch for operators Spark's built-in stateful
    aggregations can't express (custom merge logic, bounded state, side
    outputs); the built-in twin for THIS aggregation is a plain
    groupBy — registered as ``q_stream_stateful`` for the oracle."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    def update(key, pdfs, state):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    e = with_event_time(events).withWatermark("event_time", watermark)
    return e.groupBy("user_id").applyInPandasWithState(
        update,
        USER_TOTALS_SCHEMA,
        USER_TOTALS_STATE_SCHEMA,
        "update",
        GroupStateTimeout.NoTimeout,
    )


def write_stream_parquet(
    stream_df: DataFrame,
    path: str,
    checkpoint: str,
    mode: str = "append",
    available_now: bool = True,
):
    """Production sink: exactly-once parquet append via the checkpointed
    file sink (offset log + file-manifest commit protocol).  Returns the
    started StreamingQuery; callers own awaitTermination/stop."""
    return (
        stream_df.writeStream.outputMode(mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=available_now)
        .start()
    )


def write_stream_foreach_batch(
    stream_df: DataFrame, batch_fn, checkpoint: str, available_now: bool = True
):
    """foreachBatch sink: run arbitrary batch logic (merge/upsert into a
    table, multi-sink fan-out) per micro-batch.  ``batch_fn(df, epoch)``
    receives a BATCH DataFrame — the full relational surface (joins,
    overwrite-by-partition) applies; Spark retries the batch with the
    same epoch id on failure, so batch_fn must be idempotent per epoch."""
    return (
        stream_df.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=available_now)
        .start()
    )


def run_to_memory_sink(
    stream_df: DataFrame, name: str, mode: str = "append"
) -> DataFrame:
    """Drive a bounded file-source stream to completion synchronously
    (memory sink; local smoke-test harness).

    Windowed aggregations under a watermark only finalize in append mode
    when later data advances the watermark — for a bounded fixture use
    ``mode='complete'``.
    """
    q = (
        stream_df.writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return stream_df.sparkSession.sql(f"SELECT * FROM {name}")


def _checkpoint_app_id(checkpoint: str) -> str:
    """Resolve (minting on first use) the stable per-checkpoint app id
    that namespaces exactly-once txids.  Spelling-normalized (plain
    path, file:/, file:/// are one checkpoint), race-safe (temp-write +
    atomic link(2) election, so the marker only ever appears with a
    complete id and exactly one mint wins; all starters read the
    winner's id).  Shared by every streaming sink that commits to an
    atomic table — the marker protocol must never diverge between
    sinks."""
    import os
    import uuid
    from urllib.parse import urlparse

    u = urlparse(checkpoint)
    if u.scheme not in ("", "file"):
        raise NotImplementedError(
            "atomic streaming sinks need a local checkpoint for the "
            f"app-id marker (got scheme {u.scheme!r}); on an object "
            "store, keep the marker via the Hadoop FileSystem API"
        )
    ck_dir = os.path.abspath(u.path if u.scheme else checkpoint)
    os.makedirs(ck_dir, exist_ok=True)
    marker = os.path.join(ck_dir, "_pfithic_app_id")
    # Atomic publish: write the id to a private temp file, fsync, then
    # os.link() it to the marker path.  link(2) is create-if-absent with
    # COMPLETE content in one atomic step — exactly one racer wins (the
    # others get FileExistsError) and the marker is never observable
    # empty or partial.  A bare O_CREAT|O_EXCL mint makes the path
    # visible before the bytes land, so a concurrent starter could read
    # an empty/partial marker and commit the same epoch under a
    # different txid, defeating the exactly-once dedup.  (rename-replace
    # would also publish atomically but allows TWO complete markers to
    # exist in sequence — racers could each read their own id; link's
    # first-wins election forbids that.)
    if not os.path.exists(marker):
        tmp = os.path.join(ck_dir, f"._pfithic_app_id.{uuid.uuid4().hex}.tmp")
        fd = os.open(tmp, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        try:
            os.write(fd, uuid.uuid4().hex[:12].encode())
            os.fsync(fd)
        finally:
            os.close(fd)
        try:
            os.link(tmp, marker)
        except FileExistsError:
            pass  # lost the election; the winner's marker is complete
        finally:
            os.remove(tmp)
    with open(marker) as fh:
        app_id = fh.read().strip()
    if not app_id:
        # Pre-fix markers (minted by the old O_EXCL protocol and
        # interrupted mid-write) can be empty; refuse rather than mint
        # a divergent id.
        raise RuntimeError(
            f"empty app-id marker at {marker}; remove it and restart "
            "(a concurrent mint was interrupted mid-write)"
        )
    return app_id


def write_stream_atomic(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    available_now: bool = True,
    optimize_every_n_batches: int | None = None,
    optimize_target_bytes: int = 128 * 1024 * 1024,
):
    """Stream into an ATOMIC manifest-committed table with exactly-once
    batch commits: each micro-batch appends via
    ``io.write_parquet_atomic(txid=f"app-{app_id}-batch-{epoch_id}")`` — on
    at-least-once foreachBatch replay (failure between the table commit
    and the checkpoint advance) the txid is already in a committed
    manifest and the write is a no-op, so rows never duplicate.  The
    txnAppId/txnVersion idempotence pattern, composed with the sink's
    crash-invisibility (a batch that dies mid-write leaves only an
    orphaned staging dir).  Readers see batch-aligned snapshots and can
    time-travel / consume incrementally (io.read_parquet_atomic_
    incremental) per micro-batch.

    The txid is NAMESPACED by an app id (the txnAppId half of the
    pattern): epoch numbers restart at 0 under a fresh checkpoint, and
    a bare ``batch-0`` would collide with another query's history and
    silently drop the batch as a replay.  The id is ANCHORED IN the
    checkpoint directory itself (``_pfithic_app_id`` marker, minted on
    first use) rather than derived from the path string — a path hash
    changes with cwd-relative spelling or file:/ URI form across
    restarts, which would break dedup exactly when it matters.  Same
    checkpoint (however spelled) → same app id → replays dedup; fresh
    checkpoint / second query → new marker → both commit.

    ``optimize_every_n_batches``: AUTO-COMPACTION — a streaming sink is
    the worst small-file generator a table has (one file set per
    micro-batch, forever), so every Nth committed epoch triggers
    :func:`io.optimize_parquet_atomic` (bin-pack small files, reference
    the rest untouched) right after the batch commit.  Safe under
    at-least-once replay: the rewrite is a pure physical re-layout of
    already-committed bytes (byte-identical rows, own txid), and a
    replayed trigger at worst re-runs a no-op optimize.  A concurrent
    writer landing an append in the race window makes optimize raise
    its conflict error — logged and SKIPPED, never failing the batch
    (the next cycle retries); compaction is maintenance, not data.

    TRADE-OFF for downstream INCREMENTAL consumers
    (io.read_parquet_atomic_incremental): an optimize snapshot is
    non-append history, so an incremental diff spanning it REFUSES
    loudly (ValueError directing a full re-diff) instead of risking
    double counts — consumers of an auto-compacted table must either
    handle that fallback, align their cursor advance to the optimize
    cadence, or leave auto-compaction off and run
    ``table optimize`` in a maintenance window instead."""
    from .io import optimize_parquet_atomic, write_parquet_atomic

    app_id = _checkpoint_app_id(checkpoint)

    def commit_batch(df, epoch_id):
        write_parquet_atomic(
            df,
            table_path,
            mode="append",
            txid=f"app-{app_id}-batch-{int(epoch_id):010d}",
        )
        n = optimize_every_n_batches
        if n and int(epoch_id) % n == n - 1:
            try:
                optimize_parquet_atomic(
                    df.sparkSession,
                    table_path,
                    target_bytes=optimize_target_bytes,
                )
            except ValueError as exc:
                if "optimize conflict" not in str(exc):
                    raise  # only the documented race is skippable
                import logging

                logging.getLogger(__name__).warning(
                    "auto-optimize skipped at epoch %s (%s); "
                    "next cycle retries",
                    epoch_id,
                    exc,
                )

    writer = stream_df.writeStream.foreachBatch(commit_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def scd2_stream_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    key_col: str = "user_id",
    value_col: str = "value",
    available_now: bool = True,
):
    """Streaming CDC → SCD2 dimension maintenance: each micro-batch
    folds to its LATEST change per key (max_by on event time — the
    q_merge_upsert collapse), then versions the atomic dimension table
    the q_scd2_merge way: a key whose value changed gets its current
    row closed (valid_to = change time, is_current = false) and a new
    open version appended; unchanged keys pass through untouched.

    Each batch publishes the updated dimension as ONE overwrite
    snapshot under the exactly-once txid (write_stream_atomic's
    namespaced epoch id), so a replayed batch is a no-op and readers
    always see a complete, version-consistent dimension — plus time
    travel back to any batch boundary for free.  A dimension is
    bounded (key cardinality, not event volume), so the per-batch
    rewrite is the honest shape at this layer; at 100 TB fact scale
    the same fold feeds partition-level rewrites instead.

    Semantics guards: change rows with a NULL value or NULL event time
    are dropped from the feed up front (this model has no deletes; a
    null latest value must not shadow earlier real values through
    max_by), and STALE changes — event time at or before the current
    version's valid_from — are ignored rather than corrupting the
    chain with negative-duration intervals (last-writer-wins by EVENT
    time, not arrival order).
    """
    from pyspark.sql import types as _T

    from .io import read_parquet_atomic, write_parquet_atomic

    app_id = _checkpoint_app_id(checkpoint)

    spark = stream_df.sparkSession

    def apply_batch(df, epoch_id):
        dfe = with_event_time(df).filter(
            F.col(value_col).isNotNull() & F.col("event_time").isNotNull()
        )
        changes = (
            dfe.select(
                F.col(key_col).alias("k"),
                F.col(value_col).alias("val"),
                F.struct(
                    F.col("event_time").alias("t"),
                    F.col("event_id").alias("e"),
                ).alias("ord"),
            )
            .groupBy("k")
            .agg(
                F.max_by("val", "ord").alias("new_val"),
                F.unix_micros(F.max("ord.t")).alias("change_us"),
            )
        )
        try:
            cur = read_parquet_atomic(spark, table_path)
        except FileNotFoundError:
            # empty dimension with key/value types DERIVED from the
            # feed — a hardcoded schema would break any non-default
            # key_col/value_col type on the very first batch
            ch_fields = {f.name: f.dataType for f in changes.schema.fields}
            cur = spark.createDataFrame(
                [],
                _T.StructType(
                    [
                        _T.StructField("k", ch_fields["k"]),
                        _T.StructField("val", ch_fields["new_val"]),
                        _T.StructField("valid_from", _T.LongType()),
                        _T.StructField("valid_to", _T.LongType()),
                        _T.StructField("is_current", _T.BooleanType()),
                    ]
                ),
            )
        # explicit existence marker: valid_from can never be trusted as
        # the "row exists" discriminator once any producer writes NULLs
        j = (
            cur.withColumn("_in_dim", F.lit(True))
            .join(changes, "k", "full_outer")
            .persist()  # both union branches read it — one evaluation
        )
        # a change applies only when it's for the CURRENT row, the
        # value differs, and it's NEWER than the open version (stale /
        # out-of-order events must not corrupt the chain)
        applies = (
            F.col("is_current")
            & F.col("new_val").isNotNull()
            & (F.col("new_val") != F.col("val"))
            & (F.col("change_us") > F.col("valid_from"))
        )
        untouched_or_closed = j.filter(F.col("_in_dim")).select(
            "k",
            "val",
            "valid_from",
            F.when(applies, F.col("change_us"))
            .otherwise(F.col("valid_to"))
            .alias("valid_to"),
            F.when(applies, F.lit(False))
            .otherwise(F.col("is_current"))
            .alias("is_current"),
        )
        opened = (
            j.filter(
                F.col("new_val").isNotNull()
                & (F.col("_in_dim").isNull() | applies)
            )
            .select(
                "k",
                F.col("new_val").alias("val"),
                F.col("change_us").alias("valid_from"),
                F.lit(None).cast("long").alias("valid_to"),
                F.lit(True).alias("is_current"),
            )
        )
        out = untouched_or_closed.unionByName(opened)
        try:
            write_parquet_atomic(
                out,
                table_path,
                mode="overwrite",
                txid=f"app-{app_id}-batch-{int(epoch_id):010d}",
            )
        finally:
            j.unpersist()

    writer = stream_df.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def agg_stream_sink(
    stream_df: DataFrame,
    table_path: str,
    checkpoint: str,
    group_col: str = "event_type",
    value_col: str = "value",
    available_now: bool = True,
):
    """Streaming MATERIALIZED-VIEW maintenance: keep a per-group
    aggregate state table (sum, count — and avg derived from them)
    continuously up to date from an event stream, exactly-once.

    Each micro-batch folds to its per-group PARTIALS (one aggregate at
    group-key cardinality, never the raw batch rows twice), merges
    them with the current state by ADDING the mergeable (sum, n) pair
    — the q_incremental_agg batch shape lifted to streaming — and
    publishes the merged state as ONE overwrite snapshot under the
    exactly-once txid (write_stream_atomic's namespaced epoch id).
    The avg column is re-derived from the merged pair; an avg can
    never be merged directly.

    Replay safety is the key subtlety of read-merge-overwrite: on an
    at-least-once foreachBatch replay the batch is re-merged against
    POST-commit state — double-counted in memory — but the txid is
    already in a committed manifest, so the write is a no-op and the
    double-counted frame is discarded.  The state table stays exact
    under any crash/restart pattern (crash-injection tested).

    Sums accumulate as DECIMAL(28,6) so the state is bit-identical to
    a from-scratch batch recompute regardless of how events were
    micro-batched (float running sums would drift with batching).

    At 100 TB fact scale: the state table is bounded by group-key
    cardinality, the per-batch cost is O(batch + state), and readers
    get time travel across batch boundaries for free from the atomic
    snapshots."""
    from pyspark.sql import types as _T

    from .io import read_parquet_atomic, write_parquet_atomic

    app_id = _checkpoint_app_id(checkpoint)
    spark = stream_df.sparkSession

    def merge_batch(df, epoch_id):
        partial = df.filter(F.col(value_col).isNotNull()).groupBy(
            F.col(group_col).alias("g")
        ).agg(
            F.sum(F.col(value_col).cast("decimal(28,6)")).alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        try:
            cur = read_parquet_atomic(spark, table_path).select(
                "g", F.col("total").cast("decimal(28,6)").alias("s"), "n"
            )
        except FileNotFoundError:
            g_type = {f.name: f.dataType for f in partial.schema.fields}["g"]
            cur = spark.createDataFrame(
                [],
                _T.StructType(
                    [
                        _T.StructField("g", g_type),
                        _T.StructField("s", _T.DecimalType(28, 6)),
                        _T.StructField("n", _T.LongType()),
                    ]
                ),
            )
        merged = (
            cur.unionByName(partial)
            .groupBy("g")
            .agg(F.sum("s").cast("decimal(28,6)").alias("s"), F.sum("n").alias("n"))
        )
        out = merged.select(
            "g",
            F.col("s").alias("total"),
            "n",
            F.round(F.col("s").cast("double") / F.col("n"), 6).alias("avg"),
        )
        write_parquet_atomic(
            out,
            table_path,
            mode="overwrite",
            txid=f"app-{app_id}-batch-{int(epoch_id):010d}",
        )

    writer = stream_df.writeStream.foreachBatch(merge_batch).option(
        "checkpointLocation", checkpoint
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def read_document_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream of document batches (parquet drops into
    ``docs_dir``); explicit schema — no inference on a stream."""
    ensure_engine_confs(spark)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_dir)
    )


def simhash_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    candidates_path: str,
    checkpoint: str,
    max_hamming: int = 3,
):
    """INCREMENTAL near-dup detection — the streaming consumer of the
    q_simhash_band_index table format (llmops.simhash16_band_rows is
    the ONE shared signature definition, so the streamed index and
    the batch-built index can never disagree): per micro-batch,

    1. compute the batch documents' band rows;
    2. equi-join (band, band_key) against the STANDING index from all
       PRIOR epochs AND against the batch's own band rows (doc_id >
       dup_of — two near-dups arriving in ONE batch file must flag in
       that epoch, not never; round-9 ADVICE), verifying candidates
       at Hamming(sig16) ≤ ``max_hamming`` (the banding pigeonhole
       guarantees recall at radius 3 with 4×4-bit bands; the verify
       step removes band false-positives) — emitting
       (new_doc, dup_of) candidate pairs;
    3. append the batch's band rows to the index.

    Failure semantics: ONLY the missing-index-path case (first epoch)
    downgrades to "no standing index yet"; any other read error
    (transient IO, corrupt footer) RE-RAISES so Spark retries the
    epoch — swallowing it would silently emit zero candidates while
    still appending the batch's rows, a permanent unreported recall
    loss (round-9 ADVICE, medium).

    Exactly-once: both writes go to ``epoch=<id>`` subdirectories in
    OVERWRITE mode — Spark retries a failed micro-batch with the SAME
    epoch id, so a retry rewrites its own directory byte-for-byte
    instead of double-appending, and the candidate join reads only
    ``epoch < current`` (a retry never matches the half-written rows
    of its own failed attempt).  The epoch column doubles as the
    index's ingest-time provenance.

    100 TB shape: the per-batch work is one bounded token aggregate
    plus a (band, band_key) equi-join against a bucketed standing
    index — never a batch×index cross product; band buckets inherit
    the LSH_MAX_BUCKET discipline through the 4-bit key's bounded
    fan-out per band value.
    """
    from . import llmops

    def handle(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        rows = llmops.simhash16_band_rows(batch).persist()

        def _verified_pairs(right, keep):
            return (
                rows.join(right, ["band", "band_key"])
                .filter(keep)
                .filter(
                    F.bit_count(
                        F.col("sig16").bitwiseXOR(F.col("old_sig"))
                    )
                    <= max_hamming
                )
                .select("doc_id", "dup_of")
            )

        try:
            # ONLY "no index written yet" downgrades; transient
            # IO/corruption must fail the epoch so Spark retries
            idx = _read_prior_index(spark, index_path, epoch)
            # within-batch pairs: two near-dups landing in the same
            # micro-batch file must flag in THIS epoch (doc_id >
            # dup_of keeps one direction and excludes self-pairs)
            batch_side = rows.select(
                F.col("doc_id").alias("dup_of"),
                "band",
                "band_key",
                F.col("sig16").alias("old_sig"),
            )
            cand = _verified_pairs(
                batch_side, F.col("doc_id") > F.col("dup_of")
            )
            if idx is not None:
                old = idx.select(
                    F.col("doc_id").alias("dup_of"),
                    "band",
                    "band_key",
                    F.col("sig16").alias("old_sig"),
                )
                cand = cand.unionByName(
                    _verified_pairs(
                        old, F.col("doc_id") != F.col("dup_of")
                    )
                )
            cand.distinct().write.mode("overwrite").parquet(
                f"{candidates_path}/epoch={epoch}"
            )
            rows.withColumn("epoch", F.lit(epoch).cast("long")).write.mode(
                "overwrite"
            ).parquet(f"{index_path}/epoch={epoch}")
        finally:
            rows.unpersist()

    return write_stream_foreach_batch(docs_stream, handle, checkpoint)


def minhash_index_stream(
    docs_stream: DataFrame,
    index_path: str,
    candidates_path: str,
    checkpoint: str,
):
    """INCREMENTAL Jaccard near-dup detection — the streaming
    consumer of the q_minhash_signature_index table format
    (llmops.md5_minhash_band_rows is the ONE shared signature
    definition, so the streamed index and the batch-built index can
    never disagree), completing the maintained-dedup-index pair
    beside simhash_index_stream (Hamming/cosine side): per
    micro-batch,

    1. compute the batch documents' MinHash band rows (4 bands × 2
       md5-min rows);
    2. equi-join (band, band_key) against the STANDING index from
       all PRIOR epochs AND against the batch's own band rows
       (doc_id > dup_of — within-batch near-dups flag in their own
       epoch), emitting DISTINCT (new_doc, dup_of) candidate pairs —
       a band collision is the LSH candidate contract (Jaccard ≳ 0.3
       at (b, r) = (4, 2)); exact-verification joins, if wanted,
       run downstream on the candidate table (unlike simhash there
       is no cheap in-row verify — the signature IS the evidence);
    3. append the batch's band rows to the index.

    Exactly-once and failure semantics are simhash_index_stream's
    verbatim: both writes go to epoch=<id> subdirectories in
    OVERWRITE mode (a Spark retry rewrites its own directory instead
    of double-appending; the standing-index join reads epoch <
    current only), and ONLY the missing-index-path first-epoch case
    downgrades to "no standing index yet" — any other read error
    re-raises so Spark retries the epoch instead of silently losing
    recall."""
    from . import llmops

    def handle(batch: DataFrame, epoch: int) -> None:
        spark = batch.sparkSession
        rows = llmops.md5_minhash_band_rows(batch).persist()
        try:
            idx = _read_prior_index(spark, index_path, epoch)
            batch_side = rows.select(
                F.col("doc_id").alias("dup_of"), "band", "band_key"
            )
            cand = (
                rows.join(batch_side, ["band", "band_key"])
                .filter(F.col("doc_id") > F.col("dup_of"))
                .select("doc_id", "dup_of")
            )
            if idx is not None:
                old = idx.select(
                    F.col("doc_id").alias("dup_of"), "band", "band_key"
                )
                cand = cand.unionByName(
                    rows.join(old, ["band", "band_key"])
                    .filter(F.col("doc_id") != F.col("dup_of"))
                    .select("doc_id", "dup_of")
                )
            cand.distinct().write.mode("overwrite").parquet(
                f"{candidates_path}/epoch={epoch}"
            )
            rows.withColumn(
                "epoch", F.lit(epoch).cast("long")
            ).write.mode("overwrite").parquet(
                f"{index_path}/epoch={epoch}"
            )
        finally:
            rows.unpersist()

    return write_stream_foreach_batch(docs_stream, handle, checkpoint)


def hll_register_stream(
    events_stream: DataFrame,
    registers_path: str,
    checkpoint: str,
):
    """INCREMENTAL daily-HLL register maintenance — the streaming
    producer of q_rolling_distinct_hll's register table
    (llmops.hll_register_rows is the ONE shared register definition):
    per micro-batch, build the batch's (day, bucket, rho) daily
    registers and append them under ``epoch=<id>`` in OVERWRITE mode
    (the simhash/minhash exactly-once discipline — a Spark retry
    rewrites its own epoch directory instead of double-appending).

    Readers fold the standing table with :func:`fold_hll_registers`
    — register merge is elementwise MAX (associative + commutative,
    certified as data by q_sketch_merge), so per-epoch partial
    registers combine into exact daily registers no matter how the
    stream batched the events, and the rolling 7-day estimate is
    then q_rolling_distinct_hll's bounded-grain fold with NO replay
    of raw events."""
    from . import llmops

    def handle(batch: DataFrame, epoch: int) -> None:
        dr = llmops.hll_daily_registers(batch)
        dr.withColumn("epoch", F.lit(epoch).cast("long")).write.mode(
            "overwrite"
        ).parquet(f"{registers_path}/epoch={epoch}")

    return write_stream_foreach_batch(events_stream, handle, checkpoint)


def fold_hll_registers(spark: SparkSession, registers_path: str) -> DataFrame:
    """Fold a streamed register table to exact daily registers
    (day, bucket, rho) by elementwise MAX across epochs — the read
    side of :func:`hll_register_stream`."""
    return (
        spark.read.parquet(registers_path)
        .groupBy("day", "bucket")
        .agg(F.max("rho").alias("rho"))
    )


def drift_panel_stream(
    docs_stream: DataFrame,
    counts_path: str,
    checkpoint: str,
):
    """INCREMENTAL drift-panel maintenance — the streaming producer
    behind the q_psi_source_panel / q_psi_drift_incremental family:
    per micro-batch of documents, build the batch's (source, half,
    bucket) partial COUNT table (half = doc_id parity, bucket = the
    exact log2 length bin — the q_length_log2_histogram binning) and
    append it under ``epoch=<id>`` in OVERWRITE mode (the
    simhash/minhash/HLL exactly-once discipline: a Spark retry
    rewrites its own epoch directory instead of double-appending).

    Counts are SUM-mergeable, so :func:`fold_drift_panel` combines
    any batching of the corpus into the IDENTICAL smoothed PSI panel
    the batch keys compute — the release gate reads the standing
    count table nightly with NO raw-document replay."""

    def handle(batch: DataFrame, epoch: int) -> None:
        # n_chars derives from the text itself (== the fixture's
        # n_chars column — verified identity), so the stream needs
        # only read_document_stream's (doc_id, text, source) schema
        n_chars = F.length("text").cast("long")
        c = (
            batch.filter(n_chars >= 1)
            .select(
                "source",
                (F.col("doc_id") % 2).alias("half"),
                (F.length(F.bin(n_chars)) - 1).alias("bucket"),
            )
            .groupBy("source", "bucket")
            .agg(
                F.sum((F.col("half") == 0).cast("long"))
                .cast("long")
                .alias("na"),
                F.sum((F.col("half") == 1).cast("long"))
                .cast("long")
                .alias("nb"),
            )
        )
        c.withColumn("epoch", F.lit(epoch).cast("long")).write.mode(
            "overwrite"
        ).parquet(f"{counts_path}/epoch={epoch}")

    return write_stream_foreach_batch(docs_stream, handle, checkpoint)


def fold_drift_panel(spark: SparkSession, counts_path: str) -> DataFrame:
    """Fold the streamed per-epoch count partials to the exact
    smoothed PSI panel (the read side of :func:`drift_panel_stream`):
    SUM-merge to (source, bucket, na, nb), then the shared
    keys_r10.psi_panel_from_counts dataflow — ONE definition with the
    batch keys, so the streamed panel can never disagree."""
    from .registry.keys_r10 import psi_panel_from_counts

    c = (
        spark.read.parquet(counts_path)
        .groupBy("source", "bucket")
        .agg(
            F.sum("na").cast("long").alias("na"),
            F.sum("nb").cast("long").alias("nb"),
        )
    )
    return psi_panel_from_counts(c)


def ivf_assignment_stream(
    vectors_stream: DataFrame,
    assignments_path: str,
    checkpoint: str,
    centroids_path: str | None = None,
):
    """INCREMENTAL IVF assignment maintenance — the streaming
    producer of q_ivf_assignment's (vec_id, cell, dist2_micro) table
    under the FROZEN committed codebook: per micro-batch of vectors,
    score against the once-loaded 16-row codebook (broadcast into
    each batch's join) through the SAME
    keys_r10.ivf_distance_table_from / ivf_assign_from definitions
    the batch key uses (one definition — the streamed index can never
    disagree on an assignment), and append under ``epoch=<id>`` in
    OVERWRITE mode (the simhash/minhash/HLL exactly-once retry
    discipline).  Newly arriving vectors join the ANN-servable set
    one micro-batch later with NO corpus re-scan; q_ivf_rebalance's
    occupancy census runs directly on the folded table."""
    import os

    from .registry.keys_r10 import (
        ivf_assign_from,
        ivf_distance_table_from,
    )

    if centroids_path is None:
        from .registry._core import _GOLDEN_DIR

        centroids_path = os.path.join(
            _GOLDEN_DIR, "ivf_centroids.parquet"
        )

    # the codebook is FROZEN by contract: load it ONCE into a
    # driver-local frame (collect + createDataFrame — 16 rows), so
    # the parquet genuinely never re-reads on the hot streaming path;
    # a lazy scan here would rescan the centroids file every
    # micro-batch job (ADVICE r11 #3)
    spark = vectors_stream.sparkSession
    cent_scan = spark.read.parquet(centroids_path)
    cent = spark.createDataFrame(
        cent_scan.collect(), schema=cent_scan.schema
    )

    def handle(batch: DataFrame, epoch: int) -> None:
        asg = ivf_assign_from(ivf_distance_table_from(batch, cent))
        asg.withColumn("epoch", F.lit(epoch).cast("long")).write.mode(
            "overwrite"
        ).parquet(f"{assignments_path}/epoch={epoch}")

    return write_stream_foreach_batch(vectors_stream, handle, checkpoint)


def read_vector_stream(spark: SparkSession, vec_dir: str) -> DataFrame:
    """File-source stream of embedding batches; explicit schema — no
    inference on a stream."""
    ensure_engine_confs(spark)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField(
                "embedding", T.ArrayType(T.FloatType())
            ),
        ]
    )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(vec_dir)
    )
