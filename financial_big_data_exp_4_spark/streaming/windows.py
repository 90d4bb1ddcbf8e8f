"""Structured-Streaming twins of the batch event operators
(:mod:`financial_big_data_exp_4_spark.operators.events`).

The engine's streaming surface: file-source ``readStream`` over the events
table, event-time watermarking, tumbling-window counts, and native session
windows (``F.session_window`` — Spark's built-in stateful gap-sessionizer;
the batch lag/cumsum formulation in ``operators.events`` computes the same
gap semantics without state).

Tested with ``trigger(availableNow=True)`` + a memory sink: processes the
existing files as a bounded stream then stops — the standard way to make
streaming semantics unit-testable. At scale the same plan runs unchanged
against a directory that keeps receiving files (or a Kafka source swapped
in at the ``readStream`` line); state lives in the checkpoint dir and
late data beyond the watermark is dropped deterministically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from financial_big_data_exp_4_spark.functions.core import floor_div_sql
from financial_big_data_exp_4_spark.session import (
    ensure_session_confs,
    scoped_sql_conf,
)


def read_events_stream(
    spark: SparkSession, sf_dir: str, files_per_trigger: int | None = None
) -> DataFrame:
    """``readStream`` over the events parquet with a proper event-time
    column. The fixture's ``ts`` has shipped under BOTH physical
    encodings across generations — INT64 TIMESTAMP(NANOS), which the
    retrofitted ``nanosAsLong`` conf surfaces as bigint, and
    TIMESTAMP(MICROS), which reads as a native timestamp — so both
    branches below are live depending on the fixture generation; neither
    is a dead "future" path. Either way ``ts_utc`` lands at µs
    precision via integer-exact arithmetic, same as the batch loader."""
    ensure_session_confs(spark)
    from financial_big_data_exp_4_spark.session import session_memo
    from financial_big_data_exp_4_spark.sources.parquet import ts_utc_expr

    # memoize the RAW footer probe per (session, dir, file mtime+size) —
    # the streaming source needs the raw parquet schema (load_table's
    # memo holds the NORMALIZED plan, whose ts dtype differs), but
    # re-reading the footer every call pays an avoidable driver
    # round-trip. The mtime/size component invalidates the memo when
    # events.parquet is rewritten in place with a new schema/encoding
    # mid-session (round-11 ADVICE: a bare-dir key streamed the stale
    # schema after such a rewrite); an unstat-able path (remote FS,
    # racing writer) just skips that component — same cache behavior as
    # before, never an error.
    import os

    memo = session_memo(spark, "_fbde4_raw_events_schema")
    try:
        st = os.stat(f"{sf_dir}/events.parquet")
        key = (sf_dir, st.st_mtime_ns, st.st_size)
    except OSError:
        key = sf_dir
    if memo is None or key not in memo:
        static = spark.read.parquet(f"{sf_dir}/events.parquet")
        probed = (static.schema, dict(static.dtypes)["ts"])
        if memo is not None:
            memo[key] = probed
    else:
        probed = memo[key]
    schema, ts_dtype = probed
    # FileStreamSource requires a *directory* basePath; stream the scale
    # dir and glob-filter to the events file(s). In production this is a
    # directory continuously receiving new part files.
    #
    # ``files_per_trigger``: None (default) lets a bounded availableNow
    # drain take EVERYTHING already on disk as ONE microbatch — every
    # extra batch pays full per-batch machinery (incremental re-plan,
    # per-partition state-store commits, WAL/offset log) for zero extra
    # data, measured at 1-3 s/batch on the sf0.1 drains. Tests that
    # exercise genuinely incremental arrival (state carried across
    # batches, replay) pass an explicit small value instead of the old
    # hardwired ``maxFilesPerTrigger=1``.
    reader = spark.readStream.schema(schema)
    if files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", files_per_trigger)
    stream = reader.option("pathGlobFilter", "events.parquet").parquet(
        sf_dir
    )
    # shared ts_utc derivation — see sources.parquet.ts_utc_expr (the
    # raw read surfaces nanos-encoded generations as bigint epoch-ns)
    return stream.withColumn("ts_utc", ts_utc_expr(ts_dtype))


#: Seconds per supported interval unit for the whole-window shift check.
_INTERVAL_UNIT_S = {
    "second": 1,
    "seconds": 1,
    "minute": 60,
    "minutes": 60,
    "hour": 3_600,
    "hours": 3_600,
    "day": 86_400,
    "days": 86_400,
}


def _interval_seconds(interval: str) -> int:
    """Whole seconds of a simple ``"N unit"`` interval string."""
    n, _, unit = interval.strip().lower().partition(" ")
    try:
        return int(n) * _INTERVAL_UNIT_S[unit]
    except (ValueError, KeyError):
        raise ValueError(
            f"unsupported interval {interval!r}: expected 'N "
            f"second(s)|minute(s)|hour(s)|day(s)'"
        ) from None


def streaming_tumbling_counts(
    events: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — the streaming
    twin of ``operators.events.tumbling_counts``. State per (window, type)
    is dropped once the watermark passes the window end; memory is bounded
    by (active windows × types), not by stream length.

    Event time is shifted by ``SESSION_TS_SHIFT_S`` around the stateful
    window and removed from the emitted window starts, exactly like the
    session/join operators in this module: the streaming state watermark
    clamps at epoch 0, so WITHOUT the shift every pre-epoch event is
    silently dropped in ``update``/``append`` output modes (the modes
    where late-row filtering actually runs — ``complete`` mode masked
    the gap; round-10 review finding). A shift is boundary-exact only
    when it is a whole multiple of the window width — true for every
    width dividing one day, enforced below — so shifted and unshifted
    window assignment are identical row-for-row.

    **Accepted widths (deliberate round-10 narrowing):** ``"N
    second(s)|minute(s)|hour(s)|day(s)"`` with ``N × unit`` dividing
    :data:`SESSION_TS_SHIFT_S` — i.e. any width dividing one day, plus
    whole-day widths dividing the shift's 365-day years. Widths that
    used to be silently accepted, like ``"7 days"`` or ``"1 week"``,
    now raise ``ValueError`` even for streams with no pre-epoch data:
    whether pre-epoch rows arrive is a runtime property of the stream,
    and an unshifted fallback would silently drop them in
    update/append mode — refusing loudly at plan build is the only
    mode-independent safe contract. Callers needing such widths can
    pre-shift their own event time and window on that.
    """
    width_s = _interval_seconds(width)
    if SESSION_TS_SHIFT_S % width_s:
        raise ValueError(
            f"window width {width!r} does not divide the epoch shift; "
            f"pre-epoch safety needs shift % width == 0 "
            f"({SESSION_TS_SHIFT_S} % {width_s} != 0)"
        )
    shifted = F.expr(
        f"timestamp_micros(unix_micros(ts_utc) "
        f"+ {SESSION_TS_SHIFT_S} * 1000000)"
    )
    return (
        events.withColumn("_tumble_ts", shifted)
        .withWatermark("_tumble_ts", watermark)
        .groupBy(F.window("_tumble_ts", width), "event_type")
        .agg(F.count("*").alias("cnt"))
        .select(
            (
                F.col("window.start")
                - F.expr(f"INTERVAL {SESSION_TS_SHIFT_S} SECONDS")
            ).alias("window_start"),
            "event_type",
            "cnt",
        )
    )


#: Whole-second shift applied to event time before ``session_window``
#: and removed from the emitted session starts: ≈ 12,000 years in
#: seconds. Spark's streaming state watermark clamps at epoch 0, so
#: WITHOUT the shift every pre-epoch event is silently treated as late
#: and its session never emitted (found by tools/fuzz_correctness.py:
#: 141 pre-epoch sessions dropped vs the batch oracle). Sessionization
#: depends only on event-time GAPS, which are shift-invariant, so the
#: shifted computation is exact; the domain floor becomes ts ≥ year
#: −10000 instead of ts ≥ 1970. Well inside timestamp range (µs
#: timestamps reach year ~294k).
SESSION_TS_SHIFT_S = 12_000 * 365 * 86_400


def streaming_session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
    second_truncate: bool = True,
) -> DataFrame:
    """Per-user session event counts via Spark's native ``session_window``
    (stateful gap-merge; sessions close when the watermark passes
    last-event + gap). Streaming twin of ``operators.events.sessionize``.

    ``second_truncate`` (default on) floors event times to whole seconds
    BEFORE windowing — the batch sessionizer compares second-truncated
    times, and ``session_window`` on raw µs timestamps disagrees with it
    for gaps within 1s of the boundary (a true gap of 1800.8s truncates
    to exactly 1800 → batch merges, µs windowing splits). On integer
    seconds the two agree everywhere including the exact-gap boundary
    (``session_window`` merges an event arriving exactly ``gap`` after
    the previous one — inclusive, verified empirically — matching the
    batch ``> gap`` new-session test). Pass ``False`` only for
    pure-streaming sessions that never need batch parity.

    Event time is shifted by ``SESSION_TS_SHIFT_S`` around the stateful
    window (see the constant: pre-epoch events would otherwise be
    silently dropped by the epoch-clamped watermark); emitted
    ``session_start`` values are shift-free.
    """
    # FLOOR to whole seconds, not DIV (bare DIV truncates toward zero,
    # shifting every pre-epoch event +1s relative to the batch
    # sessionizer), then the watermark-floor shift — both exact integer
    # arithmetic on epoch seconds.
    sec = floor_div_sql("unix_micros(ts_utc)", 1_000_000)
    if not second_truncate:
        # keep µs precision: shift whole seconds, carry the µs remainder
        # (floor_div_sql returns a fully parenthesized expression)
        ts = F.expr(
            "timestamp_micros("
            f"({sec} + {SESSION_TS_SHIFT_S}) * 1000000 "
            f"+ pmod(unix_micros(ts_utc), 1000000))"
        )
    else:
        ts = F.expr(f"timestamp_seconds(({sec}) + {SESSION_TS_SHIFT_S})")
    return (
        events.withColumn("_session_ts", ts)
        .withWatermark("_session_ts", watermark)
        .groupBy(F.session_window("_session_ts", gap), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            (
                F.col("session_window.start")
                - F.expr(f"INTERVAL {SESSION_TS_SHIFT_S} SECONDS")
            ).alias("session_start"),
            "n_events",
        )
    )


def streaming_distinct_keys(
    events: DataFrame, cols: tuple[str, str] = ("user_id", "event_type")
) -> DataFrame:
    """Streaming dedup: the distinct set of ``cols`` pairs seen on the
    stream (``dropDuplicates`` — Spark's stateful streaming dedup; emits
    each key once, on first sight, in append mode).

    Only the key columns are projected *before* the dedup, so the emitted
    rows are fully deterministic (a subset-dedup over wider rows would
    emit whichever payload arrived first). This bounded-drain form keeps
    dedup state for the whole run — correct for availableNow backfills;
    an unbounded 24/7 stream caps state with
    ``dropDuplicatesWithinWatermark`` instead, which scopes the
    exactly-once guarantee to the watermark horizon (keys recur after
    the horizon passes — a deliberate memory/semantics trade)."""
    return events.select(*cols).dropDuplicates(list(cols))


def run_stream_to_memory(
    df: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
    drain_partitions: int = 4,
) -> None:
    """Drain a bounded stream into the in-memory sink (availableNow) and
    block until done — the test/verification harness for streaming plans.
    Aggregations drain in ``complete`` mode; streaming dedup only
    supports ``append``/``update``. Both drain confs below are scoped
    (:func:`scoped_sql_conf`): the session gets its own values back
    after the drain, also when the drain fails.

    ``drain_partitions`` sizes the stateful-shuffle (= state store)
    partition count for the drain.
    Stateful operators pay per-partition state-store commit + checkpoint
    overhead EVERY microbatch regardless of data volume (a stream-stream
    join keeps four stores per partition), so the partition count must
    track state volume, not the session's batch-shuffle default: a
    bounded test drain wants few, a 100 TB production stream sizes it to
    keep per-partition state inside executor memory. The value is pinned
    into the checkpoint at first batch, which is why it is set before
    ``start()`` and why production re-partitioning requires a new
    checkpoint. (Measured on the sf0.1 drain: 8 partitions 1.07s,
    4 → 0.81s, 2 → 0.80s — per-partition store-commit overhead, so the
    default sits at the knee.)

    Drains skip Spark's trailing NO-DATA microbatch. After availableNow
    ingests the last file, Spark runs one more batch purely to advance
    the watermark and EVICT state — on the sf0.1 stream-stream join that
    empty batch costs 2.3 s of the 7 s drain (addBatch re-plan + 4 state
    stores × partitions committing). Every declared drain emits its full
    output in the data batches: complete-mode aggregations re-emit
    everything each batch, append inner joins emit matches as rows
    arrive, streaming dedup emits on first sight, and the update-mode
    stateful op emits per batch — so for a bounded drain whose
    checkpoint is discarded, eviction is pure cost."""
    confs = {
        "spark.sql.shuffle.partitions": str(drain_partitions),
        "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    }
    with scoped_sql_conf(df.sparkSession, confs):
        q = (
            df.writeStream.format("memory")
            .queryName(query_name)
            .outputMode(output_mode)
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def run_stream_foreach_batch(
    df: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    drain_partitions: int = 4,
) -> None:
    """Production-sink drain: ``foreachBatch`` writing each microbatch to
    a **batch-id-keyed parquet directory with overwrite** — the standard
    idempotent-sink recipe for exactly-once *output* on plain files.

    Structured Streaming guarantees at-least-once delivery to
    ``foreachBatch``: after a failure/restart the last uncommitted batch
    is REPLAYED with the SAME ``batch_id``. An append-mode file sink
    would duplicate those rows; overwriting ``{out}/batch_id={id}``
    makes the replay a no-op rewrite of identical content, so
    end-to-end the sink holds exactly-once. (Transactional table
    formats get this via (batchId, epoch) commit dedup; this is the
    format-free equivalent — see the Spark Structured Streaming guide's
    foreachBatch idempotence note.)

    Same state-store partition sizing contract as
    :func:`run_stream_to_memory`.
    """

    def _write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    confs = {"spark.sql.shuffle.partitions": str(drain_partitions)}
    with scoped_sql_conf(df.sparkSession, confs):
        q = (
            df.writeStream.foreachBatch(_write_batch)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def seed_snapshot(base: DataFrame, out_dir: str) -> None:
    """Write the version-0 snapshot :func:`run_stream_merge` builds on.
    Overwrite-mode so re-seeding (a replayed bootstrap) is a no-op
    rewrite of identical content, like every version write below."""
    base.write.mode("overwrite").parquet(f"{out_dir}/v=0")


def read_snapshot(spark: SparkSession, out_dir: str) -> DataFrame:
    """Read the latest **committed** snapshot version.

    A crash mid-write of ``v=N`` leaves a partial partition with no
    ``_SUCCESS`` marker; a bare ``max(v)`` listing would hand readers
    that torn version until the stream replays the batch. Discovery
    therefore walks the Hadoop FileSystem (works for any scheme Spark
    can write) and takes the highest version directory whose
    ``_SUCCESS`` exists — the same commit signal Spark's own
    FileOutputCommitter leaves. Production would keep a manifest / table
    format instead of listing; the versioned layout itself is
    format-free."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(out_dir)
    fs = jpath.getFileSystem(
        spark.sparkContext._jsc.hadoopConfiguration()
    )
    committed = []
    for st in fs.listStatus(jpath):
        name = st.getPath().getName()
        if not (st.isDirectory() and name.startswith("v=")):
            continue
        try:
            v = int(name[2:])
        except ValueError:
            continue
        if fs.exists(
            jvm.org.apache.hadoop.fs.Path(f"{out_dir}/{name}/_SUCCESS")
        ):
            committed.append(v)
    if not committed:
        raise FileNotFoundError(
            f"read_snapshot: no committed snapshot version under {out_dir}"
        )
    return spark.read.parquet(f"{out_dir}/v={max(committed)}")


def run_stream_merge(
    changes: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    key: str,
    cols,
    drain_partitions: int = 4,
    seq_col: str | None = None,
) -> None:
    """Streaming CDC apply: maintain an upserted snapshot table from a
    stream of ``(key, op, cols...)`` change rows — MERGE INTO as a
    streaming sink, without a transactional table format.

    Each microbatch ``i`` reads snapshot version ``i`` and writes the
    merged result as version ``i+1`` (``{out}/v={i+1}``): the chain
    version = batch id makes the sink **exactly-once under replay** — a
    redelivered batch re-reads the SAME input version (prior batches are
    already committed) and rewrites its output version with identical
    content, the same idempotence recipe as
    :func:`run_stream_foreach_batch`, extended to stateful maintenance.
    Never reads and overwrites the same path in one job (the classic
    self-overwrite trap). Seed version 0 with :func:`seed_snapshot`;
    read the current table with :func:`read_snapshot`. At scale each
    version write is a full snapshot — the format-free trade-off; a
    table format (or partition-level rewrites) drops in at the
    ``foreachBatch`` body without touching the plan above it.

    Lifecycle contract: checkpoint and output dir pair for life — a
    FRESH checkpoint restarts batch ids at 0, so pointing it at an
    out_dir whose committed versions already advanced further would
    leave the old higher versions shadowing the new chain in
    :func:`read_snapshot`. Start a rebuild with a fresh out_dir (or
    prune versions > 0 first).

    **Within-batch ordering**: a microbatch can carry several changes
    for one key, and a stream offers no cross-row order guarantee
    inside the batch DataFrame. Pass ``seq_col`` (the CDC source's
    offset / LSN column) to resolve them last-writer-wins; without it
    ``merge_changes`` falls back to op priority (``D > U > I``), so a
    delete-then-reinsert landing in ONE batch nets to the delete and
    the reinserted row is lost. Any real changelog carries an offset —
    forward it.
    """
    from financial_big_data_exp_4_spark.operators.relational import (
        merge_changes,
    )

    spark = changes.sparkSession

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        current = spark.read.parquet(f"{out_dir}/v={batch_id}")
        merged = merge_changes(
            current, batch_df, key=key, cols=tuple(cols), seq_col=seq_col
        )
        merged.write.mode("overwrite").parquet(
            f"{out_dir}/v={batch_id + 1}"
        )

    confs = {"spark.sql.shuffle.partitions": str(drain_partitions)}
    with scoped_sql_conf(spark, confs):
        q = (
            changes.writeStream.foreachBatch(_apply)
            .outputMode("append")
            .option("checkpointLocation", checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()


def streaming_error_purchase_join(
    events: DataFrame, window: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Stream-stream inner join: each error event joins the same user's
    purchases from the preceding hour — the streaming twin of the batch
    bucketed range join (``operators.joins.range_join_bucketed``).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can evict join state once the watermark passes a
    row's latest possible match — without the time bound the state would
    grow with the stream. The range compares the watermarked ``ts_utc``
    columns directly: they are derived as ``timestamp_micros(ts DIV
    1000)``, so µs-precision comparison (the batch/oracle arithmetic) and
    the state-eviction time bound are the SAME predicate — a separate
    non-watermark µs column in the condition would force the eviction
    planner to ignore it (it cannot bound state from a column it has no
    watermark for).

    Both sides' event time is shifted by ``SESSION_TS_SHIFT_S`` before
    watermarking (see the constant: the epoch-clamped watermark silently
    drops pre-epoch rows from join state); the range predicate compares
    two shifted times, so it is shift-invariant, and the output carries
    no timestamps — nothing to unshift.
    """
    shifted = events.withColumn(
        "ts_utc",
        F.col("ts_utc") + F.expr(f"INTERVAL {SESSION_TS_SHIFT_S} SECONDS"),
    )
    errors = (
        shifted.where(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("e_user"),
            "ts_utc",
        )
        .withWatermark("ts_utc", watermark)
        .withColumnRenamed("ts_utc", "e_ts_utc")
    )
    purchases = (
        shifted.where(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purch_id"),
            F.col("user_id").alias("p_user"),
            "value",
            "ts_utc",
        )
        .withWatermark("ts_utc", watermark)
        .withColumnRenamed("ts_utc", "p_ts_utc")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("e_ts_utc") >= F.col("p_ts_utc"))
        & (F.col("e_ts_utc") < F.col("p_ts_utc") + F.expr(f"INTERVAL {window}")),
    )
    return joined.select(
        F.col("e_user").alias("user_id"),
        "err_id",
        "purch_id",
        "value",
    )
