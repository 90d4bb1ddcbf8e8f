"""Event operators: batch sessionization semantics + streaming twins.

The streaming tests drain the events parquet as a bounded stream
(``availableNow`` + memory sink) and cross-check against the batch
operators — the batch/streaming agreement IS the assertion.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import functions as F

NS = 1_000_000_000


def test_sessionize_gap_semantics(spark):
    from financial_big_data_exp_4_spark.operators import sessionize

    base = 1_700_000_000 * NS
    rows = [
        # user 1: 3 events in one burst, then one 2h later → 2 sessions
        (1, 1, base),
        (2, 1, base + 60 * NS),
        (3, 1, base + 120 * NS),
        (4, 1, base + 2 * 3600 * NS),
        # user 2: single event → 1 session
        (5, 2, base),
    ]
    events = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long"
    )
    out = {
        (r["user_id"], r["session_idx"]): r for r in sessionize(events).collect()
    }
    assert len(out) == 3
    assert out[(1, 1)]["n_events"] == 3 and out[(1, 1)]["duration_s"] == 120
    assert out[(1, 2)]["n_events"] == 1
    assert out[(2, 1)]["n_events"] == 1


def test_tumbling_counts_window_edges(spark):
    from financial_big_data_exp_4_spark.operators import tumbling_counts

    h = 3600 * NS
    rows = [
        (1, "a", 10 * h),          # exactly on the boundary
        (2, "a", 10 * h + 1),      # 1ns into the window
        (3, "a", 11 * h - 1),      # last ns of the window
        (4, "a", 11 * h),          # next window
    ]
    events = spark.createDataFrame(rows, "event_id long, event_type string, ts long")
    out = {r["window_start_s"]: r["cnt"] for r in tumbling_counts(events).collect()}
    assert out == {10 * 3600: 3, 11 * 3600: 1}


def test_tumbling_counts_pre_epoch_floor_buckets(spark):
    """Pre-epoch timestamps must FLOOR into the hour before zero: Spark's
    truncating DIV would collapse (-1h, +1h) into one double-width bucket
    at 0, while the DuckDB oracle's // floors — an engine-oracle mismatch
    on any pre-epoch backfill."""
    from financial_big_data_exp_4_spark.operators import (
        sessionize,
        tumbling_counts,
    )

    h = 3600 * NS
    rows = [
        (1, "a", -1),        # last ns of hour -1
        (2, "a", -h),        # exactly on the -1h boundary
        (3, "a", -h - 1),    # last ns of hour -2
        (4, "a", 0),         # epoch itself
    ]
    events = spark.createDataFrame(rows, "event_id long, event_type string, ts long")
    out = {r["window_start_s"]: r["cnt"] for r in tumbling_counts(events).collect()}
    assert out == {-3600: 2, -7200: 1, 0: 1}

    # sessionize's second truncation floors too: ts=-0.5s is second -1,
    # so the true ~1800.5s gap to +1800s measures 1801 > gap -> 2 sessions
    ev2 = spark.createDataFrame(
        [(1, 1, -NS // 2), (2, 1, 1800 * NS)],
        "event_id long, user_id long, ts long",
    )
    sess = sessionize(ev2).collect()
    assert len(sess) == 2


def test_gap_fill_emits_zero_rows_for_empty_hours(spark):
    """The dense grid must cover every hour in [first, last] per type,
    with absent hours as explicit zeros — per type, not globally."""
    from financial_big_data_exp_4_spark.operators.events import (
        gap_fill_hourly,
    )

    h = 3600 * NS
    rows = [
        (1, "a", 10 * h + 5),
        (2, "a", 13 * h + 5),  # hours 11, 12 are gaps for "a"
        (3, "b", 11 * h + 5),  # "b" spans a single hour: no fill rows
    ]
    events = spark.createDataFrame(rows, "event_id long, event_type string, ts long")
    out = {
        (r["event_type"], r["hour_start_s"]): r["n_events"]
        for r in gap_fill_hourly(events).collect()
    }
    assert out == {
        ("a", 10 * 3600): 1,
        ("a", 11 * 3600): 0,
        ("a", 12 * 3600): 0,
        ("a", 13 * 3600): 1,
        ("b", 11 * 3600): 1,
    }


def test_streaming_tumbling_matches_batch(spark, sf_dir):
    from financial_big_data_exp_4_spark.operators import tumbling_counts
    from financial_big_data_exp_4_spark.sources import load_table
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        streaming_tumbling_counts,
    )

    stream = streaming_tumbling_counts(read_events_stream(spark, sf_dir))
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(stream, "tumble_test", ckpt)
    got = {
        (int(r["window_start"].timestamp()), r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM tumble_test").collect()
    }
    batch = {
        (r["window_start_s"], r["event_type"]): r["cnt"]
        for r in tumbling_counts(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == batch


def test_streaming_sessions_match_batch_session_count(spark, sf_dir):
    from financial_big_data_exp_4_spark.operators import sessionize
    from financial_big_data_exp_4_spark.sources import load_table
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        streaming_session_counts,
    )

    stream = streaming_session_counts(read_events_stream(spark, sf_dir))
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(stream, "sess_test", ckpt)
    got = (
        spark.sql("SELECT user_id, count(*) AS n FROM sess_test GROUP BY user_id")
        .collect()
    )
    stream_sessions = {r["user_id"]: r["n"] for r in got}
    batch = (
        sessionize(load_table(spark, sf_dir, "events"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    batch_sessions = {r["user_id"]: r["n"] for r in batch}
    assert stream_sessions == batch_sessions


def test_streaming_sessions_second_truncation_at_gap_boundary(
    spark, tmp_path
):
    """A true gap of 1800.8s truncates to exactly 1800s: the batch
    sessionizer (second-truncated, new session iff gap > 1800) MERGES
    the pair, and the streaming twin must agree — its default second
    truncation exists precisely for this boundary. On raw µs times
    (second_truncate=False) session_window splits the pair, which is the
    documented batch-parity divergence."""
    import datetime as dt

    from financial_big_data_exp_4_spark.streaming import (
        run_stream_to_memory,
        streaming_session_counts,
    )

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, base + dt.timedelta(seconds=0.1)),
        (1, base + dt.timedelta(seconds=1800.9)),
    ]
    src = str(tmp_path / "ev")
    spark.createDataFrame(rows, "user_id long, ts_utc timestamp").write.parquet(src)
    schema = spark.read.parquet(src).schema

    def drain(table, **kw):
        stream = streaming_session_counts(
            spark.readStream.schema(schema).parquet(src), **kw
        )
        with tempfile.TemporaryDirectory() as ckpt:
            run_stream_to_memory(stream, table, ckpt)
        return spark.table(table).collect()

    truncated = drain("sess_boundary_trunc")
    assert [r["n_events"] for r in truncated] == [2]  # merged, = batch

    raw = drain("sess_boundary_raw", second_truncate=False)
    assert sorted(r["n_events"] for r in raw) == [1, 1]  # µs split


def test_json_extract_values(spark):
    from financial_big_data_exp_4_spark.operators import json_extract_stats

    events = spark.createDataFrame(
        [(1, "a", '{"k": 5}'), (2, "a", '{"k": 7}'), (3, "b", '{"k": -1}')],
        "event_id long, event_type string, props string",
    )
    out = {r["event_type"]: r for r in json_extract_stats(events).collect()}
    assert out["a"]["sum_k"] == 12 and out["a"]["min_k"] == 5
    assert out["b"]["max_k"] == -1


def test_json_extract_non_integer_value_yields_null_not_crash(spark):
    """Semi-structured data will contain junk: a non-integer property
    must become NULL (absorbed by the null-skipping aggregates), not
    abort the query under Spark 4's default ANSI mode."""
    from financial_big_data_exp_4_spark.operators import json_extract_stats

    events = spark.createDataFrame(
        [(1, "a", '{"k": 5}'), (2, "a", '{"k": "junk"}'), (3, "a", None)],
        "event_id long, event_type string, props string",
    )
    [r] = json_extract_stats(events).collect()
    assert (r["cnt"], r["sum_k"], r["min_k"], r["max_k"]) == (3, 5, 5, 5)


def test_session_window_merges_at_exact_gap(spark, tmp_path):
    """Pin Spark's inclusive gap semantics: an event exactly `gap` after
    the previous one MERGES into the session (caught at sf0.1 — the
    oracle must use `> gap` for a new session, not `>=`)."""
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.streaming import (
        run_stream_to_memory,
        streaming_session_counts,
    )

    src = tmp_path / "events_src"
    src.mkdir()
    base = 1_700_000_000
    df = spark.createDataFrame(
        [(1, 1, base), (2, 1, base + 1800), (3, 1, base + 3601)],
        "event_id long, user_id long, ts_s long",
    )
    dataset = str(src / "events_ds")
    df.write.parquet(dataset)  # a directory of part files — stream it directly
    stream = (
        spark.readStream.schema("event_id long, user_id long, ts_s long")
        .parquet(dataset)
        .withColumn("ts_utc", F.expr("timestamp_seconds(ts_s)"))
    )
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(
            streaming_session_counts(stream), "gap_test", ckpt
        )
    rows = spark.sql("SELECT * FROM gap_test").collect()
    # events 1+2 merge (diff == gap); event 3 starts a new session
    assert sorted(r["n_events"] for r in rows) == [1, 2]


def test_streaming_dedup_equals_batch_distinct(spark, sf_dir, tmp_path):
    from financial_big_data_exp_4_spark.sources import load_table
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        streaming_distinct_keys,
    )

    stream = streaming_distinct_keys(read_events_stream(spark, sf_dir))
    run_stream_to_memory(
        stream, "t_stream_dedup", str(tmp_path / "ckpt"), output_mode="append"
    )
    got = sorted(
        map(tuple, spark.table("t_stream_dedup").collect())
    )
    want = sorted(
        map(
            tuple,
            load_table(spark, sf_dir, "events")
            .select("user_id", "event_type")
            .distinct()
            .collect(),
        )
    )
    assert got == want


def test_stream_stream_join_equals_batch_range_join(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.operators import range_join_bucketed
    from financial_big_data_exp_4_spark.sources import load_table
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        streaming_error_purchase_join,
    )

    stream = streaming_error_purchase_join(read_events_stream(spark, sf_dir))
    run_stream_to_memory(
        stream, "t_ss_join", str(tmp_path / "ckpt"), output_mode="append"
    )
    got = sorted(map(tuple, spark.table("t_ss_join").collect()))

    events = load_table(spark, sf_dir, "events")
    ts_us = F.expr("ts DIV 1000")
    errors = events.where(F.col("event_type") == "error").select(
        "user_id", F.col("event_id").alias("err_id"), ts_us.alias("ets")
    )
    purchases = events.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purch_id"),
        ts_us.alias("pts"), "value",
    )
    want = sorted(
        map(
            tuple,
            range_join_bucketed(
                errors, purchases, key="user_id", probe_ts="ets",
                start_ts="pts",
            )
            .select("user_id", "err_id", "purch_id", "value")
            .collect(),
        )
    )
    assert got == want and len(got) > 0


def test_stateful_running_totals_equals_batch(spark, sf_dir):
    """applyInPandasWithState drain ≡ batch aggregate on a bounded
    single-batch stream (the custom-stateful streaming class)."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.sources import load_table
    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        streaming_user_running_totals,
    )

    name = f"stateful_{uuid.uuid4().hex[:8]}"
    stream = streaming_user_running_totals(read_events_stream(spark, sf_dir))
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(stream, name, ckpt, output_mode="update")
    got = {
        r["user_id"]: (r["n_events"], r["last_ts_us"])
        for r in spark.table(name).collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["last"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.max(F.expr("ts DIV 1000")).alias("last"),
        )
        .collect()
    }
    assert got == batch


def test_stateful_all_null_event_times_emit_null_max(spark, tmp_path):
    """A key observed ONLY with NULL event times must emit a NULL
    ``last_ts_us`` — the batch oracle's ``max(epoch_us(ts))`` is NULL for
    that key, and the int64-min transit sentinel is a reachable real
    value so it must never leak into the output (round-11 ADVICE)."""
    import uuid

    from financial_big_data_exp_4_spark.streaming import (
        run_stream_to_memory,
        streaming_user_running_totals,
    )

    rows = [
        (1, None),
        (1, None),
        (2, None),
        (2, "2021-03-04 05:06:07"),
    ]
    events = spark.sql(
        "SELECT user_id, CAST(ts_utc AS TIMESTAMP) AS ts_utc FROM VALUES "
        + ", ".join(f"({u}, {repr(t) if t else 'NULL'})" for u, t in rows)
        + " AS t(user_id, ts_utc)"
    )
    src = tmp_path / "null_ts_events"
    events.coalesce(1).write.parquet(str(src))
    static = spark.read.parquet(str(src))
    stream = spark.readStream.schema(static.schema).parquet(str(src))
    name = f"nullts_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(
        streaming_user_running_totals(stream),
        name,
        str(tmp_path / "ckpt"),
        output_mode="update",
    )
    got = {
        r["user_id"]: (r["n_events"], r["last_ts_us"])
        for r in spark.table(name).collect()
    }
    assert got[1] == (2, None), got
    n2, last2 = got[2]
    assert n2 == 2 and last2 is not None, got
    # the real timestamp dominates the NULL row's sentinel
    import datetime as _dt

    want_us = int(
        _dt.datetime(
            2021, 3, 4, 5, 6, 7, tzinfo=_dt.timezone.utc
        ).timestamp()
        * 1_000_000
    )
    assert last2 == want_us, (last2, want_us)


def test_multibatch_stream_equals_batch(spark, sf_dir, tmp_path):
    """TRUE incremental processing: the events table split into three
    part files, streamed one file per microbatch (3 batches, state
    carried across batches) must still equal the batch aggregate —
    single-batch drains alone can't distinguish stateful merging from a
    plain aggregate."""
    import tempfile
    import uuid

    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.sources import load_table
    from financial_big_data_exp_4_spark.streaming import (
        run_stream_to_memory,
        streaming_tumbling_counts,
    )

    events = load_table(spark, sf_dir, "events")
    src = tmp_path / "events_parts"
    # deterministic 3-way split by event_id so the batches interleave in
    # event time (late-ish data within the watermark, the interesting case)
    events.withColumn("_part", F.col("event_id") % 3).repartition(
        "_part"
    ).write.partitionBy("_part").parquet(str(src))

    static = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    from financial_big_data_exp_4_spark.sources.parquet import ts_utc_expr

    agg = streaming_tumbling_counts(
        stream.withColumn("ts_utc", ts_utc_expr(dict(static.dtypes)["ts"]))
    )
    name = f"multibatch_{uuid.uuid4().hex[:8]}"
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(agg, name, ckpt)
    got = {
        (int(r["window_start"].timestamp()), r["event_type"]): r["cnt"]
        for r in spark.table(name).collect()
    }
    batch = {
        (r["window_start_s"], r["event_type"]): r["cnt"]
        for r in __import__(
            "financial_big_data_exp_4_spark.operators.events",
            fromlist=["tumbling_counts"],
        ).tumbling_counts(events).collect()
    }
    assert got == batch


def test_foreach_batch_sink_is_idempotent_on_replay(spark, tmp_path):
    """Exactly-once via the foreachBatch idempotent sink: a 2-file source
    drains as 2 microbatches into batch-id-keyed parquet dirs; replaying
    the WHOLE stream (fresh checkpoint, same output dir — the superset
    of any failure-replay) overwrites the same dirs and leaves the
    output byte-identical, where an append sink would have doubled it."""
    import glob as g
    import shutil

    from financial_big_data_exp_4_spark.streaming import (
        run_stream_foreach_batch,
    )

    src = tmp_path / "src"
    src.mkdir()
    for i, lo in enumerate((0, 100)):
        stage = str(tmp_path / f"stage{i}")
        spark.range(lo, lo + 50).withColumn(
            "v", F.col("id") * 2
        ).coalesce(1).write.parquet(stage)
        shutil.copy(
            g.glob(stage + "/part-*.parquet")[0],
            str(src / f"file{i}.parquet"),
        )

    schema = spark.read.parquet(str(src)).schema
    expected = {(i, i * 2) for i in range(50)} | {
        (i, i * 2) for i in range(100, 150)
    }
    out = str(tmp_path / "out")

    def drain(ckpt: str) -> None:
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        run_stream_foreach_batch(stream, out, ckpt)

    drain(str(tmp_path / "ckpt1"))
    batch_dirs = sorted(g.glob(out + "/batch_id=*"))
    assert len(batch_dirs) == 2  # one dir per microbatch
    first = {
        (r["id"], r["v"]) for r in spark.read.parquet(out).collect()
    }
    assert first == expected

    # full replay: fresh checkpoint reprocesses every batch with the
    # same batch ids — overwrite makes it a no-op, not a duplication
    drain(str(tmp_path / "ckpt2"))
    replayed = {
        (r["id"], r["v"]) for r in spark.read.parquet(out).collect()
    }
    assert replayed == expected
    assert spark.read.parquet(out).count() == 100  # no row-level dupes


def test_stream_merge_maintains_snapshot_exactly_once(spark, tmp_path):
    """Streaming CDC apply: a 2-file change stream merged batch-by-batch
    into a versioned snapshot equals the batch MERGE composition, and a
    full replay (fresh checkpoint, same output) leaves every version
    byte-identical — the exactly-once contract of the version=batch-id
    chain. Change batches target disjoint keys so the expected result is
    independent of microbatch file order."""
    import glob as g
    import shutil

    from financial_big_data_exp_4_spark.operators.relational import (
        merge_changes,
    )
    from financial_big_data_exp_4_spark.streaming import (
        read_snapshot,
        run_stream_merge,
        seed_snapshot,
    )

    base = spark.createDataFrame(
        [(i, float(i * 10), "A") for i in range(10)],
        "k long, val double, st string",
    )
    b1 = [(1, "U", 111.0, "B"), (2, "D", None, None)]
    b2 = [(7, "U", 777.0, "C"), (50, "I", 500.0, "N")]
    src = tmp_path / "chg"
    src.mkdir()
    for i, rows in enumerate((b1, b2)):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            rows, "k long, op string, val double, st string"
        ).coalesce(1).write.parquet(stage)
        shutil.copy(
            g.glob(stage + "/part-*.parquet")[0],
            str(src / f"file{i}.parquet"),
        )

    out = str(tmp_path / "snap")
    schema = spark.read.parquet(str(src)).schema

    def drain(ckpt: str) -> None:
        seed_snapshot(base, out)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        run_stream_merge(
            stream, out, ckpt, key="k", cols=("val", "st")
        )

    drain(str(tmp_path / "ckpt1"))
    # batch oracle: both change sets applied (disjoint keys -> any order)
    all_changes = spark.createDataFrame(
        b1 + b2, "k long, op string, val double, st string"
    )
    expected = {
        tuple(r)
        for r in merge_changes(
            base, all_changes, key="k", cols=("val", "st")
        ).collect()
    }
    got = {tuple(r) for r in read_snapshot(spark, out).collect()}
    assert got == expected and len(got) == 10  # 10 -1 del +1 ins

    # full replay: same versions rewritten with identical content
    drain(str(tmp_path / "ckpt2"))
    replay = {tuple(r) for r in read_snapshot(spark, out).collect()}
    assert replay == expected
    assert len(g.glob(out + "/v=*")) == 3  # v0 seed + one per batch


def test_stream_merge_same_key_delete_then_reinsert_in_one_batch(
    spark, tmp_path
):
    """A microbatch carrying D then I for the SAME key must net to the
    reinsert when the change rows carry a sequence column: without
    ``seq_col`` the op-priority fallback (D > U > I) would resolve the
    batch to the delete and silently lose the row."""
    from financial_big_data_exp_4_spark.streaming import (
        read_snapshot,
        run_stream_merge,
        seed_snapshot,
    )

    base = spark.createDataFrame(
        [(i, float(i * 10)) for i in range(5)], "k long, val double"
    )
    # one file -> one microbatch: the same-key D (seq 1) and I (seq 2)
    # land in a single batch DataFrame with no row-order guarantee
    changes = [(3, "D", None, 1), (3, "I", 333.0, 2), (9, "I", 900.0, 3)]
    src = tmp_path / "chg"
    spark.createDataFrame(
        changes, "k long, op string, val double, seq long"
    ).coalesce(1).write.parquet(str(src))

    out = str(tmp_path / "snap")
    seed_snapshot(base, out)
    stream = spark.readStream.schema(
        spark.read.parquet(str(src)).schema
    ).parquet(str(src))
    run_stream_merge(
        stream,
        out,
        str(tmp_path / "ckpt"),
        key="k",
        cols=("val",),
        seq_col="seq",
    )

    got = {tuple(r) for r in read_snapshot(spark, out).collect()}
    assert (3, 333.0) in got  # last-writer-wins: the reinsert survived
    assert (9, 900.0) in got
    assert len(got) == 6  # 5 base rows (k=3 rewritten) + 1 insert


def test_streaming_sessions_keep_pre_epoch_events(spark, tmp_path):
    """Spark's streaming watermark clamps at epoch 0, so without the
    SESSION_TS_SHIFT_S offset every pre-epoch event is silently treated
    as late and its session never emitted (tools/fuzz_correctness.py
    found 141 such sessions dropped vs the batch oracle). The shifted
    session_window must emit them with exact, shift-free starts."""
    import datetime as dt

    from financial_big_data_exp_4_spark.streaming import (
        run_stream_to_memory,
        streaming_session_counts,
    )

    pre = dt.datetime(1969, 12, 2, 6, 0, 0)  # epoch -30 days
    post = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        (1, pre),
        (1, pre + dt.timedelta(seconds=10)),   # same pre-epoch session
        (1, pre + dt.timedelta(seconds=2000)),  # new pre-epoch session
        (2, post),
    ]
    src = str(tmp_path / "ev_pre")
    spark.createDataFrame(rows, "user_id long, ts_utc timestamp").write.parquet(src)
    schema = spark.read.parquet(src).schema
    stream = streaming_session_counts(
        spark.readStream.schema(schema).parquet(src)
    )
    with tempfile.TemporaryDirectory() as ckpt:
        run_stream_to_memory(stream, "sess_pre_epoch", ckpt)
    got = sorted(
        (r["user_id"], int(r["session_start"].timestamp()), r["n_events"])
        for r in spark.table("sess_pre_epoch").collect()
    )
    pre_s = int(pre.replace(tzinfo=dt.timezone.utc).timestamp())
    post_s = int(post.replace(tzinfo=dt.timezone.utc).timestamp())
    assert got == [
        (1, pre_s, 2),
        (1, pre_s + 2000, 1),
        (2, post_s, 1),
    ]


def test_streaming_tumbling_update_mode_keeps_pre_epoch(spark, tmp_path):
    """Round-10 regression: in update/append output modes Spark's
    StateStoreSave filters rows below the epoch-clamped watermark, so
    WITHOUT the SESSION_TS_SHIFT_S shift every pre-epoch event was
    silently dropped (complete mode, which the other tests drain with,
    performs no late-row filtering and masked it). Pre-epoch events in
    an UPDATE-mode drain must match the batch aggregate exactly."""
    import uuid

    from pyspark.sql import functions as F

    from financial_big_data_exp_4_spark.operators import tumbling_counts
    from financial_big_data_exp_4_spark.sources.parquet import ts_utc_expr
    from financial_big_data_exp_4_spark.streaming import (
        run_stream_to_memory,
        streaming_tumbling_counts,
    )

    hours = [-30, -29, -29, -1, 0, 1, 5, 5]  # ns epochs straddling 0
    rows = [
        (i, h * 3_600 * 1_000_000_000, "t%d" % (i % 2))
        for i, h in enumerate(hours)
    ]
    events = spark.createDataFrame(
        rows, "event_id long, ts long, event_type string"
    )
    src = tmp_path / "pre_epoch_events"
    events.coalesce(1).write.parquet(str(src))

    static = spark.read.parquet(str(src))
    stream = (
        spark.readStream.schema(static.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    agg = streaming_tumbling_counts(
        stream.withColumn("ts_utc", ts_utc_expr(dict(static.dtypes)["ts"]))
    )
    name = f"pre_epoch_{uuid.uuid4().hex[:8]}"
    run_stream_to_memory(agg, name, str(tmp_path / "ckpt"), output_mode="update")
    got = {
        (int(r["window_start"].timestamp()), r["event_type"]): r["cnt"]
        for r in spark.table(name).collect()
    }
    batch = {
        (r["window_start_s"], r["event_type"]): r["cnt"]
        for r in tumbling_counts(events).collect()
    }
    assert got == batch
    assert any(k[0] < 0 for k in got), "pre-epoch windows must be present"


def test_streaming_tumbling_rejects_unaligned_width(spark, sf_dir):
    """The epoch shift is boundary-exact only when the window width
    divides it; unaligned widths must be refused loudly."""
    import pytest as _pytest

    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        streaming_tumbling_counts,
    )

    events = read_events_stream(spark, sf_dir)
    with _pytest.raises(ValueError, match="does not divide"):
        streaming_tumbling_counts(events, width="7 days")
    with _pytest.raises(ValueError, match="unsupported interval"):
        streaming_tumbling_counts(events, width="1 fortnight")


def test_drain_restores_session_confs(spark, sf_dir, tmp_path):
    """run_stream_to_memory scopes its drain confs: shuffle partitions and
    the no-data-microbatch switch read their pre-drain values after a
    drain that succeeds and after one whose ``start()`` raises."""
    import pytest
    from pyspark.errors import AnalysisException

    from financial_big_data_exp_4_spark.streaming import (
        read_events_stream,
        run_stream_to_memory,
        streaming_distinct_keys,
    )

    keys = (
        "spark.sql.shuffle.partitions",
        "spark.sql.streaming.noDataMicroBatches.enabled",
    )
    saved = {k: spark.conf.get(k) for k in keys}
    # values the drain does not use, so a missed restore shows
    before = {keys[0]: "7", keys[1]: "true"}
    try:
        for k, v in before.items():
            spark.conf.set(k, v)
        stream = streaming_distinct_keys(read_events_stream(spark, sf_dir))
        run_stream_to_memory(
            stream,
            "t_drain_confs",
            str(tmp_path / "ok"),
            output_mode="append",
            drain_partitions=2,
        )
        assert spark.table("t_drain_confs").count() > 0
        assert {k: spark.conf.get(k) for k in keys} == before
        # complete mode on a non-aggregating stream fails in start()
        with pytest.raises(AnalysisException):
            run_stream_to_memory(
                stream,
                "t_drain_confs_bad",
                str(tmp_path / "bad"),
                output_mode="complete",
                drain_partitions=2,
            )
        assert {k: spark.conf.get(k) for k in keys} == before
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
