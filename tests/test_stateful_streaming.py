"""applyInPandasWithState custom stateful operator: streaming running
totals must equal the batch aggregate after the stream drains."""

from pyspark.sql import functions as F

from etlutils_spark.streaming.ingest import run_available_now, stream_events_file
from etlutils_spark.streaming.stateful import running_user_totals


def test_stateful_running_totals(spark, sf_dir, star):
    events = stream_events_file(spark, sf_dir)
    out = running_user_totals(events)
    got_df = run_available_now(
        spark, out, query_name="t_state", output_mode="update"
    )
    # last update per user = final totals
    latest = {r.user_id: (r.n_events,) for r in got_df.collect()}
    batch = {
        r.user_id: (r.n,)
        for r in star["events"].groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # in availableNow the whole file is one batch -> single update row per user
    assert latest == batch


def test_sessionize_stateful_watermark_eviction(spark, tmp_path):
    """Sessions close via EventTimeTimeout as the watermark advances
    across micro-batches; open-tail state is evicted, not emitted."""
    import time

    from etlutils_spark.streaming.stateful import sessionize_stateful

    t0 = "2024-01-01 00:{:02d}:00"
    batches = [
        [(1, t0.format(0)), (1, t0.format(1)), (2, t0.format(0))],  # session A
        [(1, "2024-01-01 01:00:00")],  # session B; watermark -> 00:50
        [(1, "2024-01-01 02:00:00")],  # tail session; watermark -> 01:50
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id bigint, ts_s string").select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)  # distinct mtimes -> deterministic batch order

    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = sessionize_stateful(stream, gap="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.session_start), r.n_events)
        for r in spark.table("t_sessions").collect()
    }
    # sessions A (both users) and B closed by watermark; 02:00 tail
    # session's timeout (02:10) is past the final watermark (01:50) ->
    # evicted silently, never emitted
    assert (1, "2024-01-01 00:00:00", 2) in got
    assert (2, "2024-01-01 00:00:00", 1) in got
    assert (1, "2024-01-01 01:00:00", 1) in got
    assert not any(s.startswith("2024-01-01 02") for _, s, _ in got)


def test_sessionize_stateful_late_event_extends_session_start(spark, tmp_path):
    """A late-but-admitted event (>= watermark) that precedes the open
    session's start must pull session_start back to it — end-only
    tracking emitted a start later than the session's earliest event
    (review catch). Batch 1 opens a session at 00:05; batch 2 delivers
    00:01 (watermark after batch 1 is 23:55, so it is admitted and
    merges); batch 3 advances the watermark past the timeout."""
    import time

    from etlutils_spark.streaming.stateful import sessionize_stateful

    batches = [
        [(1, "2024-01-01 00:05:00")],
        [(1, "2024-01-01 00:01:00")],  # late, within the 10-min gap
        [(2, "2024-01-01 03:00:00")],  # watermark -> 02:50 closes it
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id bigint, ts_s string").select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = sessionize_stateful(stream, gap="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late_sessions")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("t_late_sessions").collect()
    }
    # the late 00:01 event is the session's true start and counts
    assert (1, "2024-01-01 00:01:00", "2024-01-01 00:05:00", 2) in got


def test_sessionize_stateful_late_chain_merges_not_singletons(spark, tmp_path):
    """Admitted-late events older than the open session's start by more
    than the gap used to be emitted one singleton session EACH; two or
    more of them within gap of each other are ONE session (review
    catch). Also covers the bridge: a late chain the next event links
    to the open session folds in instead of emitting separately."""
    import time

    from etlutils_spark.streaming.stateful import sessionize_stateful

    batches = [
        # user 1: open session at 01:00; user 2: open session at 02:00
        [(1, "2024-01-01 01:00:00"), (2, "2024-01-01 02:00:00")],
        # user 1: two late events within gap of each other, both more
        # than gap before 01:00 -> ONE merged late session, n=2
        # user 2: late chain 01:38+01:44 (6 min apart, both before
        # 02:00 - gap) then 01:52, which is within gap of BOTH the
        # chain end (8 min) and the open session start -> the whole
        # thing is ONE session 01:38..02:00, n=4
        [
            (1, "2024-01-01 00:20:00"),
            (1, "2024-01-01 00:23:00"),
            (2, "2024-01-01 01:38:00"),
            (2, "2024-01-01 01:44:00"),
            (2, "2024-01-01 01:52:00"),
        ],
        # advance the watermark far enough to time out the open sessions
        [(3, "2024-01-01 05:00:00")],
    ]
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate(batches):
        df = spark.createDataFrame(rows, "user_id bigint, ts_s string").select(
            "user_id", F.col("ts_s").cast("timestamp").alias("ts")
        )
        df.coalesce(1).write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)
    stream = (
        spark.readStream.schema("user_id bigint, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    out = sessionize_stateful(stream, gap="10 minutes")
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("t_late_chain")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in spark.table("t_late_chain").collect()
    }
    # user 1: ONE late session (not two singletons) + the open session
    assert (1, "2024-01-01 00:20:00", "2024-01-01 00:23:00", 2) in got
    assert (1, "2024-01-01 01:00:00", "2024-01-01 01:00:00", 1) in got
    assert not any(u == 1 and n == 1 and s.startswith("2024-01-01 00:2")
                   for u, s, _, n in got)
    # user 2: the bridged chain is one continuous session
    assert (2, "2024-01-01 01:38:00", "2024-01-01 02:00:00", 4) in got
    assert sum(1 for u, *_ in got if u == 2) == 1


def test_sessionize_duration_parser_accepts_spark_interval_forms():
    """_duration_ms must accept the forms withWatermark accepts for the
    SAME gap string — abbreviated units, ms, fractional quantities
    (review catch: '10 min' crashed with KeyError at construction)."""
    from etlutils_spark.streaming.stateful import _duration_ms

    assert _duration_ms("10 minutes") == 600_000
    assert _duration_ms("10 min") == 600_000
    assert _duration_ms("30 sec") == 30_000
    assert _duration_ms("30 seconds") == 30_000
    assert _duration_ms("2 hr") == 7_200_000
    assert _duration_ms("500 milliseconds") == 500
    assert _duration_ms("1.5 hours") == 5_400_000
    import pytest as _pytest

    with _pytest.raises(ValueError, match="unrecognized"):
        _duration_ms("10 fortnights")


def test_atomic_overwrite_parquet_swap_and_heal(spark, tmp_path):
    """atomic_overwrite_parquet replaces a table without a window where
    the only copy is deleted (a direct mode('overwrite') has one —
    review catch), and heal_interrupted_compaction promotes a complete
    tmp if a crash lands between the two renames."""
    from etlutils_spark.sources.files import (
        atomic_overwrite_parquet,
        heal_interrupted_compaction,
    )

    path = str(tmp_path / "state")
    spark.range(5).write.parquet(path)
    # overwrite with a frame that READS from the path being replaced
    # (the funnel's exact shape)
    cur = spark.read.parquet(path)
    atomic_overwrite_parquet(
        cur.withColumn("id", F.col("id") + 100), path
    )
    assert {r.id for r in spark.read.parquet(path).collect()} == set(
        range(100, 105)
    )
    # simulate the mid-swap crash: path renamed away, tmp complete
    import os
    import shutil

    shutil.move(path, f"{path}.compact_tmp")
    assert not os.path.exists(path)
    assert heal_interrupted_compaction(spark, path)
    assert {r.id for r in spark.read.parquet(path).collect()} == set(
        range(100, 105)
    )


def test_incremental_lsh_finds_cross_batch_pairs(spark, tmp_path):
    """Docs arriving in a later micro-batch are deduplicated against the
    persisted signature index of everything seen before — without
    re-shingling the old corpus."""
    import time

    from etlutils_spark.streaming.incremental_lsh import incremental_minhash_dedup

    base = "the quick brown fox jumps over the lazy dog again and again today"
    batches = [
        [(0, base), (1, "a totally different document about spark engines")],
        [(10, base.replace("today", "tomorrow")),  # near-dup of 0 (prior batch)
         (11, "yet another unrelated text mentioning windows and joins"),
         (12, base.replace("today", "tomorrow") + " extra")],  # near-dup of 10 (same batch)
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1)\
            .write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = incremental_minhash_dedup(
        stream,
        index_dir=str(tmp_path / "index"),
        pairs_dir=str(tmp_path / "pairs"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.3,
    )
    q.awaitTermination()

    pairs = {
        tuple(sorted((r.id_1, r.id_2)))
        for r in spark.read.parquet(str(tmp_path / "pairs")).collect()
    }
    assert (0, 10) in pairs   # cross-batch: new doc vs indexed corpus
    assert (10, 12) in pairs  # batch-local pair
    assert not any(1 in p or 11 in p for p in pairs)  # unrelated docs clean
    # index holds every doc's profile after the stream drains
    idx = spark.read.parquet(str(tmp_path / "index"))
    assert {r.doc_id for r in idx.select("doc_id").collect()} == {0, 1, 10, 11, 12}


def test_incremental_span_dedup_cross_batch_first_occurrence(spark, tmp_path):
    """A span first seen in batch 1 is a DUP when batch 2 repeats it —
    the index, not batch locality, decides first occurrence; final
    stats equal the batch operator on the concatenated corpus."""
    import time

    from etlutils_spark.operators.dedup import window_dedup_stats
    from etlutils_spark.streaming.incremental_spans import incremental_span_dedup

    batches = [
        [(0, "a b c d e f g h")],
        [(10, "a b c d x y z w"),    # first span dups batch-1 doc 0
         (11, "p q r s")],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1)\
            .write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)

    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/*")
    )
    q = incremental_span_dedup(
        stream,
        index_dir=str(tmp_path / "index"),
        stats_dir=str(tmp_path / "stats"),
        checkpoint=str(tmp_path / "ckpt"),
        window=4,
    )
    q.awaitTermination()

    got = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["n_kept_tokens"])
        for r in spark.read.parquet(str(tmp_path / "stats")).distinct().collect()
    }
    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(all_rows, "doc_id bigint, text string")
    want = {
        r["doc_id"]: (r["n_windows"], r["n_dup_windows"], r["n_kept_tokens"])
        for r in window_dedup_stats(batch_df, window=4).collect()
    }
    assert got == want
    assert got[10] == (2, 1, 4)  # cross-batch dup detected


def test_incremental_span_dedup_replay_is_idempotent(spark, tmp_path):
    """The worst failure window: a batch dies AFTER its index append
    but BEFORE the checkpoint commit. The replay runs against an index
    that already contains the batch's own keys — the positional index
    entries make it reproduce byte-identical stats, so distinct()
    restores exactly-once."""
    import time

    from etlutils_spark.streaming.incremental_spans import incremental_span_dedup

    batches = [
        [(0, "a b c d e f g h")],
        [(10, "a b c d x y z w"), (11, "p q r s")],
    ]
    src = tmp_path / "docs"
    src.mkdir()
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, "doc_id bigint, text string").coalesce(1)\
            .write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)

    def run(ckpt, path_glob):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(path_glob)
        )
        q = incremental_span_dedup(
            stream,
            index_dir=str(tmp_path / "index"),
            stats_dir=str(tmp_path / "stats"),
            checkpoint=str(tmp_path / ckpt),
            window=4,
        )
        q.awaitTermination()

    run("ckpt", str(src) + "/*")
    before = sorted(map(str, spark.read.parquet(str(tmp_path / "stats"))
                        .distinct().collect()))
    n_index = spark.read.parquet(str(tmp_path / "index")).count()
    # simulate the replay: re-process batch 2 with a FRESH checkpoint —
    # the index already holds its keys (post-append state)
    run("ckpt_replay", str(src / "b1"))
    after = sorted(map(str, spark.read.parquet(str(tmp_path / "stats"))
                       .distinct().collect()))
    assert after == before                      # stats identical after distinct
    assert spark.read.parquet(str(tmp_path / "index")).count() == n_index


def test_incremental_span_dedup_unusable_index_raises(spark, tmp_path):
    """An index directory the probe cannot use (here its ``__first``
    column is a string, not the ``(id, idx)`` struct) fails the batch
    loudly; it is not taken for a cold start, which would re-seed the
    index from the batch alone and emit stats as if no span had been
    seen before."""
    import pytest

    from etlutils_spark.streaming.incremental_spans import incremental_span_dedup

    index_dir = str(tmp_path / "index")
    spark.createDataFrame([(1, "x")], "__key long, __first string").write.parquet(
        index_dir
    )
    src = tmp_path / "docs"
    spark.createDataFrame(
        [(0, "a b c d e f g h")], "doc_id bigint, text string"
    ).coalesce(1).write.parquet(str(src / "b0"))
    stream = spark.readStream.schema("doc_id bigint, text string").parquet(
        str(src) + "/*"
    )
    q = incremental_span_dedup(
        stream,
        index_dir=index_dir,
        stats_dir=str(tmp_path / "stats"),
        checkpoint=str(tmp_path / "ckpt"),
        window=4,
    )
    with pytest.raises(Exception):
        q.awaitTermination()
    assert not (tmp_path / "stats").exists()
    assert spark.read.parquet(index_dir).count() == 1


def test_incremental_funnel_state_folding_idempotent(spark):
    """The funnel state is a min-aggregation sufficient statistic:
    folding a batch twice (at-least-once replay) must reproduce the
    state bit-for-bit, and state-as-pseudo-events must round-trip."""
    import datetime as dt

    from etlutils_spark.event_queries import funnel_stages
    from etlutils_spark.streaming.funnel import _state_as_events

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(minutes=1), 1, "view", 0.0, "{}"),
        (2, t0 + dt.timedelta(minutes=2), 1, "click", 0.0, "{}"),
        (3, t0 + dt.timedelta(minutes=3), 2, "click", 0.0, "{}"),  # pre-view
        (4, t0 + dt.timedelta(minutes=4), 2, "view", 0.0, "{}"),
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, "
              "value double, props string"
    ).select("event_id", "user_id", "ts", "event_type")
    state1 = funnel_stages(batch)
    # replay: fold the SAME batch against the state it produced
    state2 = funnel_stages(batch.unionByName(_state_as_events(state1)))
    a = sorted(map(str, state1.collect()))
    b = sorted(map(str, state2.collect()))
    assert a == b
    # round-trip: state-as-events alone reproduces the state
    state3 = funnel_stages(_state_as_events(state1))
    assert sorted(map(str, state3.collect())) == a


def test_incremental_funnel_checkpoint_replay(spark, tmp_path):
    """End-to-end at-least-once replay: re-processing the last batch
    with a fresh checkpoint (state already reflects it) leaves the
    funnel state bit-identical — no dedup bookkeeping required."""
    import datetime as dt
    import time

    from etlutils_spark.streaming.funnel import incremental_funnel

    t0 = dt.datetime(2024, 1, 1)
    batches = [
        [(1, 1, t0 + dt.timedelta(minutes=1), "view"),
         (2, 2, t0 + dt.timedelta(minutes=2), "click")],   # pre-view click
        [(3, 1, t0 + dt.timedelta(minutes=10), "click"),
         (4, 2, t0 + dt.timedelta(minutes=11), "view"),
         (5, 1, t0 + dt.timedelta(minutes=12), "purchase")],
    ]
    src = tmp_path / "events"
    src.mkdir()
    schema = "event_id long, user_id long, ts timestamp, event_type string"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1)\
            .write.parquet(str(src / f"b{i}"))
        time.sleep(1.1)

    def run(ckpt, glob):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(glob)
        )
        q = incremental_funnel(
            stream,
            state_dir=str(tmp_path / "state"),
            checkpoint=str(tmp_path / ckpt),
        )
        q.awaitTermination()

    run("ckpt", str(src) + "/*")
    state = {r.user_id: (r.view_ts, r.click_ts, r.purchase_ts, r.stage)
             for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    # user 1 full funnel; user 2's click predates its view -> stage 1
    assert state[1][3] == 3 and state[1][1] == t0 + dt.timedelta(minutes=10)
    assert state[2][3] == 1 and state[2][1] is None
    run("ckpt_replay", str(src / "b1"))
    replayed = {r.user_id: (r.view_ts, r.click_ts, r.purchase_ts, r.stage)
                for r in spark.read.parquet(str(tmp_path / "state")).collect()}
    assert replayed == state
