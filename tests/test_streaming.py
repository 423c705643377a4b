"""Structured Streaming tests: the window builders running as REAL
streams (readStream → writeStream), watermark late-data discipline, and
the applyInPandasWithState custom operator.

Strategy: stage event files into a tmp directory (the stream source),
run with trigger(availableNow=True) so each test is bounded, and land
results in a memory sink.  Batch mode of the same builder is the oracle
for stream-vs-batch parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from meta_morph_etl_databricks_spark.operators import index_store as ix
from meta_morph_etl_databricks_spark.sources.scans import read_parquet_table
from meta_morph_etl_databricks_spark.streaming import (
    read_events_stream,
    running_user_totals,
    tumbling_type_counts,
    with_watermark,
)

DSCHEMA = "doc_id long, text string"
ESCHEMA = "vec_id long, embedding array<double>"


@pytest.fixture()
def events_batch(spark, sf_dir):
    return read_parquet_table(spark, sf_dir, "events")


def _run_until_done(writer, query_name: str):
    q = writer.trigger(availableNow=True).queryName(query_name).format("memory").start()
    q.awaitTermination(120)
    assert not q.isActive
    return q


def test_tumbling_stream_matches_batch(spark, tmp_path, events_batch):
    """Stream(complete mode) over the same files == batch plan output."""
    src = str(tmp_path / "src")
    events_batch.write.parquet(src)

    stream = read_events_stream(spark, src)
    out = tumbling_type_counts(stream, width="1 hour")
    _run_until_done(out.writeStream.outputMode("complete"), "t_tumbling")

    got = spark.sql("SELECT * FROM t_tumbling").sort("window_start", "event_type")
    want = tumbling_type_counts(events_batch, width="1 hour").sort("window_start", "event_type")
    assert [r.asDict() for r in got.collect()] == [r.asDict() for r in want.collect()]


def test_watermark_drops_late_data(spark, tmp_path, events_batch):
    """Append mode + watermark: a record arriving after its window's
    watermark has passed is dropped, finalized windows never re-emit."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    base = events_batch.filter(F.col("event_type") == "click").limit(200).cache()
    t0 = base.agg(F.min("ts")).collect()[0][0]
    base.write.parquet(str(src / "batch1"))

    sink: list = []

    def run_once():
        got: list = []

        def collect(batch_df, _bid):
            got.extend(batch_df.collect())

        stream = read_events_stream(spark, str(src) + "/*")
        out = tumbling_type_counts(with_watermark(stream, "1 hour"), width="1 hour")
        q = (
            out.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(collect)
            .start()
        )
        q.awaitTermination(120)
        sink.extend(got)
        return got

    first = run_once()
    emitted_windows = {r.window_start for r in first}
    # the stream's max event time sets the watermark; windows ending
    # before (max - 1h) are finalized and present in the append output
    assert len(emitted_windows) > 0

    # drop a VERY late record into the oldest (long-finalized) window
    late = spark.createDataFrame(
        [(999_999, t0, 1, "click", 1.0, "{}")],
        schema=base.schema,
    )
    late.write.parquet(str(src / "batch2"))

    second = run_once()
    # the late record's window was already emitted+finalized: append
    # output gains NO new row for it (late data discarded by watermark)
    new_rows = [r for r in second if r not in first]
    assert all(r.window_start != t0.replace(minute=0, second=0, microsecond=0) for r in new_rows)
    # and finalized windows NEVER re-emit (no retraction/update in append
    # mode): nothing in the second run touches an already-emitted window
    assert not ({r.window_start for r in second} & emitted_windows)


def test_stateful_running_totals_accumulates(spark, tmp_path, events_batch):
    """applyInPandasWithState keeps per-user state across micro-batches:
    totals after two file drops equal the batch totals of both files."""
    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    part1 = events_batch.filter(F.col("user_id") <= 5).limit(300).cache()
    part1.write.parquet(str(src / "b1"))

    import pandas as pd

    def run_once():
        got: list = []

        def collect(batch_df, _bid):
            got.extend(batch_df.collect())

        stream = read_events_stream(spark, str(src) + "/*")
        q = (
            running_user_totals(stream)
            .writeStream.outputMode("update")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(collect)
            .start()
        )
        q.awaitTermination(120)
        return got

    run_once()

    part2 = events_batch.filter(F.col("user_id") <= 5).limit(500).cache()
    part2.write.parquet(str(src / "b2"))
    rows = run_once()
    assert rows, "second run emitted no updates"
    second = pd.DataFrame([r.asDict() for r in rows]).set_index("user_id")

    both = part1.unionAll(part2)
    want = (
        both.groupBy("user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("total_value"),
            F.max("value").alias("max_value"),
        )
        .toPandas()
        .set_index("user_id")
    )
    # second run emits the updated lifetime totals for users seen in b2;
    # every emitted user must match the full two-file batch aggregate
    for uid in second.index:
        assert second.loc[uid, "n_events"] == want.loc[uid, "n_events"]
        assert abs(second.loc[uid, "total_value"] - want.loc[uid, "total_value"]) < 1e-6
        assert abs(second.loc[uid, "max_value"] - want.loc[uid, "max_value"]) < 1e-12


def test_stateful_ttl_evicts_and_emits_once(spark, tmp_path, events_batch):
    """Event-time TTL on arbitrary state (applyInPandasWithState +
    EventTimeTimeout): an inactive user's totals emit EXACTLY ONCE after
    the watermark passes last_event + ttl, and the state is removed —
    active users emit nothing.  ttl=30m, watermark delay=1m.

    Timeline: b1 has users 1 (two events) and 2 (one event) at ~10:00;
    b2..b4 are single later events (12:00, 14:00, 16:00) from users
    100..102, each advancing the watermark.  Users 1 and 2 must finalize
    once each; drivers 100/101 later time out too (the watermark passes
    their own TTLs), while 102's TTL (16:30) stays past the final
    watermark (15:59) so it must remain in state, unemitted.
    """
    from datetime import datetime, timedelta

    from meta_morph_etl_databricks_spark.streaming import expiring_user_totals

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    mk = lambda *rows: spark.createDataFrame(list(rows), schema=events_batch.schema)  # noqa: E731
    t = lambda h, m=0: datetime(2024, 6, 1) + timedelta(hours=h, minutes=m)  # noqa: E731

    mk(
        (1, t(10, 0), 1, "click", 2.0, "{}"),
        (2, t(10, 5), 1, "click", 5.0, "{}"),
        (3, t(10, 0), 2, "view", 7.0, "{}"),
    ).write.parquet(str(src / "b1"))

    runs: list[list] = []

    def run_once():
        rows: list = []

        def collect(batch_df, _bid):
            rows.extend(batch_df.collect())

        stream = read_events_stream(spark, str(src) + "/*")
        q = (
            expiring_user_totals(stream, ttl="30 minutes", watermark="1 minute")
            .writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(collect)
            .start()
        )
        q.awaitTermination(120)
        runs.append(rows)
        return rows

    first = run_once()
    assert first == [], "user emitted before its TTL passed"

    for i, hour in enumerate((12, 14, 16)):
        mk((10 + i, t(hour), 100 + i, "click", 1.0, "{}")).write.parquet(str(src / f"b{2 + i}"))
        run_once()

    done = [r for rows in runs for r in rows]
    by_user = {}
    for r in done:
        by_user.setdefault(r.user_id, []).append(r)
    # exactly-once finalization with the full accumulated totals; the
    # still-live user (102) must NOT have emitted
    assert sorted(by_user) == [1, 2, 100, 101], f"unexpected finalizations: {sorted(by_user)}"
    (u1,) = by_user[1]
    assert (u1.n_events, u1.total_value, u1.max_value) == (2, 7.0, 5.0)
    assert u1.last_event_ms == int(t(10, 5).timestamp() * 1000)
    (u2,) = by_user[2]
    assert (u2.n_events, u2.total_value, u2.max_value) == (1, 7.0, 7.0)
    # eviction is not re-emission: users 1/2 never appear again after
    # their single finalized row (state was removed, not re-keyed)
    seen = set()
    for rows in runs:
        for r in rows:
            assert r.user_id not in seen, f"user {r.user_id} re-emitted after eviction"
            seen.add(r.user_id)


def test_dedup_stream_drops_duplicates_within_watermark(spark, tmp_path, events_batch):
    """Streaming exact dedup: duplicate event_ids arriving in the same
    AND a later micro-batch (within the watermark horizon) are dropped;
    the batch-mode path of the same builder is the oracle."""
    from meta_morph_etl_databricks_spark.streaming import dedup_stream

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")

    base = events_batch.limit(100).cache()
    # batch 1: every row twice (same-batch duplicates)
    base.unionAll(base).write.parquet(str(src / "b1"))

    got: list = []

    def run_once():
        rows: list = []

        def collect(batch_df, _bid):
            rows.extend(batch_df.collect())

        stream = read_events_stream(spark, str(src) + "/*")
        q = (
            dedup_stream(stream, ["event_id"], watermark_delay="10 days")
            .writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(collect)
            .start()
        )
        q.awaitTermination(120)
        got.extend(rows)
        return rows

    first = run_once()
    n_base = base.count()
    assert len(first) == n_base  # same-batch duplicates collapsed
    assert len({r.event_id for r in first}) == n_base

    # batch 2: re-deliver the same rows (cross-batch duplicates, well
    # within the 10-day horizon) plus 5 genuinely new events
    base.write.parquet(str(src / "b2"))
    fresh = events_batch.orderBy(F.desc("event_id")).limit(5).cache()
    fresh.write.parquet(str(src / "b3"))
    second = run_once()
    second_ids = {r.event_id for r in second}
    first_ids = {r.event_id for r in first}
    assert not (second_ids & first_ids), "cross-batch duplicate leaked"
    assert {r.event_id for r in fresh.collect()} <= second_ids | first_ids

    # batch parity: the same builder on a batch frame == dropDuplicates
    assert dedup_stream(base.unionAll(base), ["event_id"]).count() == n_base


def test_interval_join_stream_matches_batch(spark, tmp_path, events_batch):
    """Stream-stream interval join (clicks × purchases within the
    horizon) over the staged files equals the batch plan of the SAME
    builder — and the batch plan equals a hand-written plain join."""
    from meta_morph_etl_databricks_spark.streaming import clicks_to_purchases_stream

    src = str(tmp_path / "src")
    sample = events_batch.limit(3000).cache()
    sample.write.parquet(src)

    got: list = []

    def collect(batch_df, _bid):
        got.extend(batch_df.collect())

    stream = read_events_stream(spark, src)
    q = (
        clicks_to_purchases_stream(stream, horizon="30 minutes", watermark="10 days")
        .writeStream.outputMode("append")
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .foreachBatch(collect)
        .start()
    )
    q.awaitTermination(120)

    want = clicks_to_purchases_stream(sample, horizon="30 minutes").collect()
    key = lambda r: (r.user_id, r.click_id, r.purchase_id)  # noqa: E731
    assert sorted(map(key, got)) == sorted(map(key, want))
    assert len(want) > 0, "fixture produced no click→purchase pairs; test is vacuous"

    # batch oracle: the builder == a plain join with the same predicate
    clicks = sample.filter(F.col("event_type") == "click")
    purch = sample.filter(F.col("event_type") == "purchase")
    plain = clicks.alias("c").join(
        purch.alias("p"),
        (F.col("c.user_id") == F.col("p.user_id"))
        & (F.col("p.ts") >= F.col("c.ts"))
        & (F.col("p.ts") <= F.col("c.ts") + F.expr("INTERVAL 30 minutes")),
    )
    assert plain.count() == len(want)


def test_interval_join_left_outer_emits_unmatched_once(spark, tmp_path, events_batch):
    """leftOuter stream-stream interval join: an unmatched click emits a
    NULL-purchase row EXACTLY ONCE, and only after the watermark passes
    its join window — never while a match could still arrive.

    Controlled timeline (horizon 30m, watermark 10m):
      b1  10:00 click A(u1) + 10:05 purchase(u1)  -> matched pair
          10:00 click B(u2), no purchase ever     -> the outer subject
      b2  20:00 click(u3) + purchase(u4)          -> advances watermark past
                                                     B's window (10:30)
      b3  23:00 click(u5) + purchase(u6)          -> next batch so the b2
                                                     watermark takes effect
      b4  26:00 click(u7) + purchase(u8)          -> proves no re-emission
    Emission timing is deliberately asserted loosely (b2 OR b3 — Spark
    applies the previous batch's watermark during a micro-batch), but
    exactly-once and not-before-watermark are strict.
    """
    from datetime import datetime, timedelta

    from meta_morph_etl_databricks_spark.streaming import clicks_to_purchases_stream

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    mk = lambda *rows: spark.createDataFrame(list(rows), schema=events_batch.schema)  # noqa: E731
    t = lambda h, m=0: datetime(2024, 6, 1) + timedelta(hours=h, minutes=m)  # noqa: E731

    mk(
        (1, t(10, 0), 1, "click", 1.0, "{}"),
        (2, t(10, 5), 1, "purchase", 9.0, "{}"),
        (3, t(10, 0), 2, "click", 1.0, "{}"),
    ).write.parquet(str(src / "b1"))

    runs: list[list] = []

    def run_once():
        rows: list = []

        def collect(batch_df, _bid):
            rows.extend(batch_df.collect())

        stream = read_events_stream(spark, str(src) + "/*")
        q = (
            clicks_to_purchases_stream(
                stream, horizon="30 minutes", watermark="10 minutes", how="leftOuter"
            )
            .writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(collect)
            .start()
        )
        q.awaitTermination(120)
        runs.append(rows)
        return rows

    first = run_once()
    # the matched pair emits immediately; the unmatched click must NOT —
    # its window is still open (watermark after b1 is 09:55)
    assert [(r.click_id, r.purchase_id) for r in first if r.user_id == 1] == [(1, 2)]
    assert [r for r in first if r.user_id == 2] == []

    for i, (hour, ids) in enumerate([(20, (4, 5)), (23, (6, 7)), (26, (8, 9))]):
        mk(
            (ids[0], t(hour), 10 + 2 * i, "click", 1.0, "{}"),
            (ids[1], t(hour), 11 + 2 * i, "purchase", 1.0, "{}"),
        ).write.parquet(str(src / f"b{2 + i}"))
        run_once()

    b_rows = [r for rows in runs for r in rows if r.user_id == 2]
    assert len(b_rows) == 1, f"unmatched left row emitted {len(b_rows)} times"
    assert b_rows[0].click_id == 3
    assert b_rows[0].purchase_id is None and b_rows[0].amount is None
    # it emitted only once the watermark had passed 10:30 — i.e. not in run 1
    assert not [r for r in runs[0] if r.user_id == 2]
    # the matched pair never re-emits either
    assert sum(1 for rows in runs for r in rows if r.user_id == 1) == 1

    # batch parity of the outer shape: same builder on a batch frame ==
    # plain left join (unmatched clicks surface immediately in batch)
    batch_in = mk(
        (1, t(10, 0), 1, "click", 1.0, "{}"),
        (2, t(10, 5), 1, "purchase", 9.0, "{}"),
        (3, t(10, 0), 2, "click", 1.0, "{}"),
    )
    got = {
        (r.user_id, r.click_id, r.purchase_id)
        for r in clicks_to_purchases_stream(batch_in, how="leftOuter").collect()
    }
    assert got == {(1, 1, 2), (2, 3, None)}


def test_interval_join_rejects_bad_shapes(spark, events_batch):
    from meta_morph_etl_databricks_spark.streaming import interval_join_streams

    a = events_batch.select("user_id", F.col("ts").alias("a_ts"), "value")
    b = events_batch.select("user_id", F.col("ts").alias("b_ts"), "value")
    with pytest.raises(ValueError, match="disjoint"):
        interval_join_streams(a, b, on="user_id", left_ts="a_ts", right_ts="b_ts")
    with pytest.raises(ValueError, match="distinct"):
        interval_join_streams(
            a.drop("value"), b.drop("value"), on="user_id", left_ts="a_ts", right_ts="a_ts"
        )
    with pytest.raises(ValueError, match="inner/leftOuter"):
        interval_join_streams(
            a.drop("value"), b.drop("value"), on="user_id",
            left_ts="a_ts", right_ts="b_ts", how="fullOuter",
        )


def test_session_windows_streaming_smoke(spark, tmp_path, events_batch):
    """session_window runs as a stream (update mode + watermark)."""
    from meta_morph_etl_databricks_spark.streaming import session_user_windows

    src = str(tmp_path / "src")
    events_batch.limit(500).write.parquet(src)
    stream = read_events_stream(spark, src)
    out = session_user_windows(with_watermark(stream, "1 hour"), gap="30 minutes")
    _run_until_done(out.writeStream.outputMode("append"), "t_session")
    assert spark.sql("SELECT count(*) FROM t_session").collect()[0][0] >= 0


def test_session_stream_merges_sessions_and_finalizes_once(spark, tmp_path):
    """The session-window STATE discipline, on a real stream:
    1) two bursts 50 min apart (gap 30 min) are two open sessions —
       nothing emits while the watermark is behind them;
    2) a bridging event arriving in a LATER micro-batch (still inside
       the watermark) merges them into ONE session;
    3) once the watermark passes end+gap, exactly one merged session row
       emits (start = first burst, end = last event + gap, all 3 events);
    4) data later than the watermark neither re-emits nor reopens the
       finalized session."""
    from datetime import datetime, timedelta

    from meta_morph_etl_databricks_spark.streaming import session_user_windows
    from meta_morph_etl_databricks_spark.streaming.sources import EVENTS_SCHEMA

    src = tmp_path / "src"
    src.mkdir()
    ckpt = str(tmp_path / "ckpt")
    t0 = datetime(2024, 3, 1, 12, 0, 0)
    m = lambda mins: t0 + timedelta(minutes=mins)  # noqa: E731

    def stage(name, rows):
        spark.createDataFrame(rows, EVENTS_SCHEMA).write.parquet(str(src / name))

    def run_once():
        got: list = []
        stream = read_events_stream(spark, str(src) + "/*")
        out = session_user_windows(with_watermark(stream, "1 hour"), gap="30 minutes")
        q = (
            out.writeStream.outputMode("append")
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .foreachBatch(lambda bdf, _bid: got.extend(bdf.collect()))
            .start()
        )
        q.awaitTermination(120)
        return got

    # two bursts of user 1, 50 min apart; user 99's event pins the
    # watermark at 13:00 - 1h = 12:00 — behind both open sessions
    stage("b1", [(1, m(0), 1, "click", 1.0, "{}"),
                 (2, m(50), 1, "click", 2.0, "{}"),
                 (90, m(60), 99, "view", 0.0, "{}")])
    first = run_once()
    assert [r for r in first if r.user_id == 1] == []

    # the bridge lands at 12:25 (within watermark): 25 min from burst 1,
    # 25 min before burst 2 — the two sessions must merge; user 99's
    # 16:00 event then pushes the watermark to 15:00, past the merged
    # session's end+gap, forcing exactly-once emission
    stage("b2", [(3, m(25), 1, "click", 4.0, "{}"),
                 (91, m(240), 99, "view", 0.0, "{}")])
    second = run_once()
    mine = [r for r in second if r.user_id == 1]
    assert len(mine) == 1, mine
    s = mine[0]
    assert s.session_start == m(0) and s.session_end == m(80)  # last event 12:50 + 30 min gap
    assert s.n_events == 3 and s.session_value == 7.0

    # an event inside the finalized session but behind the watermark is
    # discarded: no re-emission, no reopened session
    stage("b3", [(4, m(40), 1, "click", 8.0, "{}"),
                 (92, m(300), 99, "view", 0.0, "{}")])
    third = run_once()
    assert [r for r in third if r.user_id == 1] == []


def test_enrich_stream_matches_batch(spark, tmp_path, events_batch):
    """Stream-static enrichment: the dim broadcast-joins onto the live
    stream without state/watermark, and the stream output equals the
    batch join of the same builder."""
    from meta_morph_etl_databricks_spark.streaming import enrich_stream

    src = str(tmp_path / "src")
    base = events_batch.limit(300).cache()
    base.write.parquet(src)
    dim = (
        base.select("user_id").distinct().limit(50)
        .withColumn("tier", F.when(F.col("user_id") % 2 == 0, "gold").otherwise("basic"))
        .cache()
    )
    out = enrich_stream(read_events_stream(spark, src), dim, on="user_id", how="left")
    _run_until_done(out.writeStream.outputMode("append"), "t_enrich")
    got = spark.sql("SELECT event_id, user_id, tier FROM t_enrich")
    want = enrich_stream(base, dim, on="user_id", how="left").select("event_id", "user_id", "tier")
    key = lambda r: (r.event_id, r.user_id, r.tier)  # noqa: E731
    assert sorted(map(key, got.collect())) == sorted(map(key, want.collect()))

    with pytest.raises(ValueError, match="inner/left"):
        enrich_stream(base, dim, on="user_id", how="right")


def test_stream_merge_upsert_converges(spark, tmp_path):
    """The streaming MERGE: each micro-batch upserts into the parquet
    target by key — updates win, inserts land, untouched keys survive,
    and within-batch duplicate keys collapse to one row before merging."""
    from meta_morph_etl_databricks_spark.streaming import stream_merge_upsert

    src = tmp_path / "src"
    src.mkdir()
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    schema = "k long, v string, seq long"

    def run(batch_name, rows):
        spark.createDataFrame(rows, schema).write.parquet(str(src / batch_name))
        q = stream_merge_upsert(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            target, keys=["k"], checkpoint=ckpt, order_col="seq",
        )
        q.awaitTermination(120)
        assert not q.isActive

    run("b1", [(1, "a", 1), (2, "b", 1)])
    got = {r.k: (r.v, r.seq) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 1), 2: ("b", 1)}

    # update k=2 with two in-batch versions whose lexicographic order
    # CONTRADICTS the sequence order ('aaa-new' < 'zzz-old'): order_col
    # must pick seq=3, proving version order wins, not column order
    run("b2", [(2, "zzz-old", 2), (2, "aaa-new", 3), (3, "c", 1)])
    got = {r.k: (r.v, r.seq) for r in spark.read.parquet(target).collect()}
    assert got == {1: ("a", 1), 2: ("aaa-new", 3), 3: ("c", 1)}


def test_stream_sketch_distinct_incremental_and_idempotent(spark, tmp_path):
    """The incremental-statistics pipeline: per-day HLL sketches folded
    micro-batch by micro-batch; any window answers from the sketch
    table within the error envelope; re-folding the same events leaves
    estimates unchanged (HLL merge is a register max — replay-safe)."""
    import datetime

    from meta_morph_etl_databricks_spark.operators.sketches import merged_distinct
    from meta_morph_etl_databricks_spark.streaming import (
        stream_sketch_distinct,
        update_sketch_table,
    )

    src = tmp_path / "src"
    src.mkdir()
    table = str(tmp_path / "sketches")
    ckpt = str(tmp_path / "ckpt")
    schema = "user_id long, ts timestamp"

    def rows(day, users):
        return [(u, datetime.datetime(2026, 8, day, 12, 0, 0)) for u in users]

    def run(batch_name, data):
        spark.createDataFrame(data, schema).write.parquet(str(src / batch_name))
        q = stream_sketch_distinct(
            spark.readStream.schema(schema).parquet(str(src) + "/*"),
            table, checkpoint=ckpt,
        )
        q.awaitTermination(120)
        assert not q.isActive

    # batch 1: day 1 users 0..999, day 2 users 500..1499
    run("b1", rows(1, range(1000)) + rows(2, range(500, 1500)))
    per_day = {
        r.day.day: r.approx_distinct
        for r in merged_distinct(spark.read.parquet(table), by=["day"]).collect()
    }
    assert abs(per_day[1] - 1000) / 1000 < 0.03
    assert abs(per_day[2] - 1000) / 1000 < 0.03

    # batch 2 extends day 2 (overlap 1000..1499 must not double-count)
    run("b2", rows(2, range(1000, 2000)))
    day2 = merged_distinct(
        spark.read.parquet(table).filter("day = date'2026-08-02'")
    ).first().approx_distinct
    assert abs(day2 - 1500) / 1500 < 0.03

    # the whole-history window: union of days ≈ distinct(0..1999) = 2000
    overall = merged_distinct(spark.read.parquet(table)).first().approx_distinct
    assert abs(overall - 2000) / 2000 < 0.03

    # replay idempotence: fold the SAME batch again directly
    before = merged_distinct(spark.read.parquet(table), by=["day"]).collect()
    update_sketch_table(
        spark.createDataFrame(rows(2, range(1000, 2000)), schema), table
    )
    after = merged_distinct(spark.read.parquet(table), by=["day"]).collect()
    assert {(r.day, r.approx_distinct) for r in before} == {
        (r.day, r.approx_distinct) for r in after
    }


def test_sinks_do_not_bootstrap_from_empty_or_corrupt_batch(spark, tmp_path):
    """Kafka-style latest-offsets init fires an empty batch 0: the band
    and embed sinks previously pinned n_buckets (and under
    center='auto' a zero center) from it FOREVER (review finding).
    Now: empty batch → no index, retry; all-corrupt embed batch →
    pass-through accepted, retry; first valid batch bootstraps."""
    from meta_morph_etl_databricks_spark.streaming.dedup import (
        stream_incremental_dedup,
        stream_incremental_embed_near_dup,
    )

    # --- band sink: empty batch 0 must not init the index
    bsrc = tmp_path / "bsrc"
    bsrc.mkdir()
    bidx = str(tmp_path / "bidx")
    spark.createDataFrame([], DSCHEMA).write.parquet(str(bsrc / "b0"))
    stream = spark.readStream.schema(DSCHEMA).parquet(str(bsrc) + "/*")
    q = stream_incremental_dedup(
        stream, bidx, str(tmp_path / "bacc"), str(tmp_path / "bckpt")
    )
    q.awaitTermination(120)
    assert ix.live_index(spark, bidx)[1] is None  # no premature bootstrap
    spark.createDataFrame(
        [(i, " ".join(f"b{i}w{j}" for j in range(30))) for i in range(5)], DSCHEMA
    ).write.parquet(str(bsrc / "b1"))
    stream = spark.readStream.schema(DSCHEMA).parquet(str(bsrc) + "/*")
    q = stream_incremental_dedup(
        stream, bidx, str(tmp_path / "bacc"), str(tmp_path / "bckpt")
    )
    q.awaitTermination(120)
    assert ix.live_index(spark, bidx)[1] is not None  # sized from real data
    assert spark.read.parquet(str(tmp_path / "bacc")).count() == 5

    # --- embed sink: empty then all-corrupt then valid
    esrc = tmp_path / "esrc"
    esrc.mkdir()
    eidx = str(tmp_path / "eidx")
    eacc, eckpt = str(tmp_path / "eacc"), str(tmp_path / "eckpt")
    spark.createDataFrame([], ESCHEMA).write.parquet(str(esrc / "b0"))
    stream = spark.readStream.schema(ESCHEMA).parquet(str(esrc) + "/*")
    stream_incremental_embed_near_dup(stream, eidx, eacc, eckpt, dims=8).awaitTermination(120)
    assert ix.live_index(spark, eidx)[1] is None

    corrupt = [(0, None), (1, [float("nan")] * 8), (2, [1.0, 2.0])]
    spark.createDataFrame(corrupt, ESCHEMA).write.parquet(str(esrc / "b1"))
    stream = spark.readStream.schema(ESCHEMA).parquet(str(esrc) + "/*")
    stream_incremental_embed_near_dup(stream, eidx, eacc, eckpt, dims=8).awaitTermination(120)
    assert ix.live_index(spark, eidx)[1] is None  # still no index...
    assert spark.read.parquet(eacc).count() == 3  # ...corrupt passed through

    import random

    rng = random.Random(31)
    spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(10, 16)], ESCHEMA
    ).write.parquet(str(esrc / "b2"))
    stream = spark.readStream.schema(ESCHEMA).parquet(str(esrc) + "/*")
    stream_incremental_embed_near_dup(stream, eidx, eacc, eckpt, dims=8).awaitTermination(180)
    meta = ix.live_index(spark, eidx)[1]
    assert meta is not None
    assert any(abs(c) > 0 for c in meta["center"])  # centered on REAL data
    assert spark.read.parquet(eacc).count() == 9
