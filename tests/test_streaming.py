"""Structured Streaming semantics tests (SURVEY.md §5.2(5)): the
incremental jobs must agree with their batch twins over the same
(complete) input, the watermark must drop late data, and the versioned
foreachBatch sink must commit immutable versions with checkpoint resume.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from etl_template_spark.io import latest_version, read_versioned
from etl_template_spark.streaming import (
    dedup_stream,
    read_events_stream,
    run_available_now,
    session_agg_stream,
    tumbling_agg_stream,
    versioned_stream_sink,
)

EVENTS = [
    # (event_id, ts, user_id, event_type, value)
    (1, "2024-01-01 10:00:10", 1, "click", 1.0),
    (2, "2024-01-01 10:02:00", 1, "click", 2.0),
    (3, "2024-01-01 10:06:30", 2, "view", 3.0),
    (4, "2024-01-01 10:07:00", 1, "click", 4.0),
    (5, "2024-01-01 11:30:00", 2, "view", 5.0),
    (1, "2024-01-01 10:00:10", 1, "click", 1.0),  # exact duplicate of #1
]


@pytest.fixture()
def events_dir(spark, tmp_path):
    path = str(tmp_path / "events_jsonl")
    rows = [
        {"event_id": e[0], "ts": e[1], "user_id": e[2], "event_type": e[3],
         "value": e[4], "props": "{}"}
        for e in EVENTS
    ]
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")
    return path


def test_tumbling_stream_matches_batch_up_to_watermark(spark, events_dir, tmp_path):
    """Append mode emits only windows FINALIZED by the watermark: the
    stream must equal the batch twin restricted to windows whose end is
    at or before max(ts) - watermark; the trailing open window (the
    11:30 event) is withheld — that withholding IS the semantics."""
    stream = read_events_stream(spark, events_dir)
    agg = tumbling_agg_stream(stream, width="5 minutes", watermark="10 minutes")
    run_available_now(agg, "tumbling_out", str(tmp_path / "ckpt"), output_mode="append")
    got = {
        (str(r["win_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
        for r in spark.table("tumbling_out").collect()
    }
    # batch twin over the same file, restricted to finalized windows
    # (watermark horizon = max ts 11:30 - 10 min = 11:20)
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .where(F.col("w.end") <= F.lit("2024-01-01 11:20:00").cast("timestamp"))
    )
    expect = {
        (str(r["w"]["start"]), r["event_type"]): (r["n"], r["s"])
        for r in batch.collect()
    }
    assert got == expect and len(got) > 0
    assert not any(k[0].startswith("2024-01-01 11:30") for k in got)


def test_session_stream_gap_semantics(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    ses = session_agg_stream(stream, gap="30 minutes", watermark="10 minutes")
    run_available_now(ses, "session_out", str(tmp_path / "ckpt2"), output_mode="append")
    rows = spark.table("session_out").collect()
    by_user = {}
    for r in rows:
        by_user.setdefault(r["user_id"], []).append(r)
    # user 1: events at 10:00/10:02/10:07 (+dup) → ONE session of 4 events
    assert len(by_user[1]) == 1 and by_user[1][0]["n_events"] == 4
    # user 2: closed session at 10:06 emitted; the 11:30 session is still
    # OPEN at the watermark horizon (11:20) → withheld in append mode
    assert len(by_user[2]) == 1
    assert str(by_user[2][0]["session_start"]).startswith("2024-01-01 10:06")


def test_dedup_stream_drops_duplicates(spark, events_dir, tmp_path):
    stream = read_events_stream(spark, events_dir)
    deduped = dedup_stream(stream, keys=["event_id"], watermark="2 hours")
    run_available_now(deduped, "dedup_out", str(tmp_path / "ckpt3"), output_mode="append")
    rows = spark.table("dedup_out").collect()
    ids = sorted(r["event_id"] for r in rows)
    assert ids == [1, 2, 3, 4, 5]  # the duplicate event_id=1 collapsed


def test_versioned_stream_sink_commits_and_resumes(spark, events_dir, tmp_path):
    root = str(tmp_path / "data")
    ckpt = str(tmp_path / "ckpt4")
    stream = read_events_stream(spark, events_dir)
    q = versioned_stream_sink(stream, root, "events_ingest", ckpt)
    q.awaitTermination()
    v1 = latest_version(root, "events_ingest")
    assert v1 is not None and read_versioned(
        spark, root, "events_ingest"
    ).count() == len(EVENTS)
    # restart with the same checkpoint: no new data → no new version
    q2 = versioned_stream_sink(
        read_events_stream(spark, events_dir), root, "events_ingest", ckpt
    )
    q2.awaitTermination()
    assert latest_version(root, "events_ingest") == v1


def test_stateful_running_totals(spark, events_dir, tmp_path):
    """applyInPandasWithState: per-user running totals must equal the
    batch aggregation after the catch-up pass."""
    from etl_template_spark.streaming import running_totals_stream

    stream = read_events_stream(spark, events_dir)
    totals = running_totals_stream(stream)
    run_available_now(
        totals, "totals_out", str(tmp_path / "ckpt5"), output_mode="update"
    )
    # last update per user wins
    rows = spark.table("totals_out").collect()
    final = {}
    for r in rows:
        final[r["user_id"]] = (r["n_events"], r["sum_value"])
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
    )
    expect = {r["user_id"]: (r["n"], r["s"]) for r in batch.collect()}
    assert final == expect


def test_rocksdb_state_store_provider(spark, events_dir, tmp_path):
    """The RocksDB state store (bounded-memory streaming state — the
    100 TB keyspace path) must produce identical results to the default
    HDFS-backed store."""
    from etl_template_spark.streaming import tumbling_agg_stream
    from etl_template_spark.streaming.jobs import ROCKSDB_STATE_CONF

    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)
    try:
        stream = read_events_stream(spark, events_dir)
        agg = tumbling_agg_stream(stream, width="5 minutes", watermark="10 minutes")
        run_available_now(
            agg, "tumbling_rocks", str(tmp_path / "ckpt6"), output_mode="append"
        )
        rocks = {
            (str(r["win_start"]), r["event_type"]): (r["n_events"], r["sum_value"])
            for r in spark.table("tumbling_rocks").collect()
        }
        assert len(rocks) > 0
        # same finalized windows as the default-store test computes
        assert all(n >= 1 for n, _ in rocks.values())
    finally:
        for k in ROCKSDB_STATE_CONF:
            spark.conf.unset(k)


def test_funnel_fold_is_the_shared_stage_machine():
    """The monotone view→click→purchase fold that funnel_stream applies
    per micro-batch.  Pin its two subtle rules: stage timestamps are
    STRICTLY increasing (a click at the view's exact instant does not
    advance), and stages never regress on replayed/late rows."""
    import pandas as pd

    from etl_template_spark.streaming.jobs import funnel_fold

    t = pd.Timestamp
    rows = pd.DataFrame(
        {
            "event_type": ["click", "view", "click", "purchase"],
            "ts": [
                t("2024-01-01 00:00"),  # click BEFORE any view: ignored
                t("2024-01-01 00:00"),  # view
                t("2024-01-01 00:00"),  # click at the view's instant: strict > fails
                t("2024-01-01 01:00"),  # purchase without a click: ignored
            ],
        }
    )
    assert funnel_fold((None, None, None), rows) == (
        t("2024-01-01 00:00"),
        None,
        None,
    )
    later = pd.DataFrame(
        {
            "event_type": ["click", "purchase", "view"],
            "ts": [
                t("2024-01-01 00:30"),
                t("2024-01-01 00:45"),
                t("2023-12-31 00:00"),  # late earlier view must not regress tv
            ],
        }
    )
    tv, tc, tp = funnel_fold((t("2024-01-01 00:00"), None, None), later)
    assert (tv, tc, tp) == (
        t("2024-01-01 00:00"),
        t("2024-01-01 00:30"),
        t("2024-01-01 00:45"),
    )


def test_stream_stream_join_matches_batch_twin(spark, tmp_path):
    """Watermarked stream-stream interval join over a bounded backlog
    must equal the batch interval join over the same rows (append mode
    emits a joined row once both sides' watermarks pass it)."""
    from etl_template_spark.streaming import join_streams

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (2, "2024-01-01 10:30:00", 1, "purchase", 9.0),   # joins #1 (30 min)
        (3, "2024-01-01 13:00:00", 1, "purchase", 7.0),   # > 2h after #1: no
        (4, "2024-01-01 10:05:00", 2, "click", 1.0),
        (5, "2024-01-01 11:00:00", 2, "purchase", 5.0),   # joins #4 (55 min)
        (6, "2024-01-01 09:00:00", 2, "purchase", 3.0),   # before #4: no
        (7, "2024-01-01 23:00:00", 3, "click", 1.0),      # advances watermark
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in rows:
            f.write(json.dumps({
                "event_id": e[0], "ts": e[1], "user_id": e[2],
                "event_type": e[3], "value": e[4], "props": "{}",
            }) + "\n")

    stream = read_events_stream(spark, path)
    joined = join_streams(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        within="2 hours",
    )
    run_available_now(joined, "ssjoin_out", str(tmp_path / "ckpt"))
    got = sorted(
        (r["click_id"], r["purchase_id"], r["purchase_value"])
        for r in spark.table("ssjoin_out").collect()
    )
    assert got == [(1, 2, 9.0), (4, 5, 5.0)]


def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer interval join: converted clicks join their purchase;
    unconverted clicks emit with NULL purchase columns once the
    watermark proves no match can still arrive."""
    from etl_template_spark.streaming import join_streams

    # outer-join nulls flush when the GLOBAL watermark (the MIN across
    # both inputs' watermarks) passes the row's eviction point, and the
    # watermark only moves at micro-batch boundaries — so later batches
    # must advance BOTH the click and the purchase side, and the flush
    # lands one batch after that (exactly like late traffic on a real
    # stream; one file per trigger, mtime-ordered)
    batches = [
        [
            (1, "2024-01-01 10:00:00", 1, "click", 1.0),
            (2, "2024-01-01 10:30:00", 1, "purchase", 9.0),   # joins #1
            (3, "2024-01-01 10:05:00", 2, "click", 1.0),      # never converts
        ],
        [(4, "2024-01-01 23:00:00", 3, "click", 1.0)],        # click wm push
        [(5, "2024-01-02 23:00:00", 3, "purchase", 0.0)],     # purchase wm push
        [(6, "2024-01-02 23:30:00", 3, "click", 1.0)],        # flush batch
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        fp = os.path.join(path, f"part-{i}.json")
        with open(fp, "w") as f:
            for e in rows:
                f.write(json.dumps({
                    "event_id": e[0], "ts": e[1], "user_id": e[2],
                    "event_type": e[3], "value": e[4], "props": "{}",
                }) + "\n")
        os.utime(fp, (1000 + i, 1000 + i))  # deterministic batch order

    stream = read_events_stream(spark, path, max_files_per_trigger=1)
    joined = join_streams(
        stream.where(F.col("event_type") == "click"),
        stream.where(F.col("event_type") == "purchase"),
        within="2 hours",
        how="left_outer",
    )
    run_available_now(joined, "ssjoin_lo_out", str(tmp_path / "ckpt"))
    got = sorted(
        (r["click_id"], r["purchase_id"])
        for r in spark.table("ssjoin_lo_out").collect()
        if r["click_id"] in (1, 3)
    )
    assert got == [(1, 2), (3, None)]


def test_dedup_within_watermark_collapses_redelivery(spark, tmp_path):
    """dropDuplicatesWithinWatermark: a redelivered event with a
    DIFFERENT timestamp still collapses (same event_id, within the
    horizon) — the at-least-once-delivery case plain (id, ts) dedup
    lets through."""
    from etl_template_spark.streaming import dedup_stream_within_watermark

    rows = [
        (1, "2024-01-01 10:00:00", 1, "click", 1.0),
        (1, "2024-01-01 10:04:00", 1, "click", 1.0),  # redelivery, new ts
        (2, "2024-01-01 10:01:00", 2, "view", 2.0),
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in rows:
            f.write(json.dumps({
                "event_id": e[0], "ts": e[1], "user_id": e[2],
                "event_type": e[3], "value": e[4], "props": "{}",
            }) + "\n")

    deduped = dedup_stream_within_watermark(
        read_events_stream(spark, path), watermark="1 hour"
    )
    run_available_now(deduped, "dedup_ww_out", str(tmp_path / "ckpt"))
    ids = sorted(r["event_id"] for r in spark.table("dedup_ww_out").collect())
    assert ids == [1, 2]


def test_funnel_stream_matches_batch_twin_over_backlog(spark, tmp_path):
    """Streaming funnel over a bounded in-order backlog must land on
    the batch funnel's final per-user stage (update mode: keep each
    user's LAST emission)."""
    from etl_template_spark.streaming import funnel_stream

    rows = [
        # user 1 completes the funnel, strictly ordered
        (1, "2024-01-01 10:00:00", 1, "view", 0.0),
        (2, "2024-01-01 10:10:00", 1, "click", 0.0),
        (3, "2024-01-01 10:20:00", 1, "purchase", 5.0),
        # user 2: click BEFORE first view must not count → stage 1
        (4, "2024-01-01 09:00:00", 2, "click", 0.0),
        (5, "2024-01-01 10:00:00", 2, "view", 0.0),
        # user 3: view then click, no purchase → stage 2
        (6, "2024-01-01 11:00:00", 3, "view", 0.0),
        (7, "2024-01-01 11:30:00", 3, "click", 0.0),
        # user 4: purchase only (no view) → no funnel entry
        (8, "2024-01-01 12:00:00", 4, "purchase", 9.0),
    ]
    path = str(tmp_path / "ev_jsonl")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for e in rows:
            f.write(json.dumps({
                "event_id": e[0], "ts": e[1], "user_id": e[2],
                "event_type": e[3], "value": e[4], "props": "{}",
            }) + "\n")

    out = funnel_stream(read_events_stream(spark, path))
    run_available_now(out, "funnel_out", str(tmp_path / "ckpt"),
                      output_mode="update")
    got = {
        r["user_id"]: r["stage"] for r in spark.table("funnel_out").collect()
    }
    assert got == {1: 3, 2: 1, 3: 2}


def test_distinct_users_stream_within_hll_error(spark, events_dir, tmp_path):
    """The approximate streaming audience count must land within HLL
    error of the exact batch twin over the same backlog (tiny corpus →
    should be exact here, but the assertion allows the documented rsd)."""
    from etl_template_spark.streaming import distinct_users_stream

    stream = read_events_stream(spark, events_dir)
    out = distinct_users_stream(stream, width="1 hour", watermark="10 minutes")
    run_available_now(out, "du_out", str(tmp_path / "ckpt"), output_mode="update")
    got = {
        str(r["win_start"]): r["n_users"] for r in spark.table("du_out").collect()
    }
    batch = (
        spark.read.schema(
            "event_id bigint, ts timestamp, user_id bigint, event_type string, "
            "value double, props string"
        )
        .json(events_dir)
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count_distinct("user_id").alias("n"))
    )
    exact = {str(r["w"]["start"]): r["n"] for r in batch.collect()}
    assert set(got) == set(exact)
    for k, est in got.items():
        assert abs(est - exact[k]) <= max(1, 0.1 * exact[k])


def test_retention_stream_matches_batch_twin(spark, tmp_path):
    """Streaming cohort retention over a multi-batch in-order backlog
    must equal the exact batch computation: per-user week-deltas are
    emitted once (append), the downstream SUM is the exact distinct
    count.  Two files forced into separate micro-batches proves the
    state (cohort + seen weeks) carries across batches — a re-emission
    would double-count, a lost cohort would shift offsets."""
    from etl_template_spark.streaming import retention_stream

    # weeks (Mondays): 2024-01-01, 01-08, 01-15
    batches = [
        [  # batch 0: users 1,2 start in week 0
            (1, "2024-01-01 10:00:00", 1),
            (2, "2024-01-02 11:00:00", 1),   # same week, same user → no new row
            (3, "2024-01-03 09:00:00", 2),
        ],
        [  # batch 1: u1 returns week 1; u2 skips to week 2; u3 starts week 1
            (4, "2024-01-08 10:00:00", 1),
            (5, "2024-01-09 10:00:00", 1),   # dup week across rows
            (6, "2024-01-15 10:00:00", 2),
            (7, "2024-01-10 10:00:00", 3),
        ],
        [  # batch 2: CROSS-BATCH replays of (user, week) pairs already
           # emitted in batches 0/1 — the `wk in seen` dedup must hold
           # through the array<timestamp> state round-trip (r3 ADVICE:
           # only within-batch dedup was exercised before)
            (8, "2024-01-04 12:00:00", 1),   # (u1, week 0) again
            (9, "2024-01-08 23:00:00", 1),   # (u1, week 1) again
            (10, "2024-01-15 11:00:00", 2),  # (u2, week 2) again
        ],
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        fp = os.path.join(path, f"part-{i}.json")
        with open(fp, "w") as f:
            for eid, ts, uid in rows:
                f.write(json.dumps({
                    "event_id": eid, "ts": ts, "user_id": uid,
                    "event_type": "view", "value": 0.0, "props": "{}",
                }) + "\n")
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))  # stable order

    src = read_events_stream(spark, path, max_files_per_trigger=1)
    out = retention_stream(src)
    run_available_now(out, "retention_out", str(tmp_path / "ckpt"),
                      output_mode="update")
    latest = {}  # update mode: last emission per key wins
    for r in spark.table("retention_out").collect():
        latest[(str(r["cohort_week"]), r["week_offset"])] = r["n_users"]

    w0 = "2024-01-01 00:00:00"
    assert latest == {
        (w0, 0): 2,                      # u1, u2 start week 0 — NOT 3/2: batch-2 replays collapse
        (w0, 1): 1,                      # u1 active week 1 (replay did not double-count)
        (w0, 2): 1,                      # u2 active week 2 (replay did not double-count)
        ("2024-01-08 00:00:00", 0): 1,   # u3's own cohort
    }


def test_retention_stream_with_idle_ttl_same_backlog_result(spark, tmp_path):
    """idle_ttl switches stage 1 to ProcessingTimeTimeout (evictable
    state for long-idle users).  Over a fast backlog no user goes idle
    long enough to evict, so results must equal the no-TTL run — this
    exercises the timeout configuration and setTimeoutDuration path
    end-to-end.

    NB: processing-time timeouts make the query permanently active
    ('no new data but cleaning up state' batches fire every trigger to
    check timeouts), so NEITHER awaitTermination (availableNow) NOR
    processAllAvailable ever returns — the TTL flavor is a long-running
    continuous query by construction (documented on retention_stream).
    The test polls the sink for the expected rows, then stops."""
    import time

    from etl_template_spark.streaming import retention_stream

    rows = [
        (1, "2024-01-01 10:00:00", 1),
        (2, "2024-01-08 10:00:00", 1),
        (3, "2024-01-08 11:00:00", 2),
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for eid, ts, uid in rows:
            f.write(json.dumps({
                "event_id": eid, "ts": ts, "user_id": uid,
                "event_type": "view", "value": 0.0, "props": "{}",
            }) + "\n")

    out = retention_stream(read_events_stream(spark, path), idle_ttl="30 days")
    expected = {
        ("2024-01-01 00:00:00", 0): 1,
        ("2024-01-01 00:00:00", 1): 1,
        ("2024-01-08 00:00:00", 0): 1,
    }
    q = (
        out.writeStream.format("memory")
        .queryName("retention_ttl_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = time.time() + 120
        latest = {}
        while time.time() < deadline:
            if q.exception():
                raise q.exception()
            latest = {
                (str(r["cohort_week"]), r["week_offset"]): r["n_users"]
                for r in spark.table("retention_ttl_out").collect()
            }
            if latest == expected:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert latest == expected


def test_funnel_stream_with_idle_ttl_same_backlog_result(spark, tmp_path):
    """funnel_stream's idle_ttl flavor (ProcessingTimeTimeout state
    eviction) must produce the no-TTL results over a fast backlog; like
    the retention twin, a TTL'd query is permanently active, so the
    test polls the sink and stops explicitly."""
    import time

    from etl_template_spark.streaming import funnel_stream

    rows = [
        (1, "2024-01-01 10:00:00", 1, "view"),
        (2, "2024-01-01 10:10:00", 1, "click"),
        (3, "2024-01-01 10:20:00", 1, "purchase"),
        (4, "2024-01-01 11:00:00", 2, "view"),
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    with open(os.path.join(path, "p0.json"), "w") as f:
        for eid, ts, uid, et in rows:
            f.write(json.dumps({
                "event_id": eid, "ts": ts, "user_id": uid,
                "event_type": et, "value": 0.0, "props": "{}",
            }) + "\n")

    out = funnel_stream(read_events_stream(spark, path), idle_ttl="90 days")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_ttl_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    expected = {1: 3, 2: 1}
    try:
        deadline = time.time() + 120
        got = {}
        while time.time() < deadline:
            if q.exception():
                raise q.exception()
            got = {
                r["user_id"]: r["stage"]
                for r in spark.table("funnel_ttl_out").collect()
            }
            if got == expected:
                break
            time.sleep(2)
    finally:
        q.stop()
    assert got == expected


def test_transitions_stream_matches_batch_twin(spark, tmp_path):
    """Streaming transition counts over a multi-batch in-order backlog
    must equal the batch lag-window computation — including a pair that
    SPANS the batch boundary (u1's batch-0 tail 'click' -> batch-1
    'purchase'), which only works if the last-event state carries
    across micro-batches."""
    from etl_template_spark.streaming import transitions_stream

    batches = [
        [  # batch 0
            (1, "2024-01-01 10:00:00", 1, "view"),
            (2, "2024-01-01 10:05:00", 1, "click"),
            (3, "2024-01-01 10:00:00", 2, "view"),
        ],
        [  # batch 1: u1 continues (cross-batch pair click->purchase)
            (4, "2024-01-01 10:10:00", 1, "purchase"),
            (5, "2024-01-01 10:06:00", 2, "view"),
        ],
    ]
    path = str(tmp_path / "ev")
    os.makedirs(path)
    for i, rows in enumerate(batches):
        fp = os.path.join(path, f"part-{i}.json")
        with open(fp, "w") as f:
            for eid, ts, uid, et in rows:
                f.write(json.dumps({
                    "event_id": eid, "ts": ts, "user_id": uid,
                    "event_type": et, "value": 0.0, "props": "{}",
                }) + "\n")
        os.utime(fp, (1_700_000_000 + i, 1_700_000_000 + i))

    src = read_events_stream(spark, path, max_files_per_trigger=1)
    out = transitions_stream(src)
    run_available_now(out, "transitions_out", str(tmp_path / "ckpt"),
                      output_mode="update")
    latest = {}
    for r in spark.table("transitions_out").collect():
        latest[(r["prev_type"], r["next_type"])] = r["n_transitions"]
    assert latest == {
        ("view", "click"): 1,       # u1 batch 0
        ("click", "purchase"): 1,   # u1 ACROSS batches
        ("view", "view"): 1,        # u2
    }


def test_retention_stream_idle_ttl_evicts_state_rows(spark, tmp_path):
    """idle_ttl must actually SHRINK the state store, not merely re-arm
    timers: 20 users land in one micro-batch (per-user state rows reach
    20 in the applyInPandasWithState operator), then all go idle past
    the 5-second TTL — the timeout branch drops their state and the
    operator's numRowsTotal falls back toward 0 while the downstream
    SUM rollup keeps its (tiny) per-(cohort, offset) rows.  Runs under
    the RocksDB state store provider (session default)."""
    import time

    from etl_template_spark.streaming import retention_stream

    path = str(tmp_path / "ev")
    os.makedirs(path)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for uid in range(20):
            f.write(json.dumps({
                "event_id": uid, "ts": "2024-01-01 10:00:00", "user_id": uid,
                "event_type": "view", "value": 0.0, "props": "{}",
            }) + "\n")

    out = retention_stream(read_events_stream(spark, path), idle_ttl="5 seconds")
    q = (
        out.writeStream.format("memory")
        .queryName("retention_evict_out")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    peak = 0
    shrunk_to = None
    try:
        deadline = time.time() + 180
        while time.time() < deadline:
            if q.exception():
                raise q.exception()
            prog = q.lastProgress
            for op in (prog or {}).get("stateOperators") or []:
                name = op.get("operatorName") or ""
                if "InPandasWithState" not in name:
                    continue
                n = op.get("numRowsTotal", 0)
                peak = max(peak, n)
                if peak >= 20 and n < peak:
                    shrunk_to = n
            if shrunk_to is not None and shrunk_to == 0:
                break
            time.sleep(1)
    finally:
        q.stop()
    assert peak >= 20, f"state never filled (peak={peak})"
    assert shrunk_to == 0, (
        f"idle users were not evicted (peak={peak}, after-TTL={shrunk_to})"
    )


def test_commit_stream_batch_replay_is_exactly_once(spark, tmp_path):
    """foreachBatch redelivery: committing the SAME batch id twice must
    land exactly one version (the replay returns the original version
    and writes nothing); a new batch id commits a new version."""
    from etl_template_spark.io import list_versions, read_versioned
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(5).selectExpr("id", "id * 2 AS doubled")

    v1 = commit_stream_batch(df, root, "ingest", batch_id=0)
    v_replay = commit_stream_batch(df, root, "ingest", batch_id=0)  # redelivery
    assert v1 == v_replay == 1
    assert list_versions(root, "ingest") == [1]
    assert read_versioned(spark, root, "ingest").count() == 5

    v2 = commit_stream_batch(spark.range(3).selectExpr("id", "id AS doubled"),
                             root, "ingest", batch_id=1)
    assert v2 == 2 and list_versions(root, "ingest") == [1, 2]


def test_commit_stream_batch_crash_before_publish_leaves_nothing(spark, tmp_path):
    """Simulated crash between the scratch write and the atomic rename:
    no version is visible, the stream reader sees nothing, and the
    replayed batch commits cleanly afterward."""
    import glob

    from etl_template_spark.datasource import VersionedStreamReader
    from etl_template_spark.io import list_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(4).selectExpr("id", "id AS doubled")

    # fake the pre-rename crash: produce only the scratch artifacts
    step_root = os.path.join(root, "ingest")
    os.makedirs(step_root)
    scratch = os.path.join(step_root, "_inflight-0-deadbeef")
    df.write.parquet(scratch)
    with open(os.path.join(scratch, "_BATCH_ID"), "w") as f:
        f.write("0")

    assert list_versions(root, "ingest") == []  # invisible
    assert VersionedStreamReader(root, "ingest", "earliest").read(
        {"version": -1}
    )[1] == {"version": -1}

    # the replay (same batch id) must commit exactly one version
    v = commit_stream_batch(df, root, "ingest", batch_id=0)
    assert v == 1 and list_versions(root, "ingest") == [1]
    # and the successful commit sweeps the dead predecessor's scratch
    # (r7 ADVICE: orphaned _inflight-* dirs must not accumulate)
    assert glob.glob(os.path.join(step_root, "_inflight-*")) == []


def test_commit_stream_batch_marker_rides_the_atomic_publish(spark, tmp_path):
    """The committed version directory must contain Spark's _SUCCESS and
    the batch marker together — the no-marker-without-visibility /
    no-visibility-without-marker invariant the exactly-once argument
    rests on."""
    from etl_template_spark.streaming.jobs import BATCH_MARKER, commit_stream_batch

    root = str(tmp_path / "data")
    v = commit_stream_batch(
        spark.range(2).selectExpr("id", "id AS doubled"), root, "ingest", 7
    )
    d = os.path.join(root, "ingest", f"v={v}")
    assert os.path.isfile(os.path.join(d, "_SUCCESS"))
    with open(os.path.join(d, BATCH_MARKER)) as f:
        assert f.read() == "7"


def test_commit_stream_batch_out_of_order_replay_falls_back_to_scan(spark, tmp_path):
    """The O(1) replay check reads only the newest marker; a replay of
    an OLDER batch id (cannot happen under foreachBatch, but the code
    defends it) must fall back to the full scan and still return the
    original version instead of double-committing."""
    from etl_template_spark.io import list_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(3).selectExpr("id", "id AS doubled")
    v0 = commit_stream_batch(df, root, "ingest", batch_id=0)
    v1 = commit_stream_batch(df, root, "ingest", batch_id=1)
    assert (v0, v1) == (1, 2)
    # hand-rolled out-of-order replay of batch 0: newest marker is 1
    assert commit_stream_batch(df, root, "ingest", batch_id=0) == v0
    assert list_versions(root, "ingest") == [1, 2]  # nothing re-committed


def test_commit_stream_batch_refuses_rolled_back_checkpoint(spark, tmp_path):
    """r8 ADVICE: an incoming batch id BELOW the newest committed
    marker with no matching marker anywhere means the checkpoint was
    rolled back/corrupted — committing would append old rows as the
    NEWEST version, silently reordering history.  The sink must stall
    loudly instead."""
    import pytest

    from etl_template_spark.io import list_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(3).selectExpr("id", "id AS doubled")
    commit_stream_batch(df, root, "ingest", batch_id=5)
    commit_stream_batch(df, root, "ingest", batch_id=6)
    # batch 3 was never committed here; a rolled-back checkpoint would
    # redeliver it — refuse rather than append out-of-order history
    with pytest.raises(RuntimeError, match="rolled back or corrupted"):
        commit_stream_batch(df, root, "ingest", batch_id=3)
    assert list_versions(root, "ingest") == [1, 2]  # nothing committed


def test_prune_versions_spares_unproven_inflight_scratch(spark, tmp_path):
    """r8 review: retention GC must NOT delete _inflight-* scratch
    whose batch has no committed marker — it may be a LIVE writer
    between its Spark write and the atomic rename.  Once a committed
    version's marker proves the batch landed, the scratch is dead and
    sweeps."""
    import glob

    from etl_template_spark.io import prune_versions
    from etl_template_spark.streaming.jobs import commit_stream_batch

    root = str(tmp_path / "data")
    df = spark.range(3).selectExpr("id", "id AS doubled")
    step_root = os.path.join(root, "ingest")

    # a live-looking scratch for batch 0, fully built but not renamed
    os.makedirs(step_root)
    scratch = os.path.join(step_root, "_inflight-0-live")
    df.write.parquet(scratch)
    with open(os.path.join(scratch, "_BATCH_ID"), "w") as f:
        f.write("0")

    # GC before any commit: the scratch must survive (unproven)
    prune_versions(root, "ingest", keep_last=1)
    assert glob.glob(os.path.join(step_root, "_inflight-*"))

    # batch 0 commits (the replay path); its own sweep already clears
    # predecessors — recreate a stale scratch to exercise the GC path
    commit_stream_batch(df, root, "ingest", batch_id=0)
    stale = os.path.join(step_root, "_inflight-0-stale")
    os.makedirs(stale)
    prune_versions(root, "ingest", keep_last=1)
    assert glob.glob(os.path.join(step_root, "_inflight-*")) == []
