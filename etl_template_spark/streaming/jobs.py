"""Structured Streaming jobs: the incremental flavor of the reference's
checkpointed record loop (R12, /root/reference/tools/tools.go:676-806).

The reference resumes a crashed step from a per-record JSON cursor
(``LoopState``, tools.go:59-62) persisted after EVERY record
(tools.go:771-777).  Structured Streaming's ``checkpointLocation`` is
the native replacement: source offsets + operator state in a WAL,
exactly-once file sinks, resume-on-restart — at micro-batch rather than
per-record granularity, which is the only version of this that
survives 100 TB.

Every job below takes a streaming DataFrame and returns a streaming
DataFrame (composability); ``run_available_now`` executes one
bounded catch-up pass (Trigger.AvailableNow) — the batch-parity mode the
tests use, and operationally "process the backlog, then stop".

Event-time discipline: every stateful op declares a watermark; state for
windows older than (max event time - watermark) is finalized and
dropped, which is what bounds state size on an unbounded stream.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

# defined once beside the session factory; re-exported for callers that
# opt a session the engine did not create into the RocksDB state store
from ..session import ROCKSDB_STATE_CONF  # noqa: F401

# explicit StructType (NOT fromDDL, which parses via a live SparkSession
# and would make this module un-importable session-free)
EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream of events JSONL (schema declared, never
    inferred — the engine's R1 discipline applies to streams too)."""
    reader = spark.readStream.schema(EVENTS_STREAM_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.json(path)


def tumbling_agg_stream(
    events: DataFrame, width: str = "5 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """q_stream_tumbling, incremental: watermarked tumbling window agg."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def sliding_agg_stream(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """q_stream_sliding, incremental."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("win_start"),
            F.col("w.end").alias("win_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_agg_stream(
    events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"
) -> DataFrame:
    """q_sessionize, incremental: native ``session_window`` — state per
    open session, merged on overlap, finalized by the watermark."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def dedup_stream(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """q_stream_dedup_late, incremental: watermarked dropDuplicates —
    duplicate keys within the watermark horizon are dropped; state for
    keys older than the horizon is evicted (bounded state)."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicates(keys + ["ts"])


def dedup_stream_within_watermark(
    events: DataFrame,
    keys: list[str] | None = None,
    watermark: str = "1 hour",
) -> DataFrame:
    """``dropDuplicatesWithinWatermark``: dedup on the KEY ALONE — two
    records with the same key but different event times still collapse,
    as long as they arrive within the watermark horizon of each other.

    This is the at-least-once-ingest reality ``dedup_stream`` can't
    express: a redelivered event usually carries a fresh/late timestamp,
    so keying on (id, ts) lets the duplicate through, while keying on id
    without the within-watermark bound would grow state forever.  State
    per key is evicted one watermark horizon after first sight — the
    same bounded-state guarantee, correct semantics for retried
    delivery."""
    keys = keys or ["event_id"]
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def running_totals_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a running
    (n_events, sum_value) accumulator per user, emitted on every update.

    This is the fully-general escape hatch when built-in windows can't
    express the state machine (the streaming analog of the reference's
    per-record transformer loop, tools.go:676-806, with the state in the
    engine's checkpointed store instead of a JSON cursor file).  State is
    an explicit typed tuple; Arrow batches in, Arrow batches out; the
    state store bounds memory and the watermark lets timeouts evict idle
    keys at scale."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def _update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0.0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "sum_value": [s]}
        )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType="user_id bigint, n_events bigint, sum_value double",
            stateStructType="n bigint, s double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def join_streams(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join: attribute each purchase to same-user
    clicks at most ``within`` before it (q_stream_join's incremental
    twin).

    Both sides carry a watermark and the join predicate carries the
    time bound — together they let Spark EVICT join state: a buffered
    click older than (watermark horizon - within) can never match a
    future purchase and is dropped.  Without the time bound both sides
    buffer forever, which is the unbounded-state bug that kills
    stream-stream joins at scale; with it, state is O(traffic within
    the horizon) regardless of stream age.

    ``how='left_outer'`` emits unconverted clicks too (null purchase
    columns) — but only once the watermark proves no future purchase
    can still match, which is why outer stream-stream joins REQUIRE
    the time bound: without it the null side could never be finalized."""
    c = clicks.select(
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
        "user_id",
    ).withWatermark("click_ts", within)
    p = purchases.select(
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("user_id").alias("p_user_id"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", within)
    return c.join(
        p,
        F.expr(
            f"user_id = p_user_id AND purchase_ts >= click_ts "
            f"AND purchase_ts <= click_ts + INTERVAL {within}"
        ),
        how,
    ).select(
        "user_id", "click_id", "click_ts", "purchase_id", "purchase_ts",
        "purchase_value",
    )


def run_available_now(
    df: DataFrame, sink_table: str, checkpoint_dir: str, output_mode: str = "append"
) -> StreamingQuery:
    """Process everything currently available, then stop (bounded
    catch-up).  Memory sink for tests; checkpointed like any stream."""
    q = (
        df.writeStream.format("memory")
        .queryName(sink_table)
        .outputMode(output_mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


BATCH_MARKER = "_BATCH_ID"


def commit_stream_batch(
    batch_df: DataFrame, root: str, step: str, batch_id: int
) -> int | None:
    """Idempotently commit one foreachBatch micro-batch as a version.

    foreachBatch is AT-LEAST-ONCE: after a crash between the version
    commit and the checkpoint WAL write, Structured Streaming replays
    the batch with the SAME batch_id — a naive per-batch
    ``write_versioned`` then lands the rows twice (in two immutable
    versions; ``latest`` readers survive, but changelog/merged-history
    consumers double-count).  This commit path closes that window by
    making the batch-id marker atomic WITH version visibility:

    1. if any committed version already carries this ``batch_id``
       marker, the batch is a replay — return its version, write
       nothing;
    2. write the batch to a scratch directory (Spark's own job-commit
       protocol makes the scratch write all-or-nothing);
    3. drop the ``_BATCH_ID`` marker INTO the scratch dir — before
       anything is visible;
    4. claim ``v=N`` (atomic mkdir) and ``os.rename`` the scratch over
       it — one atomic filesystem operation publishes data + Spark's
       ``_SUCCESS`` + the marker together.

    A crash before (4) leaves only scratch (invisible; swept by the
    next successful commit and by the retention GC); a crash BETWEEN
    the claim and the rename leaves an empty claimed ``v=N`` without
    ``_SUCCESS`` — invisible to every reader since the committed-only
    version listing (io.py), reclaimed by ``prune_versions`` — and a
    crash after (4) leaves the marker in place (replay skips).  There
    is no state in which the rows are visible without their marker, so
    the sink is exactly-once at dataset-version granularity — the
    generalized form of the reference's resume-from-cursor contract
    (tools.go:676-806) that survives redelivery, not just restart.

    Replay detection is O(1) per batch, not O(total versions): batch
    ids and version numbers both increase monotonically under
    foreachBatch's single-writer contract, and only the LAST
    uncommitted batch is ever redelivered — so the newest
    marker-bearing committed version decides (match → replay; smaller
    id → genuinely new batch).  A full scan runs only in the
    can't-happen-in-practice case of a marker NEWER than the incoming
    batch id (e.g. a hand-rolled out-of-order replay), trading O(n)
    there for correctness.

    Portability: step (4) relies on POSIX ``rename(2)`` atomically
    replacing an empty target directory — true for local/NFS/HDFS-style
    filesystems, NOT for S3-style object stores where "rename" is a
    non-atomic copy+delete per object.  On an object store, commit by
    writing a small manifest/pointer object instead (the standard
    Delta/Iceberg-style commit), or route through a metadata service;
    this local-FS path is the single-box contract the reference's
    checkpoint loop assumes (tools.go:676-806)."""
    import shutil
    import uuid

    from ..io import _step_dir, claim_next_version, list_versions

    step_root = _step_dir(root, step)

    def _marker_batch(v: int) -> int | None:
        d = os.path.join(step_root, f"v={v}")
        marker = os.path.join(d, BATCH_MARKER)
        if os.path.isfile(os.path.join(d, "_SUCCESS")) and os.path.isfile(marker):
            with open(marker) as fh:
                try:
                    return int(fh.read().strip())
                except ValueError:
                    return None
        return None

    # (1) replay detection: newest marker-bearing committed version
    # decides in O(1); full scan only on the out-of-order anomaly
    committed = list_versions(root, step)
    newest_marked = None
    for v in reversed(committed):
        mb = _marker_batch(v)
        if mb is not None:
            newest_marked = (v, mb)
            break
    if newest_marked is not None:
        v, mb = newest_marked
        if mb == batch_id:
            return v
        if mb > batch_id:  # out-of-order replay: fall back to full scan
            for v2 in committed:
                if _marker_batch(v2) == batch_id:
                    return v2
            # r8 ADVICE: an incoming batch id BELOW the newest committed
            # marker with no matching marker anywhere means the
            # checkpoint was rolled back or corrupted out from under the
            # sink.  Appending would silently reorder the versioned
            # stream's history (old rows landing as the newest version),
            # so stall loudly instead — matching the sink's stated
            # exactly-once-at-version-granularity contract.  Recovery is
            # operator-driven: restore the checkpoint, or start a fresh
            # checkpoint against a fresh step.
            raise RuntimeError(
                f"commit_stream_batch: incoming batch_id={batch_id} is below "
                f"the newest committed marker ({mb} at v={v}) and no committed "
                "version carries it — the streaming checkpoint appears rolled "
                "back or corrupted; refusing to append out-of-order history"
            )
    if batch_df.isEmpty():
        return None
    # (2) scratch write on the same filesystem (rename must be atomic)
    os.makedirs(step_root, exist_ok=True)
    scratch = os.path.join(step_root, f"_inflight-{batch_id}-{uuid.uuid4().hex}")
    try:
        batch_df.write.mode("overwrite").parquet(scratch)
        # (3) marker travels inside the not-yet-visible directory
        with open(os.path.join(scratch, BATCH_MARKER), "w") as fh:
            fh.write(str(batch_id))
        # (4) atomic publish: POSIX rename replaces an EMPTY target
        # directory atomically, so the claimed dir is overwritten in one
        # operation — no rmdir first (that would release the claim to a
        # concurrent writer for a moment)
        version, path = claim_next_version(root, step)
        os.rename(scratch, path)
    except BaseException:
        shutil.rmtree(scratch, ignore_errors=True)
        raise
    # (5) sweep crash remnants from PRIOR attempts: under the
    # single-writer foreachBatch contract any other _inflight-* dir
    # with batch id <= ours is a dead predecessor (its batch either
    # just committed or was superseded); ours was renamed away in (4)
    for entry in os.listdir(step_root):
        if not entry.startswith("_inflight-"):
            continue
        try:
            stale_bid = int(entry.split("-")[1])
        except (IndexError, ValueError):
            continue
        if stale_bid <= batch_id:
            shutil.rmtree(os.path.join(step_root, entry), ignore_errors=True)
    return version


def versioned_stream_sink(
    df: DataFrame,
    root: str,
    step: str,
    checkpoint_dir: str,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Stream → versioned dataset: each micro-batch commits as a new
    ``v=N`` via foreachBatch (R7 semantics on a stream), through the
    idempotent ``commit_stream_batch`` path — a crash-replayed batch id
    is detected and skipped, so the sink is exactly-once at version
    granularity even across foreachBatch redelivery (not merely across
    clean restarts).

    ``trigger``: kwargs for ``DataStreamWriter.trigger`` (r10 review —
    the trigger used to be pinned to ``availableNow``, forcing
    continuous deployments to copy-paste the writeStream wiring).
    Default stays ``{"availableNow": True}`` (drain-and-stop);
    a long-running ingest passes e.g.
    ``{"processingTime": "1 minute"}`` — the commit path is the same
    either way, that is what makes it redelivery-safe."""

    def _sink(batch_df: DataFrame, batch_id: int) -> None:
        commit_stream_batch(batch_df, root, step, batch_id)

    return (
        df.writeStream.foreachBatch(_sink)
        .option("checkpointLocation", os.path.join(checkpoint_dir, step))
        .trigger(**(trigger if trigger is not None else {"availableNow": True}))
        .start()
    )


def _duration_ms(duration: str) -> int:
    """'30 days' / '6 hours' → milliseconds.  PySpark's
    ``GroupState.setTimeoutDuration`` takes int millis only (the
    Scala-side duration-string overload isn't exposed)."""
    qty, unit = duration.split()
    per_ms = {
        "millisecond": 1, "milliseconds": 1,
        "second": 1000, "seconds": 1000,
        "minute": 60_000, "minutes": 60_000,
        "hour": 3_600_000, "hours": 3_600_000,
        "day": 86_400_000, "days": 86_400_000,
    }[unit.lower()]
    return int(float(qty) * per_ms)


def funnel_fold(state_triple, rows_df):
    """The per-user monotone funnel transition (view → click →
    purchase) that ``funnel_stream`` applies per micro-batch, factored
    out so the stage machine is unit-testable without a running stream.
    Given the carried (t_view, t_click, t_purchase) and one micro-batch
    pandas frame of this user's rows, return the advanced triple: batch
    rows fold in event-time order, stages never regress, and each stage
    timestamp must be STRICTLY after its predecessor's."""
    tv, tc, tp = state_triple
    if len(rows_df):
        srt = rows_df.sort_values("ts")
        for et, ts in zip(srt["event_type"], srt["ts"]):
            if et == "view" and tv is None:
                tv = ts
            elif et == "click" and tc is None and tv is not None and ts > tv:
                tc = ts
            elif et == "purchase" and tp is None and tc is not None and ts > tc:
                tp = ts
    return tv, tc, tp


def funnel_stream(
    events: DataFrame, watermark: str = "1 hour", idle_ttl: str | None = None
) -> DataFrame:
    """Streaming funnel (q_events_funnel's incremental twin): per user,
    the earliest view, the earliest click AFTER that view, the earliest
    purchase AFTER that click — emitted as the furthest ``stage``
    reached so far, updated as events arrive.

    Custom stateful operator via ``applyInPandasWithState``: state is
    the typed triple (t_view, t_click, t_purchase); each batch's rows
    are processed in event-time order and folded through the stage
    machine.  In-order and bounded-late arrivals (anything the
    watermark admits within a batch, which is sorted before folding)
    produce exactly the batch semantics; an earlier-stage event
    arriving AFTER a later batch already consumed its successors is
    folded conservatively (stages never regress) — the standard
    monotone approximation every incremental funnel makes, because
    exact retraction would require buffering the full horizon per user.
    State is three timestamps per user — O(users) regardless of event
    volume; by default it lives forever (a user can complete the funnel
    years later).  ``idle_ttl`` (processing time, e.g. ``"90 days"``)
    evicts long-idle users — a returning evicted user restarts at
    stage 1, and the query becomes permanently active (see
    retention_stream for why TTL'd queries cannot self-terminate under
    availableNow)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    def _update(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        tv, tc, tp = state.get if state.exists else (None, None, None)
        pdfs = list(pdfs)
        rows = pd.concat(pdfs) if pdfs else pd.DataFrame()
        tv, tc, tp = funnel_fold((tv, tc, tp), rows)
        state.update((tv, tc, tp))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if tv is not None:
            stage = 3 if tp is not None else (2 if tc is not None else 1)
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "t_view": [tv],
                    "t_click": [tc],
                    "t_purchase": [tp],
                    "stage": [stage],
                }
            )

    return (
        events.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType=(
                "user_id bigint, t_view timestamp, t_click timestamp, "
                "t_purchase timestamp, stage int"
            ),
            stateStructType="tv timestamp, tc timestamp, tp timestamp",
            outputMode="update",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )


def retention_stream(
    events: DataFrame, watermark: str = "1 hour", idle_ttl: str | None = None
) -> DataFrame:
    """Streaming cohort retention (q_events_retention's incremental
    twin): rows ``(cohort_week, week_offset, n_users)``, updated as
    events arrive.

    Two chained stateful stages:

    1. **Per-user delta emission** (``applyInPandasWithState``, append
       output): state is the user's cohort week plus the set of
       activity weeks already emitted; the FIRST time a user is seen
       active in a week, exactly one ``delta = 1`` row for
       ``(cohort_week, week_offset)`` is emitted — never again, so the
       emission is genuinely append-only (a requirement for chaining a
       streaming aggregation after a stateful operator).  State is
       O(active weeks) per user, independent of event volume.
    2. **Exact rollup**: ``SUM(delta)`` per (cohort_week, week_offset).
       Because stage 1 already deduplicated per (user, week), the sum
       IS the exact distinct-user count — a plain mergeable aggregate,
       no distinct and no per-window user-id state downstream (the HLL
       fallback ``distinct_users_stream`` needs is unnecessary here).

    **Output-mode contract: update (or complete) ONLY.**  Stage 1's
    output rows carry no event-time column (``cohort_week`` is a
    grouping label — a cohort's rows keep arriving for as long as its
    users live), so stage 2's SUM state is never watermark-finalized
    and an append-mode sink would never emit anything.  ``watermark``
    bounds only stage-1 INPUT lateness: rows older than the watermark
    are dropped before reaching the state function; it does not (and
    cannot) finalize the downstream aggregate.

    **State retention**: by default per-user state lives forever —
    correct (a user returning after years still lands in their original
    cohort) but O(all users ever seen).  Pass ``idle_ttl`` (e.g.
    ``"30 days"``, processing time) to evict state for users idle
    longer than that; an evicted user who later returns re-enters as a
    fresh cohort — the standard memory/correctness trade, made explicit
    rather than silent.  ``idle_ttl`` makes the query PERMANENTLY
    active: processing-time timeouts fire a state-cleanup batch every
    trigger, so neither ``Trigger.AvailableNow``'s self-termination nor
    ``processAllAvailable()`` ever completes — run the TTL'd flavor as
    a genuinely continuous query (monitor the sink; ``stop()``
    explicitly), and keep ``idle_ttl=None`` for bounded catch-up runs.

    Approximation bound (same monotone discipline as
    ``funnel_stream``): each micro-batch folds its rows in event-time
    order, so an in-order or bounded-late backlog reproduces the batch
    result exactly.  A user's first-ever event arriving AFTER a later
    week of theirs was already emitted cannot re-assign the cohort
    (append emissions are final); such pre-cohort activity is dropped
    rather than emitted with a rewritten history."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    weekly = events.withWatermark("ts", watermark).select(
        "user_id", "ts", F.date_trunc("week", "ts").alias("wk")
    )

    def _update(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            # long-idle user: drop the (cohort, seen) pair; a later
            # return starts a fresh cohort (documented trade above)
            state.remove()
            return
        cohort, seen = state.get if state.exists else (None, [])
        seen = list(seen or [])
        out_cohort, out_offset = [], []
        pdfs = list(pdfs)
        rows = pd.concat(pdfs) if pdfs else pd.DataFrame()
        if len(rows):
            for wk in sorted(rows.sort_values("ts")["wk"].unique()):
                wk = pd.Timestamp(wk).to_pydatetime()
                if cohort is None:
                    cohort = wk
                if wk < cohort or wk in seen:
                    continue  # pre-cohort straggler / already emitted
                seen.append(wk)
                out_cohort.append(cohort)
                out_offset.append((wk - cohort).days // 7)
        state.update((cohort, seen))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if out_cohort:
            yield pd.DataFrame(
                {
                    "cohort_week": out_cohort,
                    "week_offset": out_offset,
                    "delta": [1] * len(out_cohort),
                }
            )

    deltas = weekly.groupBy("user_id").applyInPandasWithState(
        _update,
        outputStructType="cohort_week timestamp, week_offset int, delta int",
        stateStructType="cohort timestamp, seen array<timestamp>",
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if idle_ttl is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
    return deltas.groupBy("cohort_week", "week_offset").agg(
        F.sum("delta").alias("n_users")
    )


def transitions_stream(
    events: DataFrame, watermark: str = "1 hour", idle_ttl: str | None = None
) -> DataFrame:
    """Streaming event-transition counts (q_events_transitions'
    incremental twin): rows ``(prev_type, next_type, n_transitions)``,
    updated as events arrive.

    Same two-stage chaining as ``retention_stream``:

    1. **Per-user pair emission** (``applyInPandasWithState``, append
       output): state is the user's LAST (ts, event_type); each batch's
       rows fold in (ts, event_id) order, emitting one (prev, next)
       delta row per consecutive pair.  Every pair is emitted exactly
       once, so the emission is append-only and the state is O(1) per
       user — two fields, regardless of event volume.
    2. **Exact rollup**: ``SUM(delta)`` per (prev, next) — a plain
       mergeable aggregate; with stage 1 append-only the sum equals the
       batch twin's pair counts.

    Update/complete output mode only (stage-1 output carries no event
    time — same contract as retention_stream).  Monotone approximation:
    batches fold in event-time order, so an in-order backlog reproduces
    the batch result exactly; a straggler older than the user's last
    seen event cannot retro-insert between already-paired events (it
    appends after, by fold order) — the standard incremental trade,
    bounded by the input watermark.  ``idle_ttl`` evicts long-idle
    users' last-event state (a returning user simply starts a fresh
    chain — one transition at the boundary is lost, counts never
    corrupt)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_ms = _duration_ms(idle_ttl) if idle_ttl is not None else None

    def _update(key, pdfs, state: GroupState):
        if ttl_ms is not None and state.hasTimedOut:
            state.remove()
            return
        last_ts, last_type = state.get if state.exists else (None, None)
        prevs, nexts = [], []
        pdfs = list(pdfs)
        rows = pd.concat(pdfs) if pdfs else pd.DataFrame()
        if len(rows):
            srt = rows.sort_values(["ts", "event_id"])
            for ts, et in zip(srt["ts"], srt["event_type"]):
                if last_type is not None:
                    prevs.append(last_type)
                    nexts.append(et)
                last_ts, last_type = ts, et
        state.update((last_ts, last_type))
        if ttl_ms is not None:
            state.setTimeoutDuration(ttl_ms)
        if prevs:
            yield pd.DataFrame(
                {"prev_type": prevs, "next_type": nexts, "delta": [1] * len(prevs)}
            )

    deltas = (
        events.withWatermark("ts", watermark)
        .select("user_id", "ts", "event_id", "event_type")
        .groupBy("user_id")
        .applyInPandasWithState(
            _update,
            outputStructType="prev_type string, next_type string, delta int",
            stateStructType="last_ts timestamp, last_type string",
            outputMode="append",
            timeoutConf=(
                GroupStateTimeout.ProcessingTimeTimeout
                if ttl_ms is not None
                else GroupStateTimeout.NoTimeout
            ),
        )
    )
    return deltas.groupBy("prev_type", "next_type").agg(
        F.sum("delta").alias("n_transitions")
    )


def distinct_users_stream(
    events: DataFrame, width: str = "1 hour", watermark: str = "1 hour"
) -> DataFrame:
    """q_stream_distinct_users, incremental: windowed
    ``approx_count_distinct`` (HyperLogLog++).  Exact distinct is not
    merge-able, so an exact streaming version would buffer every user
    id per open window; the HLL register set is constant-size state per
    window and merges across micro-batches — the 100 TB-stream shape.
    Default rsd 5%; tests bound the error vs the exact batch twin."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"))
        .agg(
            F.approx_count_distinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(F.col("w.start").alias("win_start"), "n_users", "n_events")
    )
